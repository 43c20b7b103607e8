"""LLM-data-pipeline queries (SURVEY.md §2B extension, BASELINE north star).

Dedup, similarity search, text analysis, multimodal plumbing over the
``documents`` and ``embeddings`` tables. The corpus has no natural
duplicates, so dedup queries run over a deterministic duplicated corpus
(every doc unioned with an id-shifted copy) giving closed-form expected
results the DuckDB oracle reproduces exactly. Approximate operators
(MinHash-LSH, SimHash, IVF) are deterministic but not SQL-expressible —
they get rows-only driver checks plus recall/subset assertions in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from maxscale_cdc_connector_spark.functions.text_fns import (
    BPE_TOKEN_RE,
    STOPWORDS,
    normalize,
    stopword_hits,
    words,
)
from maxscale_cdc_connector_spark.operators.dedup import (
    duplicated_corpus,
    exact_dedup,
    jaccard_pairs_prefix,
    minhash_dedup_pairs,
    shingle_sets,
    simhash_near_pairs,
)
from maxscale_cdc_connector_spark.operators.multimodal import (
    build_manifest,
    decode_features,
    frame_sample,
    resize_thumbnails,
)
from maxscale_cdc_connector_spark.operators.simsearch import (
    ivf_topk,
    knn_graph,
    pairwise_threshold,
    srp_lsh_pairs,
    topk_cosine,
)
from maxscale_cdc_connector_spark.operators.cache import checkpoint_if_small, input_bytes
from maxscale_cdc_connector_spark.queries.registry import register
from maxscale_cdc_connector_spark.session import ensure_scan_parallelism
from maxscale_cdc_connector_spark.session import load_table as t

# DuckDB mirror of dedup.duplicated_corpus on documents.
_DUP_DOCS_SQL = """
dup_docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
)
"""

# DuckDB mirror of text_fns.word_shingles (5-gram) + dedup.shingle_sets.
_SHINGLES_SQL = """
tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM dup_docs),
shingled AS (
    SELECT doc_id, unnest(generate_series(1, len(w) - 4)) AS i, w
    FROM tok WHERE len(w) >= 5
),
shingles AS (
    SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle FROM shingled
)
"""

# DuckDB double-precision dot product between two FLOAT[] columns.
def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_docs",
    oracle=f"""
WITH {_DUP_DOCS_SQL}
SELECT min(doc_id) AS doc_id,
       md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS text_hash,
       count(*) AS n_copies
FROM dup_docs
GROUP BY md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
""",
    doc="Exact dedup: hash-groupBy on a normalized-content digest; partial "
    "aggregation collapses map-side so shuffle ≈ |distinct digests|.",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = duplicated_corpus(t(spark, "documents", sf_dir).select("doc_id", "text"))
    return exact_dedup(corpus)


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_DUP_DOCS_SQL}, {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common), 4) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.8
""",
    doc="Exact n-gram (5-word shingle) Jaccard near-dup pairs via inverted-"
    "index join — candidates are docs sharing ≥1 shingle, never an "
    "all-pairs cross join.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = duplicated_corpus(t(spark, "documents", sf_dir).select("doc_id", "text"))
    return jaccard_pairs_prefix(corpus, min_jaccard=0.8)


@register(
    "dedup_minhash_lsh",
    oracle=None,  # xxhash64 signature family is not reproducible in DuckDB.
    doc="MinHash (32 hashes) + LSH (8 bands × 4) + exact-Jaccard "
    "verification: the sub-quadratic near-dup pipeline. Deterministic "
    "(seeded xxhash64) but not SQL-expressible → rows-only; pytest "
    "asserts candidates ⊆ exact pairs and full recall on known dups.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = duplicated_corpus(t(spark, "documents", sf_dir).select("doc_id", "text"))
    return minhash_dedup_pairs(corpus, min_jaccard=0.8)


@register(
    "dedup_simhash",
    oracle=None,  # same: hash family not reproducible in SQL oracle.
    doc="SimHash (63-bit, term-frequency weighted) near-dup pairs at "
    "hamming ≤ 3; candidates via 16-bit chunk equality (pigeonhole ⇒ "
    "exact recall at the advertised radius), verified by xor+bit_count.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = duplicated_corpus(t(spark, "documents", sf_dir).select("doc_id", "text"))
    return simhash_near_pairs(corpus, max_hamming=3)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH dup_emb AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
),
pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_dot_sql('a.embedding', 'b.embedding')} AS sim
    FROM dup_emb a JOIN dup_emb b ON a.vec_id < b.vec_id
)
SELECT DISTINCT vec_b AS vec_drop FROM pairs WHERE sim >= 0.99
""",
    doc="Embedding-cosine near-dup drop list: exact pairwise ≥ 0.99 over "
    "the duplicated corpus, keep-lowest-id policy. Exact all-pairs is the "
    "oracle-checkable baseline; LSH/IVF are the scale path.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    corpus = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000)))
    pairs = pairwise_threshold(corpus, tau=0.99)
    return pairs.select(F.col("vec_b").alias("vec_drop")).distinct()


@register(
    "dedup_embedding_lsh",
    oracle=None,  # approximate recall by design → rows-only; pytest pins
    # subset-of-exact and full recall on identical duplicates.
    doc="Sub-quadratic embedding near-dup pairs: signed-random-projection "
    "LSH (16 bits, 2 bands) candidates + exact cosine ≥ 0.99 verify — "
    "the scale path replacing dedup_embedding_cosine's all-pairs join. "
    "Candidate cost tracks bucket occupancy, not n².",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    corpus = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000)))
    return srp_lsh_pairs(corpus, tau=0.99, dim=64)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "simsearch_topk_cosine",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
    SELECT e.vec_id, {_dot_sql('e.embedding', 'q.qe')} AS sim
    FROM embeddings e, q
)
SELECT vec_id, round(sim, 5) AS sim
FROM scored ORDER BY sim DESC, vec_id LIMIT 20
""",
    doc="Exact top-20 nearest to the vec_id=0 embedding: one scan, JVM "
    "dot products, TakeOrderedAndProject (per-partition heaps, no global "
    "sort). Embeddings are L2-normalized so cosine ≡ dot.",
)
def simsearch_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    query = emb.filter(F.col("vec_id") == 0)
    return topk_cosine(emb, query, k=20)


@register(
    "simsearch_pairwise_threshold",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_dot_sql('a.embedding', 'b.embedding')}, 5) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_dot_sql('a.embedding', 'b.embedding')} >= 0.4
""",
    doc="Exact all-pairs with cosine ≥ 0.4 (upper triangle). Quadratic by "
    "definition — the oracle-checkable baseline; LSH buckets or IVF "
    "blocking replace it at scale.",
)
def simsearch_pairwise_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    return pairwise_threshold(emb, tau=0.4)


@register(
    "simsearch_ivf_topk",
    # Approximate vs BRUTE FORCE, but fully deterministic given the data:
    # strided quantizer (vec_id % 40 == 0), argmax-with-tiebreak bucket
    # assignment, fixed 3-bucket probe order. The oracle replays the
    # identical pipeline in DuckDB — same left-to-right dot-product fold,
    # same (sim, -cid) lexicographic argmax, same (sim DESC, vec_id)
    # top-k — so the exact hash must agree. Promoted from rows-only in r7
    # (VERDICT r6 item 5).
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cents AS (
    SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id % 40 = 0
),
probe AS (
    SELECT cid FROM cents, q
    ORDER BY {_dot_sql('ce', 'qe')} DESC, cid ASC LIMIT 3
),
bucketed AS (
    SELECT vec_id, cid AS bucket FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_dot_sql('e.embedding', 'c.ce')} DESC, c.cid ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ) WHERE rn = 1
),
scored AS (
    SELECT e.vec_id, {_dot_sql('e.embedding', 'q.qe')} AS sim
    FROM embeddings e
    JOIN bucketed b ON e.vec_id = b.vec_id, q
    WHERE b.bucket IN (SELECT cid FROM probe)
)
SELECT vec_id, round(sim, 5) AS sim
FROM scored ORDER BY sim DESC, vec_id LIMIT 20
""",
    doc="IVF-style approximate top-20: deterministic coarse quantizer "
    "(every 40th vector), nearest-bucket assignment via broadcast argmax, "
    "query probes 3 nearest buckets. pytest asserts recall vs brute "
    "force; the driver oracle replays the deterministic pipeline exactly.",
)
def simsearch_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    query = emb.filter(F.col("vec_id") == 0)
    return ivf_topk(emb, query, k=20)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_stats",
    oracle="""
SELECT doc_id, lang,
       CAST(length(text) AS BIGINT) AS n_chars_obs,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_words,
       round(list_sum(list_transform(string_split(text, ' '), x -> CAST(length(x) AS DOUBLE)))
             / len(string_split(text, ' ')), 4) AS avg_word_len
FROM documents
""",
    doc="Per-document stats: char/word/distinct-word counts, mean word "
    "length — all array built-ins, no UDF.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    w = words("text")
    total_len = F.aggregate(
        F.transform(w, lambda x: F.length(x).cast("double")), F.lit(0.0), lambda a, x: a + x
    )
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("bigint").alias("n_chars_obs"),
        F.size(w).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(w)).cast("bigint").alias("n_uniq_words"),
        F.round(total_len / F.size(w), 4).alias("avg_word_len"),
    )


@register(
    "text_tokenize_tf",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM tok GROUP BY token
""",
    doc="Corpus term/document frequency table: explode + two-level agg — "
    "the classic map-side-combinable shape.",
)
def text_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (r17: a scan-parallelism repartition before the explode was A/B'd
    # and REVERTED — 0.42 -> 0.64 s; the keyless repartition's local
    # sort + exchange cost more than the 1-task partial agg it spread.)
    d = t(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(words("text")).alias("token"))
    return tok.groupBy("token").agg(
        F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df")
    )


def _lang_hits_sql(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"CAST(len(list_filter(string_split(text, ' '), x -> x IN ({lst}))) AS BIGINT)"
    )


@register(
    "text_language_id",
    oracle=f"""
WITH scored AS (
    SELECT doc_id, lang,
           {_lang_hits_sql('en')} AS en_hits,
           {_lang_hits_sql('es')} AS es_hits,
           {_lang_hits_sql('de')} AS de_hits,
           {_lang_hits_sql('fr')} AS fr_hits
    FROM documents
)
SELECT doc_id, lang, en_hits, es_hits, de_hits, fr_hits,
       CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
            WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
            WHEN de_hits >= fr_hits THEN 'de'
            ELSE 'fr' END AS lang_pred
FROM scored
""",
    doc="Stopword-hit language-ID heuristic over four languages with a "
    "deterministic argmax tie-break (en > es > de > fr).",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    scored = d.select(
        "doc_id",
        "lang",
        stopword_hits("text", "en").alias("en_hits"),
        stopword_hits("text", "es").alias("es_hits"),
        stopword_hits("text", "de").alias("de_hits"),
        stopword_hits("text", "fr").alias("fr_hits"),
    )
    en, es, de, fr = (F.col(c) for c in ("en_hits", "es_hits", "de_hits", "fr_hits"))
    pred = (
        F.when((en >= es) & (en >= de) & (en >= fr), "en")
        .when((es >= de) & (es >= fr), "es")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
    return scored.withColumn("lang_pred", pred)


@register(
    "text_quality_score",
    oracle="""
WITH m AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           len(list_distinct(string_split(text, ' '))) AS n_uniq,
           len(list_filter(string_split(text, ' '),
                x -> x IN ('the', 'a', 'of', 'to', 'and', 'is', 'in'))) AS stop_hits
    FROM documents
)
SELECT doc_id,
       CAST(floor(400.0 * least(n_words, 200) / 200)
          + floor(300.0 * n_uniq / n_words)
          + floor(300.0 * least(stop_hits * 10, n_words) / n_words) AS BIGINT) AS quality_milli
FROM m
""",
    doc="Composite quality score in integer milli-points (0-1000): length "
    "score + lexical diversity + stopword-density score (the cheap "
    "heuristics a pretraining filter runs before model-based scoring). "
    "Integer-floor arithmetic so the score is exact — no float rounding "
    "boundary can diverge between engines.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    n_words = F.size(words("text")).cast("long")
    n_uniq = F.size(F.array_distinct(words("text"))).cast("long")
    stop_hits = stopword_hits("text", "en")
    quality = (
        F.floor(F.lit(400.0) * F.least(n_words, F.lit(200)) / 200)
        + F.floor(F.lit(300.0) * n_uniq / n_words)
        + F.floor(F.lit(300.0) * F.least(stop_hits * 10, n_words) / n_words)
    ).cast("bigint")
    return d.select("doc_id", quality.alias("quality_milli"))


@register(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fp_full,
       substring(md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')), 1, 8) AS fp_short
FROM documents
""",
    doc="Content fingerprint of the normalized text (full + 8-hex-char "
    "short form) — the join key for cross-corpus exact matching.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    fp = F.md5(normalize("text"))
    return d.select(
        "doc_id", fp.alias("fp_full"), F.substring(fp, 1, 8).alias("fp_short")
    )


@register(
    "text_token_count",
    oracle=f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS BIGINT) AS n_re_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_obs
FROM documents
""",
    doc="Token counting: whitespace tokens + BPE-ish regex pre-tokens "
    "(letter runs / digit runs / single symbols) — the unit for token "
    "budget accounting in a training-data pipeline.",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.size(words("text")).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), 0)).cast("bigint").alias(
            "n_re_tokens"
        ),
        F.length("text").cast("bigint").alias("n_chars_obs"),
    )


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@register(
    "multimodal_manifest",
    oracle="""
SELECT doc_id,
       'text/plain' AS content_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha256
FROM documents
""",
    doc="Binary payload column + typed metadata (content type, byte size, "
    "sha256 content address). The payload itself is excluded from the "
    "oracle output; metadata is the queryable surface.",
)
def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    return build_manifest(d).select("doc_id", "content_type", "n_bytes", "payload_sha256")


@register(
    "multimodal_decode_features",
    oracle="""
WITH by_char AS (
    SELECT doc_id,
           sum(ascii(substr(text, g.i, 1))) AS byte_sum
    FROM documents,
         LATERAL (SELECT unnest(generate_series(1, length(text))) AS i) g
    GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(octet_length(encode(d.text)) AS BIGINT) AS f_len,
       CAST(ascii(substr(d.text, 1, 1)) AS BIGINT) AS f_first,
       CAST(ascii(substr(d.text, length(d.text), 1)) AS BIGINT) AS f_last,
       CAST(coalesce(b.byte_sum, 0) % 256 AS BIGINT) AS f_checksum
FROM documents d LEFT JOIN by_char b USING (doc_id)
""",
    doc="Arrow-batched feature extraction over binary payloads via "
    "mapInPandas — the real plumbing (schema, batch shape, partitioning) "
    "for a media decoder; extractor stubbed deterministically (container "
    "has no media libs) as exact byte statistics, which makes this the "
    "rare mapInPandas op with a FULL exact-hash oracle: DuckDB recomputes "
    "the same bytes char-wise (the corpus is ASCII, so ascii() == byte). "
    "The integer cast at the boundary keeps the driver hash exact.",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    feats = decode_features(build_manifest(d))
    return feats.select(
        "doc_id",
        F.element_at("features", 1).cast("bigint").alias("f_len"),
        F.element_at("features", 2).cast("bigint").alias("f_first"),
        F.element_at("features", 3).cast("bigint").alias("f_last"),
        F.element_at("features", 4).cast("bigint").alias("f_checksum"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
WITH m AS (
    SELECT doc_id, text,
           greatest(1, octet_length(encode(text)) // 4) AS step
    FROM documents
)
SELECT doc_id, CAST(g.i AS INTEGER) AS frame_idx,
       sha256(substr(text, g.i * step + 1, step)) AS frame_sha256
FROM m, LATERAL (SELECT unnest(generate_series(0, 3)) AS i) g
""",
    doc="Frame sampling over binary payloads: one payload row fans out "
    "to 4 frame rows (frame bytes + sha256 content address) inside a "
    "single Arrow-batched mapInPandas pass — the video keyframe-sampling "
    "shape; decoder stubbed as deterministic byte slicing, which makes "
    "the fan-out fully exact-hash verifiable: DuckDB recomputes each "
    "frame digest from the same substring slices. pytest additionally "
    "pins exact frame bytes.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    return frame_sample(build_manifest(d)).select("doc_id", "frame_idx", "frame_sha256")


@register(
    "multimodal_resize_thumbs",
    oracle="""
WITH m AS (
    SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents
),
small AS (SELECT doc_id, text AS thumb FROM m WHERE len <= 64),
big AS (
    SELECT doc_id,
           string_agg(
               substr(text, CAST(trunc(g.i * (len / 64.0)) AS INTEGER) + 1, 1),
               '' ORDER BY g.i) AS thumb
    FROM m, LATERAL (SELECT unnest(generate_series(0, 63)) AS i) g
    WHERE len > 64
    GROUP BY doc_id
),
all_t AS (SELECT * FROM small UNION ALL SELECT * FROM big)
SELECT doc_id,
       CAST(octet_length(encode(thumb)) AS BIGINT) AS thumb_bytes,
       sha256(thumb) AS thumb_sha256
FROM all_t
""",
    doc="Fixed-size thumbnail resize over binary payloads: one "
    "Arrow-batched mapInPandas pass emits (doc_id, thumb_bytes, "
    "thumb_sha256) per payload — the CLIP-style fixed-resolution "
    "preprocessing shape (operators/multimodal.resize_thumbnails). "
    "The resampler is the deterministic strided-byte stub behind the "
    "PIL-gated decode boundary — and because the stride positions are "
    "pure IEEE arithmetic (int(i*len/64)), DuckDB rebuilds every "
    "thumbnail byte-for-byte and the driver hash-verifies the whole "
    "fan-in. pytest additionally pins exact thumbnail bytes.",
)
def multimodal_resize_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    return resize_thumbnails(build_manifest(d)).select(
        "doc_id", "thumb_bytes", "thumb_sha256"
    )


@register(
    "text_tfidf",
    oracle="""
WITH tok AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
    FROM documents
),
tf AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf_counts AS (
    SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY doc_id, token
),
df_counts AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT t.doc_id, t.token, t.tf,
       round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf
FROM tf_counts t JOIN df_counts d ON t.token = d.token, n
WHERE t.tf >= 3
""",
    doc="TF-IDF scores for every (doc, token) with tf >= 3: explode + "
    "two aggregations + a broadcast-sized document-frequency join — the "
    "text-weighting primitive under retrieval and keyword extraction. "
    "The n_docs scalar enters as a crossJoin of a 1-row aggregate "
    "(broadcast, not a collected literal).",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(words("text")).alias("token"))
    # Checkpoint (SIZE-GATED, r17 — VERDICT r16 item 3): tf feeds the
    # tf>=3 branch AND the document frequencies — df = |distinct
    # (doc, token)| per token is exactly tf's row count per token, so
    # deriving it from tf kills the second scan+explode AND the
    # (doc, token) distinct exchange the r15 plan paid. tf is
    # corpus-sized, so the eager checkpoint only happens when the
    # source table is provably small; above the gate the df branch
    # recomputes (one extra scan — the safe shape when pinned
    # non-recomputable blocks would be corpus-scale).
    tf = checkpoint_if_small(
        tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf")),
        input_bytes(d),
    )
    df_counts = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").cast("double").alias("n_docs"))
    return (
        tf.filter(F.col("tf") >= 3)
        .join(F.broadcast(df_counts), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )


@register(
    "simsearch_batch_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
scored AS (
    SELECT q.q_id, e.vec_id, {_dot_sql('e.embedding', 'q.qe')} AS sim
    FROM embeddings e, q
    WHERE e.vec_id <> q.q_id
),
ranked AS (
    SELECT q_id, vec_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
    FROM scored
)
SELECT q_id, vec_id, round(sim, 5) AS sim, rn
FROM ranked WHERE rn <= 5
""",
    doc="Batch top-k: 5 nearest neighbors for each of 8 query vectors in "
    "ONE pass — broadcast the (small) query block against the corpus "
    "scan, then per-query top-k in TWO window stages: rank within "
    "(q_id, scan partition) first — that exchange spreads over "
    "#queries * #partitions keys, so every reducer core works — keeping "
    "k rows per (query, partition); the final per-query rank then sees "
    "k*P candidate rows instead of the whole scored corpus. A single "
    "per-q_id window would funnel the entire corpus through #queries "
    "reducers — the skew that kills large query batches at 100 TB.",
)
def simsearch_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from maxscale_cdc_connector_spark.functions.vectors import dot

    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    # Scan-parallelism guard on the PROBE side only (r17, guide §2.5):
    # the single-file embeddings scan is one task and the 8×dim
    # interpreted dot-product folds serialized there (A/B 0.52 → 0.45 s);
    # a no-op at real scale, and the broadcast query side stays a plain
    # scan. Per-row scores + deterministically tie-broken top-k are
    # partitioning-independent.
    scored = (
        ensure_scan_parallelism(emb).crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            dot("embedding", "qe").alias("sim"),
            F.spark_partition_id().alias("pid"),
        )
    )
    order = (F.desc("sim"), F.asc("vec_id"))
    # Stage 1: local top-k per (query, partition). The window key
    # includes the physical partition id, so rows are already clustered
    # and the rank is map-side after a cheap in-partition sort.
    w_local = W.partitionBy("q_id", "pid").orderBy(*order)
    survivors = (
        scored.withColumn("lrn", F.row_number().over(w_local))
        .filter(F.col("lrn") <= 5)
        .drop("lrn", "pid")
    )
    # Stage 2: global top-k per query over the k*P survivors.
    w = W.partitionBy("q_id").orderBy(*order)
    return (
        survivors.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id", F.round("sim", 5).alias("sim"), "rn")
    )


@register(
    "pipeline_pretrain_filter",
    oracle="""
WITH m AS (
    SELECT doc_id, lang, source,
           len(string_split(text, ' ')) AS n_words,
           len(list_distinct(string_split(text, ' '))) AS n_uniq,
           md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fp
    FROM documents
),
keep AS (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS copy_rank
    FROM m
    WHERE n_words >= 20 AND CAST(n_uniq AS DOUBLE) / n_words >= 0.3
)
SELECT doc_id, lang, source, CAST(n_words AS BIGINT) AS n_words
FROM keep WHERE copy_rank = 1
""",
    doc="A composed pretraining filter in one plan: length floor + "
    "lexical-diversity floor + exact dedup (keep lowest doc_id per "
    "fingerprint). The shape every training-data pipeline materializes "
    "before tokenization; all three stages fuse into scan -> project -> "
    "one shuffle (the dedup window).",
)
def pipeline_pretrain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = t(spark, "documents", sf_dir)
    w_arr = words("text")
    m = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(w_arr).alias("n_words"),
        F.size(F.array_distinct(w_arr)).alias("n_uniq"),
        F.md5(normalize("text")).alias("fp"),
    )
    keep = m.filter(
        (F.col("n_words") >= 20)
        & (F.col("n_uniq").cast("double") / F.col("n_words") >= 0.3)
    )
    rank = F.row_number().over(W.partitionBy("fp").orderBy("doc_id"))
    return (
        keep.withColumn("copy_rank", rank)
        .filter(F.col("copy_rank") == 1)
        .select("doc_id", "lang", "source", F.col("n_words").cast("bigint").alias("n_words"))
    )


@register(
    "simsearch_cosine_full",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
scored AS (
    SELECT e.vec_id,
           {_dot_sql('e.embedding', 'q.qe')} /
           (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
            sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
    FROM embeddings e, q
)
SELECT vec_id, round(sim, 5) AS sim
FROM scored ORDER BY sim DESC, vec_id LIMIT 20
""",
    doc="Full cosine (dot / norms) against query vec_id=1 — the general "
    "form for NON-normalized vectors; same single-scan TakeOrdered plan "
    "as the dot-product fast path, two extra higher-order aggregates.",
)
def simsearch_cosine_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.functions.vectors import cosine

    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 1).select(F.col("embedding").alias("qe"))
    )
    scored = emb.crossJoin(q).select(
        "vec_id", cosine("embedding", "qe").alias("sim")
    )
    return (
        scored.orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(20)
        .select("vec_id", F.round("sim", 5).alias("sim"))
    )


@register(
    "agg_approx_percentile",
    oracle=None,  # sketch-based by design → rows-only; pytest bounds the
    # error against the exact percentile.
    doc="Approximate percentiles via Spark's quantile sketch "
    "(approx_percentile, accuracy 10000) — the single-pass mergeable "
    "path that replaces exact sort-based percentiles at 100 TB.",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_quantity", F.lit(0.5), F.lit(10000)).alias("med_approx"),
        F.approx_percentile("l_quantity", F.lit(0.9), F.lit(10000)).alias("p90_approx"),
    )


@register(
    "pipeline_hash_split",
    oracle="""
SELECT CASE WHEN b < 80 THEN 'train'
            WHEN b < 90 THEN 'validation'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT lang) AS n_langs
FROM (SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
             AS INTEGER) % 100 AS b,
             n_chars, lang
      FROM documents) buckets
GROUP BY split
ORDER BY split
""",
    doc="Deterministic train/validation/test split for a training corpus: "
    "bucket = md5(doc_id) first 16 bits mod 100 (80/10/10). Stateless and "
    "engine-portable (MD5 is standardized), so the assignment is stable "
    "across runs, engines, and cluster sizes — no sampling RNG, no shuffle "
    "to assign; only the tiny per-split summary aggregates.",
)
def pipeline_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, "documents", sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "validation")
        .otherwise("test")
        .alias("split")
    )
    return (
        docs.select(split, "n_chars", "lang")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
        .orderBy("split")
    )


@register(
    "pipeline_source_mix",
    oracle="""
WITH rated AS (
    SELECT source,
           n_chars,
           CASE WHEN CAST(substr(source, 4) AS INTEGER) < 5 THEN 100
                WHEN CAST(substr(source, 4) AS INTEGER) < 10 THEN 50
                WHEN CAST(substr(source, 4) AS INTEGER) < 15 THEN 25
                ELSE 10 END AS rate_pct,
           CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4))
                AS INTEGER) % 100 AS b
    FROM documents
)
SELECT source,
       rate_pct,
       count(*) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM rated
WHERE b < rate_pct
GROUP BY source, rate_pct
ORDER BY source
""",
    doc="Weighted dataset mixing: per-source sampling rates (100/50/25/10% "
    "tiers) applied via a salted md5 bucket on doc_id, so the subsample is "
    "deterministic and reproducible on any engine or cluster size — the "
    "standard way to re-weight corpus sources for a training mix without an "
    "RNG seed dependency. The filter is a stateless map; only the per-source "
    "audit summary aggregates.",
)
def pipeline_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, "documents", sf_dir)
    src_n = F.substring(F.col("source"), 4, 10).cast("int")
    rate = (
        F.when(src_n < 5, 100)
        .when(src_n < 10, 50)
        .when(src_n < 15, 25)
        .otherwise(10)
        .alias("rate_pct")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return (
        docs.select("source", "n_chars", rate, bucket.alias("b"))
        .filter(F.col("b") < F.col("rate_pct"))
        .groupBy("source", "rate_pct")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
        .orderBy("source")
    )


@register(
    "pipeline_pack_sequences",
    oracle="""
WITH RECURSIVE tok AS (
    SELECT CAST(CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 4))
                AS INTEGER) % 64 AS INTEGER) AS bucket,
           doc_id,
           CAST(length(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
               AS n_tokens
    FROM documents
),
ordered AS (
    SELECT bucket, doc_id, n_tokens,
           row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
    FROM tok
),
-- The greedy first-fit state machine, one row per step per bucket.
-- State AFTER a row = (cur_seq, cur_used); pre-state of row 1 = (0, 0).
fold AS (
    SELECT bucket, rn, n_tokens,
           CAST(0 AS INTEGER) AS pack_seq,
           n_tokens > 512 AS truncated,
           CASE WHEN n_tokens > 512 THEN 1 ELSE 0 END AS cur_seq,
           CASE WHEN n_tokens > 512 THEN 0 ELSE n_tokens END AS cur_used
    FROM ordered WHERE rn = 1
    UNION ALL
    SELECT o.bucket, o.rn, o.n_tokens,
           CAST(CASE
             WHEN o.n_tokens > 512 THEN
                  CASE WHEN f.cur_used > 0 THEN f.cur_seq + 1 ELSE f.cur_seq END
             WHEN f.cur_used + o.n_tokens > 512 THEN f.cur_seq + 1
             ELSE f.cur_seq END AS INTEGER) AS pack_seq,
           o.n_tokens > 512 AS truncated,
           CASE
             WHEN o.n_tokens > 512 THEN
                  (CASE WHEN f.cur_used > 0 THEN f.cur_seq + 1 ELSE f.cur_seq END) + 1
             WHEN f.cur_used + o.n_tokens > 512 THEN f.cur_seq + 1
             ELSE f.cur_seq END AS cur_seq,
           CASE
             WHEN o.n_tokens > 512 THEN 0
             WHEN f.cur_used + o.n_tokens > 512 THEN o.n_tokens
             ELSE f.cur_used + o.n_tokens END AS cur_used
    FROM fold f JOIN ordered o ON o.bucket = f.bucket AND o.rn = f.rn + 1
)
SELECT bucket, pack_seq,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       CAST(sum(n_tokens) * 10000 // 512 AS BIGINT) AS fill_bp,
       bool_or(truncated) AS has_truncated
FROM fold
GROUP BY bucket, pack_seq
ORDER BY bucket, pack_seq
""",
    doc="Sequence packing (pretraining batch prep): greedy first-fit of "
    "documents into 512-token training sequences inside deterministic "
    "md5 buckets (applyInPandas per bucket — one shuffle, linear per-"
    "bucket Python, reproducible on any cluster size). Emits the per-pack "
    "manifest: doc count, token fill, fill basis points, truncation flag. "
    "Packing is deterministic by construction (md5 bucket + doc_id order), "
    "so the stateful fold IS SQL-expressible: the oracle replays the exact "
    "state machine as a per-bucket recursive CTE (promoted from rows-only, "
    "VERDICT r5 item 6). Fill is exact integer basis points — "
    "floor(tokens*1e4/512) — so the hash cannot split on float tie-"
    "rounding. Invariants (every doc packed exactly once, no pack over "
    "budget, partitioning-independence) stay pinned in pytest.",
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.packing import pack_sequences

    docs = t(spark, "documents", sf_dir)
    packed = pack_sequences(docs, budget=512, n_buckets=64)
    return (
        packed.groupBy("bucket", "pack_seq")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.expr("CAST((sum(n_tokens) * 10000) DIV 512 AS BIGINT)").alias("fill_bp"),
            F.max(F.col("truncated").cast("int")).cast("boolean").alias("has_truncated"),
        )
        .orderBy("bucket", "pack_seq")
    )


@register(
    "pipeline_decontaminate",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
ev_grams AS (
    SELECT DISTINCT array_to_string(w[i:i+2], ' ') AS gram
    FROM tok, UNNEST(range(1, len(w)-1)) AS u(i)
    WHERE doc_id % 97 = 0
),
contaminated AS (
    SELECT DISTINCT doc_id
    FROM tok, UNNEST(range(1, len(w)-1)) AS u(i)
    WHERE doc_id % 97 <> 0
      AND array_to_string(w[i:i+2], ' ') IN (SELECT gram FROM ev_grams)
)
SELECT d.source,
       count(*) AS n_train_docs,
       CAST(count(c.doc_id) AS BIGINT) AS n_contaminated
FROM documents d LEFT JOIN contaminated c USING (doc_id)
WHERE d.doc_id % 97 <> 0
GROUP BY d.source
ORDER BY d.source
""",
    doc="Benchmark decontamination: flag training documents sharing any "
    "word n-gram with a held-out eval set (stand-in: doc_id % 97 == 0), "
    "reported per source. The eval n-gram set is tiny relative to the "
    "corpus, so it is DISTINCT-ed and BROADCAST to a left-semi join — "
    "the training side streams through one scan with no fact-side "
    "shuffle before the per-source rollup; at 100 TB the gram set stays "
    "a broadcast (eval suites are MBs, corpora are TBs). n=3 here to "
    "match the synthetic corpus's short texts; production decontamination "
    "uses the same plan with 8-13-grams.",
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.functions.text_fns import word_shingles

    docs = t(spark, "documents", sf_dir)
    grams = word_shingles("text", 3)
    is_eval = F.col("doc_id") % 97 == 0
    ev_grams = (
        docs.filter(is_eval).select(F.explode(grams).alias("gram")).distinct()
    )
    train = docs.filter(~is_eval)
    contaminated = (
        train.select("doc_id", F.explode(grams).alias("gram"))
        .join(F.broadcast(ev_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        train.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.count(F.col("hit")).cast("bigint").alias("n_contaminated"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Dup-cluster assignment: connected components over near-dup pairs.
# ---------------------------------------------------------------------------


@register(
    "dedup_cluster_cc",
    oracle=f"""
WITH RECURSIVE {_DUP_DOCS_SQL}, {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT doc_a, doc_b FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.8
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(node, root) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id,
       min(root) AS cluster_id,
       (node = min(root)) AS is_canonical
FROM reach GROUP BY node
""",
    doc="Dup-cluster assignment: connected components over the n-gram "
    "Jaccard >= 0.8 pair graph (same edges as dedup_ngram_jaccard), each "
    "doc labeled with the min doc_id in its component; is_canonical marks "
    "the one copy a dedup pass would keep — the terminal step of every "
    "near-dup pipeline (pairs alone don't say which docs form one group). "
    "Spark side is large-star/small-star contraction (operators/graph.py, "
    "Kiveris et al. SoCC'14): per round one window-min exchange per star "
    "phase and a distinct on the node key, convergence by a (count, "
    "bit_xor(xxhash64)) edge-set signature confirmed by exceptAll, "
    "localCheckpoint per round to keep the plan bounded; rounds grow with "
    "log n, not with the diameter. Oracle is a DuckDB recursive-CTE transitive "
    "closure — correct but quadratic in component size; the iterative "
    "formulation is the one that scales.",
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.graph import connected_components

    corpus = duplicated_corpus(t(spark, "documents", sf_dir).select("doc_id", "text"))
    edges = jaccard_pairs_prefix(corpus, min_jaccard=0.8).select("doc_a", "doc_b")
    # input_materialized: edges is an eager checkpoint behind a pure
    # projection — skip the dispatcher's second copy (one job saved).
    cc = connected_components(
        edges, src="doc_a", dst="doc_b", input_materialized=True,
        # strict_pairs: jaccard pairs are distinct with doc_a < doc_b —
        # skips the canonicalization distinct and the nodes join (r17).
        input_strict_pairs=True,
    )
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Bigram LM familiarity: corpus-statistics quality signal.
# ---------------------------------------------------------------------------


@register(
    "text_bigram_lm",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bg AS (
    SELECT doc_id, concat(w[i], ' ', w[i + 1]) AS bigram
    FROM tok, unnest(generate_series(1, len(w) - 1)) AS t(i)
    WHERE len(w) >= 2
),
freq AS (SELECT bigram, count(*) AS f FROM bg GROUP BY bigram)
SELECT b.doc_id,
       count(*) AS n_bigrams,
       CAST(sum(f.f) AS BIGINT) AS sum_freq,
       count(*) FILTER (WHERE f.f = 1) AS n_hapax,
       max(f.f) AS max_freq
FROM bg b JOIN freq f ON b.bigram = f.bigram
GROUP BY b.doc_id
""",
    doc="Bigram-LM familiarity signal per document: each doc's bigrams "
    "scored by their whole-corpus frequency — sum, hapax (corpus-unique) "
    "count, and max, all integer-exact (a float perplexity would hit "
    "rounding boundaries; rank order is identical). Boilerplate-heavy "
    "docs score high sum_freq, noise/gibberish scores high n_hapax — "
    "the cheap corpus-statistics quality filter between heuristics and "
    "a real LM. Plan: explode bigrams once, groupBy(bigram) count, join "
    "the stream back on bigram (AQE broadcasts the frequency table while "
    "it fits; past that it's a shuffle join where the frequency side "
    "reuses its aggregation exchange), then groupBy(doc_id). At 100 TB, "
    "prune the frequency table to the top-M bigrams + an OTHER bucket "
    "and the join stays broadcast at any corpus size.",
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir).select("doc_id", F.split("text", " ").alias("w"))
    bigrams = F.expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> concat(x, ' ', w[i + 1]))"
    )
    bg = (
        d.filter(F.size("w") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
    )
    freq = bg.groupBy("bigram").agg(F.count("*").alias("f"))
    return (
        bg.join(freq, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("f").alias("sum_freq"),
            F.count_if(F.col("f") == 1).cast("long").alias("n_hapax"),
            F.max("f").alias("max_freq"),
        )
    )


@register(
    "simsearch_ivf_kmeans_topk",
    oracle=None,  # approximate (learned-quantizer bucket pruning), and an
    # EXACT replay is impossible (r8 adjudication): the coarse quantizer
    # is float-embedding k-means, whose cross-task float sums are not
    # ulp-reproducible in SQL (see embedding_pq_codes) — probe selection
    # and thus the candidate set inherit that nondeterminism. The
    # deterministic strided-quantizer variant simsearch_ivf_topk IS
    # exactly replayed (promoted r7); this key pins the TRAINED path.
    doc="IVF approximate top-20 with a k-means-TRAINED coarse quantizer "
    "(8 clusters, 3 Lloyd iterations, nprobe=3): probe selection is "
    "driver-side NumPy over the model state, the corpus side is one "
    "assignment scan + cluster filter + TakeOrderedAndProject. pytest "
    "asserts recall vs brute force meets or beats the strided-sample "
    "quantizer at equal probe budget.",
)
def simsearch_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.simsearch import ivf_kmeans_topk

    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    query = emb.filter(F.col("vec_id") == 0)
    return ivf_kmeans_topk(emb, query, k=20)


@register(
    "text_vocab_topk",
    oracle="""
WITH w AS (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
counts AS (SELECT word, count(*) AS n FROM w GROUP BY word)
SELECT word, n FROM counts ORDER BY n DESC, word LIMIT 100
""",
    doc="Corpus vocabulary heavy hitters: exact top-100 words by "
    "frequency with a deterministic (count desc, word) tie-break — the "
    "vocab-building / stopword-discovery primitive. Plan: explode once, "
    "hash agg with map-side combine (shuffle = |distinct words|), then "
    "TakeOrderedAndProject — per-partition heaps + driver merge of "
    "100-row heads, never a global sort of the vocabulary.",
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Incremental dedup, corpus rewrite, and profiling.
# ---------------------------------------------------------------------------


@register(
    "dedup_incremental_new_docs",
    oracle="""
WITH corpus AS (
    SELECT md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fp
    FROM documents WHERE doc_id < 250
),
batch AS (
    SELECT doc_id, md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fp
    FROM documents WHERE doc_id >= 250
)
SELECT b.doc_id FROM batch b
WHERE b.fp NOT IN (SELECT fp FROM corpus)
""",
    doc="Incremental dedup: a new crawl batch is admitted only where its "
    "normalized-content digest is unseen in the existing corpus — a "
    "left-anti join on the digest. At 100 TB the corpus side is a "
    "digest-only table (32 bytes/doc); the anti join shuffles digests, "
    "never documents, and a bloom-filter pre-pass prunes most probes "
    "map-side. The daily-ingest shape: detect against history without "
    "rescanning history's payloads.",
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    fp = F.md5(normalize("text")).alias("fp")
    corpus = d.filter(F.col("doc_id") < 250).select(fp)
    batch = d.filter(F.col("doc_id") >= 250).select("doc_id", fp)
    return batch.join(corpus, "fp", "left_anti").select("doc_id")


@register(
    "dedup_rewrite_corpus",
    oracle=f"""
WITH RECURSIVE {_DUP_DOCS_SQL}, {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT doc_a, doc_b FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.8
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(node, root) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
),
drop_set AS (
    SELECT node FROM reach GROUP BY node HAVING node <> min(root)
)
SELECT d.doc_id FROM dup_docs d
WHERE d.doc_id NOT IN (SELECT node FROM drop_set)
""",
    doc="Terminal dedup step — REWRITE the corpus: detect near-dup pairs, "
    "cluster them (connected components), keep only each cluster's "
    "canonical (min-id) member plus all unclustered docs. A left-anti "
    "join of the corpus against the non-canonical drop set; the drop "
    "set is O(|duplicates|), broadcastable. This is the query whose "
    "output actually feeds the tokenizer.",
)
def dedup_rewrite_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.graph import connected_components

    corpus = duplicated_corpus(t(spark, "documents", sf_dir).select("doc_id", "text"))
    edges = jaccard_pairs_prefix(corpus, min_jaccard=0.8).select("doc_a", "doc_b")
    # input_materialized: edges is an eager checkpoint behind a pure
    # projection — skip the dispatcher's second copy (one job saved).
    cc = connected_components(
        edges, src="doc_a", dst="doc_b", input_materialized=True,
        # strict_pairs: jaccard pairs are distinct with doc_a < doc_b —
        # skips the canonicalization distinct and the nodes join (r17).
        input_strict_pairs=True,
    )
    drop = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return corpus.join(F.broadcast(drop), "doc_id", "left_anti").select("doc_id")


@register(
    "profile_table",
    oracle="""
SELECT count(*) AS n_rows,
       CAST(count(*) - count(l_returnflag) AS BIGINT) AS returnflag_nulls,
       CAST(count(DISTINCT l_returnflag) AS BIGINT) AS returnflag_distinct,
       CAST(min(l_quantity) AS BIGINT) AS qty_min,
       CAST(max(l_quantity) AS BIGINT) AS qty_max,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 100
            // count(*) AS BIGINT) AS price_avg_e4,
       CAST(min(l_shipdate) AS DATE) AS shipdate_min,
       CAST(max(l_shipdate) AS DATE) AS shipdate_max
FROM lineitem
""",
    doc="Single-pass data profiling over the fact table: row count, null "
    "count, distinct cardinality, min/max/avg per column — ALL computed "
    "in one scan and one 1-row aggregate (the pre-training data-quality "
    "gate). The only shuffle is the distinct count's partial dedup; "
    "everything else is map-side combined. Profiling 100 TB costs one "
    "pass, not one pass per column.",
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, "lineitem", sf_dir)
    return li.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("l_returnflag")).cast("bigint").alias("returnflag_nulls"),
        F.countDistinct("l_returnflag").cast("bigint").alias("returnflag_distinct"),
        F.min("l_quantity").cast("bigint").alias("qty_min"),
        F.max("l_quantity").cast("bigint").alias("qty_max"),
        F.expr(
            "(sum(cast(round(l_extendedprice * 100) as bigint)) * 100)"
            " DIV count(*)"
        ).alias("price_avg_e4"),
        F.min("l_shipdate").cast("date").alias("shipdate_min"),
        F.max("l_shipdate").cast("date").alias("shipdate_max"),
    )


# ---------------------------------------------------------------------------
# Round 4: containment dedup + range similarity query.
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_containment",
    oracle=f"""
WITH {_DUP_DOCS_SQL}, {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(least(sa.set_size, sb.set_size) AS BIGINT) AS min_size
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common * 10 >= 9 * least(sa.set_size, sb.set_size)
""",
    doc="Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ 0.9 over the "
    "5-gram shingle sets — catches a document EMBEDDED in a longer one, "
    "which symmetric Jaccard misses (a 100-word doc pasted into a "
    "1000-word doc has Jaccard ≈ 0.1 but containment 1.0). Same "
    "inverted-index equi-join as dedup_ngram_jaccard (never all-pairs); "
    "the threshold is a cross-multiplied integer comparison and the "
    "outputs are exact counts, so the hash can't drift.",
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = duplicated_corpus(t(spark, "documents", sf_dir).select("doc_id", "text"))
    shingles = shingle_sets(corpus)
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    min_size = F.least(F.col("size_a"), F.col("size_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("n_common") * 10 >= 9 * min_size)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            min_size.cast("bigint").alias("min_size"),
        )
    )


@register(
    "simsearch_range_query",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
scored AS (
    SELECT e.vec_id, {_dot_sql('e.embedding', 'q.qe')} AS sim
    FROM embeddings e, q
    WHERE e.vec_id <> 7
)
SELECT vec_id, round(sim, 5) AS sim
FROM scored WHERE sim >= 0.3
""",
    doc="Range similarity query: ALL vectors with cosine ≥ 0.3 of the "
    "vec_id=7 embedding (the retrieval dual of top-k — 'everything this "
    "similar', used for near-dup radius scans and recall evaluation). "
    "Same single-scan shape as topk_cosine: broadcast 1-row query, JVM "
    "dot products, but the predicate replaces the heap — the scan emits "
    "matches directly, so no ordering bottleneck exists at any scale.",
)
def simsearch_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.functions.vectors import dot

    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("q_embedding"))
    )
    return (
        emb.filter(F.col("vec_id") != 7)
        .crossJoin(q)
        .select("vec_id", dot("embedding", "q_embedding").alias("sim"))
        .filter(F.col("sim") >= 0.3)
        .select("vec_id", F.round("sim", 5).alias("sim"))
    )


@register(
    "embedding_normalize_l2",
    oracle="""
WITH n AS (
    SELECT vec_id, embedding,
           sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
    FROM embeddings
)
SELECT vec_id,
       CAST(g.i AS BIGINT) AS idx,
       round(nrm, 5) AS l2_norm,
       round(CAST(embedding[g.i + 1] AS DOUBLE) / nrm, 5) + 0.0 AS unit_val
FROM n, LATERAL (SELECT unnest(generate_series(0, len(embedding) - 1)) AS i) g
""",
    doc="L2 normalization: the preprocessing step every cosine-based "
    "dedup/ANN stage assumes (cosine ≡ dot only on unit vectors). "
    "Row-local zip/aggregate expressions — zero shuffles at any scale; "
    "emits the norm so downstream can assert unit-ness cheaply. Output "
    "is the exploded scalar form (vec_id, idx, unit_val) — full-fidelity "
    "per-component values the differential harness can sort and hash "
    "(raw array columns are uncanonicalizable); the array form is a "
    "row-local collect_list away.",
)
def embedding_normalize_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.functions.vectors import norm_l2

    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    nrm = norm_l2("embedding")
    return emb.select(
        "vec_id",
        F.round(nrm, 5).alias("l2_norm"),
        F.posexplode(
            # + 0.0 canonicalizes IEEE -0.0 to +0.0 (both engines), so the
            # harness's sort/%.6f-format sees one representation of zero.
            F.transform(
                "embedding", lambda x: F.round(x.cast("double") / nrm, 5) + F.lit(0.0)
            )
        ).alias("pos", "unit_val"),
    ).select(
        "vec_id",
        F.col("pos").cast("bigint").alias("idx"),
        "l2_norm",
        "unit_val",
    )


@register(
    "embedding_quantize_int8",
    oracle="""
WITH m AS (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
    FROM embeddings
)
SELECT vec_id,
       CAST(g.i AS BIGINT) AS idx,
       round(max_abs, 6) AS max_abs,
       CAST(round(CAST(embedding[g.i + 1] AS DOUBLE) * 127 / max_abs) AS BIGINT) AS q8_val
FROM m, LATERAL (SELECT unnest(generate_series(0, len(embedding) - 1)) AS i) g
""",
    doc="Symmetric per-vector int8 quantization (q = round(x*127/max_abs)): "
    "the 4x storage/bandwidth cut that makes 100 TB of embeddings "
    "shippable to an ANN index; the per-vector scale rides along for "
    "dequantization. Row-local, integer outputs (exact hash), zero "
    "shuffles. Output is the exploded scalar form (vec_id, idx, q8_val) "
    "— integer-exact rows the differential harness can sort and hash "
    "(raw array columns are uncanonicalizable).",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    max_abs = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    return emb.select(
        "vec_id",
        F.round(max_abs, 6).alias("max_abs"),
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 127 / max_abs).cast("bigint"),
            )
        ).alias("pos", "q8_val"),
    ).select(
        "vec_id",
        F.col("pos").cast("bigint").alias("idx"),
        "max_abs",
        "q8_val",
    )


# k-NN label voting: the query side is BROADCAST, so it must be O(K)
# regardless of corpus size — a percentage-of-corpus query set grows
# linearly with n and breaks the broadcast at cluster scale. The cap is
# a pushed range predicate (vec_id < STRIDE*MAX), giving at most
# KNN_MAX_QUERIES query vectors deterministically.
KNN_QUERY_STRIDE = 25
KNN_MAX_QUERIES = 512


@register(
    "embedding_knn_label_vote",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS q_id, embedding AS qe, label AS true_label
    FROM embeddings
    WHERE vec_id % {KNN_QUERY_STRIDE} = 0
      AND vec_id < {KNN_QUERY_STRIDE * KNN_MAX_QUERIES}
),
scored AS (
    SELECT q.q_id, q.true_label, e.vec_id, e.label,
           {_dot_sql('e.embedding', 'q.qe')} AS sim
    FROM embeddings e, q
    WHERE e.vec_id <> q.q_id
),
ranked AS (
    SELECT q_id, true_label, label, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
    FROM scored
),
votes AS (
    SELECT q_id, true_label, label, count(*) AS n_votes
    FROM ranked WHERE rn <= 5
    GROUP BY q_id, true_label, label
),
best AS (
    SELECT q_id, true_label, label, n_votes,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY n_votes DESC, label) AS vr
    FROM votes
)
SELECT q_id, CAST(true_label AS BIGINT) AS true_label,
       CAST(label AS BIGINT) AS pred_label,
       CAST(n_votes AS BIGINT) AS n_votes
FROM best WHERE vr = 1
""",
    doc="k-NN label voting (label denoising / weak supervision): every "
    "25th vector (capped at KNN_MAX_QUERIES — the query side is a "
    "broadcast, so it must stay O(K) as the corpus grows) is re-labeled "
    "by the majority label of its 5 nearest neighbors (tie-break: "
    "smallest label) — the standard sanity pass over labeled embedding "
    "corpora before training. Same two-stage per-(query, partition) "
    "rank as simsearch_batch_topk, so no per-query reducer funnel; the "
    "vote is a tiny (|queries| x |labels|) aggregate. Integer outputs "
    "— exact hash.",
)
def embedding_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from maxscale_cdc_connector_spark.functions.vectors import dot

    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding", "label")
    q = emb.filter(
        (F.col("vec_id") % KNN_QUERY_STRIDE == 0)
        & (F.col("vec_id") < KNN_QUERY_STRIDE * KNN_MAX_QUERIES)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("true_label"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "true_label",
            "vec_id",
            "label",
            dot("embedding", "qe").alias("sim"),
            F.spark_partition_id().alias("pid"),
        )
    )
    order = (F.desc("sim"), F.asc("vec_id"))
    w_local = W.partitionBy("q_id", "pid").orderBy(*order)
    survivors = (
        scored.withColumn("lrn", F.row_number().over(w_local))
        .filter(F.col("lrn") <= 5)
        .drop("lrn", "pid")
    )
    w = W.partitionBy("q_id").orderBy(*order)
    top5 = survivors.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    votes = top5.groupBy("q_id", "true_label", "label").agg(
        F.count("*").alias("n_votes")
    )
    wv = W.partitionBy("q_id").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "q_id",
            F.col("true_label").cast("bigint").alias("true_label"),
            F.col("label").cast("bigint").alias("pred_label"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
        )
    )


@register(
    "text_approx_top_k_words",
    oracle="""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
counts AS (SELECT word, count(*) AS n FROM w GROUP BY word)
SELECT word, n FROM counts ORDER BY n DESC, word LIMIT 10
""",
    doc="Heavy-hitter words via the approx_top_k sketch (completes the "
    "mergeable-sketch family next to approx_count_distinct and "
    "approx_percentile): one pass, fixed memory per partition, partial "
    "sketches merge associatively — the 100 TB vocabulary profile where "
    "an exact groupBy would shuffle the whole token stream. The sketch "
    "over-fetches 32 candidates, then the final top-10 is chosen by the "
    "deterministic (count DESC, word ASC) order — tie-safe at the k "
    "boundary as long as the sketch's candidate set covers the ties, "
    "which its 10000-slot capacity guarantees for this vocabulary "
    "(pytest pins sketch counts == exact counts); the oracle is the "
    "exact top-10 under the same total order.",
)
def text_approx_top_k_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    tok = d.select(F.explode(words("text")).alias("w"))
    sk = tok.agg(F.expr("approx_top_k(w, 32, 10000)").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("word"),
            F.col("e.count").cast("bigint").alias("n"),
        )
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(10)
    )


@register(
    "text_language_confusion",
    oracle=f"""
WITH scored AS (
    SELECT doc_id, lang,
           {_lang_hits_sql('en')} AS en_hits,
           {_lang_hits_sql('es')} AS es_hits,
           {_lang_hits_sql('de')} AS de_hits,
           {_lang_hits_sql('fr')} AS fr_hits
    FROM documents
),
pred AS (
    SELECT lang,
           CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
                WHEN de_hits >= fr_hits THEN 'de'
                ELSE 'fr' END AS lang_pred
    FROM scored
)
SELECT lang, lang_pred, count(*) AS n_docs
FROM pred GROUP BY lang, lang_pred
""",
    doc="Language-ID confusion matrix: labeled lang vs stopword-heuristic "
    "prediction — the classifier-quality eval a corpus-curation pipeline "
    "runs before trusting a language filter (each off-diagonal cell is "
    "misrouted training data). Row-local scoring + one tiny "
    "(|langs| x |langs|) aggregate.",
)
def text_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.queries.registry import REGISTRY

    pred = REGISTRY["text_language_id"].fn(spark, sf_dir)
    return pred.groupBy("lang", "lang_pred").agg(F.count("*").alias("n_docs"))


@register(
    "simsearch_knn_graph",
    oracle=f"""
WITH s AS (
    SELECT a.vec_id AS vec_id, b.vec_id AS neighbor,
           {_dot_sql('a.embedding', 'b.embedding')} AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
r AS (
    SELECT vec_id, neighbor, sim,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor) AS rn
    FROM s
)
SELECT vec_id, neighbor, round(sim, 5) AS sim, CAST(rn AS BIGINT) AS nn_rank
FROM r WHERE rn <= 3
""",
    doc="Exact 3-NN graph by cosine over the whole corpus — the "
    "embedding-curation primitive (near-dup clustering, diversity "
    "sampling, and label propagation all start from it). Distributed "
    "shape (operators/simsearch.knn_graph): blocked BLAS matmuls "
    "nominate per-block top-(k+4) candidates, exact sequential refold "
    "keeps the hash stable, one per-vec_id window takes the global "
    "top-k — shuffled rows are O(n*nb*k), never the n^2 similarity "
    "matrix. The oracle IS the quadratic join; the Spark plan never is.",
)
def simsearch_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    return knn_graph(emb, k=3).withColumnRenamed("rank", "nn_rank")


@register(
    "embedding_quantization_error",
    oracle="""
WITH m AS (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
    FROM embeddings
),
e AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)
                        - CAST(round(CAST(x AS DOUBLE) * 127 / max_abs) AS BIGINT)
                          * max_abs / 127)) AS errs
    FROM m
)
SELECT vec_id,
       round(list_max(errs), 6) AS max_err,
       round(list_sum(errs) / len(errs), 6) AS mean_err
FROM e
""",
    doc="Reconstruction-error report for the int8 quantization "
    "(embedding_quantize_int8's round trip): per-vector max and mean "
    "absolute error of dequantize(quantize(x)). The accept/reject gate "
    "a pipeline runs before committing to a quantized index (symmetric "
    "int8 bounds max_err by max_abs/254). Row-local arithmetic, zero "
    "shuffles; identical left-to-right folds on both engines keep the "
    "6 d.p. rounding stable.",
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    max_abs = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    errs = F.transform(
        "embedding",
        lambda x: F.abs(
            x.cast("double")
            - F.round(x.cast("double") * 127 / max_abs).cast("bigint") * max_abs / 127
        ),
    )
    return emb.select(
        "vec_id",
        F.round(F.array_max(errs), 6).alias("max_err"),
        F.round(
            F.aggregate(errs, F.lit(0.0), lambda acc, x: acc + x) / F.size(errs), 6
        ).alias("mean_err"),
    )


@register(
    "text_token_percentiles_by_lang",
    oracle="""
WITH n AS (
    SELECT lang, CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens
    FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(quantile_cont(n_tokens, 0.5), 4) AS p50,
       round(quantile_cont(n_tokens, 0.9), 4) AS p90,
       round(quantile_cont(n_tokens, 0.99), 4) AS p99
FROM n GROUP BY lang
""",
    doc="Per-language token-length percentiles (p50/p90/p99) — the "
    "length-distribution profile a curation pipeline checks before "
    "setting sequence-length budgets and truncation policies per "
    "language. EXACT linear-interpolated percentiles (both engines "
    "sort-and-interpolate identically); at 100 TB swap percentile for "
    "approx_percentile and keep the same shape — one groupBy over "
    "|langs| groups either way.",
)
def text_token_percentiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    n_tokens = F.size(words("text")).cast("double")
    return (
        d.select("lang", n_tokens.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.expr("percentile(n_tokens, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(n_tokens, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(n_tokens, 0.99)"), 4).alias("p99"),
        )
    )


# ---------------------------------------------------------------------------
# Dup-graph topology: triangle census / clustering coefficient.
# ---------------------------------------------------------------------------


@register(
    "graph_triangle_count",
    oracle=f"""
WITH {_DUP_DOCS_SQL}, {_SHINGLES_SQL},
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
common AS MATERIALIZED (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS MATERIALIZED (
    SELECT doc_a, doc_b FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.8
),
deg AS (
    SELECT node, count(*) AS deg
    FROM (SELECT doc_a AS node FROM pairs UNION ALL SELECT doc_b FROM pairs)
    GROUP BY node
),
tri AS (
    SELECT count(*) AS t FROM pairs e1
    JOIN pairs e2 ON e2.doc_a = e1.doc_a AND e2.doc_b > e1.doc_b
    JOIN pairs e3 ON e3.doc_a = e1.doc_b AND e3.doc_b = e2.doc_b
),
node_stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
    FROM deg
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs)
SELECT node_stats.n_nodes, ne.n_edges, node_stats.n_wedges,
       CAST(tri.t AS BIGINT) AS n_triangles,
       round(3.0 * tri.t / node_stats.n_wedges, 6) AS clustering
FROM node_stats, ne, tri
""",
    doc="Triangle census of the near-dup pair graph (nodes, edges, "
    "wedges, triangles, global clustering coefficient) — the topology "
    "check a dedup pipeline runs before trusting its clusters: a "
    "near-clique dup graph has clustering ~1, while LSH bucket "
    "pollution shows up as wedge-heavy, triangle-poor structure. "
    "Spark side is the degree-ordered node-iterator "
    "(operators/graph.triangle_stats, Suri & Vassilvitskii WWW'11): "
    "orient edges low-degree→high-degree, wedge only over out-edges "
    "(out-degree capped O(sqrt(m))), close wedges with a semi-join — "
    "O(m^1.5) worst-case, no last-reducer hotspot. The oracle's 3-way "
    "self-join is the quadratic textbook form; the plan never is.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.graph import triangle_stats

    corpus = duplicated_corpus(t(spark, "documents", sf_dir).select("doc_id", "text"))
    edges = jaccard_pairs_prefix(corpus, min_jaccard=0.8)
    # strict_pairs: jaccard pairs are a materialized distinct set with
    # doc_a < doc_b — skips the canonicalization distinct and its extra
    # eager-checkpoint job (r17).
    return triangle_stats(edges, src="doc_a", dst="doc_b", input_strict_pairs=True)


@register(
    "dedup_rate_by_source",
    oracle=f"""
WITH {_DUP_DOCS_SQL}, {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT doc_a, doc_b FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.8
),
srcmap AS (
    SELECT doc_id, source FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, source FROM documents
)
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs p
JOIN srcmap sa ON sa.doc_id = p.doc_a
JOIN srcmap sb ON sb.doc_id = p.doc_b
GROUP BY source_a, source_b
""",
    doc="Near-dup provenance matrix: which SOURCES duplicate which — "
    "every Jaccard ≥ 0.8 pair mapped to its (source, source) cell. "
    "The curation question this answers (\"is crawl-X a mirror of "
    "crawl-Y? which feeds plagiarize each other?\") decides whole-"
    "source drops before any per-doc dedup runs. Plan: the prefix-"
    "filtered exact pair join (operators/dedup.jaccard_pairs_prefix), "
    "then two keyed joins against the doc→source map and a count over "
    "at most |sources|^2 cells — pair volume, never corpus volume, "
    "crosses the provenance joins.",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, "documents", sf_dir)
    corpus = duplicated_corpus(docs.select("doc_id", "text"))
    pairs = jaccard_pairs_prefix(corpus, min_jaccard=0.8)
    srcmap = duplicated_corpus(docs.select("doc_id", "source"))
    sa = srcmap.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = srcmap.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "embedding_dim_stats",
    oracle="""
SELECT CAST(g.i AS BIGINT) AS dim,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(CAST(embedding[g.i + 1] AS DOUBLE)), 6) AS mean_val,
       round(min(CAST(embedding[g.i + 1] AS DOUBLE)), 6) AS min_val,
       round(max(CAST(embedding[g.i + 1] AS DOUBLE)), 6) AS max_val
FROM embeddings,
     LATERAL (SELECT unnest(generate_series(0, len(embedding) - 1)) AS i) g
GROUP BY g.i
""",
    doc="Per-dimension embedding health profile (count / mean / min / "
    "max for every coordinate): the feature-monitoring query that "
    "catches dead dimensions, scale drift, and truncation artifacts "
    "before an index is built on a broken encoder. posexplode then ONE "
    "hash aggregate keyed on the dimension index — d groups total, "
    "fully map-side combinable, so the shuffle carries d·|partitions| "
    "partial rows no matter how many vectors exist. Mean is rounded "
    "6dp on both engines (summation-order ulp absorption); min/max "
    "are exact float32 values widened to double identically.",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, "embeddings", sf_dir).select("embedding")
    return (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy(F.col("dim").cast("bigint").alias("dim"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(F.col("x").cast("double")), 6).alias("mean_val"),
            F.round(F.min(F.col("x").cast("double")), 6).alias("min_val"),
            F.round(F.max(F.col("x").cast("double")), 6).alias("max_val"),
        )
    )


@register(
    "simsearch_knn_graph_lsh",
    oracle=None,  # approximate recall by design → rows-only; pytest pins
    # exact edge sims, duplicate-edge recall 1.0, and a recall floor
    # against the exact graph.
    doc="Approximate 3-NN graph via SRP-LSH buckets + exact rescoring "
    "(operators/simsearch.knn_graph_lsh) — the implemented scale "
    "substitution the exact knn_graph documents for past ~1M vectors: "
    "candidate cost tracks bucket occupancy instead of n² arithmetic. "
    "Every emitted edge carries its true cosine (precision exact). "
    "LSH retrieves HIGH-cosine neighbors — exactly the ones a curation "
    "pass acts on — so the query runs over the duplicated corpus, and "
    "the pytest pins recall 1.0 on the known sim-1.0 duplicate edges "
    "(identical vectors collide in every band) while the low-cosine "
    "tail of a uniform-random corpus is explicitly best-effort: no "
    "sub-quadratic method can rank cos≈0.3 'neighbors' of random "
    "directions, and no downstream curation decision reads them.",
)
def simsearch_knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.simsearch import knn_graph_lsh

    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    corpus = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000)))
    return knn_graph_lsh(corpus, k=3, dim=64)


@register(
    "pipeline_dataset_card",
    oracle="""
WITH tok AS (
    SELECT doc_id, lang, source, n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS digest
    FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT digest) AS BIGINT) AS n_unique_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       CAST(sum(n_tokens) // count(*) AS BIGINT) AS mean_tokens_floor
FROM tok
""",
    doc="Dataset card: the one-row release summary a corpus ships with "
    "— document and exact-unique counts, token/char totals, language "
    "and source cardinalities, token-length extremes and floor-mean "
    "(integer-exact; no float forms). ONE pass over the corpus: the "
    "row-local tokenize/digest projection feeds a single global "
    "aggregate whose distinct counts ride partial aggregation "
    "map-side. At 100 TB swap the exact distincts for "
    "approx_count_distinct and the shape is unchanged.",
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.functions.text_fns import normalize

    d = t(spark, "documents", sf_dir).select(
        "lang",
        "source",
        "n_chars",
        F.size(words("text")).cast("bigint").alias("n_tokens"),
        F.md5(normalize("text")).alias("digest"),
    )
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("digest").cast("bigint").alias("n_unique_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.expr("sum(n_tokens) DIV count(*)").alias("mean_tokens_floor"),
    )


@register(
    "dedup_threshold_sensitivity",
    oracle=f"""
WITH {_DUP_DOCS_SQL}, {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
jac AS (
    SELECT round(CAST(n_common AS DOUBLE)
                 / (sa.set_size + sb.set_size - n_common), 4) AS j
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.7
)
SELECT CASE WHEN j >= 0.9 THEN '[0.9,1.0]'
            WHEN j >= 0.8 THEN '[0.8,0.9)'
            ELSE '[0.7,0.8)' END AS band,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM jac GROUP BY band
""",
    doc="Dedup threshold sensitivity: near-dup pair counts per Jaccard "
    "band ([0.7,0.8), [0.8,0.9), [0.9,1.0]) — the tuning report read "
    "before fixing a production threshold, showing how many pairs each "
    "0.1 of slack adds. ONE prefix-filtered exact join at the loosest "
    "threshold (0.7) serves every band — no per-threshold re-runs — "
    "and banding uses the 4dp-rounded similarity on both engines so "
    "boundary pairs band identically.",
)
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = duplicated_corpus(t(spark, "documents", sf_dir).select("doc_id", "text"))
    pairs = jaccard_pairs_prefix(corpus, min_jaccard=0.7)
    band = (
        F.when(F.col("jaccard") >= 0.9, "[0.9,1.0]")
        .when(F.col("jaccard") >= 0.8, "[0.8,0.9)")
        .otherwise("[0.7,0.8)")
        .alias("band")
    )
    return pairs.select(band).groupBy("band").agg(F.count("*").alias("n_pairs"))


@register(
    "dedup_component_size_histogram",
    oracle=f"""
WITH RECURSIVE {_DUP_DOCS_SQL}, {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT doc_a, doc_b FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.8
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(node, root) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node, min(root) AS component FROM reach GROUP BY node),
csize AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters
FROM csize GROUP BY cluster_size
""",
    doc="Near-dup cluster-size distribution: how many duplicate groups "
    "of each size exist in the Jaccard >= 0.8 component graph (same "
    "edges and star-contraction components as dedup_cluster_cc). THE "
    "dedup post-mortem chart — a fat tail of large clusters means a "
    "mirrored feed or boilerplate template, and size-2 dominance means "
    "benign copy edits; it also prices the dedup (docs removed = "
    "sum((size-1) * n_clusters)). Two tiny aggregates past the "
    "component labels; output is O(max cluster size) rows at any "
    "corpus scale.",
)
def dedup_component_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.graph import connected_components

    corpus = duplicated_corpus(t(spark, "documents", sf_dir).select("doc_id", "text"))
    edges = jaccard_pairs_prefix(corpus, min_jaccard=0.8).select("doc_a", "doc_b")
    # input_materialized: edges is an eager checkpoint behind a pure
    # projection — skip the dispatcher's second copy (one job saved).
    cc = connected_components(
        edges, src="doc_a", dst="doc_b", input_materialized=True,
        # strict_pairs: jaccard pairs are distinct with doc_a < doc_b —
        # skips the canonicalization distinct and the nodes join (r17).
        input_strict_pairs=True,
    )
    csize = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return csize.groupBy(F.col("cluster_size").cast("bigint").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )


@register(
    "embedding_outlier_distance",
    oracle="""
WITH dims AS (
    SELECT g.i AS idx, avg(CAST(embedding[g.i + 1] AS DOUBLE)) AS m
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(0, len(embedding) - 1)) AS i) g
    GROUP BY g.i
),
mv AS (SELECT list(m ORDER BY idx) AS mv FROM dims),
scored AS (
    SELECT vec_id,
           sqrt(list_sum(list_transform(
               generate_series(1, len(embedding)),
               i -> (CAST(embedding[i] AS DOUBLE) - mv.mv[i])
                    * (CAST(embedding[i] AS DOUBLE) - mv.mv[i])))) AS dist
    FROM embeddings, mv
),
thr AS (SELECT quantile_cont(dist, 0.99) AS thr FROM scored)
SELECT vec_id, round(dist, 4) AS dist
FROM scored, thr WHERE dist > thr.thr
""",
    doc="Embedding outlier screen: vectors farther from the corpus mean "
    "than the p99 distance — the cheap anomaly gate run before "
    "clustering or dedup trusts an embedding batch (junk inputs, "
    "encoder regressions and truncated vectors all land in the tail). "
    "Plan: per-dimension means via one posexplode aggregate (d rows "
    "out, map-side combinable), the d-length mean vector broadcast "
    "back as ONE array row, distances as row-local zip_with/aggregate "
    "expressions (no shuffle), exact p99 on the 1-row threshold frame "
    "broadcast into the final filter. At 100 TB swap the exact "
    "percentile for approx_percentile — every other stage is already "
    "scan-shaped. Distances round 4dp; the p99 cut sits ~1e-3 from "
    "its neighbors, far beyond cross-engine summation ulps.",
)
def embedding_outlier_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    dims = (
        emb.select(F.posexplode("embedding").alias("idx", "x"))
        .groupBy("idx")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
    )
    mv = dims.agg(
        F.expr("transform(array_sort(collect_list(struct(idx, m))), s -> s.m)").alias(
            "mv"
        )
    )
    # Eager checkpoint: scored feeds BOTH the percentile threshold and
    # the final filter — left lazy, each branch re-ran the embeddings
    # scan and the per-vector distance fold (and the mean pass ran a
    # third scan). |vecs| rows of (id, double).
    scored = (
        emb.crossJoin(F.broadcast(mv))
        .select(
            "vec_id",
            F.expr(
                "sqrt(aggregate(zip_with(embedding, mv, "
                "(x, m) -> (cast(x as double) - m) * (cast(x as double) - m)), "
                "cast(0.0 as double), (acc, v) -> acc + v))"
            ).alias("dist"),
        )
        .localCheckpoint(eager=True)
    )
    thr = scored.agg(F.expr("percentile(dist, 0.99)").alias("thr"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .where(F.col("dist") > F.col("thr"))
        .select("vec_id", F.round("dist", 4).alias("dist"))
    )


@register(
    "text_ngram_novelty",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
pos AS (
    SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
    FROM tok WHERE len(w) >= 3
),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g FROM pos),
owner AS (SELECT g, min(doc_id) AS own FROM sh GROUP BY g),
per AS (
    SELECT s.doc_id,
           count(*) AS n_sh,
           count(CASE WHEN o.own = s.doc_id THEN 1 END) AS n_new
    FROM sh s JOIN owner o ON s.g = o.g GROUP BY s.doc_id
)
SELECT doc_id, CAST(n_sh AS BIGINT) AS n_shingles,
       round(CAST(n_new AS DOUBLE) / n_sh, 4) AS novelty
FROM per
""",
    doc="Per-document n-gram NOVELTY: the fraction of a doc's distinct "
    "word trigrams whose minimum-doc_id owner is the doc itself — how "
    "much text a document contributes that no earlier document already "
    "said. The curation dual of dedup: near-dups score ~0, boilerplate "
    "scores low corpus-wide, and genuinely new material scores high; "
    "ranking an incoming feed by novelty is the cheapest marginal-"
    "value-of-data signal. Plan: distinct (doc, trigram) pairs, "
    "min-owner per trigram (map-side combinable), one inverted-index "
    "equi-join back, per-doc ratio — the same index shape as the "
    "Jaccard dedup path, never all-pairs. At 100 TB carry trigrams as "
    "xxhash64 longs (as operators/dedup does); the string form here "
    "keeps the DuckDB oracle exact.",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, "documents", sf_dir).select("doc_id", "text")
    w = docs.select("doc_id", F.split("text", " ").alias("w")).where(
        F.size("w") >= 3
    )
    sh = (
        w.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', slice(w, i + 1, 3)))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    owner = sh.groupBy("g").agg(F.min("doc_id").alias("own"))
    per = (
        sh.join(owner, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.count(F.when(F.col("own") == F.col("doc_id"), 1)).alias("n_new"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        F.round(F.col("n_new").cast("double") / F.col("n_shingles"), 4).alias(
            "novelty"
        ),
    )


@register(
    "simsearch_lsh_recall_report",
    oracle=None,  # measures an approximate method against the exact graph
    # — the number IS the evidence; pytest pins rank-1 recall 1.0 on
    # duplicate edges and a floor on the aggregate.
    doc="ANN quality report: per-rank recall of the SRP-LSH k-NN graph "
    "against the EXACT blocked-BLAS graph on the duplicated corpus — "
    "the accept/reject number a team reads before swapping the exact "
    "path for the sub-quadratic one at scale. For each exact edge "
    "(rank 1..3) the report asks whether LSH retrieved that neighbor "
    "at any rank; rank-1 edges of duplicated vectors are exact "
    "duplicates (cos 1.0) and MUST be recalled (identical signatures "
    "collide in every band — pinned at 1.0 by pytest). Both graphs "
    "are the already-shipped operators; the comparison is one "
    "left-semi join + a 3-row aggregate.",
)
def simsearch_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.simsearch import knn_graph, knn_graph_lsh

    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    corpus = emb.unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
    )
    exact = knn_graph(corpus, k=3).select("vec_id", "neighbor", "rank")
    approx = knn_graph_lsh(corpus, k=3, dim=64).select(
        F.col("vec_id").alias("a_vec"), F.col("nbr_id").alias("a_nbr")
    )
    hit = exact.join(
        approx,
        (exact.vec_id == approx.a_vec) & (exact.neighbor == approx.a_nbr),
        "left_semi",
    )
    n_exact = exact.groupBy("rank").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hit.groupBy("rank").agg(F.count(F.lit(1)).alias("n_recalled"))
    return (
        n_exact.join(n_hit, "rank", "left")
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.coalesce(F.col("n_recalled"), F.lit(0)).cast("bigint").alias("n_recalled"),
            F.round(
                F.coalesce(F.col("n_recalled"), F.lit(0)) / F.col("n_exact"), 4
            ).alias("recall"),
        )
    )


# Unrolled 10-round power-iteration replay for the PageRank oracle
# (VERDICT r6 item 5: fixed-iteration float fixpoints are replayable the
# way pack_sequences' fold was). Per round the only cross-engine
# divergence is double-summation ORDER inside sum(p * rank) — absolute
# noise ~1e-18 against ranks ~1/|V|, invisible at the 8-dp rounding both
# sides apply before compare; all scalar arithmetic ((1-d)/n, d*x) is
# written CAST-to-DOUBLE so DuckDB does not fall back to DECIMAL ops.
def _pagerank_oracle_sql(iters: int = 10) -> str:
    rounds = []
    for i in range(1, iters + 1):
        rounds.append(
            f"""r{i} AS MATERIALIZED (
    SELECT n.node,
           (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
           + CAST(0.85 AS DOUBLE) * COALESCE(c.inflow, CAST(0.0 AS DOUBLE)) AS rank
    FROM nodes n LEFT JOIN (
        SELECT m.e_dst AS node, sum(m.p * r.rank) AS inflow
        FROM norm m JOIN r{i - 1} r ON m.e_src = r.node GROUP BY 1
    ) c ON n.node = c.node
)"""
        )
    chain = ",\n".join(rounds)
    return f"""
WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS MATERIALIZED (
    SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(count(*) AS DOUBLE) AS weight
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
),
edges AS MATERIALIZED (
    SELECT u AS src, v AS dst, weight FROM und
    UNION ALL
    SELECT v AS src, u AS dst, weight FROM und
),
nodes AS MATERIALIZED (
    SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
    )
),
nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outw AS MATERIALIZED (SELECT src AS node, sum(weight) AS out_w FROM edges GROUP BY 1),
norm AS MATERIALIZED (
    SELECT e.src AS e_src, e.dst AS e_dst, e.weight / o.out_w AS p
    FROM edges e JOIN outw o ON e.src = o.node
),
r0 AS (
    SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes
),
{chain}
SELECT node AS part, round(rank, 8) AS rank
FROM r{iters}
ORDER BY round(rank, 8) DESC, node ASC LIMIT 20
"""


@register(
    "graph_pagerank_parts",
    oracle=_pagerank_oracle_sql(10),
    doc="Weighted PageRank over the part co-purchase graph "
    "(operators/graph.pagerank): parts co-ordered in the same order "
    "are linked with weight = co-occurrence count (both orientations, "
    "so the graph is symmetric and dangling-free), then 10 power-"
    "iteration rounds with damping 0.85 — the canonical iterative-"
    "fixpoint workload on Spark, per round one src-keyed join + one "
    "dst-keyed aggregate with an eager localCheckpoint keeping the "
    "plan bounded. Output is the top-20 most central parts — the "
    "'anchor products' a recommender seeds from. Correctness is "
    "pinned by NumPy power-iteration agreement (1e-9) in pytest AND "
    "(since r7) an exact-hash DuckDB replay of the unrolled 10-round "
    "power iteration at 8-dp rounding; top-20 tie-break on the ROUNDED "
    "rank so both engines cut the same boundary.",
)
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.graph import pagerank

    li = t(spark, "lineitem", sf_dir)
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    und = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    edges = und.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "weight"
    ).unionByName(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"), "weight")
    )
    ranks = pagerank(edges, iters=10, damping=0.85)
    # Order by the ROUNDED rank (the compared value): sub-8dp summation
    # noise must not let the two engines cut the top-20 boundary between
    # different tied nodes.
    return (
        ranks.orderBy(F.desc(F.round("rank", 8)), F.asc("node"))
        .limit(20)
        .select(F.col("node").alias("part"), F.round("rank", 8).alias("rank"))
    )


@register(
    "text_char_entropy",
    oracle="""
WITH chars AS (
    SELECT doc_id, substring(text, CAST(i AS INT), 1) AS ch
    FROM documents, unnest(range(1, len(text) + 1)) AS u(i)
),
counts AS (SELECT doc_id, ch, count(*) AS cnt FROM chars GROUP BY doc_id, ch),
g AS (
    SELECT doc_id,
           CAST(sum(cnt) AS DOUBLE) AS total,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           list(CAST(cnt AS DOUBLE) ORDER BY ch) AS cnts
    FROM counts GROUP BY doc_id
)
SELECT doc_id, n_distinct_chars,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), cnts),
                         (acc, x) -> acc - (x / total) * log2(x / total)), 6) AS entropy_bits
FROM g
""",
    doc="Per-document character-level Shannon entropy (bits/char): the "
    "gibberish / binary-spill / keyboard-mash detector a text-quality "
    "gate runs next to the word-level repetition signals — natural "
    "language sits near 4 bits, base64 blobs near 6, single-char spam "
    "near 0. Plan: position-explode via transform(sequence(...)) (rows "
    "bounded by corpus BYTES, keyed on doc_id), one (doc, char) hash "
    "aggregate, then the entropy fold runs INSIDE a higher-order "
    "aggregate over the char-sorted count list — the same fixed "
    "left-to-right IEEE fold DuckDB's list_reduce applies (0.0 "
    "prepended as the initial accumulator on both engines), so the "
    "float sum is bit-identical with no UDF. At 100 TB cap the scan at "
    "the first N KiB per doc (substring pushdown), same plan.",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir).select("doc_id", "text")
    chars = d.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(text)), i -> substring(text, i, 1))")
        ).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("cnt"))
    g = counts.groupBy("doc_id").agg(
        F.sum("cnt").cast("double").alias("total"),
        F.count("*").cast("bigint").alias("n_distinct_chars"),
        F.sort_array(F.collect_list(F.struct("ch", "cnt"))).alias("seq"),
    )
    fold = (
        "aggregate(transform(seq, s -> cast(s.cnt as double)), cast(0.0 as double), "
        "(acc, x) -> acc - (x / total) * log2(x / total))"
    )
    return g.select(
        "doc_id", "n_distinct_chars", F.round(F.expr(fold), 6).alias("entropy_bits")
    )


@register(
    "graph_degree_distribution",
    oracle=f"""
WITH {_DUP_DOCS_SQL}, {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT doc_a, doc_b FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.8
),
deg AS (
    SELECT node, CAST(count(*) AS BIGINT) AS deg
    FROM (SELECT doc_a AS node FROM pairs UNION ALL SELECT doc_b FROM pairs)
    GROUP BY node
)
SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY deg
""",
    doc="Degree distribution of the near-dup pair graph: how many "
    "documents have exactly d Jaccard >= 0.8 neighbors. Read next to "
    "the triangle census and component histogram, this is the shape "
    "diagnostic that separates mirror feeds (flat spikes at clique "
    "size) from template boilerplate (power-law tail) BEFORE committing "
    "to a drop policy — and the degree cap it reveals is what the "
    "salted/skew paths key on. Plan: prefix-filtered exact pairs, one "
    "node-keyed count, one histogram aggregate over at most max-degree "
    "rows; pair volume, never corpus volume, crosses the shuffles.",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.dedup import duplicated_corpus, jaccard_pairs_prefix

    corpus = duplicated_corpus(t(spark, "documents", sf_dir).select("doc_id", "text"))
    pairs = jaccard_pairs_prefix(corpus, min_jaccard=0.8)
    nodes = pairs.select(F.col("doc_a").alias("node")).unionAll(
        pairs.select(F.col("doc_b").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").cast("bigint").alias("deg"))
    return deg.groupBy("deg").agg(F.count("*").cast("bigint").alias("n_nodes"))


@register(
    "text_oov_rate",
    oracle="""
WITH w AS (
    SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
),
vocab AS (
    SELECT word FROM (SELECT word, count(*) AS n FROM w GROUP BY word)
    ORDER BY n DESC, word LIMIT 1000
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS oov_ppm
FROM w LEFT JOIN vocab v ON v.word = w.word
GROUP BY lang
""",
    doc="Out-of-vocabulary rate per language against the corpus-global "
    "top-1000 vocabulary (deterministic count-desc/word tie-break): the "
    "tokenizer-coverage gate run before committing a vocab — a language "
    "whose OOV ppm is high will fragment into bytes/unk and train "
    "badly. Plan: one token explode feeding BOTH the vocab heavy-hitter "
    "aggregate (TakeOrderedAndProject, never a vocab-wide sort) and the "
    "coverage pass, where the 1000-word vocab is broadcast so the "
    "corpus-volume side joins map-side with zero shuffle; final "
    "aggregate is |langs| cells, exact integer ppm.",
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    w = d.select("lang", F.explode(F.split("text", " ")).alias("word"))
    vocab = (
        w.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(1000)
        .select("word", F.lit(1).alias("in_vocab"))
    )
    return (
        w.join(F.broadcast(vocab), "word", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov",
            F.expr("n_oov * 1000000 DIV n_tokens").cast("bigint").alias("oov_ppm"),
        )
    )


@register(
    "text_bm25_topk_terms",
    oracle="""
WITH w AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY doc_id),
df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             sum(CAST(dl AS DOUBLE)) / count(*) AS avgdl FROM dl),
scored AS (
    SELECT tf.doc_id, tf.word, tf.tf, df.df,
           ln((CAST(n_docs - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
           * (CAST(tf.tf AS DOUBLE) * 2.2)
           / (CAST(tf.tf AS DOUBLE)
              + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl)) AS score
    FROM tf JOIN dl ON dl.doc_id = tf.doc_id, df, n
    WHERE df.word = tf.word AND tf.doc_id % 97 = 0
)
SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       round(score, 6) AS bm25
FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) <= 3
""",
    doc="BM25 top-3 terms per document (Robertson-Sparck Jones / Lucene "
    "formulation, k1=1.2, b=0.75): the keyword-extraction / retrieval-"
    "scoring primitive one step past raw TF-IDF — saturating tf and "
    "doc-length normalization. Corpus statistics (df, avgdl, N) are "
    "computed over the FULL corpus, then the per-doc scoring leg is "
    "pruned to the deterministic doc sample before the word-keyed "
    "stats join, so the expensive side shrinks first. Both engines "
    "evaluate the identical IEEE expression tree over exact integer "
    "(tf, df, dl) inputs — bit-stable scores, word tie-break. Plan: "
    "one explode feeding three map-side-combinable aggregates, one "
    "word-keyed join (stats side, vocab-height), a per-doc top-3 "
    "window over <= |sample docs| partitions.",
)
def text_bm25_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = t(spark, "documents", sf_dir)
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = w.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dl = w.groupBy("doc_id").agg(F.count("*").alias("dl"))
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = F.broadcast(
        dl.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            (F.sum(F.col("dl").cast("double")) / F.count("*")).alias("avgdl"),
        )
    )
    sampled = tf.where(F.col("doc_id") % 97 == 0)
    score = (
        F.log(
            ((F.col("n_docs") - F.col("df")).cast("double") + 0.5)
            / (F.col("df").cast("double") + 0.5)
            + 1.0
        )
        * (F.col("tf").cast("double") * 2.2)
        / (
            F.col("tf").cast("double")
            + 1.2 * (0.25 + 0.75 * F.col("dl").cast("double") / F.col("avgdl"))
        )
    )
    scored = (
        sampled.join(dl, "doc_id")
        .join(df, "word")
        .crossJoin(n)
        .select("doc_id", "word", "tf", "df", score.alias("score"))
    )
    win = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= 3)
        .select(
            "doc_id",
            "word",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round("score", 6).alias("bm25"),
        )
    )


def _kcore_oracle(ks: tuple[int, ...] = (2, 3), unroll: int = 6) -> str:
    """Bounded unrolled replay of operators/graph.kcore in DuckDB (the
    pagerank-replay technique; promoted from rows-only in r8).

    Exactness argument: the peel is pure INTEGER arithmetic (degree
    counts and semi-join filters) over the exact n-gram Jaccard pair
    graph — the same edges dedup_cluster_cc's green oracle already
    replays — so unlike the float-trained keys there is no accumulation
    -order sensitivity anywhere. The peel is unrolled ``unroll`` rounds
    (idempotent at the fixpoint, so over-unrolling is harmless);
    peel_rounds = number of strict edge-count decreases along the
    chain, exactly the Spark loop's counter. The observed peel depth is
    1 at sf0.01 and sf0.1; a graph deeper than ``unroll`` would leave
    the oracle under-peeled and FAIL the compare loudly (and the Spark
    side raises past 50 rounds), never pass silently.
    """
    sql = f"""
WITH {_DUP_DOCS_SQL}, {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT doc_a, doc_b FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.8
),
e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs)"""
    selects = []
    for k in ks:
        prev = "e0"
        chain = ["e0"]
        for i in range(1, unroll + 1):
            cur = f"k{k}_e{i}"
            sql += f""",
k{k}_keep{i} AS MATERIALIZED (
    SELECT n FROM (
        SELECT n, count(*) AS deg FROM (
            SELECT a AS n FROM {prev} UNION ALL SELECT b AS n FROM {prev}
        ) GROUP BY n
    ) WHERE deg >= {k}
),
{cur} AS MATERIALIZED (
    SELECT a, b FROM {prev}
    WHERE a IN (SELECT n FROM k{k}_keep{i})
      AND b IN (SELECT n FROM k{k}_keep{i})
)"""
            chain.append(cur)
            prev = cur
        rounds = " + ".join(
            f"(CASE WHEN (SELECT count(*) FROM {chain[i + 1]})"
            f" < (SELECT count(*) FROM {chain[i]}) THEN 1 ELSE 0 END)"
            for i in range(unroll)
        )
        selects.append(f"""
SELECT CAST({k} AS INTEGER) AS k,
       (SELECT CAST(count(DISTINCT n) AS BIGINT) FROM (
            SELECT a AS n FROM {prev} UNION ALL SELECT b AS n FROM {prev}
        )) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM {prev}) AS n_edges,
       CAST({rounds} AS INTEGER) AS peel_rounds""")
    return sql + "\nUNION ALL".join(selects)


@register(
    "graph_kcore_stats",
    oracle=_kcore_oracle(),  # exact unrolled peel replay — promoted from
    # rows-only in r8 (integer-only arithmetic over the exact Jaccard
    # pair graph; see _kcore_oracle docstring). Exact-graph invariants
    # additionally pinned in tests/test_llm_queries.py.
    doc="k-core reduction of the near-dup pair graph for k in {2, 3}: "
    "nodes/edges surviving the iterative strip-degree-<k peel, plus "
    "rounds taken (the peel depth). On a dup graph the 2-core separates "
    "genuine mirror cliques from incidental single-edge matches — the "
    "densification gate run before trusting cluster-level drop "
    "decisions. operators/graph.kcore: per round ONE node-keyed degree "
    "aggregate + two semi-joins on the shrinking edge set, "
    "localCheckpoint-bounded plans, O(peel depth) rounds.",
)
def graph_kcore_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.dedup import duplicated_corpus, jaccard_pairs_prefix
    from maxscale_cdc_connector_spark.operators.graph import kcore

    corpus = duplicated_corpus(t(spark, "documents", sf_dir).select("doc_id", "text"))
    # jaccard_pairs_prefix already returns an eager checkpoint, so both
    # kcore peels read the same materialized pair blocks.
    edges = jaccard_pairs_prefix(corpus, min_jaccard=0.8)
    rows = []
    for k in (2, 3):
        nodes, core_edges, rounds = kcore(edges, k, src="doc_a", dst="doc_b")
        rows.append((k, nodes.count(), core_edges.count(), rounds))
    return spark.createDataFrame(
        rows, "k int, n_nodes bigint, n_edges bigint, peel_rounds int"
    )


@register(
    "text_zipf_fit",
    oracle="""
WITH w AS (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
counts AS (SELECT word, count(*) AS n FROM w GROUP BY word),
topw AS (
    SELECT word, n, row_number() OVER (ORDER BY n DESC, word) AS rnk
    FROM counts ORDER BY n DESC, word LIMIT 1000
),
xy AS (
    SELECT list(ln(CAST(rnk AS DOUBLE)) ORDER BY rnk) AS xs,
           list(ln(CAST(n AS DOUBLE)) ORDER BY rnk) AS ys,
           CAST(count(*) AS DOUBLE) AS cnt
    FROM topw
),
sums AS (
    SELECT cnt,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs), (a, x) -> a + x) AS sx,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys), (a, x) -> a + x) AS sy,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_zip(xs, ys), p -> p[1] * p[2])), (a, x) -> a + x) AS sxy,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(xs, x -> x * x)), (a, x) -> a + x) AS sx2,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(ys, y -> y * y)), (a, x) -> a + x) AS sy2
    FROM xy
)
SELECT CAST(cnt AS BIGINT) AS n_terms,
       round((cnt * sxy - sx * sy) / (cnt * sx2 - sx * sx), 6) AS zipf_slope,
       round((sy - (cnt * sxy - sx * sy) / (cnt * sx2 - sx * sx) * sx) / cnt, 6)
           AS intercept,
       round(((cnt * sxy - sx * sy) * (cnt * sxy - sx * sy))
             / ((cnt * sx2 - sx * sx) * (cnt * sy2 - sy * sy)), 6) AS r2
FROM sums
""",
    doc="Zipf-law fit over the top-1000 vocabulary: OLS slope / "
    "intercept / R^2 of ln(frequency) on ln(rank). Natural-language "
    "corpora fit slope ~ -1 with high R^2; templated or synthetic text "
    "bends the curve — a one-row corpus-health gauge read next to "
    "char-entropy and repetition stats. The heavy work is the same "
    "map-side-combinable vocab aggregate + TakeOrderedAndProject as "
    "text_vocab_topk; the regression then runs over EXACTLY 1000 "
    "(integer rank, integer count) pairs folded in fixed rank order "
    "inside a higher-order aggregate — bit-identical IEEE sums on "
    "both engines, no shuffle-order float nondeterminism (the reason "
    "this does not use regr_slope over a big frame).",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = t(spark, "documents", sf_dir)
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(1000)
    )
    # 1000 bounded rows: the unpartitioned rank window is model-state
    # sized, not corpus-sized.
    ranked = counts.withColumn(
        "rnk", F.row_number().over(W.orderBy(F.desc("n"), F.asc("word")))
    )
    g = ranked.agg(
        F.count("*").cast("double").alias("cnt"),
        F.sort_array(
            F.collect_list(F.struct("rnk", F.log(F.col("rnk").cast("double")).alias("x"),
                                    F.log(F.col("n").cast("double")).alias("y")))
        ).alias("seq"),
    )

    def fold(expr: str) -> F.Column:
        return F.expr(
            f"aggregate(transform(seq, s -> {expr}), cast(0.0 as double), (a, x) -> a + x)"
        )

    sums = g.select(
        "cnt",
        fold("s.x").alias("sx"),
        fold("s.y").alias("sy"),
        fold("s.x * s.y").alias("sxy"),
        fold("s.x * s.x").alias("sx2"),
        fold("s.y * s.y").alias("sy2"),
    )
    slope = (F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("cnt") * F.col("sx2") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("cnt").cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("cnt"), 6).alias("intercept"),
        F.round(
            ((F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy"))
             * (F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy")))
            / ((F.col("cnt") * F.col("sx2") - F.col("sx") * F.col("sx"))
               * (F.col("cnt") * F.col("sy2") - F.col("sy") * F.col("sy"))),
            6,
        ).alias("r2"),
    )


@register(
    "dedup_keep_best",
    oracle=f"""
WITH RECURSIVE {_DUP_DOCS_SQL}, {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT doc_a, doc_b FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.8
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(node, root) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node),
qual AS (
    SELECT c.cluster_id, c.doc_id, length(d.text) AS len
    FROM comp c JOIN dup_docs d ON d.doc_id = c.doc_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY cluster_id ORDER BY len DESC, doc_id ASC
    ) AS rn
    FROM qual
)
SELECT cluster_id,
       max(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc,
       CAST(max(len) AS BIGINT) AS keep_len,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(*) - 1 AS BIGINT) AS n_dropped
FROM ranked GROUP BY cluster_id
""",
    doc="Keep-BEST dedup representative selection: per near-dup cluster "
    "(same Jaccard >= 0.8 components as dedup_cluster_cc), keep the "
    "longest document (tie -> lowest id) instead of the arbitrary "
    "min-id canonical — the curation-quality choice real pipelines "
    "make (the longest copy is usually the least-truncated crawl). "
    "One hash aggregate with a struct-ordered max_by over the "
    "component key — no window over the corpus, shuffle ~ |clustered "
    "docs| which is tiny relative to the corpus.",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.graph import connected_components

    corpus = duplicated_corpus(t(spark, "documents", sf_dir).select("doc_id", "text"))
    edges = jaccard_pairs_prefix(corpus, min_jaccard=0.8).select("doc_a", "doc_b")
    # input_materialized: edges is an eager checkpoint behind a pure
    # projection — skip the dispatcher's second copy (one job saved).
    cc = connected_components(
        edges, src="doc_a", dst="doc_b", input_materialized=True,
        # strict_pairs: jaccard pairs are distinct with doc_a < doc_b —
        # skips the canonicalization distinct and the nodes join (r17).
        input_strict_pairs=True,
    )
    qual = cc.join(
        corpus.select(F.col("doc_id"), F.length("text").alias("len")),
        cc["node"] == F.col("doc_id"),
    )
    return qual.groupBy(F.col("component").alias("cluster_id")).agg(
        F.max_by(
            "node", F.struct(F.col("len"), (-F.col("node")).alias("neg"))
        ).alias("keep_doc"),
        F.max("len").cast("bigint").alias("keep_len"),
        F.count("*").cast("bigint").alias("n_members"),
        (F.count("*") - 1).cast("bigint").alias("n_dropped"),
    )


@register(
    "pipeline_temperature_resample",
    oracle="""
WITH counts AS (
    SELECT source, count(*) AS n_docs FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list(CAST(n_docs AS DOUBLE) ORDER BY source),
                              x -> sqrt(x))),
               (a, x) -> a + x) AS wsum
    FROM counts
),
rates AS (
    SELECT c.source, c.n_docs,
           CAST(floor(least(1.0,
               (0.5 * t.total_docs) * sqrt(CAST(c.n_docs AS DOUBLE))
                   / t.wsum / c.n_docs) * 1000000) AS BIGINT) AS p_ppm
    FROM counts c, tot t
),
kept AS (
    SELECT d.source, d.n_chars
    FROM documents d JOIN rates r ON r.source = d.source
    WHERE CAST(('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 1000000 < r.p_ppm
),
kagg AS (
    SELECT source, count(*) AS n_kept, sum(n_chars) AS kept_chars
    FROM kept GROUP BY source
)
SELECT r.source,
       CAST(r.n_docs AS BIGINT) AS n_docs,
       r.p_ppm,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(k.kept_chars, 0) AS BIGINT) AS kept_chars
FROM rates r LEFT JOIN kagg k ON k.source = r.source
""",
    doc="Temperature-based source re-balancing (tau=2, i.e. sqrt "
    "scaling — the multilingual mixing rule of mT5/XLM-R): target "
    "share per source proportional to sqrt(count), total budget half "
    "the corpus, realized as a deterministic per-source keep rate in "
    "exact ppm applied via a salted md5 bucket — reproducible on any "
    "engine or cluster size, no RNG state. sqrt is IEEE "
    "correctly-rounded (unlike pow, which differs across libm "
    "implementations — the reason tau=2 and not 1/0.7), and the "
    "20-source weight sum folds in fixed source order inside a "
    "higher-order aggregate, so the rates are bit-identical on both "
    "engines. The corpus-sized work is one broadcast-join + filter; "
    "everything global is model-state sized.",
)
def pipeline_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, "documents", sf_dir).select("doc_id", "source", "n_chars")
    # Eager checkpoint: counts feeds the weight-sum aggregate AND the
    # rates frame (read twice more downstream) — left lazy, the r15
    # plan re-ran the documents scan + source aggregate five times for
    # one query. |sources| rows.
    counts = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .localCheckpoint(eager=True)
    )
    tot = counts.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("source", "n_docs"))),
            F.lit(0.0),
            lambda acc, x: acc + F.sqrt(x["n_docs"].cast("double")),
        ).alias("wsum"),
    )
    p = F.least(
        F.lit(1.0),
        (0.5 * F.col("total_docs"))
        * F.sqrt(F.col("n_docs").cast("double"))
        / F.col("wsum")
        / F.col("n_docs"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.floor(p * 1_000_000).cast("bigint").alias("p_ppm"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("temp:"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("bigint")
        % 1_000_000
    )
    kept = docs.join(F.broadcast(rates.select("source", "p_ppm")), "source").filter(
        bucket < F.col("p_ppm")
    )
    kagg = kept.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )
    return (
        rates.join(kagg, "source", "left")
        .select(
            "source",
            "n_docs",
            "p_ppm",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("kept_chars", F.lit(0)).cast("bigint").alias("kept_chars"),
        )
    )


@register(
    "graph_hierarchy_rollup",
    oracle="""
WITH RECURSIVE nodes AS (
    SELECT doc_id AS id, n_chars AS val FROM documents
),
edges AS (
    SELECT id AS child, id // 2 AS parent FROM nodes WHERE id > 0
),
up(descendant, anc) AS (
    SELECT child, parent FROM edges
    UNION ALL
    SELECT u.descendant, e.parent FROM up u JOIN edges e ON e.child = u.anc
),
depths AS (
    SELECT id, count(u.anc) AS depth
    FROM nodes LEFT JOIN up u ON u.descendant = nodes.id
    GROUP BY id
),
subtree AS (
    SELECT a.anc AS id,
           count(*) AS n_desc,
           sum(n.val) AS desc_val
    FROM up a JOIN nodes n ON n.id = a.descendant
    GROUP BY a.anc
)
SELECT d.id AS node,
       CAST(d.depth AS BIGINT) AS depth,
       CAST(1 + coalesce(s.n_desc, 0) AS BIGINT) AS subtree_n,
       CAST(n.val + coalesce(s.desc_val, 0) AS BIGINT) AS subtree_chars
FROM depths d
JOIN nodes n ON n.id = d.id
LEFT JOIN subtree s ON s.id = d.id
""",
    doc="Hierarchy rollup — the WITH RECURSIVE workload Spark has no "
    "native form for, solved in O(log depth) rounds: ancestor closure "
    "of the synthetic forest parent(i) = i DIV 2 over documents via "
    "pointer doubling (operators/graph.ancestor_closure — each round "
    "one equi-join + one min-dist collapse, NOT one shuffle per "
    "level), then node depth = |proper ancestors| and the bottom-up "
    "subtree rollup (count, total chars) as ONE hash aggregate over "
    "the closure — the org-chart/BOM/category-tree query pattern. "
    "All-integer outputs; oracle is DuckDB's recursive CTE walking "
    "the same tree one level at a time — over the EDGE SET, not raw "
    "anc//2 arithmetic: the r11 sf1 sweep caught the arithmetic form "
    "recursing through ids that exist in no row (the ×10 id-shifted "
    "corpus makes the id space sparse), while a hierarchy operator "
    "must only follow edges that exist — the engine's edge-based "
    "semantics is the defensible one and the oracle now matches it.",
)
def graph_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.graph import ancestor_closure

    # Eager checkpoint: nodes feeds the closure's edge set, the depth
    # left-join, the subtree value join and the final assembly — left
    # lazy, each branch re-ran the documents scan. |docs| rows of two
    # longs.
    nodes = (
        t(spark, "documents", sf_dir)
        .select(F.col("doc_id").alias("id"), F.col("n_chars").alias("val"))
        .localCheckpoint(eager=True)
    )
    edges = nodes.filter(F.col("id") > 0).select(
        F.col("id").alias("child"), F.expr("id DIV 2").alias("parent")
    )
    # input_distinct: one row per doc id by construction (projection of
    # the checkpointed nodes frame) — skips the initial dedup exchange.
    closure = ancestor_closure(edges, input_distinct=True)
    depths = (
        nodes.join(closure, nodes["id"] == closure["desc"], "left")
        .groupBy("id")
        .agg(F.count("anc").alias("depth"))
    )
    subtree = (
        closure.join(nodes.select(F.col("id").alias("d_id"), "val"),
                     F.col("desc") == F.col("d_id"))
        .groupBy("anc")
        .agg(F.count("*").alias("n_desc"), F.sum("val").alias("desc_val"))
    )
    return (
        depths.join(nodes, "id")
        .join(subtree, depths["id"] == subtree["anc"], "left")
        .select(
            F.col("id").alias("node"),
            F.col("depth").cast("bigint").alias("depth"),
            (1 + F.coalesce("n_desc", F.lit(0))).cast("bigint").alias("subtree_n"),
            (F.col("val") + F.coalesce("desc_val", F.lit(0)))
            .cast("bigint")
            .alias("subtree_chars"),
        )
    )


@register(
    "multimodal_dedup_exact_bytes",
    oracle="""
WITH pay AS (
    SELECT doc_id, sha256(text) AS payload_sha256,
           octet_length(encode(text)) AS nb
    FROM documents
    UNION ALL
    SELECT doc_id + 1000000, sha256(text), octet_length(encode(text))
    FROM documents
)
SELECT payload_sha256,
       min(doc_id) AS keep_doc,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(nb) AS BIGINT) AS n_bytes
FROM pay GROUP BY payload_sha256
""",
    doc="Content-addressed dedup over BINARY payloads (the multimodal "
    "form of exact text dedup): group by the sha256 content address "
    "from the manifest — the digest is computed once per payload at "
    "manifest-build time, so the dedup itself never moves the bytes, "
    "only (digest, id, size) triples through the shuffle. This is how "
    "a 100 TB image/audio lake dedups: hash at ingest, group on the "
    "32-byte address, keep min id. Runs over the id-shifted duplicated "
    "corpus so every payload has exactly one known copy.",
)
def multimodal_dedup_exact_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = duplicated_corpus(t(spark, "documents", sf_dir).select("doc_id", "text"))
    man = build_manifest(d).select("doc_id", "payload_sha256", "n_bytes")
    return man.groupBy("payload_sha256").agg(
        F.min("doc_id").alias("keep_doc"),
        F.count("*").cast("bigint").alias("n_copies"),
        F.min("n_bytes").cast("bigint").alias("n_bytes"),
    )


@register(
    "text_phrase_search",
    oracle="""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
pos AS (
    SELECT doc_id, unnest(w) AS word,
           generate_subscripts(w, 1) AS p
    FROM tok
),
a AS (SELECT doc_id, p FROM pos WHERE word = 'key'),
b AS (SELECT doc_id, p FROM pos WHERE word = 'order'),
hits AS (
    SELECT a.doc_id FROM a JOIN b ON b.doc_id = a.doc_id AND b.p = a.p + 1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
FROM hits GROUP BY doc_id
""",
    doc="Exact phrase search ('key order') through a POSITIONAL inverted "
    "index: posting lists are (doc, position) rows, the phrase is an "
    "equi-join on doc with the adjacency residual pos_b = pos_a + 1 — "
    "the classic search-engine phrase plan. Only the two terms' "
    "posting lists ever shuffle (the index scan prunes every other "
    "token before the exchange), so cost scales with term frequency, "
    "not corpus size — a LIKE '%...%' scan reads every byte of every "
    "document instead. Extends to k-word phrases as a k-way join with "
    "offsets, and to NEAR/k with a band residual.",
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    pos = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p", "word")
    )
    a = pos.where(F.col("word") == "key").select("doc_id", F.col("p").alias("pa"))
    b = pos.where(F.col("word") == "order").select(
        F.col("doc_id").alias("doc_b"), F.col("p").alias("pb")
    )
    hits = a.join(
        b, (F.col("doc_b") == F.col("doc_id")) & (F.col("pb") == F.col("pa") + 1)
    )
    return hits.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )


@register(
    "embedding_matryoshka_fidelity",
    oracle=f"""
WITH prefixes AS (
    SELECT vec_id, embedding, k
    FROM embeddings, (SELECT unnest([8, 16, 32, 64]) AS k)
),
scored AS (
    SELECT vec_id, k,
           {_dot_sql('embedding[1:k]', 'embedding[1:k]')} AS pp,
           {_dot_sql('embedding', 'embedding')} AS ff
    FROM prefixes
)
SELECT vec_id, CAST(k AS BIGINT) AS k,
       CAST(floor(sqrt(pp / ff) * 1000000) AS BIGINT) AS fidelity_ppm
FROM scored
""",
    doc="Matryoshka truncation fidelity (Kusupati et al. NeurIPS'22): "
    "cosine between each vector and its k-dim prefix is "
    "sqrt(||prefix||^2 / ||full||^2), so one row-local pass scores "
    "how much of every vector's energy the first 8/16/32/64 dims "
    "retain — the measurement that licenses shipping truncated "
    "embeddings to the ANN tier (64->8 dims = 8x less index). Both "
    "norms are the same exact sequential fold the dedup/ANN oracles "
    "use; sqrt is correctly-rounded IEEE and the ppm floor keeps the "
    "hash integer-stable. Zero shuffles at any scale.",
)
def embedding_matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    ks = F.array(*[F.lit(k) for k in (8, 16, 32, 64)])
    pref = emb.select("vec_id", "embedding", F.explode(ks).alias("k"))
    # strict left-to-right double fold over the exact per-element
    # products — matches the DuckDB list_sum fold bit-for-bit.
    def ssq(col):
        return F.aggregate(
            F.transform(col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    scored = pref.select(
        "vec_id",
        F.col("k").cast("bigint").alias("k"),
        ssq(F.slice("embedding", 1, F.col("k"))).alias("pp"),
        ssq(F.col("embedding")).alias("ff"),
    )
    return scored.select(
        "vec_id",
        "k",
        F.floor(F.sqrt(F.col("pp") / F.col("ff")) * 1_000_000)
        .cast("bigint")
        .alias("fidelity_ppm"),
    )


@register(
    "text_pmi_cooccurrence",
    oracle="""
WITH w AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
counts AS (SELECT word, count(*) AS n FROM w GROUP BY word),
top50 AS (
    SELECT word FROM counts ORDER BY n DESC, word LIMIT 50
),
dw AS (
    SELECT DISTINCT doc_id, word FROM w
    WHERE word IN (SELECT word FROM top50)
),
df AS (SELECT word, count(*) AS docs FROM dw GROUP BY word),
n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
pairs AS (
    SELECT a.word AS word_a, b.word AS word_b, count(*) AS co_docs
    FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.word < b.word
    GROUP BY a.word, b.word
)
SELECT p.word_a, p.word_b,
       CAST(p.co_docs AS BIGINT) AS co_docs,
       CAST(floor(ln(CAST(p.co_docs AS DOUBLE) * n.n
                     / (fa.docs * fb.docs)) * 1000000) AS BIGINT) AS pmi_micro
FROM pairs p
JOIN df fa ON fa.word = p.word_a
JOIN df fb ON fb.word = p.word_b
CROSS JOIN n_docs n
WHERE p.co_docs >= 50
""",
    doc="Pointwise mutual information over word co-occurrence (document "
    "level, top-50 vocabulary): PMI = ln(P(a,b)/(P(a)P(b))) — the "
    "collocation/association measure behind phrase mining and "
    "word-embedding objectives (PMI matrix factorization). The "
    "vocabulary RESTRICTION is the scale design: the pair join runs "
    "over (doc, top-word) rows only, bounding per-doc fan-out at "
    "50^2/2 regardless of document length — unbounded-vocab PMI is "
    "quadratic in distinct words per doc. Counts exact; ln enters "
    "once at the output boundary on an exact integer ratio, floored "
    "to micro-units (same determinism argument as the Benford key).",
)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    top50 = (
        w.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(50)
        .select("word")
    )
    dw = w.join(F.broadcast(top50), "word").select("doc_id", "word").distinct()
    df_ = dw.groupBy("word").agg(F.count("*").alias("docs"))
    n_docs = d.agg(F.countDistinct("doc_id").alias("n"))
    a = dw.select("doc_id", F.col("word").alias("word_a"))
    b = dw.select(F.col("doc_id").alias("doc_b"), F.col("word").alias("word_b"))
    pairs = (
        a.join(b, (F.col("doc_b") == F.col("doc_id")) & (F.col("word_a") < F.col("word_b")))
        .groupBy("word_a", "word_b")
        .agg(F.count("*").alias("co_docs"))
        .where(F.col("co_docs") >= 50)
    )
    fa = df_.select(F.col("word").alias("word_a"), F.col("docs").alias("docs_a"))
    fb = df_.select(F.col("word").alias("word_b"), F.col("docs").alias("docs_b"))
    return (
        pairs.join(F.broadcast(fa), "word_a")
        .join(F.broadcast(fb), "word_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "word_a",
            "word_b",
            F.col("co_docs").cast("bigint").alias("co_docs"),
            F.floor(
                F.log(
                    F.col("co_docs").cast("double")
                    * F.col("n")
                    / (F.col("docs_a") * F.col("docs_b"))
                )
                * 1_000_000
            ).cast("bigint").alias("pmi_micro"),
        )
    )


@register(
    "simsearch_filtered_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qe, label AS ql FROM embeddings WHERE vec_id = 0),
scored AS (
    SELECT e.vec_id, e.label, {_dot_sql('e.embedding', 'q.qe')} AS sim
    FROM embeddings e, q
    WHERE e.label = q.ql AND e.vec_id <> 0
)
SELECT vec_id, CAST(label AS BIGINT) AS label, round(sim, 5) AS sim
FROM scored ORDER BY sim DESC, vec_id LIMIT 20
""",
    doc="FILTERED vector search — top-20 among vectors sharing the query's "
    "label — the vector-database feature (metadata predicate + ANN) "
    "that decides real retrieval quality. The filter applies BEFORE "
    "scoring (pre-filtering): the label predicate prunes the scan, so "
    "cost tracks the filtered population and recall is exact by "
    "construction — post-filtering a top-k list underfills it whenever "
    "the predicate is selective, the classic filtered-ANN bug. Same "
    "broadcast-query + TakeOrderedAndProject shape as the unfiltered "
    "top-k; at scale the label predicate pushes into the parquet scan.",
)
def simsearch_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.functions.vectors import dot

    emb = t(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("label").alias("ql")
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .where(F.col("label") == F.col("ql"))
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            F.round(dot("embedding", "qe"), 5).alias("sim"),
        )
    )
    return scored.orderBy(F.desc("sim"), F.asc("vec_id")).limit(20)


@register(
    "dedup_exact_vectors",
    oracle="""
SELECT min(vec_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(label) AS BIGINT) AS min_label,
       CAST(max(label) AS BIGINT) AS max_label
FROM embeddings
GROUP BY embedding
HAVING count(*) > 1
""",
    doc="Exact-duplicate VECTOR collapse: group directly on the embedding "
    "array value (bit-identical float32 components — re-encoded or "
    "re-ingested copies, the cheapest dedup before any cosine work). "
    "Grouping on the array avoids every formatting/serialization trap "
    "(a string-join of floats differs across engines); the output "
    "carries only scalars so the harness canonicalizes it. Shuffle "
    "carries (array, id) pairs collapsed map-side; label min/max "
    "expose conflicting labels among byte-identical vectors — a "
    "labeling-pipeline bug detector for free.",
)
def dedup_exact_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, "embeddings", sf_dir)
    return (
        emb.groupBy("embedding")
        .agg(
            F.min("vec_id").alias("keep_id"),
            F.count("*").cast("bigint").alias("n_copies"),
            F.min("label").cast("bigint").alias("min_label"),
            F.max("label").cast("bigint").alias("max_label"),
        )
        .where(F.col("n_copies") > 1)
        .drop("embedding")
    )


@register(
    "text_compression_ratio",
    oracle=None,  # zlib has no DuckDB analog; invariants pinned in pytest
    # (bounds, monotonicity on repetitive text, determinism).
    doc="Compression-ratio quality signal: deflate(text)/len(text) per "
    "document, rolled up per source — the entropy proxy production "
    "curation stacks use (MassiveText/RefinedWeb lineage: highly "
    "compressible usually means templated/repetitive boilerplate, "
    "incompressible means noise; natural prose sits in a band). zlib "
    "runs level-9 inside an Arrow-batched pandas UDF (per-batch "
    "dispatch, not per-row Python), emitting exact integer byte "
    "counts; the rollup is map-side-combinable integer sums and the "
    "ratio is computed once per source at the boundary in exact ppm.",
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    def _deflate(texts):
        import zlib

        return texts.map(lambda s: len(zlib.compress(s.encode("utf-8"), 9)))

    # explicit form: the module runs under `from __future__ import
    # annotations`, so pd.Series hints on a nested def cannot be
    # resolved from module globals by the eval-type inferrer.
    from pyspark.sql.pandas.functions import PandasUDFType

    deflate_len = pandas_udf(_deflate, "long", PandasUDFType.SCALAR)

    d = t(spark, "documents", sf_dir).select("source", "text", "n_chars")
    scored = d.select(
        "source",
        F.col("n_chars").cast("bigint").alias("raw_len"),
        deflate_len("text").alias("comp_len"),
    )
    g = scored.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("raw_len").cast("bigint").alias("raw_bytes"),
        F.sum("comp_len").cast("bigint").alias("comp_bytes"),
    )
    return g.select(
        "source",
        "n_docs",
        "raw_bytes",
        "comp_bytes",
        F.expr("comp_bytes * 1000000 DIV raw_bytes")
        .cast("bigint")
        .alias("ratio_ppm"),
    )


@register(
    "multimodal_training_pairs",
    oracle="""
WITH m AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           len(list_distinct(string_split(text, ' '))) AS n_uniq,
           len(list_filter(string_split(text, ' '),
                x -> x IN ('the', 'a', 'of', 'to', 'and', 'is', 'in'))) AS stop_hits,
           sha256(text) AS payload_sha256,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS caption_md5
    FROM documents
),
scored AS (
    SELECT doc_id, payload_sha256, caption_md5, n_bytes,
           CAST(floor(400.0 * least(n_words, 200) / 200)
              + floor(300.0 * n_uniq / n_words)
              + floor(300.0 * least(stop_hits * 10, n_words) / n_words)
              AS BIGINT) AS quality_milli
    FROM m
),
canonical AS (
    SELECT payload_sha256, min(doc_id) AS keep_doc FROM scored
    GROUP BY payload_sha256
)
SELECT s.doc_id, s.payload_sha256, s.caption_md5,
       CAST(s.n_bytes AS BIGINT) AS n_bytes,
       s.quality_milli,
       (s.doc_id = c.keep_doc AND s.quality_milli >= 500) AS keep
FROM scored s JOIN canonical c ON c.payload_sha256 = s.payload_sha256
""",
    doc="Multimodal training-pair assembly — the terminal composition of "
    "the media pipeline: (payload content-address, caption digest, "
    "caption quality) per pair, with the keep decision = canonical "
    "copy (min doc per sha256 — content-addressed dedup) AND caption "
    "quality >= 500 milli — exactly how CLIP-style datasets gate "
    "(image, text) pairs before contrastive training. Every input is "
    "an already-verified building block (manifest digests, integer "
    "quality heuristics, exact-bytes dedup), composed in one pass: a "
    "row-local scoring projection, one digest-keyed aggregate, one "
    "keyed join back.",
)
def multimodal_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.functions.text_fns import stopword_hits, words

    d = t(spark, "documents", sf_dir)
    man = build_manifest(d).select("doc_id", "payload_sha256", "n_bytes")
    n_words = F.size(words("text")).cast("long")
    n_uniq = F.size(F.array_distinct(words("text"))).cast("long")
    stop_hits = stopword_hits("text", "en")
    quality = (
        F.floor(F.lit(400.0) * F.least(n_words, F.lit(200)) / 200)
        + F.floor(F.lit(300.0) * n_uniq / n_words)
        + F.floor(F.lit(300.0) * F.least(stop_hits * 10, n_words) / n_words)
    ).cast("bigint")
    scored = d.select(
        "doc_id",
        F.md5("text").alias("caption_md5"),
        quality.alias("quality_milli"),
    ).join(man, "doc_id")
    canonical = scored.groupBy("payload_sha256").agg(
        F.min("doc_id").alias("keep_doc")
    )
    return (
        scored.join(canonical, "payload_sha256")
        .select(
            "doc_id",
            "payload_sha256",
            "caption_md5",
            F.col("n_bytes").cast("bigint").alias("n_bytes"),
            "quality_milli",
            (
                (F.col("doc_id") == F.col("keep_doc"))
                & (F.col("quality_milli") >= 500)
            ).alias("keep"),
        )
    )


@register(
    "text_word_burstiness",
    oracle="""
WITH w AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
counts AS (SELECT word, count(*) AS n FROM w GROUP BY word),
top50 AS (SELECT word FROM counts ORDER BY n DESC, word LIMIT 50),
per_doc AS (
    SELECT word, doc_id, count(*) AS c FROM w
    WHERE word IN (SELECT word FROM top50)
    GROUP BY word, doc_id
),
n_docs AS (SELECT count(*) AS d FROM documents),
moments AS (
    SELECT word,
           sum(c) AS s1,
           sum(c * c) AS s2,
           count(*) AS docs_with
    FROM per_doc GROUP BY word
)
SELECT m.word,
       CAST(m.s1 AS BIGINT) AS total_count,
       CAST(m.docs_with AS BIGINT) AS docs_with,
       CAST((n.d * m.s2 - m.s1 * m.s1) * 1000 // (m.s1 * n.d) AS BIGINT)
           AS dispersion_milli
FROM moments m, n_docs n
""",
    doc="Word burstiness via the index of dispersion (variance-to-mean "
    "over per-document counts, zero-inflated across ALL docs): "
    "function words scatter evenly (dispersion near 1), topical words "
    "burst (appear many times in few docs, dispersion >> 1) — the "
    "corpus statistic behind tf-idf's df intuition and Church-Gale "
    "burstiness. The ratio ((D*s2 - s1^2)/(s1*D)) is an exact integer "
    "rational in milli-units — per-word moments are order-independent "
    "integer sums, absent docs contribute exactly zero to both. "
    "Bounded to the top-50 vocabulary; per-word work ~ posting-list "
    "length.",
)
def text_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, "documents", sf_dir)
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    top50 = (
        w.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(50)
        .select("word")
    )
    per_doc = (
        w.join(F.broadcast(top50), "word")
        .groupBy("word", "doc_id")
        .agg(F.count("*").alias("c"))
    )
    n_docs = d.agg(F.count("*").alias("d"))
    moments = per_doc.groupBy("word").agg(
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.count("*").alias("docs_with"),
    )
    return moments.crossJoin(F.broadcast(n_docs)).select(
        "word",
        F.col("s1").cast("bigint").alias("total_count"),
        F.col("docs_with").cast("bigint").alias("docs_with"),
        F.expr("(d * s2 - s1 * s1) * 1000 DIV (s1 * d)")
        .cast("bigint")
        .alias("dispersion_milli"),
    )


@register(
    "pipeline_eval_holdout_contamination_rate",
    oracle="""
WITH split AS (
    SELECT doc_id, text,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                AS INTEGER) % 100 AS b
    FROM documents
),
train AS (SELECT doc_id, text FROM split WHERE b < 80),
test AS (SELECT doc_id, text FROM split WHERE b >= 90),
tr_tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM train),
te_tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM test),
tr_sh AS (
    SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS sh
    FROM tr_tok, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i)
    WHERE len(w) >= 8
),
te_sh AS (
    SELECT doc_id, array_to_string(w[i:i+7], ' ') AS sh
    FROM te_tok, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i)
    WHERE len(w) >= 8
),
te_hits AS (
    SELECT t.doc_id,
           count(*) AS n_shingles,
           count(*) FILTER (WHERE tr.sh IS NOT NULL) AS n_contaminated
    FROM te_sh t LEFT JOIN tr_sh tr ON tr.sh = t.sh
    GROUP BY t.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_test_docs,
       CAST(count(*) FILTER (WHERE n_contaminated > 0) AS BIGINT)
           AS n_docs_contaminated,
       CAST(sum(n_contaminated) AS BIGINT) AS total_hits,
       CAST(sum(n_contaminated) * 1000000 // sum(n_shingles) AS BIGINT)
           AS hit_rate_ppm
FROM te_hits
""",
    doc="Train->test contamination measurement on the engine's OWN "
    "hash split: 8-gram overlap between the md5-bucketed train and "
    "test partitions — the audit that validates a split before "
    "benchmark numbers are trusted (pipeline_decontaminate REMOVES "
    "contamination against an external eval set; this MEASURES "
    "leakage inside the split itself). Test-side shingles stream "
    "against the distinct train-shingle index via a left join "
    "(anti-join shape, shuffle keyed on the shingle); per-doc and "
    "corpus rates in exact ppm.",
)
def pipeline_eval_holdout_contamination_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from maxscale_cdc_connector_spark.functions.text_fns import word_shingles

    d = t(spark, "documents", sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        % 100
    )
    split = d.select("doc_id", "text", bucket.alias("b"))
    sh8 = F.explode(word_shingles("text", 8)).alias("sh")
    tr_sh = (
        split.where(F.col("b") < 80).select(sh8).distinct()
        .withColumn("hit", F.lit(1))
    )
    te_sh = split.where(F.col("b") >= 90).select("doc_id", sh8)
    te_hits = (
        te_sh.join(tr_sh, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("hit").alias("n_contaminated"),
        )
    )
    return te_hits.agg(
        F.count("*").cast("bigint").alias("n_test_docs"),
        F.count_if(F.col("n_contaminated") > 0)
        .cast("bigint")
        .alias("n_docs_contaminated"),
        F.sum("n_contaminated").cast("bigint").alias("total_hits"),
        F.expr("sum(n_contaminated) * 1000000 DIV sum(n_shingles)")
        .cast("bigint")
        .alias("hit_rate_ppm"),
    )
