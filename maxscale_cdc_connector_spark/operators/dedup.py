"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point of these operators at 100 TB):

* **Exact** dedup is a hash groupBy on a content digest — partial
  aggregation collapses map-side, shuffle volume ≈ |distinct digests|.
* **N-gram Jaccard** uses an inverted-index (shingle → doc) equi-join to
  generate candidate pairs — NEVER an all-pairs cross join. Cost is
  bounded by the number of co-shingle pairs, which for natural corpora
  is ~linear in corpus size.
* **MinHash + LSH** reduces each document to a fixed 32-hash signature
  (one groupBy), bands the signature (8 bands × 4 rows), and joins on
  band hash — the classic sub-quadratic near-dup pipeline (Broder;
  Leskovec et al., "Mining of Massive Datasets" ch.3). Candidates are
  then verified with exact Jaccard so false positives never escape.
* **SimHash** (Charikar) reduces each doc to a 63-bit fingerprint;
  near-dup candidates are found by equality on one of four 16-bit
  chunks (pigeonhole: hamming ≤ 3 guarantees a matching chunk), then
  filtered by exact hamming distance via xor+bit_count.

Everything is Catalyst built-ins — ``xxhash64`` is the hash family
(deterministic, seedable by prepending a literal), so results are
reproducible across runs and partitionings.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from maxscale_cdc_connector_spark.functions.text_fns import normalize, word_shingles, words
from maxscale_cdc_connector_spark.operators.cache import (
    barriers,
    eager_barrier,
    eager_persist,
    input_bytes,
)
from maxscale_cdc_connector_spark.session import ensure_scan_parallelism

N_MINHASHES = 32
LSH_BANDS = 8  # 8 bands × 4 rows per band
SIMHASH_BITS = 63  # stay within a signed 64-bit long
SIMHASH_CHUNKS = 4  # pigeonhole: hamming ≤ 3 ⇒ some 16-bit chunk equal


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition to core count — only when underparallel.
    r17: the guard was promoted to ``session.ensure_scan_parallelism``
    so the text/JSON/simsearch builders can share it; this alias keeps
    the operator-local name every dedup call site and test uses."""
    return ensure_scan_parallelism(df)


def duplicated_corpus(docs: DataFrame, id_col: str = "doc_id", shift: int = 1_000_000) -> DataFrame:
    """The corpus plus an id-shifted copy of itself.

    The test tables contain no natural duplicates, so dedup queries run
    over this deterministic corpus where every document has exactly one
    known duplicate — giving the oracle a closed-form expected result.

    Row-local explode of the two ids, not a self-union: the union form
    re-scanned (and parquet-decoded) the corpus once per copy, so every
    dedup-family query paid 2 identical scans before its real work.
    Same rows, same schema, one scan.
    """
    ids = F.explode(F.array(F.col(id_col), F.col(id_col) + F.lit(shift)))
    return docs.select(
        *[ids.alias(id_col) if c == id_col else F.col(c) for c in docs.columns]
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct normalized text: representative id (min),
    content digest, and copy count."""
    h = F.md5(normalize(text_col)).alias("text_hash")
    return (
        docs.select(F.col(id_col), h)
        .groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .select(id_col, "text_hash", "n_copies")
    )


def shingle_sets(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """(id, shingle) pairs, set semantics (distinct).

    The shingle is carried as its ``xxhash64`` (8 bytes) rather than the
    ~40-char string: every downstream consumer (set sizes, the inverted-
    index equi-join, intersection counts) needs only equality, so the
    hash halves-to-fifths the bytes through BOTH shuffles (the distinct
    and the join). Collision risk at 500k distinct shingles is ~7e-9
    (birthday bound over 2^64) — far below any float-rounding tolerance
    already accepted, and the DuckDB oracles compare only the derived
    counts, which hashing preserves.
    """
    hashed = F.transform(word_shingles(text_col, k), lambda s: F.xxhash64(s))
    return (
        docs.select(F.col(id_col), F.explode(hashed).alias("shingle"))
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame, id_col: str = "doc_id", min_jaccard: float = 0.8
) -> DataFrame:
    """Doc pairs with shingle-set Jaccard ≥ threshold, via inverted index.

    Candidate generation is the equi-join on ``shingle`` — only documents
    that share at least one shingle ever meet; |A∩B| falls out of the
    join group count and |A|, |B| from per-doc set sizes.

    The shingle frame feeds THREE branches (sizes + both join sides), so
    it is persisted inside a :func:`cache.barriers` scope and released
    once the (small) pair result is materialized — without the barrier
    the scan→explode→distinct pipeline re-executes per branch.
    """
    # Persist an internal alias, not the caller's object: persist/
    # unpersist key on the plan, and unpersisting the caller's own frame
    # here would silently evict a cache the caller still relies on.
    # eager_persist, not bare persist: three branches of one action read
    # this — a lazy cache is a concurrent-stage population race under
    # AQE (see cache.eager_persist).
    with barriers() as hold:
        shingles = hold(eager_persist(shingles.select("*")))
        sizes = shingles.groupBy(id_col).agg(F.count("*").alias("set_size"))
        a = shingles.select(F.col(id_col).alias("doc_a"), "shingle")
        b = shingles.select(F.col(id_col).alias("doc_b"), "shingle")
        common = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common"))
        )
        sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("set_size").alias("size_a"))
        sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("set_size").alias("size_b"))
        jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
        pairs = (
            common.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= min_jaccard)
            .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
        )
        return pairs.localCheckpoint(eager=True)


def jaccard_pairs_prefix(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_jaccard: float = 0.8,
) -> DataFrame:
    """Exact Jaccard ≥ t pairs via PREFIX-FILTERED candidate generation
    (AllPairs / PPJoin family: Bayardo et al. WWW'07, Xiao et al.
    WWW'08) — same output as the plain inverted-index join, at a
    fraction of its shuffle volume.

    Prefix-filter lemma: under ANY total order on shingles, two sets
    with Jaccard ≥ t must share an element within each set's first
    ``|x| - ceil(t·|x|) + 1`` elements (if all of A∩B sat in A's last
    ``ceil(t|A|) - 1`` slots, then |A∩B| < t·|A| ≤ t·|A∪B| ≤ |A∩B|).
    So the inverted index is built over PREFIXES only — at t = 0.8
    that's ~20% of each doc's shingles, and candidate volume per
    shingle is quadratic in its doc-frequency, so the equi-join
    shrinks ~25x. Candidates are then verified EXACTLY with
    ``array_intersect`` on the full row-local hash arrays — output is
    bit-identical to the unfiltered join (same counts, same division,
    same rounding).

    ``ceil(t·|x|)`` is computed in DECIMAL so the prefix length is
    mathematically exact — a double ``0.8 * 5 = 4.000000000000000444``
    would ceil to 5 and silently shorten the prefix, which is the one
    direction that loses pairs (a too-long prefix only costs work).

    The arrays frame feeds three branches (prefix index + both
    verification sides), so it is held by a :func:`cache.barriers`
    scope — same contract as :func:`jaccard_pairs`.
    """
    # eager_barrier, not bare persist: the prefix index and both
    # verification sides fan out of this frame inside ONE action, and a
    # lazily-populated cache makes those concurrent AQE stages each
    # compute the full shingle pipeline (measured 20-38 s vs 2-4 s at
    # sf0.1 — see cache.eager_persist). r17: the barrier is an eager
    # localCheckpoint when the SOURCE input is provably small (~0.25 s
    # cheaper per call than the columnar cache encode) and the
    # recomputable eager_persist otherwise — no corpus-scale pinned
    # non-recomputable blocks at 100 TB (VERDICT r16 item 3 doctrine).
    # sort_array, not array_sort: identical ascending order for bigint
    # arrays, but array_sort is a higher-order function whose comparator
    # lambda evaluates INTERPRETED per comparison (~n log n lambda evals
    # per doc); sort_array is a plain collection expression inside
    # whole-stage codegen.
    with barriers() as hold:
        arrs = hold(eager_barrier(
            shingle_arrays(_ensure_parallelism(docs), text_col, id_col, k)
            .withColumn("shingles", F.sort_array("shingles")),
            input_bytes(docs),
        ))
        t_dec = F.lit(min_jaccard).cast("decimal(10,6)")
        plen = (F.col("set_size") - F.ceil(t_dec * F.col("set_size")) + 1).cast("int")
        prefixes = arrs.select(
            F.col(id_col),
            F.col("set_size"),
            F.explode(F.slice(F.col("shingles"), F.lit(1), plen)).alias("shingle"),
        )
        a = prefixes.select(
            F.col(id_col).alias("doc_a"), F.col("set_size").alias("size_a"), "shingle"
        )
        b = prefixes.select(
            F.col(id_col).alias("doc_b"), F.col("set_size").alias("size_b"), "shingle"
        )
        # Length filter (AllPairs lemma 2, lossless): J(A,B) ≥ t forces
        # |B| ≥ ceil(t·|A|) — if |B| < t·|A| then J ≤ |B|/|A| < t — so
        # size-mismatched candidates die AT the prefix join, before the
        # distinct and the array_intersect verification ever see them.
        # Same DECIMAL ceil as the prefix length: double 0.8·5 =
        # 4.0000000000000004 would reject a true |A|=5,|B|=4 pair (J can
        # be exactly 0.8 there), the one direction that loses pairs.
        cand = (
            a.join(b, "shingle")
            .where(
                (F.col("doc_a") < F.col("doc_b"))
                & (F.col("size_b") >= F.ceil(t_dec * F.col("size_a")))
                & (F.col("size_a") >= F.ceil(t_dec * F.col("size_b")))
            )
            .select("doc_a", "doc_b")
            .distinct()
        )
        va = arrs.select(
            F.col(id_col).alias("doc_a"),
            F.col("shingles").alias("sh_a"),
            F.col("set_size").alias("size_a"),
        )
        vb = arrs.select(
            F.col(id_col).alias("doc_b"),
            F.col("shingles").alias("sh_b"),
            F.col("set_size").alias("size_b"),
        )
        n_common = F.size(F.array_intersect("sh_a", "sh_b"))
        pairs = (
            cand.join(va, "doc_a")
            .join(vb, "doc_b")
            .withColumn("n_common", n_common)
            .withColumn(
                "jaccard",
                F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
            )
            .filter(F.col("jaccard") >= min_jaccard)
            .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
        )
        return pairs.localCheckpoint(eager=True)


def _seeded_hash(seed: int, col: str | Column) -> Column:
    """Deterministic hash family: xxhash64 with a literal seed prefix."""
    return F.xxhash64(F.lit(seed), col)


def shingle_arrays(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """(id, shingles array, set_size) computed row-local — zero shuffles.

    The per-doc shingle *set* as an array column: at scale this is the
    shape that matters, because signatures and verification both derive
    from it without ever exploding the corpus into (doc, shingle) rows.
    Elements are ``xxhash64`` of the 5-gram (see :func:`shingle_sets` for
    the collision analysis): the MinHash slots re-hash per seed and the
    exact-Jaccard verification intersects sets — both need only element
    identity, and 8-byte longs make the persisted arrays and the
    candidate-verification joins ~5x lighter than 40-char strings.
    """
    arr = F.array_distinct(F.transform(word_shingles(text_col, k), lambda s: F.xxhash64(s)))
    return docs.select(
        F.col(id_col), arr.alias("shingles"), F.size(arr).alias("set_size")
    )


def minhash_signatures(doc_shingles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fixed-width MinHash signature per doc, computed row-local.

    The whole 32-slot signature is ONE nested higher-order expression —
    ``transform(sequence(0, 31), i -> array_min(transform(shingles,
    s -> xxhash64(i, s))))`` — a narrow projection with no explode and
    no groupBy, so signature computation costs zero shuffles at any
    corpus size. One expression (instead of 32 near-identical wide
    columns) keeps the generated code small: first-run codegen/JIT cost
    measured ~2.5 s for the 32-column form, ~sub-second for this one.
    """
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(N_MINHASHES - 1)),
        lambda i: F.array_min(F.transform(F.col("shingles"), lambda s: F.xxhash64(i, s))),
    )
    return doc_shingles.select(F.col(id_col), sig.alias("sig"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    hold: Callable[[DataFrame], DataFrame],
    id_col: str = "doc_id",
    src_bytes: int | None = None,
) -> DataFrame:
    """Band the signature array and equi-join on (band, band_hash).

    Each band hash is ``xxhash64(slice(sig, ...))`` — hashing the slice
    as one array value instead of N separate columns, which keeps the
    banding a handful of expressions over the shared ``sig`` array.

    The banded barrier is registered with the caller's
    :func:`cache.barriers` scope through ``hold``, which releases it
    after the caller's own terminal action.
    """
    rows_per_band = N_MINHASHES // LSH_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.xxhash64(F.slice(F.col("sig"), j * rows_per_band + 1, rows_per_band)).alias("h"),
            )
            for j in range(LSH_BANDS)
        ]
    )
    # Eager barrier: the self-join below would otherwise compute the
    # banded signatures twice (once per side) — at scale that is two full
    # passes over the corpus instead of one — and with a LAZY cache the
    # two sides are concurrent AQE stages racing to populate it, which is
    # strictly worse (see cache.eager_persist). r17: size-gated
    # checkpoint-or-persist (cache.eager_barrier); either way the one
    # materialization pass also populates the caller's upstream sh/sig
    # caches (it reads through both).
    banded = hold(eager_barrier(
        signatures.select(F.col(id_col), F.explode(bands).alias("b"))
        .select(id_col, F.col("b.band").alias("band"), F.col("b.h").alias("h")),
        src_bytes,
    ))
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "h")
    b = banded.select(F.col(id_col).alias("doc_b"), "band", "h")
    cand = (
        a.join(b, ["band", "h"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return cand


def minhash_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_jaccard: float = 0.8,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline: sub-quadratic candidates, exact
    Jaccard verification on candidates only (no false positives).

    Shuffle budget (what survives a 100× scale-up): ONE equi-join on
    (band, band_hash) for candidates + TWO id-joins to fetch the shingle
    arrays of each candidate side. Signatures are row-local (see
    ``minhash_signatures``) and verification is ``array_intersect`` on
    the two per-doc arrays — no re-explosion of the corpus.
    """
    with barriers() as hold:
        # Persist the per-doc shingle arrays: the candidate branch and both
        # verification branches reuse them, and Spark would otherwise re-run
        # scan → shingle → hash for every branch. This is the same pattern
        # Spark ML's MinHashLSH uses (cache the transformed dataset before
        # approxSimilarityJoin). Size is O(corpus tokens) — spillable
        # MEMORY_AND_DISK by default.
        sh = hold(
            shingle_arrays(_ensure_parallelism(docs), text_col, id_col, k).persist()
        )
        # Persisting the signatures inserts a materialization barrier between
        # the signature expression and the banding projection — without it,
        # projection collapse substitutes the full 32-hash expression into
        # every band slice (8× the hashing work). Even an UNPOPULATED cache
        # is that barrier: cache substitution replaces the subtree at plan
        # time, so projection collapse cannot cross it. And unlike the
        # banded table below, sig has exactly ONE reader (the banding
        # projection), so the AQE population race eager_persist exists for
        # cannot occur here — a lazy persist suffices, and the single
        # eager_persist(banded) count inside lsh_candidate_pairs then
        # populates sh, sig, AND banded in ONE pass (it reads through both),
        # instead of paying a separate materialization job per cache
        # (r12→r13 A/B: separate eager sig cost ~16% of the query; VERDICT
        # r12 item 2). The multi-reader caches (sh: two verification
        # branches; banded: two self-join sides) are warm before any
        # fan-out action runs.
        sig = hold(minhash_signatures(sh, id_col).persist())
        cand = lsh_candidate_pairs(sig, hold, id_col, src_bytes=input_bytes(docs))
        a = sh.select(
            F.col(id_col).alias("doc_a"),
            F.col("shingles").alias("sh_a"),
            F.col("set_size").alias("size_a"),
        )
        b = sh.select(
            F.col(id_col).alias("doc_b"),
            F.col("shingles").alias("sh_b"),
            F.col("set_size").alias("size_b"),
        )
        n_common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        jac = n_common / (F.col("size_a") + F.col("size_b") - n_common)
        verified = (
            cand.join(a, "doc_a")
            .join(b, "doc_b")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= min_jaccard)
            .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
        )
        # Materialize the (small) verified-pair result while the barriers are
        # hot; the scope then releases them — bounded cache lifetime in a
        # long session.
        return verified.localCheckpoint(eager=True)


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """63-bit SimHash per document (Charikar): per-bit weighted majority
    of token hashes, token weight = term frequency. One explode + one
    hash-agg with 63 conditional sums — all codegen'd."""
    # Hash BEFORE the (doc, token) aggregate: the fingerprint only ever
    # reads xxhash64(w), so grouping on the 8-byte hash directly makes
    # the term-frequency shuffle carry longs instead of strings with
    # bit-identical output.
    tok = (
        docs.select(F.col(id_col), F.explode(words(text_col)).alias("w"))
        .select(id_col, F.xxhash64("w").alias("h"))
        .groupBy(id_col, "h")
        .agg(F.count("*").alias("cnt"))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.col("cnt")).otherwise(
                -F.col("cnt")
            )
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy(id_col).agg(*bit_sums)
    fingerprint = reduce(
        lambda acc, i: acc
        + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long")),
        range(SIMHASH_BITS),
        F.lit(0).cast("long"),
    )
    return per_doc.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Candidate generation: split the 63-bit fingerprint into 4 chunks and
    equi-join on (chunk_idx, chunk_value). With 4 chunks, any pair at
    hamming ≤ 3 must agree on at least one whole chunk (pigeonhole), so
    recall is exact for the advertised radius; the final xor+bit_count
    filter removes false positives.
    """
    fp = simhash_fingerprints(docs, text_col, id_col)
    chunk_width = 16
    chunks = F.array(
        *[
            F.struct(
                F.lit(j).alias("ci"),
                F.shiftright(F.col("simhash"), j * chunk_width)
                .bitwiseAND(F.lit((1 << chunk_width) - 1))
                .alias("cv"),
            )
            for j in range(SIMHASH_CHUNKS)
        ]
    )
    chunked = fp.select(F.col(id_col), F.col("simhash"), F.explode(chunks).alias("c")).select(
        id_col, "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv")
    )
    a = chunked.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sim_a"), "ci", "cv"
    )
    b = chunked.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sim_b"), "ci", "cv"
    )
    pairs = (
        a.join(b, ["ci", "cv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("bigint")
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
