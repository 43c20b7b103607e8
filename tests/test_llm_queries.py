from __future__ import annotations

import pytest

from tests.oracle import compare_query

ORACLE_CHECKED = [
    "dedup_component_size_histogram",
    "embedding_outlier_distance",
    "text_ngram_novelty",
    "dedup_exact_docs",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "simsearch_topk_cosine",
    "simsearch_pairwise_threshold",
    "text_stats",
    "text_tokenize_tf",
    "text_language_id",
    "text_quality_score",
    "text_fingerprint",
    "text_token_count",
    "multimodal_manifest",
    "text_tfidf",
    "simsearch_batch_topk",
    "pipeline_pretrain_filter",
    "pipeline_hash_split",
    "pipeline_source_mix",
    "pipeline_decontaminate",
    "simsearch_cosine_full",
    "dedup_cluster_cc",
    "dedup_keep_best",
    "graph_hierarchy_rollup",
    "multimodal_dedup_exact_bytes",
    "text_phrase_search",
    "embedding_matryoshka_fidelity",
    "text_pmi_cooccurrence",
    "multimodal_decode_features",
    "multimodal_frame_sample",
    "multimodal_resize_thumbs",
    "simsearch_filtered_topk",
    "simsearch_ivf_topk",
    "graph_pagerank_parts",
    "graph_kcore_stats",
    "dedup_exact_vectors",
    "multimodal_training_pairs",
    "text_word_burstiness",
    "pipeline_eval_holdout_contamination_rate",
    "pipeline_temperature_resample",
    "text_bigram_lm",
    "text_vocab_topk",
    "dedup_incremental_new_docs",
    "dedup_rewrite_corpus",
    "profile_table",
    "dedup_ngram_containment",
    "simsearch_range_query",
    "embedding_normalize_l2",
    "embedding_quantize_int8",
    "embedding_knn_label_vote",
    "text_language_confusion",
    "text_approx_top_k_words",
    "simsearch_knn_graph",
    "embedding_quantization_error",
    "text_token_percentiles_by_lang",
    "graph_triangle_count",
    "text_char_entropy",
    "graph_degree_distribution",
    "text_oov_rate",
    "text_bm25_topk_terms",
    "text_zipf_fit",
    "dedup_rate_by_source",
    "embedding_dim_stats",
    "pipeline_dataset_card",
    "dedup_threshold_sensitivity",
    "pipeline_pack_sequences",  # promoted rows-only → exact oracle in r6
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_llm_oracle_parity(spark, sf_dir, name):
    from maxscale_cdc_connector_spark.queries import load_all

    load_all()
    compare_query(spark, sf_dir, name)


def test_prefix_filter_matches_plain_inverted_index(spark, sf_dir):
    """The PPJoin-style prefix-filtered Jaccard join must be output-
    identical to the unfiltered inverted-index join — the prefix filter
    is a pure candidate-pruning step, and a too-short prefix would
    silently LOSE pairs (the failure mode the decimal ceil guards)."""
    from maxscale_cdc_connector_spark.operators.dedup import (
        duplicated_corpus,
        jaccard_pairs,
        jaccard_pairs_prefix,
        shingle_sets,
    )
    from maxscale_cdc_connector_spark.session import load_table

    corpus = duplicated_corpus(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )
    plain = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(shingle_sets(corpus), min_jaccard=0.8).collect()
    }
    prefix = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs_prefix(corpus, min_jaccard=0.8).collect()
    }
    assert prefix == plain
    assert len(plain) > 0


def test_minhash_lsh_subset_and_recall(spark, sf_dir):
    """LSH-verified pairs ⊆ exact Jaccard pairs; known duplicates (the
    id-shifted copies, Jaccard 1.0) are all recovered — identical docs
    have identical signatures, so every band matches."""
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all
    from maxscale_cdc_connector_spark.session import load_table

    load_all()
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in REGISTRY["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    }
    assert set(lsh) <= set(exact), "LSH produced a pair exact Jaccard rejects"
    n_docs_with_shingles = (
        load_table(spark, "documents", sf_dir).filter("length(text) > 0").count()
    )
    dup_pairs = {p for p in exact if p[1] == p[0] + 1_000_000}
    assert dup_pairs <= set(lsh), "LSH missed an identical-duplicate pair"
    assert len(dup_pairs) > 0.9 * n_docs_with_shingles


def test_simhash_finds_identical_dups(spark, sf_dir):
    """Identical docs have hamming 0; all id-shifted dup pairs found."""
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all

    load_all()
    rows = REGISTRY["dedup_simhash"].fn(spark, sf_dir).collect()
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in rows}
    dup_pairs = {p for p in pairs if p[1] == p[0] + 1_000_000}
    assert all(pairs[p] == 0 for p in dup_pairs)
    assert len(dup_pairs) > 0


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF probe of 3/|centroids| buckets must still recover most of the
    true top-20 (embeddings cluster by label, so buckets are coherent)."""
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all

    load_all()
    ivf = [r.vec_id for r in REGISTRY["simsearch_ivf_topk"].fn(spark, sf_dir).collect()]
    exact = [
        r.vec_id for r in REGISTRY["simsearch_topk_cosine"].fn(spark, sf_dir).collect()
    ]
    recall = len(set(ivf) & set(exact)) / len(exact)
    assert recall >= 0.3, f"IVF recall {recall} vs brute force too low"
    assert ivf[0] == exact[0] == 0, "query vector itself must rank first"


def test_decode_features_values(spark, sf_dir):
    """The stubbed extractor is deterministic: pin its math exactly."""
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all
    from maxscale_cdc_connector_spark.session import load_table

    load_all()
    feats = {
        r.doc_id: r for r in REGISTRY["multimodal_decode_features"].fn(spark, sf_dir).collect()
    }
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text").limit(20).collect()
    for d in docs:
        raw = d.text.encode("utf-8")
        f = feats[d.doc_id]
        assert f.f_len == float(len(raw))
        assert f.f_first == float(raw[0])
        assert f.f_last == float(raw[-1])
        assert f.f_checksum == float(sum(raw) % 256)


def test_decode_image_stub_raises():
    from maxscale_cdc_connector_spark.operators.multimodal import decode_image

    try:
        import PIL  # noqa: F401

        pytest.skip("PIL unexpectedly present")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_embedding_lsh_subset_and_dup_recall(spark, sf_dir):
    """SRP-LSH verified pairs ⊆ exact pairs at the same threshold, and
    every identical-duplicate pair (cosine 1.0 ⇒ signatures collide with
    probability 1) is recovered."""
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all

    load_all()
    lsh = {
        (r.vec_a, r.vec_b) for r in REGISTRY["dedup_embedding_lsh"].fn(spark, sf_dir).collect()
    }
    exact_drop = {
        r.vec_drop for r in REGISTRY["dedup_embedding_cosine"].fn(spark, sf_dir).collect()
    }
    # Every LSH pair's b-side must be a key the exact variant also drops.
    assert {b for _, b in lsh} <= exact_drop
    n_vecs = (
        REGISTRY["simsearch_topk_cosine"].fn(spark, sf_dir).sparkSession.read.parquet(
            f"{sf_dir}/embeddings.parquet"
        ).count()
    )
    dup_pairs = {p for p in lsh if p[1] == p[0] + 1_000_000}
    assert len(dup_pairs) == n_vecs, "missed an identical-duplicate pair"


def test_embedding_lsh_near_threshold_recall(spark, sf_dir):
    """Band-geometry drift detector (VERDICT r14 item 6): identical
    twins collide with probability 1 no matter how the bands are laid
    out, so the twin-recall pin above cannot see a band-geometry or
    hyperplane-seeding regression. A deterministic cosine-0.95 cohort
    can: its recall through the production SRP-LSH operator is ≈ 0.67
    in expectation for 2 bands × 8 bits (observed 0.732 at sf0.001,
    constant given the seeded hyperplanes + seeded cohort). The lower
    bound mirrors scripts/invariants_report.py's NEAR_RECALL_BOUND; the
    upper bound proves the probe itself didn't degenerate into twins
    (a broken perturbation reads 1.0)."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "invariants_report",
        Path(__file__).resolve().parents[1] / "scripts" / "invariants_report.py",
    )
    inv = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(inv)
    from maxscale_cdc_connector_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    recall, n = inv.near_threshold_recall(spark, emb)
    assert n > 0
    assert recall >= inv.NEAR_RECALL_BOUND, (recall, inv.NEAR_RECALL_BOUND)
    assert recall < 0.95, f"probe degenerated toward identical twins: {recall}"


def test_frame_sample_pins_exact_bytes(spark, sf_dir):
    """The stubbed frame sampler is deterministic byte slicing: pin it."""
    import hashlib

    from maxscale_cdc_connector_spark.operators.multimodal import build_manifest, frame_sample
    from maxscale_cdc_connector_spark.queries import load_all
    from maxscale_cdc_connector_spark.session import load_table

    load_all()
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text").limit(5)
    frames = frame_sample(build_manifest(docs)).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d in docs.collect():
        raw = d.text.encode("utf-8")
        step = max(1, len(raw) // 4)
        got = sorted(by_doc[d.doc_id], key=lambda r: r.frame_idx)
        assert len(got) == 4
        for i, r in enumerate(got):
            expect = raw[i * step : (i + 1) * step]
            assert bytes(r.frame) == expect
            assert r.frame_sha256 == hashlib.sha256(expect).hexdigest()


def test_approx_percentile_close_to_exact(spark, sf_dir):
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all

    load_all()
    approx = {
        r["l_returnflag"]: (r["med_approx"], r["p90_approx"])
        for r in REGISTRY["agg_approx_percentile"].fn(spark, sf_dir).collect()
    }
    exact = {
        r["l_returnflag"]: (r["med_qty"], r["p90"])
        for r in REGISTRY["agg_percentiles"].fn(spark, sf_dir).collect()
    }
    for flag, (med, p90) in exact.items():
        assert abs(approx[flag][0] - med) <= 1.0
        assert abs(approx[flag][1] - p90) <= 1.0


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing covers every document exactly once, never overfills a
    non-truncated pack, and is independent of input partitioning."""
    from maxscale_cdc_connector_spark.operators.packing import pack_sequences
    from maxscale_cdc_connector_spark.session import load_table

    docs = load_table(spark, "documents", sf_dir)
    budget = 512
    packed = pack_sequences(docs, budget=budget, n_buckets=8)
    rows = packed.collect()

    # Every doc exactly once.
    ids = [r.doc_id for r in rows]
    assert sorted(ids) == sorted(r.doc_id for r in docs.select("doc_id").collect())
    assert len(ids) == len(set(ids))

    # No pack exceeds the budget; truncated rows are exactly the
    # oversize singletons.
    from collections import defaultdict

    packs = defaultdict(list)
    for r in rows:
        packs[(r.bucket, r.pack_seq)].append(r)
    for members in packs.values():
        if any(m.truncated for m in members):
            assert len(members) == 1 and members[0].n_tokens > budget
        else:
            assert sum(m.n_tokens for m in members) <= budget

    # Deterministic under repartitioning.
    again = sorted(
        map(tuple, pack_sequences(docs.repartition(13), budget=budget, n_buckets=8).collect())
    )
    assert again == sorted(map(tuple, rows))


def test_ivf_kmeans_recall_vs_brute_force(spark, sf_dir):
    """The learned quantizer must reach at least the strided quantizer's
    recall at the same probe budget, and never miss the query itself."""
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all

    load_all()
    exact = [r.vec_id for r in REGISTRY["simsearch_topk_cosine"].fn(spark, sf_dir).limit(20).collect()]
    strided = [r.vec_id for r in REGISTRY["simsearch_ivf_topk"].fn(spark, sf_dir).collect()]
    learned = [r.vec_id for r in REGISTRY["simsearch_ivf_kmeans_topk"].fn(spark, sf_dir).collect()]
    r_strided = len(set(strided) & set(exact)) / len(exact)
    r_learned = len(set(learned) & set(exact)) / len(exact)
    assert learned[0] == 0, "query vector itself must rank first"
    assert r_learned >= r_strided - 1e-9, (r_learned, r_strided)
    assert r_learned >= 0.5, r_learned


def test_rewrite_corpus_drops_exactly_noncanonical(spark, sf_dir):
    """Kept ids = corpus minus every non-canonical cluster member, and
    each duplicate pair keeps exactly its lower id."""
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all

    load_all()
    kept = {r["doc_id"] for r in REGISTRY["dedup_rewrite_corpus"].fn(spark, sf_dir).collect()}
    clusters = REGISTRY["dedup_cluster_cc"].fn(spark, sf_dir).collect()
    for r in clusters:
        assert (r["doc_id"] in kept) == bool(r["is_canonical"]), r


def test_pairwise_threshold_forced_blocking_matches_single_block(spark, sf_dir):
    """Cross-block correctness: with block=64 the corpus splits into many
    GEMM blocks, exercising the off-diagonal path where a pair's smaller
    id can hash into the HIGHER-numbered block (ids enter blocks by hash,
    not order). The emitted pair set must equal the single-block run's —
    which is itself oracle-verified — including orientation (a < b)."""
    from maxscale_cdc_connector_spark.operators.simsearch import pairwise_threshold
    from maxscale_cdc_connector_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    n = emb.count()
    single = sorted(map(tuple, pairwise_threshold(emb, tau=0.4, n_rows=1).collect()))
    blocked = sorted(
        map(tuple, pairwise_threshold(emb, tau=0.4, block=64, n_rows=n).collect())
    )
    assert n // 64 >= 3, "corpus too small to force multiple blocks"
    assert len(single) > 0
    assert blocked == single
    assert all(a < b for a, b, _ in blocked)


def test_knn_graph_forced_blocking_matches_single_block(spark, sf_dir):
    """Cross-block correctness for the k-NN graph: with block=64 every
    vector's true neighbors are scattered across many y-blocks; the
    union of per-block top-k must still recover the exact global top-k
    (identical to the single-block run, which the oracle vouches for)."""
    from maxscale_cdc_connector_spark.operators.simsearch import knn_graph
    from maxscale_cdc_connector_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    n = emb.count()
    single = sorted(map(tuple, knn_graph(emb, k=3, n_rows=1).collect()))
    blocked = sorted(map(tuple, knn_graph(emb, k=3, block=64, n_rows=n).collect()))
    assert n // 64 >= 3, "corpus too small to force multiple blocks"
    assert len(single) == 3 * n
    assert blocked == single


def test_pairwise_threshold_plans_without_running_a_job(spark, sf_dir):
    """Block sizing reads Catalyst plan statistics, not an eager count():
    constructing (and analyzing) the pairs DataFrame must submit zero
    Spark jobs — at 100 TB an eager count is a whole extra scan."""
    from maxscale_cdc_connector_spark.operators.simsearch import pairwise_threshold
    from maxscale_cdc_connector_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    sc = spark.sparkContext
    group = "pairwise-plan-only-test"
    sc.setJobGroup(group, "plan construction must be job-free")
    try:
        df = pairwise_threshold(emb, tau=0.4)
        _ = df.schema  # force analysis + the stats-based block sizing
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == [], f"plan construction ran jobs: {jobs}"


def test_approx_top_k_words_counts_exact_modulo_boundary_ties(spark, sf_dir):
    """The sketch tracks far more items than the vocabulary holds, so every
    reported count must be EXACT and every reported word must belong to a
    valid top-10 (its count >= the exact 10th-highest count); only the
    arbitrary choice among boundary ties may differ from the brute force."""
    from pyspark.sql import functions as F

    from maxscale_cdc_connector_spark.functions.text_fns import words
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all
    from maxscale_cdc_connector_spark.session import load_table

    load_all()
    approx = {
        r.word: r.n
        for r in REGISTRY["text_approx_top_k_words"].fn(spark, sf_dir).collect()
    }
    exact = dict(
        load_table(spark, "documents", sf_dir)
        .select(F.explode(words("text")).alias("w"))
        .groupBy("w")
        .count()
        .collect()
    )
    assert len(approx) == 10
    kth = sorted(exact.values(), reverse=True)[9]
    for w, n in approx.items():
        assert exact[w] == n, f"{w}: sketch count {n} != exact {exact[w]}"
        assert n >= kth, f"{w}: count {n} below the exact top-10 floor {kth}"


def test_knn_graph_lsh_recovers_duplicate_edges_exactly(spark, sf_dir):
    """The SRP-LSH approximate k-NN graph must (a) emit only true
    cosines — precision exact, every edge's sim equals the direct dot
    product — and (b) recover EVERY identical-duplicate neighbor at
    rank 1 with sim 1.0 (identical vectors collide in all bands).
    The low-cosine tail of a uniform-random corpus is best-effort by
    design and is not pinned."""
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all
    from maxscale_cdc_connector_spark.session import load_table

    load_all()
    rows = REGISTRY["simsearch_knn_graph_lsh"].fn(spark, sf_dir).collect()
    n_vecs = load_table(spark, "embeddings", sf_dir).count()
    rank1 = {r.vec_id: (r.nbr_id, r.sim) for r in rows if r.nn_rank == 1}
    for v in range(n_vecs):
        nbr, sim = rank1[v]
        assert nbr == v + 1_000_000 and sim >= 0.99999, (v, nbr, sim)
        nbr2, sim2 = rank1[v + 1_000_000]
        assert nbr2 == v and sim2 >= 0.99999, (v, nbr2, sim2)
    # precision: spot-check emitted sims against direct dot products
    emb = {
        r.vec_id: r.embedding
        for r in load_table(spark, "embeddings", sf_dir).collect()
    }
    for r in rows[:200]:
        a = emb[r.vec_id % 1_000_000]
        b = emb[r.nbr_id % 1_000_000]
        direct = round(sum(x * y for x, y in zip(a, b)), 5)
        assert abs(direct - r.sim) <= 1e-4, (r.vec_id, r.nbr_id, direct, r.sim)


def test_resize_thumbnails_pins_exact_bytes(spark, sf_dir):
    """The stubbed resampler is deterministic strided byte selection —
    pin its exact output bytes, lengths and digests."""
    import hashlib

    from maxscale_cdc_connector_spark.operators.multimodal import (
        THUMB_TARGET,
        build_manifest,
        resize_thumbnails,
    )
    from maxscale_cdc_connector_spark.session import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text").limit(10)
    thumbs = {r.doc_id: r for r in resize_thumbnails(build_manifest(docs)).collect()}
    for d in docs.collect():
        raw = d.text.encode("utf-8")
        if not raw:
            want = b""
        elif len(raw) <= THUMB_TARGET:
            want = raw
        else:
            step = len(raw) / THUMB_TARGET
            want = bytes(raw[int(i * step)] for i in range(THUMB_TARGET))
        got = thumbs[d.doc_id]
        assert bytes(got.thumb) == want, d.doc_id
        assert got.thumb_bytes == len(want)
        assert got.thumb_sha256 == hashlib.sha256(want).hexdigest()


def test_lsh_recall_report_rank1_is_perfect(spark, sf_dir):
    """Duplicate (rank-1, cos 1.0) edges must be recalled at 1.0 —
    identical vectors produce identical SRP signatures in every band.
    The random-noise tail (ranks 2-3) is best-effort by design."""
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all

    load_all()
    rows = {
        r.rank: r
        for r in REGISTRY["simsearch_lsh_recall_report"].fn(spark, sf_dir).collect()
    }
    assert rows[1].recall == 1.0, rows[1]
    assert rows[1].n_exact == rows[1].n_recalled


def test_pagerank_matches_numpy_power_iteration(spark, sf_dir):
    """The distributed PageRank must agree with an independent dense
    NumPy power iteration on the same co-purchase graph to 1e-9."""
    import numpy as np

    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all
    from maxscale_cdc_connector_spark.session import load_table

    load_all()
    got = {
        r.part: r.rank
        for r in REGISTRY["graph_pagerank_parts"].fn(spark, sf_dir).collect()
    }

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    baskets = {}
    for r in li.distinct().collect():
        baskets.setdefault(r.l_orderkey, []).append(r.l_partkey)
    w = {}
    for parts in baskets.values():
        ps = sorted(set(parts))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                w[(ps[i], ps[j])] = w.get((ps[i], ps[j]), 0) + 1
    nodes = sorted({x for p in w for x in p})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for (u, v), c in w.items():
        M[idx[v], idx[u]] += c
        M[idx[u], idx[v]] += c
    out_w = M.sum(axis=0)
    P = M / out_w[None, :]
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        r = (1 - 0.85) / n + 0.85 * (P @ r)
    want = {nodes[i]: r[i] for i in range(n)}
    top = sorted(want, key=lambda k: (-want[k], k))[:20]
    assert set(got) == set(top)
    for p in top:
        assert abs(got[p] - want[p]) < 1e-6, (p, got[p], want[p])


def test_kcore_known_graph_and_invariant(spark, sf_dir):
    """k-core on a hand-built graph (4-clique + chain + pendant edge)
    must strip exactly the fringe; on the real dup graph every surviving
    node must keep >= k neighbors INSIDE the core (the defining
    property), and the 3-core must be a subgraph of the 2-core."""
    from pyspark.sql import functions as F

    from maxscale_cdc_connector_spark.operators.dedup import (
        duplicated_corpus,
        jaccard_pairs_prefix,
    )
    from maxscale_cdc_connector_spark.operators.graph import kcore
    from maxscale_cdc_connector_spark.session import load_table

    toy = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (7, 8)],
        "src int, dst int",
    )
    for k, want in [(2, [0, 1, 2, 3]), (3, [0, 1, 2, 3]), (4, [])]:
        nodes, _, _ = kcore(toy, k)
        assert sorted(r.node for r in nodes.collect()) == want, k

    corpus = duplicated_corpus(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )
    edges = jaccard_pairs_prefix(corpus, min_jaccard=0.8).localCheckpoint(eager=True)
    cores = {}
    for k in (2, 3):
        nodes, core_edges, _ = kcore(edges, k, src="doc_a", dst="doc_b")
        cores[k] = {r.node for r in nodes.collect()}
        sym = core_edges.select(F.col("doc_a").alias("n"), "doc_b").unionAll(
            core_edges.select(F.col("doc_b").alias("n"), F.col("doc_a").alias("doc_b"))
        )
        mindeg = sym.groupBy("n").count().agg(F.min("count")).first()[0]
        if mindeg is not None:
            assert mindeg >= k, (k, mindeg)
    assert cores[3] <= cores[2]


def test_ancestor_closure_matches_known_tree(spark) -> None:
    """Pointer doubling over a hand-built 3-level tree yields exactly the
    transitive ancestor set with correct distances, in log rounds."""
    from pyspark.sql import functions as F

    from maxscale_cdc_connector_spark.operators.graph import ancestor_closure

    #        0
    #      /   \
    #     1     2
    #    / \     \
    #   3   4     5
    #  /
    # 6
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1), (5, 2), (6, 3)], "child long, parent long"
    )
    got = {
        (r.desc, r.anc): r.dist for r in ancestor_closure(edges).collect()
    }
    want = {
        (1, 0): 1, (2, 0): 1,
        (3, 1): 1, (3, 0): 2, (4, 1): 1, (4, 0): 2,
        (5, 2): 1, (5, 0): 2,
        (6, 3): 1, (6, 1): 2, (6, 0): 3,
    }
    assert got == want


def test_compression_ratio_bounds_and_monotonicity(spark, sf_dir):
    """Ratios sit in a sane band, are deterministic across runs, and a
    pathologically repetitive text compresses far better than the
    natural corpus."""
    import zlib

    from pyspark.sql import functions as F

    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all

    load_all()
    fn = REGISTRY["text_compression_ratio"].fn
    rows1 = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    rows2 = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert rows1 == rows2
    assert rows1, "no sources"
    for _, n_docs, raw, comp, ppm in rows1:
        assert n_docs > 0 and raw > 0 and comp > 0
        assert 0 < ppm < 2_000_000  # never > 2x expansion
        assert ppm == comp * 1_000_000 // raw
    # word-soup corpus compresses, but far less than pure repetition
    rep = len(zlib.compress(b"spam " * 2000, 9)) * 1_000_000 // 10_000
    assert min(r[4] for r in rows1) > rep


def test_resize_thumbnails_real_path_or_gate(spark):
    """Exercises whichever path the environment provides (VERDICT r6
    item 6): with PIL installed, the real decode→resize→PNG path must
    produce one thumbnail row per payload at the declared schema; with
    PIL absent, the gate must refuse at PLAN time (driver-side
    NotImplementedError, before any job runs) while the stub path keeps
    the same per-payload row contract on the identical manifest."""
    from maxscale_cdc_connector_spark.operators.multimodal import (
        THUMB_SCHEMA,
        has_image_decoder,
        resize_thumbnails,
        resize_thumbnails_real,
    )

    if has_image_decoder():
        import io

        from PIL import Image

        payloads = []
        for i in range(3):
            im = Image.new("RGB", (8 + i, 6 + i), color=(i * 10, 0, 0))
            buf = io.BytesIO()
            im.save(buf, format="PNG")
            payloads.append(buf.getvalue())
        manifest = spark.createDataFrame(
            [(i, bytearray(p)) for i, p in enumerate(payloads)],
            "doc_id LONG, payload BINARY",
        )
        out = resize_thumbnails_real(manifest, target_px=16).collect()
        assert len(out) == 3
        for r in out:
            thumb = Image.open(io.BytesIO(bytes(r.thumb)))
            assert thumb.size == (16, 16)
            assert r.thumb_bytes == len(bytes(r.thumb))
    else:
        manifest = spark.createDataFrame(
            [(0, bytearray(b"\x89PNG-not-really"))], "doc_id LONG, payload BINARY"
        )
        with pytest.raises(NotImplementedError, match="PIL"):
            resize_thumbnails_real(manifest)
        # Stub path honors the same one-row-per-payload contract.
        assert resize_thumbnails(manifest).count() == 1
        assert resize_thumbnails(manifest).schema == THUMB_SCHEMA


def test_kcore_canonicalizes_reversed_duplicate_edges(spark, sf_dir):
    """r9 review: input carrying both orientations of one undirected
    edge must not double-count degrees. A single edge in both
    directions has true degrees 1 — its 2-core is EMPTY."""
    from maxscale_cdc_connector_spark.operators.graph import kcore

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    nodes, core_edges, _ = kcore(edges, k=2)
    assert nodes.count() == 0 and core_edges.count() == 0
    # And a genuine triangle (passed with reversed dups) survives k=2.
    tri = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1)], "src long, dst long"
    )
    nodes2, core2, _ = kcore(tri, k=2)
    assert {r["node"] for r in nodes2.collect()} == {1, 2, 3}
    assert core2.count() == 3


def test_connected_components_converges_on_string_node_ids(spark, sf_dir):
    """r9 review: a sum(label) convergence checksum casts STRING labels
    to double → NULL, compares equal on round one, and returns a
    silently split cluster. The hash signature must converge the chain
    fully."""
    from maxscale_cdc_connector_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


@pytest.mark.parametrize(
    "case", ["cc_budget", "kcore_budget", "closure_depth", "pagerank_dangling"]
)
def test_graph_operators_release_checkpoints_when_they_raise(spark, case):
    """A raising graph operator leaves none of its round checkpoints
    registered: the budget errors of connected_components and kcore,
    ancestor_closure's depth error, and pagerank's dangling-node
    check."""
    from maxscale_cdc_connector_spark.operators.graph import (
        ancestor_closure,
        connected_components,
        kcore,
        pagerank,
    )

    path = spark.createDataFrame([(i, i + 1) for i in range(64)], "src long, dst long")
    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(40)], "child long, parent long"
    )
    dangling = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, weight double")
    call, error, match = {
        "cc_budget": (lambda: connected_components(path, max_iters=2),
                      RuntimeError, "did not converge"),
        "kcore_budget": (lambda: kcore(path, 2, max_rounds=2), RuntimeError, ""),
        "closure_depth": (lambda: ancestor_closure(chain, max_depth=4),
                          RuntimeError, "exceeds max_depth"),
        "pagerank_dangling": (lambda: pagerank(dangling), ValueError, "dangling"),
    }[case]
    registered = spark.sparkContext._jsc.getPersistentRDDs
    before = set(registered())
    with pytest.raises(error, match=match):
        call()
    leaked = set(registered()) - before
    assert not leaked, f"{case} left checkpoint RDDs {sorted(leaked)} registered"


def test_graph_round_budget_boundaries(spark):
    """Each budget sits where it always did: the smallest budget that
    converges, and one less raises. kcore's max_rounds counts peel
    rounds (the no-change confirmation is free), also when the last
    peel empties the graph; ancestor_closure's max_depth is the chain
    depth; connected_components' max_iters counts the confirming
    round."""
    from maxscale_cdc_connector_spark.operators import graph

    L = "src long, dst long"
    # A triangle with a 4-edge tail: 4 peel rounds, core = the triangle.
    tail = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 6)], L
    )
    nodes, core, rounds = graph.kcore(tail, 2, max_rounds=4)
    assert rounds == 4 and core.count() == 3
    assert {r["node"] for r in nodes.collect()} == {0, 1, 2}
    with pytest.raises(RuntimeError):
        graph.kcore(tail, 2, max_rounds=3)
    # An 8-edge path peels two edges a round: empty after 4 rounds.
    path8 = spark.createDataFrame([(i, i + 1) for i in range(8)], L)
    nodes, core, rounds = graph.kcore(path8, 2, max_rounds=4)
    assert rounds == 4 and core.count() == 0
    with pytest.raises(RuntimeError):
        graph.kcore(path8, 2, max_rounds=3)

    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(40)], "child long, parent long"
    )
    closure = graph.ancestor_closure(chain, max_depth=40)
    assert closure.count() == 40 * 41 // 2
    assert closure.agg({"dist": "max"}).first()[0] == 40
    with pytest.raises(RuntimeError, match="exceeds max_depth=39"):
        graph.ancestor_closure(chain, max_depth=39)

    path = spark.createDataFrame([(i, i + 1) for i in range(64)], L)
    graph.connected_components(path, max_iters=7).count()
    assert graph.LAST_ROUNDS == 7
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(path, max_iters=6)


def test_graph_operator_job_counts(spark):
    """Spark jobs per operator call plus one count() on the result, on
    fixed small inputs: one action per round, the initial signature,
    and the strict_pairs round-1 tagged union. A change to any round
    body shows here as a different count."""
    import uuid

    from maxscale_cdc_connector_spark.operators import graph

    sc = spark.sparkContext

    def jobs(call):
        group = f"graph-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "graph operator job count")
        try:
            call().count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # The status store is fed by the listener bus: drain it first.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    L = "src long, dst long"
    path = spark.createDataFrame([(i, i + 1) for i in range(64)], L)
    tail = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 6)], L
    )
    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(40)], "child long, parent long"
    )
    ring = spark.createDataFrame(
        [(u, v, 1.0) for i in range(6) for u, v in ((i, (i + 1) % 6), ((i + 1) % 6, i))],
        "src long, dst long, weight double",
    )
    got = {
        "cc": jobs(lambda: graph.connected_components(path)),
        "cc_rounds": graph.LAST_ROUNDS,
        "cc_strict": jobs(
            lambda: graph.connected_components(path, input_strict_pairs=True)
        ),
        "cc_strict_rounds": graph.LAST_ROUNDS,
        "kcore": jobs(lambda: graph.kcore(tail, 2)[0]),
        "closure": jobs(lambda: graph.ancestor_closure(chain)),
        "pagerank": jobs(lambda: graph.pagerank(ring, iters=3)),
    }
    assert got == {
        "cc": 48, "cc_rounds": 7, "cc_strict": 41, "cc_strict_rounds": 7,
        "kcore": 36, "closure": 41, "pagerank": 37,
    }


def test_pagerank_rejects_dangling_and_handles_empty(spark, sf_dir):
    """r9 review: the docstring promised a dangling-node assertion that
    did not exist (mass silently leaked), and an empty edge frame
    crashed with ZeroDivisionError."""
    import pytest as _pytest

    from maxscale_cdc_connector_spark.operators.graph import pagerank

    dangling = spark.createDataFrame(
        [(1, 2, 1.0)], "src long, dst long, weight double"
    )
    with _pytest.raises(ValueError, match="dangling"):
        pagerank(dangling, iters=2)

    empty = spark.createDataFrame([], "src long, dst long, weight double")
    assert pagerank(empty, iters=2).count() == 0


def test_eager_persist_populates_cache_before_return(spark):
    """r12 continuation: a lazily-persisted frame fanned into several
    branches of one action is a cache-population race under AQE — each
    branch stage found the cache empty and recomputed the full upstream
    pipeline concurrently (dedup_cluster_cc swung 3 s → 68 s run-to-run).
    cache.eager_persist must return with the cache POPULATED (cached
    partitions materialized), not merely marked for caching, so every
    later branch is a cache read.
    """
    from maxscale_cdc_connector_spark.operators.cache import eager_persist

    try:
        spark.sparkContext._jsc.sc().getRDDStorageInfo()
    except Exception:
        pytest.skip("JVM storage-info bridge unavailable (Spark Connect?)")

    def cached_ids():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in infos if i.numCachedPartitions() > 0}

    before = cached_ids()
    df = spark.range(0, 1000, 1, 4).selectExpr("id", "id * 2 AS v")
    out = eager_persist(df)
    try:
        assert out.storageLevel.useMemory or out.storageLevel.useDisk
        assert cached_ids() - before, (
            "eager_persist returned with zero NEWLY materialized cache "
            "partitions — the fan-out race it exists to prevent is open"
        )
    finally:
        out.unpersist()


def test_eager_persist_unpersists_on_failed_materialization(spark):
    """r12 ADVICE: eager_persist registers the persist before count();
    a failed materialization (executor loss, OOM, cancelled query) must
    release the cache entry instead of leaking it for the session
    lifetime of the 93-query driver sweep — and re-raise the real error.
    """
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from maxscale_cdc_connector_spark.operators.cache import eager_persist

    df = spark.range(0, 10).select((F.lit(1) / F.col("id")).alias("v")).where(
        F.raise_error(F.lit("forced materialization failure")).isNull()
    )
    with pytest.raises(Exception, match="forced materialization failure"):
        eager_persist(df)
    assert df.storageLevel == StorageLevel.NONE, (
        "failed eager_persist leaked a registered cache entry"
    )


@pytest.mark.parametrize(
    "key",
    [
        "dedup_cluster_cc",
        "dedup_rewrite_corpus",
        "dedup_component_size_histogram",
        "dedup_keep_best",
        "pipeline_curation_funnel",
    ],
)
def test_cc_call_sites_pass_materialized_edges_with_flag(spark, sf_dir, key):
    """VERDICT r12 item 4, the explicit per-call-site pin: every query
    that calls connected_components must (a) keep input_materialized=
    True — dropping the flag silently reintroduces a redundant
    checkpoint copy of the pair join — and (b) hand it edges whose plan
    the guard verifies as materialized (an eager checkpoint behind a
    pure projection). Intercepts the dispatcher, then runs the real
    thing."""
    from maxscale_cdc_connector_spark.operators import graph as graph_mod
    from maxscale_cdc_connector_spark.queries.registry import REGISTRY

    seen: list[tuple[bool, object]] = []
    real = graph_mod.connected_components

    def spy(edges, *args, **kwargs):
        from pyspark.sql import functions as F

        src = kwargs.get("src", "src")
        dst = kwargs.get("dst", "dst")
        pruned = edges.select(F.col(src), F.col(dst))
        seen.append(
            (kwargs.get("input_materialized", False),
             graph_mod._plan_is_materialized(pruned))
        )
        return real(edges, *args, **kwargs)

    # The query modules call via their own imported name; patch BOTH.
    import maxscale_cdc_connector_spark.queries.llm_queries as llm_mod
    import maxscale_cdc_connector_spark.queries.training_queries as tr_mod

    monkey = []
    for mod in (graph_mod, llm_mod, tr_mod):
        if getattr(mod, "connected_components", None) is real:
            monkey.append(mod)
            mod.connected_components = spy
    try:
        REGISTRY[key].fn(spark, sf_dir).count()
    finally:
        for mod in monkey:
            mod.connected_components = real
    assert seen, f"{key} never reached connected_components"
    for flag, materialized in seen:
        assert flag is True, f"{key} dropped input_materialized=True"
        assert materialized in (True, None), (
            f"{key} passed detectably-lazy edges with the flag set"
        )


def test_barriers_release_held_frames_on_failed_materialization(spark):
    """Symmetric to the eager_persist guard: the barriers() scope's
    contract is that the held frames die with the block — including
    when the result's materialization fails — so a failing operator
    cannot leak its (large) intermediates for the session lifetime."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from maxscale_cdc_connector_spark.operators.cache import barriers

    cached = spark.range(0, 100).persist()
    with pytest.raises(Exception, match="forced result failure"):
        with barriers() as hold:
            bad = hold(cached).where(
                F.raise_error(F.lit("forced result failure")).isNull()
            )
            bad.localCheckpoint(eager=True)
    assert cached.storageLevel == StorageLevel.NONE, (
        "failed scope leaked the held cache registration"
    )


def test_barriers_success_path_survives_failing_unpersist(spark):
    """ADVICE r13: the success path must be as guarded as the failure
    path — one frame whose unpersist throws (dead executor RPC, torn
    context) must neither leak the REMAINING frames nor discard the
    already-materialized result."""
    from pyspark.storagelevel import StorageLevel

    from maxscale_cdc_connector_spark.operators.cache import barriers

    class _Exploding:
        def unpersist(self, blocking=False):
            raise RuntimeError("block manager unreachable")

    good = spark.range(0, 50).persist()
    with barriers() as hold:
        hold(_Exploding())
        hold(good)
        out = spark.range(0, 10).localCheckpoint(eager=True)
    assert out.count() == 10, "computed result was discarded"
    assert good.storageLevel == StorageLevel.NONE, (
        "a failing unpersist leaked the remaining frames"
    )


def _still_holds_storage(df) -> bool:
    """A CacheManager entry (persist) or live checkpoint blocks
    (localCheckpoint: the LogicalRDD's own RDD) behind ``df``."""
    from pyspark.storagelevel import StorageLevel

    if df.storageLevel != StorageLevel.NONE:
        return True
    try:
        lvl = df._jdf.queryExecution().analyzed().rdd().getStorageLevel()
    except Exception:
        return False
    return lvl.useMemory() or lvl.useDisk()


@pytest.mark.parametrize("limit", ["1", None], ids=["persist", "checkpoint"])
def test_curation_funnel_releases_barriers_when_pair_build_fails(
    spark, sf_dir, monkeypatch, limit
):
    """ADVICE r17: pipeline_curation_funnel's two eager barriers (q, q2)
    must be released when a later build step raises — on both sides of
    the checkpoint gate (limit 1 byte: session-lifetime CacheManager
    entries; default: checkpoint blocks)."""
    from maxscale_cdc_connector_spark.operators import cache, dedup
    from maxscale_cdc_connector_spark.queries.training_queries import (
        pipeline_curation_funnel,
    )

    if limit is None:
        monkeypatch.delenv(cache.CKPT_MAX_INPUT_BYTES_ENV, raising=False)
    else:
        monkeypatch.setenv(cache.CKPT_MAX_INPUT_BYTES_ENV, limit)
    barriers_made = []
    real = cache.eager_barrier

    def spy(df, src_bytes):
        out = real(df, src_bytes)
        barriers_made.append(out)
        return out

    def boom(*args, **kwargs):
        raise RuntimeError("forced pair-build failure")

    monkeypatch.setattr(cache, "eager_barrier", spy)
    monkeypatch.setattr(dedup, "jaccard_pairs_prefix", boom)
    try:
        with pytest.raises(RuntimeError, match="forced pair-build failure"):
            pipeline_curation_funnel(spark, sf_dir)
        assert len(barriers_made) == 2
        leaked = [b for b in barriers_made if _still_holds_storage(b)]
        assert not leaked, f"{len(leaked)} funnel barrier(s) leaked on a failed build"
    finally:
        cache.release(*barriers_made)


def test_minhash_dedup_pairs_releases_lazy_persists_on_failed_count(
    spark, monkeypatch
):
    """The lazy persists ``sh`` and ``sig`` are populated only by the
    banded barrier's count inside lsh_candidate_pairs; when that count
    raises they must not stay registered for the session."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from maxscale_cdc_connector_spark.operators import cache, dedup

    seen = []
    real = dedup.minhash_signatures

    def spy(doc_shingles, id_col="doc_id"):
        out = real(doc_shingles, id_col)
        seen.extend([doc_shingles, out])
        return out

    monkeypatch.setattr(dedup, "minhash_signatures", spy)
    docs = spark.range(0, 20).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id").isNotNull(), F.raise_error(F.lit("forced text failure"))
        ).cast("string").alias("text"),
    )
    try:
        with pytest.raises(Exception, match="forced text failure"):
            dedup.minhash_dedup_pairs(docs)
        assert len(seen) == 2, "minhash_dedup_pairs never built sh/sig"
        sh, sig = seen
        assert sh.storageLevel == StorageLevel.NONE, "sh leaked on a failed count"
        assert sig.storageLevel == StorageLevel.NONE, "sig leaked on a failed count"
    finally:
        cache.release(*seen)


def test_connected_components_rejects_lazy_input_materialized(spark, sf_dir):
    """VERDICT r12 item 4 / ADVICE: input_materialized=True was
    honor-system — a lazy (worse: nondeterministic) edges plan would
    evaluate once per reading branch, giving inconsistent graph views
    and wrong component labels. The dispatcher now refuses a plan whose
    leaves are not LogicalRDD/InMemoryRelation (best-effort: skipped
    when the plan bridge is unreachable, never a false verdict)."""
    from maxscale_cdc_connector_spark.operators.graph import (
        _plan_is_materialized,
        connected_components,
    )

    lazy = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id AS src", "doc_id + 1 AS dst"
    )
    if _plan_is_materialized(lazy) is None:
        pytest.skip("optimized-plan bridge unavailable (Spark Connect?)")
    assert _plan_is_materialized(lazy) is False
    with pytest.raises(ValueError, match="input_materialized"):
        connected_components(lazy, input_materialized=True)

    # The shapes every real call site passes: a localCheckpoint behind a
    # pure projection (a pair operator's output) and a populated cache.
    ckpt = lazy.localCheckpoint(eager=True).select("src", "dst")
    assert _plan_is_materialized(ckpt) is True
    got = connected_components(ckpt.limit(50), input_materialized=False)
    assert got.count() > 0

    from maxscale_cdc_connector_spark.operators.cache import eager_persist

    cached = eager_persist(lazy.limit(20))
    try:
        assert _plan_is_materialized(cached.select("src", "dst")) is True
        assert connected_components(cached, input_materialized=True).count() > 0
    finally:
        cached.unpersist()

    # Literal driver-local data (LocalRelation) is trivially consistent
    # across reading branches — the guard must not refuse it.
    local = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert _plan_is_materialized(local) is True
    assert connected_components(local, input_materialized=True).count() == 3


def test_lazy_unpopulated_persist_rejected_by_guard(spark, sf_dir):
    """ADVICE r13: an InMemoryRelation leaf is only 'materialized' when
    its column buffers are LOADED. A lazy never-populated .persist()
    over a nondeterministic plan computes the plan independently per
    concurrent reading branch until something populates the cache — the
    exact per-branch inconsistent-view hazard the guard exists to stop,
    so it must not slip through on node name alone."""
    from maxscale_cdc_connector_spark.operators.graph import (
        _plan_is_materialized,
        connected_components,
    )

    lazy = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id AS src", "doc_id + 1 AS dst"
    )
    if _plan_is_materialized(lazy) is None:
        pytest.skip("optimized-plan bridge unavailable (Spark Connect?)")
    cached = lazy.persist()  # registered but NEVER populated
    try:
        assert _plan_is_materialized(cached) is False
        with pytest.raises(ValueError, match="POPULATED"):
            connected_components(cached, input_materialized=True)
        # One action populates every partition's buffers; the same
        # frame then passes the guard.
        cached.count()
        assert _plan_is_materialized(cached) is True
        assert connected_components(cached, input_materialized=True).count() > 0
    finally:
        cached.unpersist()


def test_triangle_stats_strict_pairs_rejects_lazy_input(spark, sf_dir):
    """ADVICE r17: input_strict_pairs=True skips triangle_stats' own
    eager checkpoint, so it carries the same materialization guard as
    connected_components — a lazy input would otherwise recompute the
    whole upstream pipeline in every branch. A checkpoint behind a pure
    projection (what graph_triangle_count passes) still goes through."""
    from maxscale_cdc_connector_spark.operators.graph import (
        _plan_is_materialized,
        triangle_stats,
    )

    lazy = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id AS src", "doc_id + 1 AS dst"
    )
    if _plan_is_materialized(lazy) is None:
        pytest.skip("optimized-plan bridge unavailable (Spark Connect?)")
    with pytest.raises(ValueError, match="input_strict_pairs"):
        triangle_stats(lazy, input_strict_pairs=True)

    ckpt = lazy.localCheckpoint(eager=True).select("src", "dst")
    strict = triangle_stats(ckpt, input_strict_pairs=True).collect()
    assert strict == triangle_stats(ckpt).collect()
