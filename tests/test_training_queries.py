"""Round-3 training-pipeline pack: oracle parity, k-means invariants,
and plan-shape pins for the new curation operators."""

from __future__ import annotations

import math

import pytest

from maxscale_cdc_connector_spark.plans import plan_summary
from maxscale_cdc_connector_spark.queries import REGISTRY, load_all
from tests.oracle import compare_query

load_all()

# Keys checked against the DuckDB oracle (mirrors the driver's check);
# imported by tests/test_registry_coverage.py.
ORACLE_CHECKED = [
    "text_repetition_stats",
    "text_chunk_passages",
    "pipeline_domain_cap",
    "pipeline_shard_shuffle",
    "text_pii_redact",
    "pipeline_token_budget_sample",
    "text_chunk_dedup",
    "pipeline_quality_gate",
    "pipeline_stratified_sample",
    "pipeline_curation_funnel",
    "pipeline_weighted_sample",
    "pipeline_assign_contiguous_ids",
    "text_bpe_pair_counts",
    "pipeline_interleave_sources",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_oracle_parity(spark, sf_dir, name) -> None:
    compare_query(spark, sf_dir, name)


# -- plan shapes ------------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    ["text_repetition_stats", "text_chunk_passages", "text_pii_redact",
     "pipeline_shard_shuffle", "pipeline_quality_gate"],
)
def test_row_local_ops_never_shuffle(spark, sf_dir, name) -> None:
    """The row-local curation ops must compile to scan→project plans:
    any Exchange here would shuffle the full corpus at scale."""
    s = plan_summary(REGISTRY[name].fn(spark, sf_dir))
    assert s.count("Exchange") == 0, f"{name}: {s.nodes}"
    assert not s.has("BatchEvalPython"), f"{name}: Python UDF in hot path"


def test_domain_cap_single_shuffle(spark, sf_dir) -> None:
    s = plan_summary(REGISTRY["pipeline_domain_cap"].fn(spark, sf_dir))
    assert s.count("Exchange") == 1, s.nodes


# -- repetition semantics ---------------------------------------------------


def test_repetition_keep_flag_is_exact_integer_logic(spark, sf_dir) -> None:
    """keep ⟺ top_word_count/n ≤ 1/5 AND dup fraction ≤ 7/10, by
    cross-multiplication — recompute from the integer outputs."""
    rows = REGISTRY["text_repetition_stats"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        expect = (
            r["top_word_count"] * 5 <= r["n_words"]
            and (r["n_words"] - r["n_distinct_words"]) * 10 <= 7 * r["n_words"]
        )
        assert r["keep"] == expect, r


def test_chunk_passages_reassemble_to_document(spark, sf_dir) -> None:
    """Chunks of a doc, joined in chunk_id order, reproduce its text
    exactly — nothing lost, nothing duplicated, boundaries correct."""
    from maxscale_cdc_connector_spark.session import load_table

    chunks = REGISTRY["text_chunk_passages"].fn(spark, sf_dir).collect()
    docs = {r["doc_id"]: r["text"] for r in load_table(spark, "documents", sf_dir).collect()}
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, parts in by_doc.items():
        parts.sort(key=lambda r: r["chunk_id"])
        assert [p["chunk_id"] for p in parts] == list(range(len(parts)))
        assert " ".join(p["passage"] for p in parts) == docs[doc_id]
        assert all(p["chunk_words"] == len(p["passage"].split(" ")) for p in parts)


def test_pii_redact_counts_and_scrub(spark, sf_dir) -> None:
    """Seeded emails/phones are counted and removed: redacted text
    length reflects the substitutions, and docs seeded with neither
    keep their original length."""
    from maxscale_cdc_connector_spark.session import load_table

    out = {r["doc_id"]: r for r in REGISTRY["text_pii_redact"].fn(spark, sf_dir).collect()}
    base = {r["doc_id"]: len(r["text"]) for r in load_table(spark, "documents", sf_dir).collect()}
    for doc_id, r in out.items():
        if doc_id % 3 == 0:
            assert r["n_emails"] >= 1
        if doc_id % 4 == 0:
            assert r["n_phones"] == 1
        if doc_id % 3 != 0 and doc_id % 4 != 0:
            assert r["n_emails"] == 0 and r["n_phones"] == 0
            assert r["redacted_len"] == base[doc_id]


def test_shard_shuffle_is_stable_and_bounded(spark, sf_dir) -> None:
    a = REGISTRY["pipeline_shard_shuffle"].fn(spark, sf_dir).collect()
    b = REGISTRY["pipeline_shard_shuffle"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # seed-stable
    assert all(0 <= r["shard"] < 64 for r in a)


def test_domain_cap_limits_and_determinism(spark, sf_dir) -> None:
    rows = REGISTRY["pipeline_domain_cap"].fn(spark, sf_dir).collect()
    per_source: dict[str, int] = {}
    for r in rows:
        per_source[r["source"]] = per_source.get(r["source"], 0) + 1
    assert per_source and all(v <= 15 for v in per_source.values())


# -- k-means invariants -----------------------------------------------------


def _fit(spark, sf_dir, iters=5):
    from maxscale_cdc_connector_spark.operators.kmeans import kmeans_fit
    from maxscale_cdc_connector_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    return kmeans_fit(emb, k=8, iters=iters)


def test_kmeans_inertia_monotone_nonincreasing(spark, sf_dir) -> None:
    _, _, inertias = _fit(spark, sf_dir)
    assert len(inertias) == 5
    for a, b in zip(inertias, inertias[1:]):
        assert b <= a + 1e-6, inertias


def test_kmeans_assignment_is_nearest_final_centroid(spark, sf_dir) -> None:
    """Every row's cluster is the argmin-distance centroid (ties to the
    lower id), cross-checked in pure Python."""
    assigned, centroids, _ = _fit(spark, sf_dir, iters=3)
    for r in assigned.select("embedding", "cluster", "dist2").collect():
        dists = [
            sum((x - y) ** 2 for x, y in zip(r["embedding"], c)) for c in centroids
        ]
        best = min(range(len(dists)), key=lambda j: (dists[j], j))
        assert r["cluster"] == best
        assert math.isclose(r["dist2"], dists[best], rel_tol=1e-9)


def test_kmeans_deterministic_across_runs(spark, sf_dir) -> None:
    _, c1, i1 = _fit(spark, sf_dir, iters=2)
    _, c2, i2 = _fit(spark, sf_dir, iters=2)
    assert i1 == i2
    assert c1 == c2


# ---------------------------------------------------------------------------
# Connected components (operators/graph.py)
# ---------------------------------------------------------------------------


def test_connected_components_known_graph(spark) -> None:
    """Two chains and an isolated edge: labels = min node per component."""
    from maxscale_cdc_connector_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_direction_invariant(spark) -> None:
    """Edge orientation must not matter (propagation is symmetrized)."""
    from maxscale_cdc_connector_spark.operators.graph import connected_components

    fwd = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    rev = spark.createDataFrame([(3, 2), (2, 1)], "src long, dst long")
    a = sorted(map(tuple, connected_components(fwd).collect()))
    b = sorted(map(tuple, connected_components(rev).collect()))
    assert a == b == [(1, 1), (2, 1), (3, 1)]


def test_connected_components_diameter_cap_raises(spark) -> None:
    """A path longer than max_iters propagation hops must error, not
    silently return split clusters."""
    from maxscale_cdc_connector_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=2)


def test_connected_components_two_phase_log_rounds_on_path(spark) -> None:
    """Star-contraction must converge in O(log n) rounds on a path graph —
    the worst case for min-label propagation (rounds = diameter).

    A 65-node path has diameter 64, yet large-star halves the path
    length per round, so a cap of 8 rounds is enough — with every node
    labeled by the path minimum.
    """
    from maxscale_cdc_connector_spark.operators import graph

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "src long, dst long"
    )
    got = {
        r["node"]: r["component"]
        for r in graph.connected_components(path, max_iters=8).collect()
    }
    assert got == {i: 0 for i in range(65)}
    assert graph.LAST_ROUNDS <= 8, (
        f"two_phase took {graph.LAST_ROUNDS} rounds on a 65-node path"
    )


def test_dedup_cluster_cc_clusters_known_dups(spark, sf_dir) -> None:
    """Every doc's shifted copy (doc_id + 1e6) lands in the doc's own
    cluster, and exactly one member per cluster is canonical."""
    from maxscale_cdc_connector_spark.queries.registry import REGISTRY

    out = REGISTRY["dedup_cluster_cc"].fn(spark, sf_dir).collect()
    comp = {r["doc_id"]: r["cluster_id"] for r in out}
    for doc_id, c in comp.items():
        if doc_id < 1_000_000 and doc_id + 1_000_000 in comp:
            assert comp[doc_id + 1_000_000] == c
    by_cluster: dict[int, int] = {}
    for r in out:
        by_cluster[r["cluster_id"]] = by_cluster.get(r["cluster_id"], 0) + int(
            r["is_canonical"]
        )
        assert r["cluster_id"] <= r["doc_id"]
    assert all(n == 1 for n in by_cluster.values())


# ---------------------------------------------------------------------------
# PCA (operators/pca.py)
# ---------------------------------------------------------------------------


def test_pca_matches_local_numpy(spark, sf_dir) -> None:
    """Distributed moment partials reproduce numpy's eigendecomposition
    of the population covariance (values and |projections|)."""
    import numpy as np

    from maxscale_cdc_connector_spark.operators.pca import pca_fit, project
    from maxscale_cdc_connector_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    vals, comps, mean, n = pca_fit(emb, k=4)
    x = np.asarray(
        [r[0] for r in emb.select("embedding").collect()], dtype=np.float64
    )
    assert n == len(x)
    ref_cov = np.cov(x, rowvar=False, bias=True)
    ref_vals = np.sort(np.linalg.eigvalsh(ref_cov))[::-1][:4]
    np.testing.assert_allclose(vals, ref_vals, rtol=1e-8)
    # variance accounting: sum of ALL eigvals == trace of covariance
    all_vals, _, _, _ = pca_fit(emb, k=x.shape[1])
    np.testing.assert_allclose(all_vals.sum(), np.trace(ref_cov), rtol=1e-8)
    # projections: distributed vs local, identical up to fp noise
    got = {
        r["vec_id"]: list(r["pc"])
        for r in project(emb, comps, mean).select("vec_id", "pc").collect()
    }
    ids = [r[0] for r in emb.select("vec_id").collect()]
    local = (x - mean) @ comps.T
    for i, vid in enumerate(ids):
        np.testing.assert_allclose(got[vid], local[i], atol=1e-9)


def test_pca_deterministic_across_runs(spark, sf_dir) -> None:
    from maxscale_cdc_connector_spark.operators.pca import pca_fit
    from maxscale_cdc_connector_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    v1, c1, m1, _ = pca_fit(emb, k=3)
    v2, c2, m2, _ = pca_fit(emb, k=3)
    assert v1.tolist() == v2.tolist()
    assert c1.tolist() == c2.tolist()
    assert m1.tolist() == m2.tolist()


def test_pca_query_jvm_projection_matches_pandas_path(spark, sf_dir) -> None:
    """The r12 embedding_pca query projects JVM-side (zip_with +
    aggregate, centering folded into a scalar) instead of the generic
    pandas-UDF ``project``. Its left-fold sum order differs from
    NumPy's pairwise dot, so parity is pinned ON THE QUERY'S OWN x1e4
    floor lattice: every coordinate within 1 lattice unit of the
    pandas path and ≥99% exactly equal (drift past that means the
    fast path no longer computes the same projection)."""
    from pyspark.sql import functions as F

    from maxscale_cdc_connector_spark.operators.pca import pca_fit, project
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all
    from maxscale_cdc_connector_spark.session import load_table

    load_all()
    got = {
        r["vec_id"]: (r["pc1_e4"], r["pc2_e4"])
        for r in REGISTRY["embedding_pca"].fn(spark, sf_dir).collect()
    }
    emb = load_table(spark, "embeddings", sf_dir)
    _, comps, mean, _ = pca_fit(emb, k=2)
    ref = {
        r["vec_id"]: (r["pc1_e4"], r["pc2_e4"])
        for r in project(emb, comps, mean)
        .select(
            "vec_id",
            F.floor(F.col("pc")[0] * 1e4).cast("long").alias("pc1_e4"),
            F.floor(F.col("pc")[1] * 1e4).cast("long").alias("pc2_e4"),
        )
        .collect()
    }
    assert set(got) == set(ref)
    exact = 0
    for vid, (a1, a2) in ref.items():
        b1, b2 = got[vid]
        assert abs(b1 - a1) <= 1 and abs(b2 - a2) <= 1, (vid, (a1, a2), (b1, b2))
        exact += (a1, a2) == (b1, b2)
    assert exact >= 0.99 * len(ref)


def test_connected_components_empty_edges(spark) -> None:
    """No edges → empty labeling with the right schema, no errors."""
    from maxscale_cdc_connector_spark.operators.graph import connected_components

    empty = spark.createDataFrame([], "src long, dst long")
    out = connected_components(empty)
    assert out.columns == ["node", "component"]
    assert out.count() == 0


def test_token_budget_sample_is_partitioning_invariant(spark, sf_dir) -> None:
    """The distributed prefix sum must produce the identical admitted set
    and cumulative totals regardless of how the input is partitioned —
    the property that makes it safe to swap cluster sizes."""
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all

    load_all()
    fn = REGISTRY["pipeline_token_budget_sample"].fn
    base = {(r.doc_id, r.n_tokens, r.cum_tokens) for r in fn(spark, sf_dir).collect()}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        skewed = {(r.doc_id, r.n_tokens, r.cum_tokens) for r in fn(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == skewed


# -- product quantization ---------------------------------------------------


def test_pq_duplicate_vectors_share_codes_and_adc_rank(spark, sf_dir) -> None:
    """Identical vectors must encode to identical codes, and ADC search
    with one of them as the query must rank the pair first (distance
    tie broken by vec_id)."""
    from pyspark.sql import functions as F

    from maxscale_cdc_connector_spark.operators.pq import adc_topk, pq_encode, pq_fit
    from maxscale_cdc_connector_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    dup = emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    union = emb.unionByName(dup)
    codebooks, mses = pq_fit(emb, m=8, k=16, iters=3)
    assert mses == sorted(mses, reverse=True), "PQ objective must not increase"
    enc = pq_encode(union, codebooks)
    codes = {r.vec_id: tuple(r.codes) for r in enc.collect()}
    n = emb.count()
    for vid in range(0, n, max(1, n // 37)):
        assert codes[vid] == codes[vid + 100000], vid
    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    top = adc_topk(enc, codebooks, q, k=4).collect()
    assert [top[0].vec_id, top[1].vec_id] == [7, 100007]
    assert top[0].adc_dist2 == top[1].adc_dist2


def test_pq_error_shrinks_with_codebook_size(spark, sf_dir) -> None:
    """More centroids per subspace must not worsen mean reconstruction
    error (k=16 seeds extend the k=4 seed set, so the coarser model's
    optimum is reachable — strict improvement expected on real data)."""
    from pyspark.sql import functions as F

    from maxscale_cdc_connector_spark.operators.pq import pq_encode, pq_fit
    from maxscale_cdc_connector_spark.session import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    err = {}
    for k in (4, 16):
        cbs, _ = pq_fit(emb, m=8, k=k, iters=3)
        err[k] = pq_encode(emb, cbs).agg(F.avg("recon_err")).first()[0]
    assert err[16] < err[4], err


def test_pq_deterministic_across_runs(spark, sf_dir) -> None:
    from maxscale_cdc_connector_spark.queries import REGISTRY

    a = sorted(map(tuple, REGISTRY["embedding_pq_codes"].fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, REGISTRY["embedding_pq_codes"].fn(spark, sf_dir).collect()))
    assert a == b


def test_pq_recon_err_finite_when_vector_equals_centroid(spark) -> None:
    """A vector that IS its own centroid (single-member or duplicate-
    collapsed cluster — routine on dedup-shaped corpora) must encode
    with a finite, non-negative recon_err: |x|²+|c|²−2x·c is ulp-noise
    around 0 there and without the clamp (mirroring kmeans._make_d2)
    sqrt of a negative sum yields NaN."""
    import math

    from maxscale_cdc_connector_spark.operators.pq import pq_encode

    dim, m, k = 16, 8, 2
    base = [math.sin(i + 1) * 10 for i in range(dim)]
    other = [math.cos(i + 1) * 10 for i in range(dim)]
    # 6 exact duplicates of `base`: with k=2 seeds = {base-dup, other},
    # every Lloyd mean over the duplicate cluster is exactly `base`.
    rows = [(j, base) for j in range(6)] + [(6, other)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # Codebooks whose row 0 EQUALS base's subvectors exactly.
    sub = dim // m
    codebooks = [
        [base[j * sub : (j + 1) * sub], other[j * sub : (j + 1) * sub]]
        for j in range(m)
    ]
    out = pq_encode(df, codebooks).collect()
    errs = {r.vec_id: r.recon_err for r in out}
    for j in range(6):
        assert math.isfinite(errs[j]) and errs[j] >= 0.0, errs[j]
        assert errs[j] < 1e-6, errs[j]  # exact-match reconstruction
    assert all(math.isfinite(v) for v in errs.values())
