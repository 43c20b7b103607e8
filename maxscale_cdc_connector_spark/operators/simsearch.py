"""Similarity search over embedding columns.

Three tiers, in ascending scale:

* ``topk_cosine`` — brute-force scan against a broadcast query vector:
  one pass over the table, JVM-side dot products, global top-k via
  ``TakeOrderedAndProject`` (per-partition heaps, no full sort). This is
  the exact baseline and is already the right plan for "one query vector
  against everything" at any scale — it's a single scan.
* ``pairwise_threshold`` — exact all-pairs above a similarity threshold.
  Quadratic by definition; kept for oracle-checkable correctness and
  small/medium tables. The scale path for all-pairs is LSH (see dedup)
  or IVF blocking below.
* ``ivf_topk`` — IVF-style approximate search: vectors are assigned to
  their nearest centroid bucket (the coarse quantizer); a query probes
  only the ``nprobe`` nearest buckets. Deterministic here: centroids are
  a fixed subset of the data (every 40th vector), so results are
  reproducible and testable. At 100 TB the bucket assignment is a
  one-off batch job and the probe is a partition-pruned scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from maxscale_cdc_connector_spark.functions.vectors import dot
from maxscale_cdc_connector_spark.operators.cache import barriers, eager_persist

CENTROID_STRIDE = 40
NPROBE = 3

# Signed-random-projection LSH layout: 16 hyperplane bits per vector,
# banded 2 × 8. One 8-bit band matching ⇒ candidate. For near-dup use
# (cos ≥ 0.99, angle ≤ 0.14 rad) per-band collision ≈ (1 - θ/π)^8 ≈ 0.69,
# two bands ≈ 0.91 recall — and exact duplicates collide with prob 1.
SRP_BITS = 16
SRP_BANDS = 2


def topk_cosine(
    embeddings: DataFrame, query: DataFrame, k: int = 20, id_col: str = "vec_id"
) -> DataFrame:
    """Exact top-k by cosine against a single-row query DataFrame with an
    ``embedding`` column. Embeddings in the test corpus are L2-normalized,
    so cosine ≡ dot product (norms verified in tests)."""
    q = F.broadcast(query.select(F.col("embedding").alias("q_embedding")))
    scored = embeddings.crossJoin(q).select(
        F.col(id_col), dot("embedding", "q_embedding").alias("sim")
    )
    return (
        scored.orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("sim", 5).alias("sim"))
    )


PAIRWISE_BLOCK = 2048  # vectors per GEMM block (~0.5 MB of float32 at d=64)


def _estimated_rows(df: DataFrame, fallback_row_bytes: int = 512) -> int:
    """Catalyst's row-count estimate for ``df`` — NO job is run.

    The optimized plan's statistics carry an exact ``rowCount`` when
    available (e.g. after an aggregate or from analyzed tables) and a
    ``sizeInBytes`` always (parquet file size for scans); divide the
    latter by a conservative per-row byte guess. Callers must tolerate
    an estimate — here it only sizes GEMM blocks, never filters rows.
    """
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return max(1, int(str(rc.get())))
        return max(1, int(str(stats.sizeInBytes())) // fallback_row_bytes)
    except Exception:  # stats API unavailable (e.g. Connect) — one block
        return 1


def pairwise_threshold(
    embeddings: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    block: int = PAIRWISE_BLOCK,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact all-pairs with cosine ≥ tau (upper triangle), via block-GEMM.

    All-pairs is quadratic by definition; what's negotiable is the
    constant. A row-pair join evaluates the dot product one interpreted
    higher-order expression per pair (56 s for 4k vectors at sf0.1); here
    vectors are hashed into ⌈n/B⌉ blocks, block PAIRS are joined (the
    quadratic step, but over ~n/B rows a side), and each block pair runs
    ONE float64 BLAS matmul inside Arrow-batched ``mapInPandas`` — ~2000×
    fewer JVM↔expression transitions for the same arithmetic.

    Block sizing uses Catalyst's plan statistics (or a caller-supplied
    ``n_rows``), NOT an eager ``count()`` — no job runs before the
    mapInPandas action itself, and the emitted pair set is independent
    of the block count, so a rough estimate is safe.

    Pair orientation: ids are hashed into blocks, so a pair's smaller id
    can land in the HIGHER-numbered block. The upper-triangle mask
    (``id_a < id_b``) therefore applies only on the diagonal block —
    where both orientations of a pair appear in one matrix — while
    cross-block pairs are all kept and re-oriented via min/max.

    Bit-exactness: the matmul (reassociated/FMA summation) only NOMINATES
    candidates with a 1e-6 margin below tau; each candidate's similarity
    is then recomputed as the strict left-to-right double fold
    (``cumsum`` over the exact per-element products) — the same value
    ``functions.vectors.dot`` and the DuckDB oracle produce, so swapping
    the execution strategy cannot move the hash.
    """
    import math as _math

    n = n_rows if n_rows is not None else _estimated_rows(embeddings)
    nb = max(1, _math.ceil(n / block))
    packed = (
        embeddings.withColumn("blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)))
        .groupBy("blk")
        .agg(F.collect_list(F.struct(F.col(id_col).alias("id"), "embedding")).alias("vs"))
    )
    block_pairs = (
        packed.select(F.col("blk").alias("bx"), F.col("vs").alias("vs_x"))
        .join(
            packed.select(F.col("blk").alias("by"), F.col("vs").alias("vs_y")),
            F.col("bx") <= F.col("by"),
        )
    )

    def gemm(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for _, row in pdf.iterrows():
                ids_x = np.array([v["id"] for v in row["vs_x"]], dtype=np.int64)
                mx = np.array([v["embedding"] for v in row["vs_x"]], dtype=np.float64)
                ids_y = np.array([v["id"] for v in row["vs_y"]], dtype=np.int64)
                my = np.array([v["embedding"] for v in row["vs_y"]], dtype=np.float64)
                sims = mx @ my.T
                cand = sims >= tau - 1e-6
                if row["bx"] == row["by"]:
                    # Diagonal block: both orientations of every pair are
                    # in this one matrix — keep the upper triangle only.
                    cand &= ids_x[:, None] < ids_y[None, :]
                ai, bi = np.nonzero(cand)
                if len(ai) == 0:
                    continue
                # strict sequential refold of the exact products — the
                # value the Catalyst/DuckDB expression computes
                exact = np.cumsum(mx[ai] * my[bi], axis=1)[:, -1]
                keep = exact >= tau
                ia, ib = ids_x[ai][keep], ids_y[bi][keep]
                # Cross-block pairs arrive in hash order, not id order —
                # restore the upper-triangle orientation explicitly.
                out_a.append(np.minimum(ia, ib))
                out_b.append(np.maximum(ia, ib))
                out_s.append(exact[keep])
            if out_a:
                yield pd.DataFrame(
                    {
                        "vec_a": np.concatenate(out_a),
                        "vec_b": np.concatenate(out_b),
                        "sim": np.concatenate(out_s),
                    }
                )

    scored = block_pairs.mapInPandas(gemm, "vec_a long, vec_b long, sim double")
    return scored.select("vec_a", "vec_b", F.round("sim", 5).alias("sim"))


def knn_graph(
    embeddings: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    block: int = PAIRWISE_BLOCK,
    n_rows: int | None = None,
    overfetch: int = 4,
) -> DataFrame:
    """Exact k-NN graph by cosine: ``(vec_id, neighbor, sim, rank)``.

    THE embedding-curation primitive (near-dup clustering, diversity
    sampling, label propagation all start from it). Distributed shape:

    1. hash vectors into ⌈n/B⌉ blocks (same packing as
       :func:`pairwise_threshold`); join ALL block pairs — each x-block
       must meet every y-block, so the join is the full nb² grid, not
       the triangle;
    2. per block pair, ONE BLAS matmul nominates each x-row's top
       ``k + overfetch`` candidates (the union of per-block top-k
       provably contains the global top-k; the overfetch absorbs
       BLAS-vs-exact ulp reordering at the cut);
    3. nominated sims are recomputed with the strict sequential fold
       (hash-stable, same value as the SQL expression);
    4. a per-``vec_id`` window keeps the global top-k with the
       deterministic (sim DESC, neighbor ASC) order — the shuffled rows
       are O(n · nb · k), never n².

    At 100 TB the exact grid is the wrong tool past ~1M vectors — cap
    the corpus or swap stage 1-2 for the SRP-LSH candidate join
    (:func:`srp_lsh_pairs`) and accept approximate recall; stages 3-4
    are unchanged either way.
    """
    import math as _math

    from pyspark.sql import Window as W

    n = n_rows if n_rows is not None else _estimated_rows(embeddings)
    nb = max(1, _math.ceil(n / block))
    packed = (
        embeddings.withColumn("blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)))
        .groupBy("blk")
        .agg(F.collect_list(F.struct(F.col(id_col).alias("id"), "embedding")).alias("vs"))
    )
    block_pairs = packed.select(
        F.col("blk").alias("bx"), F.col("vs").alias("vs_x")
    ).crossJoin(packed.select(F.col("blk").alias("by"), F.col("vs").alias("vs_y")))
    fetch = k + overfetch

    def gemm_topk(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_x, out_y, out_s = [], [], []
            for _, row in pdf.iterrows():
                ids_x = np.array([v["id"] for v in row["vs_x"]], dtype=np.int64)
                mx = np.array([v["embedding"] for v in row["vs_x"]], dtype=np.float64)
                ids_y = np.array([v["id"] for v in row["vs_y"]], dtype=np.int64)
                my = np.array([v["embedding"] for v in row["vs_y"]], dtype=np.float64)
                sims = mx @ my.T
                if row["bx"] == row["by"]:
                    # No self-edges. Mask by ID, not matrix position: the
                    # two collect_list evaluations need not agree on order.
                    sims[ids_x[:, None] == ids_y[None, :]] = -np.inf
                take = min(fetch, sims.shape[1])
                # argpartition: per-x top-`take` candidates, O(|y|) per row
                cand = np.argpartition(-sims, take - 1, axis=1)[:, :take]
                xi = np.repeat(np.arange(sims.shape[0]), take)
                yi = cand.ravel()
                keep = np.isfinite(sims[xi, yi])
                xi, yi = xi[keep], yi[keep]
                if len(xi) == 0:
                    continue
                # hash-stable refold of the exact products
                exact = np.cumsum(mx[xi] * my[yi], axis=1)[:, -1]
                out_x.append(ids_x[xi])
                out_y.append(ids_y[yi])
                out_s.append(exact)
            if out_x:
                yield pd.DataFrame(
                    {
                        "vec_id": np.concatenate(out_x),
                        "neighbor": np.concatenate(out_y),
                        "sim": np.concatenate(out_s),
                    }
                )

    nominated = block_pairs.mapInPandas(gemm_topk, "vec_id long, neighbor long, sim double")
    w = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        nominated.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "vec_id",
            "neighbor",
            F.round("sim", 5).alias("sim"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def _srp_hyperplanes(dim: int, nbits: int = SRP_BITS, seed: int = 20260813) -> list[list[float]]:
    """Deterministic random hyperplanes (Charikar SRP-LSH). Seeded so
    signatures — and therefore buckets and results — are reproducible
    across runs and partitionings."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((nbits, dim)).tolist()


def srp_signature_bands(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    nbits: int = SRP_BITS,
    bands: int = SRP_BANDS,
) -> DataFrame:
    """(id, embedding, band, bucket) rows: sign-bit signature, banded.

    Each bit is ``dot(embedding, hyperplane_j) >= 0`` — a Catalyst
    higher-order expression, fully codegen'd; the hyperplanes enter the
    plan as literal arrays (16 × dim constants — folded once). No
    shuffle until the candidate join.
    """
    planes = _srp_hyperplanes(dim, nbits)
    bits = [
        F.when(dot("embedding", F.array(*[F.lit(x) for x in h])) >= 0, 1).otherwise(0)
        for h in planes
    ]
    per_band = nbits // bands
    band_vals = [
        F.struct(
            F.lit(j).alias("band"),
            sum(
                (bits[j * per_band + r] * F.lit(1 << r) for r in range(per_band)),
                F.lit(0),
            ).alias("bucket"),
        )
        for j in range(bands)
    ]
    return embeddings.select(
        F.col(id_col), F.col("embedding"), F.explode(F.array(*band_vals)).alias("b")
    ).select(id_col, "embedding", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket"))


def srp_lsh_pairs(
    embeddings: DataFrame,
    tau: float,
    dim: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Sub-quadratic near-dup pairs: SRP-LSH candidates + exact verify.

    The scale path replacing the exact all-pairs cross join: candidates
    are the pairs sharing an (band, bucket) cell — an equi-join whose
    cost tracks bucket occupancy, not n² — then every candidate is
    verified with the exact dot product, so precision is exact; only
    recall is approximate (identical vectors always collide).
    """
    # eager_persist: both self-join sides read this in one action — a
    # lazy cache is a concurrent-stage population race under AQE (see
    # cache.eager_persist).
    with barriers() as hold:
        banded = hold(eager_persist(srp_signature_bands(embeddings, dim, id_col)))
        a = banded.select(
            F.col(id_col).alias("vec_a"), F.col("embedding").alias("emb_a"), "band", "bucket"
        )
        b = banded.select(
            F.col(id_col).alias("vec_b"), F.col("embedding").alias("emb_b"), "band", "bucket"
        )
        cand = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", "emb_a", "emb_b")
            .distinct()
        )
        scored = cand.select("vec_a", "vec_b", dot("emb_a", "emb_b").alias("sim"))
        verified = scored.filter(F.col("sim") >= tau).select(
            "vec_a", "vec_b", F.round("sim", 5).alias("sim")
        )
        # Materialize the (small) verified-pair result; the scope then
        # releases the barrier.
        return verified.localCheckpoint(eager=True)


def _centroids(embeddings: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Deterministic coarse quantizer: every CENTROID_STRIDE-th vector."""
    return embeddings.filter(F.col(id_col) % CENTROID_STRIDE == 0).select(
        F.col(id_col).alias("cid"), F.col("embedding").alias("c_embedding")
    )


def assign_buckets(embeddings: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Nearest-centroid bucket per vector: broadcast the (small) centroid
    set, argmax dot via max_by — one scan, no shuffle of the vectors."""
    cents = F.broadcast(_centroids(embeddings, id_col))
    scored = embeddings.crossJoin(cents).select(
        F.col(id_col),
        F.col("embedding"),
        F.col("cid"),
        dot("embedding", "c_embedding").alias("sim"),
    )
    return scored.groupBy(id_col).agg(
        F.max_by("cid", F.struct(F.col("sim"), -F.col("cid"))).alias("bucket"),
        F.first("embedding").alias("embedding"),
    )


def ivf_topk(
    embeddings: DataFrame, query: DataFrame, k: int = 20, id_col: str = "vec_id"
) -> DataFrame:
    """Approximate top-k: probe only the NPROBE buckets nearest the query.

    The deterministic tiebreak (higher sim, then lower cid) makes the
    probe set — and therefore the result — reproducible.
    """
    cents = F.broadcast(_centroids(embeddings, id_col))
    q = F.broadcast(query.select(F.col("embedding").alias("q_embedding")))
    probe = (
        cents.crossJoin(q)
        .select("cid", dot("c_embedding", "q_embedding").alias("sim"))
        .orderBy(F.desc("sim"), F.asc("cid"))
        .limit(NPROBE)
        .select("cid")
    )
    bucketed = assign_buckets(embeddings, id_col)
    candidates = bucketed.join(
        F.broadcast(probe), bucketed.bucket == probe.cid, "left_semi"
    )
    scored = candidates.crossJoin(q).select(
        F.col(id_col), dot("embedding", "q_embedding").alias("sim")
    )
    return (
        scored.orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("sim", 5).alias("sim"))
    )


def ivf_kmeans_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    n_clusters: int = 8,
    nprobe: int = 3,
    train_iters: int = 3,
) -> DataFrame:
    """IVF top-k with a LEARNED coarse quantizer (Lloyd k-means).

    The strided-sample quantizer (``ivf_topk``) buckets by arbitrary
    corpus vectors; training the centroids instead (operators/kmeans)
    shapes buckets to the data distribution, which is what recovers
    recall at a fixed nprobe on real embedding corpora. Probe selection
    runs on the driver in NumPy — the centroid matrix IS driver-held
    model state, so no join is needed to pick buckets; the corpus-side
    plan is one assignment scan (vectorized pandas UDF) + an isin filter
    + TakeOrderedAndProject. At production scale, assignment is computed
    once at ingest and stored as a bucket column, turning each query
    into a partition-pruned scan of nprobe buckets.
    """
    import numpy as np

    from maxscale_cdc_connector_spark.operators.kmeans import (
        assign_clusters,
        kmeans_fit,
    )

    assigned, centroids, _ = kmeans_fit(
        embeddings, vec_col="embedding", id_col=id_col,
        k=n_clusters, iters=train_iters,
    )
    qv = np.asarray(query.select("embedding").head()[0], dtype=np.float64)
    cmat = np.asarray(centroids, dtype=np.float64)
    sims = cmat @ qv
    # Deterministic probe order: higher sim first, lower cluster id on ties.
    probe = sorted(range(len(sims)), key=lambda j: (-sims[j], j))[:nprobe]
    q = F.broadcast(query.select(F.col("embedding").alias("q_embedding")))
    return (
        assigned.filter(F.col("cluster").isin(probe))
        .crossJoin(q)
        .select(F.col(id_col), dot("embedding", "q_embedding").alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("sim", 5).alias("sim"))
    )


def knn_graph_lsh(
    embeddings: DataFrame, k: int, dim: int, id_col: str = "vec_id"
) -> DataFrame:
    """Approximate k-NN graph from SRP-LSH candidate buckets — the
    documented scale substitution for :func:`knn_graph` past ~1M
    vectors, where even blocked BLAS nomination's n² arithmetic stops
    being payable.

    Candidates are pairs sharing any (band, bucket) cell (equi-join,
    cost tracks bucket occupancy); every candidate is scored with the
    EXACT dot product and each vector keeps its top-k by (sim DESC,
    id). Precision is exact — every emitted edge carries its true
    cosine; only recall is approximate (a true neighbor landing in no
    shared bucket is missed, and a vector with fewer than k candidates
    emits fewer than k edges). Identical vectors collide in every band,
    so duplicate edges have recall 1 — pinned by test, as is a recall
    floor against the exact graph.
    """
    # eager_persist: both self-join sides read this in one action (see
    # cache.eager_persist for the AQE cache-population race).
    with barriers() as hold:
        banded = hold(eager_persist(srp_signature_bands(embeddings, dim, id_col)))
        a = banded.select(
            F.col(id_col).alias("vec_id"), F.col("embedding").alias("emb_a"), "band", "bucket"
        )
        b = banded.select(
            F.col(id_col).alias("nbr_id"), F.col("embedding").alias("emb_b"), "band", "bucket"
        )
        cand = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("vec_id") != F.col("nbr_id"))
            .select("vec_id", "nbr_id", "emb_a", "emb_b")
            .distinct()
        )
        scored = cand.select("vec_id", "nbr_id", dot("emb_a", "emb_b").alias("sim"))
        w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nbr_id"))
        out = (
            scored.withColumn("nn_rank", F.row_number().over(w))
            .where(F.col("nn_rank") <= k)
            .select("vec_id", "nbr_id", F.col("nn_rank").cast("bigint").alias("nn_rank"),
                    F.round("sim", 5).alias("sim"))
        )
        return out.localCheckpoint(eager=True)
