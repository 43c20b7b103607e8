"""Connected components over an edge DataFrame — the dup-cluster step a
training-data pipeline runs after near-dup pair detection (MinHash/LSH
pairs say "A ~ B"; components say "this whole set is one document",
so one canonical copy is kept and the rest dropped).

The algorithm is alternating large-star / small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14), pure DataFrame join/groupBy shuffled on the node key so
successive rounds reuse the same hash partitioning. It converges in
O(log^2 n) rounds worst-case, ~log n in practice, INDEPENDENT of graph
diameter — at 100 TB a single long path would stall a label
propagation.

Every iterative operator with a convergence test (connected
components, the k-core peel, the ancestor closure) runs its rounds
through one loop, :func:`_fixpoint`. Round ``n`` builds
``nxt = step(cur)`` behind a LAZY ``localCheckpoint`` (it truncates
the logical plan, keeping Catalyst analysis cost constant across
rounds — an unbounded iterative join plan grows exponentially) and
calls ``stop(cur, nxt, n)``, which runs the round's ONE action: the
convergence signature, whose job also materializes ``nxt``'s blocks.
``cur`` is released only after ``stop`` returns; on any exit but the
fixed point — ``stop`` raising, or the round budget spent — every
frame the loop still holds is released. :func:`pagerank` has no
convergence test: its fixed-count loop runs inside
:func:`~maxscale_cdc_connector_spark.operators.cache.barriers`.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from maxscale_cdc_connector_spark.operators.cache import barriers, release

__all__ = ["connected_components"]

# Convergence telemetry: rounds taken by the most recent
# connected_components call in this process. A pathological corpus
# (adversarial chain structure, LSH bucket blowup) shows up as a rising
# round count long before it becomes a timeout — bench.py exports this
# as ``cc_rounds`` so the number is recorded per round, not guessed.
LAST_ROUNDS: int | None = None


def _plan_is_materialized(df: DataFrame) -> bool | None:
    """Best-effort: does ``df``'s plan bottom out ONLY in
    already-materialized relations — ``LogicalRDD`` (a checkpoint),
    a POPULATED ``InMemoryRelation`` (a cached frame whose column
    buffers are fully loaded), or ``LocalRelation``/``OneRowRelation``
    (literal driver-local data, trivially consistent across reading
    branches)?

    ``InMemoryRelation`` alone is not enough (ADVICE r13): a lazy
    never-populated ``.persist()`` over a nondeterministic plan still
    computes the underlying plan independently per concurrent reading
    branch until some action populates the cache — exactly the
    inconsistent-graph-view hazard this guard exists to catch. So the
    cache builder's ``isCachedColumnBuffersLoaded`` must also be true
    (all partitions resident). Scope limit: Spark MEMOIZES that flag
    once the cache has been fully loaded ONCE (CachedRDDBuilder keeps
    a loaded-latch; verified against the Spark 4.1.2 jar), so a LATER
    eviction — executor loss after population — is NOT detected here.
    Post-population block loss keeps a (narrower) divergence risk for
    nondeterministic plans — concurrent branches racing to recompute a
    lost partition — but it is undetectable through this API and, under
    the default MEMORY_AND_DISK level, requires executor loss rather
    than memory pressure; deployments where that matters should
    ``localCheckpoint``/``checkpoint`` instead of persist (the eager
    checkpoint every in-repo pair operator returns).

    Walks the optimized plan's leaves via the py4j bridge (the optimized
    plan is the one with cache substitution applied). Returns ``None``
    when the private plan/cache API is unavailable (Spark Connect,
    future Spark) — callers must treat ``None`` as "cannot check",
    never as a verdict either way.
    """
    try:
        # A Dataset MEMOIZES its QueryExecution: if the caller walked
        # this exact frame's plan before persisting/counting it, the
        # memoized optimized plan predates cache substitution and would
        # misreport forever. A fresh select("*") is a new Dataset with a
        # fresh QueryExecution (the optimizer collapses the projection,
        # leaving the leaves untouched), so the check always sees the
        # CURRENT cache state.
        fresh = df.select("*")
        leaves = fresh._jdf.queryExecution().optimizedPlan().collectLeaves()
        n = leaves.size()
        if n == 0:
            return False
        for i in range(n):
            leaf = leaves.apply(i)
            name = leaf.nodeName()
            if name in ("LogicalRDD", "LocalRelation", "OneRowRelation"):
                continue
            if name == "InMemoryRelation":
                if not leaf.cacheBuilder().isCachedColumnBuffersLoaded():
                    return False
                continue
            return False
        return True
    except Exception:
        return None


def _require_materialized(df: DataFrame, flag: str) -> None:
    """Raise ``ValueError`` when ``flag=True`` skipped an operator's own
    up-front checkpoint but ``df``'s plan is detectably lazy (see
    :func:`_plan_is_materialized`; skipped when the plan API is
    unreachable)."""
    if _plan_is_materialized(df) is False:
        raise ValueError(
            f"{flag}=True but the edges plan does not bottom out in a "
            "LogicalRDD or a POPULATED InMemoryRelation — pass a "
            "localCheckpoint/eager_persist result (a lazy unpopulated "
            "persist() does not count), or drop the flag"
        )


def _fixpoint(
    frame: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    stop: Callable[[DataFrame, DataFrame, int], bool],
    max_rounds: int,
    what: str,
) -> tuple[DataFrame, int]:
    """Iterate ``cur -> step(cur)`` from ``frame`` to a fixed point;
    returns ``(frame at the fixed point, rounds run)``.

    Round ``n`` builds ``nxt = step(cur).localCheckpoint(eager=False)``
    and calls ``stop(cur, nxt, n)``: it runs the round's single action
    (which materializes ``nxt``'s blocks in the same job) and returns
    True at the fixed point, or raises. ``cur`` is released only after
    ``stop`` returns — its blocks are the only copy and ``stop`` may
    still read them. ``frame`` is the loop's from the call on: every
    frame it still holds is released when ``stop`` or ``step`` raises,
    and a ``RuntimeError`` is raised, with everything released, when
    ``max_rounds`` rounds pass without a fixed point. Only the returned
    frame survives; the caller owns it.
    """
    live = [frame]
    try:
        for n in range(1, max_rounds + 1):
            live.append(step(live[0]).localCheckpoint(eager=False))
            done = stop(live[0], live[1], n)
            release(live.pop(0))
            if done:
                return live.pop(), n
        raise RuntimeError(f"{what} did not converge in {max_rounds} rounds")
    finally:
        release(*live)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 25,
    input_materialized: bool = False,
    input_strict_pairs: bool = False,
) -> DataFrame:
    """Label each node with the smallest node id in its component.

    ``edges`` is undirected input (each pair listed once suffices).
    Returns ``(node, component)``; only nodes appearing in ``edges`` are
    labeled (isolated nodes have no edges to say they exist). The round
    count of the last call in this process is left in ``LAST_ROUNDS``.

    Raises ``RuntimeError`` if not converged within ``max_iters``
    rounds — a silently partial labeling would split clusters.

    The input edge plan is materialized ONCE up front (eager
    ``localCheckpoint``): the algorithm reads it from multiple branches
    (node extraction + canonicalization), and a typical caller hands in
    an expensive upstream pipeline (the LSH/Jaccard pair join) that must
    not be re-executed per branch.

    ``input_materialized=True`` skips that up-front checkpoint (and its
    block release — the caller owns its own blocks): pass it ONLY when
    ``edges`` is already materialized (an eager checkpoint, such as the
    pair operators return, optionally behind a pure projection), where the
    extra copy is a wasted job. Passing it with a lazy plan is not just
    a recompute-cost bug — it is a CORRECTNESS hazard: the algorithm
    reads ``edges`` from multiple branches (node extraction,
    canonicalization), and a lazy nondeterministic plan (sampling,
    ``rand()``, a changed-underneath source) evaluates independently
    per branch, so nodes and the canonical edge set can come from
    DIFFERENT graph views and the component labels are wrong.
    The flag is therefore guarded: when the plan API is reachable, a
    detectably-lazy input raises ``ValueError`` instead of silently
    mislabeling (best-effort — on Spark Connect the check is skipped).

    ``input_strict_pairs=True`` (r17) asserts the input rows are
    DISTINCT pairs with ``src != dst`` on every row — exactly
    what the dedup pair pipelines emit (``jaccard_pairs_prefix`` /
    ``minhash_dedup_pairs``: a distinct candidate set with
    ``doc_a < doc_b`` strictly). Two per-call savings, both exact under
    the contract:

    - canonicalization is a pure projection (the ``!=`` filter and the
      ``distinct`` exchange are skipped);
    - labels come straight from the fixpoint star set — non-roots are
      exactly the ``a`` side, roots exactly the distinct ``b`` side
      (every input node sits in a component of size >= 2 because no row
      is a self-loop, so no node is missing from the stars) — instead
      of a node-extraction distinct plus a left join.

    Contract violations degrade differently: DUPLICATE pairs only cost
    an extra round (the set signature counts rows, so a multiset never
    compares equal to its distinct image — convergence is detected one
    round later on the already-distinct sets, labels unaffected);
    SELF-LOOP rows are silently dropped by the first large-star, so a
    node whose only edges were self-loops would vanish from the output
    — which is why the flag demands ``src != dst`` rather than checking
    it at runtime (the check would cost the exact filter it removes).
    """
    pruned = edges.select(F.col(src), F.col(dst))
    if input_materialized:
        _require_materialized(pruned, "input_materialized")
    edges0 = pruned if input_materialized else pruned.localCheckpoint(eager=True)
    try:
        out, rounds = _two_phase(
            edges0, src, dst, max_iters,
            nodes_lazy=input_materialized,
            strict_pairs=input_strict_pairs,
        )
        global LAST_ROUNDS
        LAST_ROUNDS = rounds
        return out
    finally:
        # The result's lineage stops at its own checkpoints (nodes and
        # the fixpoint star set), so the input blocks can be freed as
        # soon as _two_phase has materialized them. Only the checkpoint
        # created HERE is freed — a caller-owned input stays the
        # caller's to release.
        if not input_materialized:
            release(edges0)


def _two_phase(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iters: int,
    nodes_lazy: bool = False,
    strict_pairs: bool = False,
) -> tuple[DataFrame, int]:
    """Alternating large-star / small-star contraction; returns
    ``(labels, rounds)``.

    Invariant: ``e`` holds canonical directed edges ``(u, v)`` with
    ``v < u`` (every node points toward a smaller one). Each round:

    - large-star: every node ``x`` computes ``m = min(N(x) ∪ {x})`` over
      the symmetrized edges and re-parents its LARGER neighbors onto
      ``m`` — long paths fold in half.
    - small-star: on the re-canonicalized edges, every node re-parents
      its smaller-or-equal neighbors (and itself) onto its minimum —
      flattening partial stars.

    Fixed point = the edge set is a union of stars ``(u → component
    min)``; reached in O(log^2 n) rounds worst case (SoCC'14, Thm 2),
    diameter-independent. Each phase is one groupBy + one equi-join on
    the node key plus a distinct — all shuffles on the same key.
    """
    from pyspark.sql import Window

    a, b = "a", "b"
    # canonical (u > v), self-loops dropped (nodes frame keeps them alive).
    # LAZY checkpoint: the initial signature below materializes the
    # blocks in the SAME job that returns it — an eager checkpoint
    # would pay a separate materialization job per frame (the r15 form:
    # 2 jobs per round; now 1). Under ``strict_pairs`` the input is
    # already a distinct self-loop-free pair set, so canonicalization is
    # a pure projection — the filter and the distinct exchange vanish.
    e = edges.select(
        F.greatest(F.col(src), F.col(dst)).alias(a),
        F.least(F.col(src), F.col(dst)).alias(b),
    )
    if not strict_pairs:
        # The distinct must be materialized once (lazy ckpt, populated
        # by the initial signature job) — multiple readers of a lazy
        # unmaterialized plan would recompute the exchange per branch.
        e = e.where(F.col(a) != F.col(b)).distinct().localCheckpoint(eager=False)
    # Set signature of a (distinct) edge set — ALSO the job that
    # populates the frame's lazy checkpoint blocks (the aggregation runs
    # every partition, so the checkpoint is fully materialized when it
    # returns). bit_xor of a 64-bit row hash is order-independent and
    # overflow-free; it gates (never replaces) the exact exceptAll
    # confirmation below.
    sig_cols = [
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({a}, {b}))").alias("x"),
    ]
    win = Window.partitionBy(a)

    def star(e: DataFrame) -> DataFrame:
        # ---- large-star over symmetrized edges ----
        # m = min(N(x) ∪ {x}) via a window min — ONE exchange on the
        # node key (the groupBy+re-join form shuffles sym twice).
        sym = e.union(e.select(F.col(b).alias(a), F.col(a).alias(b)))
        large = (
            sym.withColumn("m", F.least(F.col(a), F.min(b).over(win)))
            .where(F.col(b) > F.col(a))
            # emit (bigger neighbor -> star min); m <= a < b keeps the
            # (u > v) canonical orientation with no self-loops.
            # Duplicate emissions are NOT collapsed here — the
            # small-star window min is multiplicity-blind and the
            # round's final distinct dedups once, saving an exchange.
            .select(F.col(b).alias(a), F.col("m").alias(b))
        )
        # ---- small-star ----
        # Per group a with minimum m: every row emits its (b -> m)
        # re-parenting (when b != m) AND the group's own (a -> m)
        # star edge; the trailing distinct collapses the per-row
        # (a -> m) copies. Identical output to the join+union form
        # with one exchange instead of three.
        emit = F.array(
            F.when(
                F.col(b) != F.col("m"),
                F.struct(F.col(b).alias(a), F.col("m").alias(b)),
            ),
            F.struct(F.col(a).alias(a), F.col("m").alias(b)),
        )
        return (
            large.withColumn("m", F.min(b).over(win))
            .select(F.explode(emit).alias("s"))
            .where(F.col("s").isNotNull())
            .select(F.col(f"s.{a}").alias(a), F.col(f"s.{b}").alias(b))
            .distinct()
        )

    # Under strict_pairs, e is a pure projection over the caller's
    # already-materialized blocks (no checkpoint of its own), so the
    # standalone initial-signature job is skipped: round 1 computes
    # BOTH signatures in one tagged-union aggregate (r17 — one job
    # + its driver gap saved per call; re-reading the cheap
    # projection inside that job costs only a block re-decode).
    # In the default mode the distinct is materialized alone first.
    sig = None if strict_pairs else tuple(e.agg(*sig_cols).collect()[0])

    def stop(cur: DataFrame, nxt: DataFrame, n: int) -> bool:
        nonlocal sig
        # fixed point: equal sets. The (count, xor-hash) signature
        # doubles as the round's checkpoint-materialization job;
        # only a signature match triggers the exact exceptAll
        # confirmation (both sides distinct, so count match + empty
        # one-sided difference suffices).
        if sig is None:
            # strict_pairs round 1: both signatures in ONE job via a
            # tagged union (cur re-read as a cheap projection).
            rows = (
                cur.select(F.col(a), F.col(b), F.lit(0).alias("t"))
                .union(nxt.select(F.col(a), F.col(b), F.lit(1).alias("t")))
                .groupBy("t")
                .agg(*sig_cols)
                .collect()
            )
            by_t = {r["t"]: (r["n"], r["x"]) for r in rows}
            # A tag can be absent only for an EMPTY side (groupBy
            # drops empty groups): canonicalize to (0, None).
            sig = by_t.get(0, (0, None))
            nxt_sig = by_t.get(1, (0, None))
        else:
            nxt_sig = tuple(nxt.agg(*sig_cols).collect()[0])
        if nxt_sig == sig and nxt.exceptAll(cur).isEmpty():
            return True
        sig = nxt_sig
        return False

    e, rounds = _fixpoint(e, star, stop, max_iters, "connected_components")
    if strict_pairs:
        # The fixpoint edge set IS the labeling: one distinct
        # (non-root -> component min) row per non-root, and the
        # distinct b side is exactly the component minima labeling
        # themselves. No join, no node-extraction distinct.
        labels = e.select(
            F.col(a).alias("node"), F.col(b).alias("component")
        ).union(
            e.select(F.col(b).alias("node"), F.col(b).alias("component"))
            .distinct()
        )
        return labels, rounds
    # Taken only after convergence, so a failed call leaves no nodes
    # checkpoint behind. Eager by default: the returned ``labels`` frame
    # reads ``nodes`` lazily, after the dispatcher has already freed the
    # input-edge blocks — a lazy plan here would try to recompute from
    # truncated lineage. With ``nodes_lazy`` (caller-owned,
    # already-materialized input: the dispatcher frees nothing) the
    # checkpoint job is skipped outright and the node extraction folds
    # into the caller's final action over the input's stable blocks.
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    if not nodes_lazy:
        nodes = nodes.localCheckpoint(eager=True)
    # stars: every non-root points straight at its component min;
    # nodes absent from the star map (isolated / self-loop-only) are
    # their own component.
    labels = (
        nodes.join(e, nodes.node == e.a, "left")
        .select("node", F.coalesce(F.col(b), F.col("node")).alias("component"))
    )
    return labels, rounds


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    input_strict_pairs: bool = False,
) -> DataFrame:
    """Global triangle census of an undirected graph: one row with
    ``(n_nodes, n_edges, n_wedges, n_triangles, clustering)``.

    Degree-ordered node-iterator (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW'11): orient every
    edge from its lower-(degree, id) endpoint to the higher one, form
    wedges only from each node's OUT-edges, and close them against the
    canonical edge set. The orientation caps every node's out-degree at
    O(sqrt(m)), so wedge volume is O(m^1.5) worst-case instead of
    sum-of-degrees-squared — the whole point at 100 TB, where one hub
    node would otherwise emit a quadratic wedge blowup through a single
    reducer. All steps are keyed joins/groupBys; the only driver-side
    values are the five scalar outputs.

    ``clustering`` is the global coefficient 3·triangles / wedges
    (rounded 6dp; NULL on a wedge-free graph).
    """
    # Eager checkpoint: the edge set feeds four branches (degree, both
    # orientation joins, the wedge-closing semi-join) and typically
    # carries an expensive upstream pair pipeline; blocks are reclaimed
    # by the ContextCleaner once the caller's action completes.
    #
    # ``input_strict_pairs`` (r17, same contract as connected_components):
    # the caller asserts the input is an ALREADY-MATERIALIZED distinct
    # pair set with src != dst on every row (the eager checkpoint from
    # the jaccard/minhash pipelines). Canonicalization is then a pure
    # projection over the caller's blocks — the filter, the distinct
    # exchange and the extra eager-checkpoint job all vanish; each branch
    # re-reads the cheap projection instead.
    e = edges.select(
        F.least(F.col(src), F.col(dst)).alias("u"),
        F.greatest(F.col(src), F.col(dst)).alias("v"),
    )
    if input_strict_pairs:
        _require_materialized(e, "input_strict_pairs")
    else:
        e = e.where(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=True)
    sym = e.select(F.col("u").alias("node")).union(e.select(F.col("v").alias("node")))
    # Eager checkpoint: deg fans out into both orientation joins and the
    # node census — left lazy, each branch recomputed the sym scan + the
    # node aggregate from scratch (the r15 plan carried five copies of
    # this subtree). Checkpoint (not persist) keeps the downstream plan
    # lazy/visible and the blocks ContextCleaner-owned, like ``e``.
    deg = (
        sym.groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    # acyclic total orientation: lower (deg, id) -> higher (deg, id)
    lower_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("o_src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("o_dst"),
        )
    )
    # Wedge generation row-local over per-node OUT-adjacency arrays:
    # one (o_src)-keyed exchange replaces the o1 ⋈ o2 self-join (which
    # re-derived the whole orientation subtree — including both degree
    # joins — once per side). The orientation caps out-degree at
    # O(sqrt(m)), so each array is bounded and the nested transform
    # emits exactly the (x < y) out-neighbor pairs of the self-join,
    # with multiplicity one row per wedge.
    pair_arr = F.flatten(
        F.transform(
            "nbrs",
            lambda x, i: F.transform(
                F.slice(
                    "nbrs",
                    i + F.lit(2),
                    F.greatest(F.size("nbrs") - i - F.lit(1), F.lit(0)),
                ),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )
    wedges = (
        oriented.groupBy("o_src")
        .agg(F.sort_array(F.collect_list("o_dst")).alias("nbrs"))
        .select(F.explode(pair_arr).alias("w"))
        .select(F.col("w.x").alias("x"), F.col("w.y").alias("y"))
    )
    closed = wedges.join(
        e, (wedges.x == e.u) & (wedges.y == e.v), "left_semi"
    )
    n_tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) DIV 2")).alias("n_wedges"),
    )
    return (
        node_stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank by power iteration: ``(node, rank)``.

    Standard formulation on a DIRECTED edge list with a ``weight``
    column (pass each undirected edge in both orientations):
    out-strength-normalized contributions flow along edges each round,
    ``rank = (1 - d)/n + d * sum(in-contribs)`` (nodes with no in-edges
    keep the teleport mass). The per-iteration plan is one equi-join on
    the source key + one groupBy on the destination key — the same
    partitioning both times, so a cluster co-locates them; lineage is
    cut with an eager localCheckpoint per round (the same bounded-plan
    discipline as :func:`connected_components`). Driver holds nothing
    but the loop counter; state is one (node, rank) frame of |V| rows.

    Dangling nodes (out-strength 0) are not supported — the co-purchase
    graphs this engine builds are symmetric, so none exist; the
    contract is ENFORCED (one anti-join count up front, r9 review: the
    docstring used to promise an assertion that did not exist, and
    dangling input silently deflated every rank).
    """
    # Every frame but the returned ranks is held, so a raise (the
    # dangling check, a failed job) frees them too; the result is an
    # eager checkpoint with self-contained blocks.
    with barriers() as hold:
        # Eager checkpoint (r9 review): `nodes` feeds the count, the rank
        # init, the dangling check, and every iteration's left join — an
        # expensive upstream edge pipeline would otherwise re-execute
        # ~iters+3 times.
        nodes = hold(
            edges.select(F.col(src).alias("node"))
            .unionByName(edges.select(F.col(dst).alias("node")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_nodes = nodes.count()
        if n_nodes == 0:
            # Empty graph: empty (node, rank) result, not ZeroDivisionError
            # (a local frame: `nodes` is released on return).
            return edges.sparkSession.createDataFrame(
                [], nodes.schema.add("rank", "double")
            )
        out_w = edges.groupBy(F.col(src).alias("node")).agg(
            F.sum("weight").alias("out_w")
        )
        n_dangling = nodes.join(out_w, "node", "left_anti").count()
        if n_dangling:
            raise ValueError(
                f"pagerank requires every node to have out-edges; "
                f"{n_dangling} dangling node(s) found — pass each undirected "
                "edge in both orientations, or drop sink nodes first "
                "(their missing redistribution would silently deflate "
                "every rank)"
            )
        norm = hold(
            edges.join(out_w, edges[src] == out_w.node)
            .select(
                F.col(src).alias("e_src"),
                F.col(dst).alias("e_dst"),
                (F.col("weight") / F.col("out_w")).alias("p"),
            )
            .localCheckpoint(eager=True)
        )
        ranks = nodes.select(
            "node", F.lit(1.0 / n_nodes).alias("rank")
        ).localCheckpoint(eager=True)
        teleport = (1.0 - damping) / n_nodes
        for _ in range(iters):
            prev = hold(ranks)
            contribs = (
                norm.join(prev, norm.e_src == prev.node)
                .groupBy(F.col("e_dst").alias("node"))
                .agg(F.sum(F.col("p") * F.col("rank")).alias("inflow"))
            )
            ranks = (
                nodes.join(contribs, "node", "left")
                .select(
                    "node",
                    (
                        F.lit(teleport)
                        + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                    ).alias("rank"),
                )
                .localCheckpoint(eager=True)
            )
            # Superseded now, not at scope exit: one |V| frame live.
            release(prev)
        return ranks


def kcore(
    edges: DataFrame,
    k: int,
    *,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> tuple[DataFrame, DataFrame, int]:
    """The k-core of an undirected graph: the maximal subgraph where
    every node has degree >= k (Seidman 1983 — the standard "peel the
    fringe" densification step before community/cohesion analysis; on a
    dup-pair graph the 2-core separates genuine mirror cliques from
    incidental single-edge matches).

    Iterative peeling as pure DataFrame ops: per round one node-keyed
    degree aggregate and two semi-joins pruning edges whose endpoint
    fell under k. Rounds = peel depth (<= longest chain of cascading
    removals); each round ``localCheckpoint``s the shrinking edge set so
    plan size stays constant and every shuffle keys on the node id.
    Returns (core_nodes, core_edges, rounds); raises after
    ``max_rounds`` (a peel deeper than that signals a pathological
    near-threshold graph — raise the cap explicitly if intended).
    """
    # Canonicalize the undirected edge (r9 review): input carrying both
    # orientations — or reversed duplicates — would otherwise survive
    # .distinct() as two rows, double-count every degree, and report a
    # too-large core (connected_components/triangle_stats already
    # canonicalize; this peel must too).
    # Lazy checkpoint + count in one job (the merge _fixpoint's rounds make).
    cur = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Edge count per shrinking round; the peel depth is len(sizes) - 1.
    sizes = [cur.count()]

    def peel(cur: DataFrame) -> DataFrame:
        sym = cur.select("a", "b").unionAll(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("a")
        return (
            cur.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            .select("a", "b")
        )

    def stop(cur: DataFrame, nxt: DataFrame, n: int) -> bool:
        m = nxt.count()
        if m == sizes[-1]:
            return True
        sizes.append(m)
        # The budget is max_rounds peel rounds plus the no-change round
        # that confirms the core; a round that peels the graph empty
        # needs no confirmation but is still a peel round.
        return m == 0 and n <= max_rounds

    if sizes[0]:
        cur, _ = _fixpoint(
            cur, peel, stop, max_rounds + 1, f"k-core peel (max_rounds={max_rounds})"
        )
    rounds = len(sizes) - 1
    nodes = (
        cur.select(F.col("a").alias("node"))
        .unionAll(cur.select(F.col("b").alias("node")))
        .distinct()
    )
    return nodes, cur.select(F.col("a").alias(src), F.col("b").alias(dst)), rounds


def ancestor_closure(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_depth: int = 64,
    input_distinct: bool = False,
) -> DataFrame:
    """Transitive ancestor closure of a forest by POINTER DOUBLING —
    the distributed replacement for SQL's ``WITH RECURSIVE`` hierarchy
    walk (Spark has no recursive CTE).

    Round k holds every (desc, anc) pair at distance <= 2^k, so a
    hierarchy of depth d closes in ceil(log2(d)) self-joins — 64-deep
    org charts / BOM trees take 6 rounds, not 64 (a naive
    frontier-extension loop is one shuffle PER LEVEL and its lineage
    grows linearly). Each round: one equi-join on the meet node and a
    distinct, both keyed on the same column; localCheckpoint bounds
    the plan exactly like :func:`connected_components`.

    Returns (desc, anc, dist) with dist >= 1 (proper ancestors only).
    Output size is sum of node depths — the same rows a recursive CTE
    materializes, but produced in logarithmic rounds.
    """
    # Lazy checkpoint: the count() below materializes the blocks in the
    # same job (the merge _fixpoint's rounds make — one job per frame
    # instead of two).
    #
    # (r17 note: an explicit repartition-by-desc before the dedup — to
    # make next round's hop side exchange-free via the checkpoint's
    # preserved partitioning — was tried and REVERTED: pinning the
    # partition count disables AQE's coalescing of these tiny per-round
    # shuffles, and the extra 32-task stages cost more than the saved
    # exchange. The AQE-coalesced exchange is the right default at both
    # scales.)
    # ``input_distinct`` (r17): the caller asserts one row per (child,
    # parent) pair — a forest's parent-pointer table is distinct by
    # construction — so the initial dedup exchange is skipped. Duplicate
    # rows under a violated contract would only repeat identical
    # (desc, anc, dist) rows into round 1, whose groupBy dedups them;
    # the only effect would be a wrong initial pair count (one extra round,
    # never a wrong closure).
    cur = edges.select(
        F.col(child).alias("desc"), F.col(parent).alias("anc"),
        F.lit(1).cast("bigint").alias("dist"),
    )
    if not input_distinct:
        cur = cur.distinct()
    cur = cur.localCheckpoint(eager=False)
    # Pair count after the latest round (monotone; equality is the
    # fixpoint).
    n_pairs = cur.count()

    def double(cur: DataFrame) -> DataFrame:
        hop = cur.select(
            F.col("desc").alias("meet"), F.col("anc").alias("anc2"),
            F.col("dist").alias("dist2"),
        )
        doubled = (
            cur.join(hop, cur["anc"] == hop["meet"])
            .select("desc", F.col("anc2").alias("anc"),
                    (F.col("dist") + F.col("dist2")).alias("dist"))
        )
        return (
            cur.unionByName(doubled)
            .groupBy("desc", "anc")
            .agg(F.min("dist").alias("dist"))
        )

    def stop(cur: DataFrame, nxt: DataFrame, n: int) -> bool:
        nonlocal n_pairs
        # One job per round: the count + max(dist) aggregate ALSO
        # materializes nxt's lazy checkpoint blocks (the r15 form paid
        # a separate eager-checkpoint job first). The max(dist) check
        # ends a round EARLY: an ancestor at distance k implies
        # ancestors at every distance < k (the chain through it), so if
        # no pair sits at the doubling reach 2^n, nothing deeper exists
        # and the confirmation round is provably unnecessary.
        stats = nxt.agg(F.count("*").alias("n"), F.max("dist").alias("m")).first()
        n_nxt, max_dist = stats["n"], stats["m"]
        if max_dist is not None and max_dist > max_depth:
            # Enforce the declared cap (r9 review: the doubling rounds
            # cover depths up to ~4× max_depth, so callers using
            # max_depth as input validation previously got none until
            # the round budget ran out — with a message blaming the
            # wrong threshold). dist is a real path length in a forest,
            # so exceeding max_depth is definitive, not transient.
            raise RuntimeError(
                f"hierarchy depth ≥{max_dist} exceeds max_depth={max_depth}"
            )
        done = n_nxt == n_pairs or max_dist < 2 ** n
        n_pairs = n_nxt
        return done

    # ceil(log2(depth)) doubling rounds close the hierarchy; +2 covers
    # the final no-change confirmation pass.
    max_rounds = math.ceil(math.log2(max(2, max_depth))) + 2
    return _fixpoint(cur, double, stop, max_rounds, "ancestor closure")[0]
