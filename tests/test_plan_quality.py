"""Plan-quality invariants: pushdown, pruning, broadcast, top-k, no
accidental cartesians.

At sf0.001 every query returns quickly regardless of plan shape, so
correctness tests can't see a plan regression — these tests pin the
physical properties that decide whether a query survives 100 TB
(SURVEY.md §6 scale goals). All checks are lazy (explain only, no jobs).
"""

from __future__ import annotations

import pytest

from maxscale_cdc_connector_spark.plans import plan_summary
from maxscale_cdc_connector_spark.queries import REGISTRY, load_all

load_all()


def _summary(spark, sf_dir, name):
    return plan_summary(REGISTRY[name].fn(spark, sf_dir))


def test_project_filter_pushdown_and_pruning(spark, sf_dir) -> None:
    """TPC-H Q6 shape: all predicates reach the parquet scan and the
    scan reads only the referenced columns (never the fat l_comment)."""
    s = _summary(spark, sf_dir, "project_filter")
    assert s.pushes_filter_on("l_shipdate")
    assert s.pushes_filter_on("l_discount")
    assert s.pushes_filter_on("l_quantity")
    assert not s.scans_column("l_comment")
    assert not s.scans_column("l_partkey")


def test_dim_joins_broadcast_not_shuffle(spark, sf_dir) -> None:
    """Small-dimension joins must be broadcast hash joins: no shuffle of
    the fact side, no sort-merge."""
    for name in [
        "join_broadcast",
        "tpch_q3_shipping",
        "tpch_q5_local_supplier",
        "tpch_q8_market_share",
        "tpch_q9_product_profit",
    ]:
        s = _summary(spark, sf_dir, name)
        assert s.has("BroadcastHashJoin"), f"{name}: no broadcast join\n{s.text}"
        assert not s.has("CartesianProduct"), name


def test_topk_avoids_global_sort(spark, sf_dir) -> None:
    """ORDER BY + LIMIT compiles to TakeOrderedAndProject (per-partition
    heaps + driver merge), never a full Sort of the input."""
    s = _summary(spark, sf_dir, "sort_multi_key_limit")
    assert s.has("TakeOrderedAndProject")
    assert not s.has("Sort "), s.nodes


def test_simsearch_topk_is_broadcast_plus_take_ordered(spark, sf_dir) -> None:
    """Brute-force ANN baseline: query vector broadcast to the corpus
    scan, top-k via TakeOrderedAndProject — one pass, no corpus shuffle."""
    s = _summary(spark, sf_dir, "simsearch_topk_cosine")
    assert s.has("TakeOrderedAndProject")
    assert s.has("BroadcastExchange")
    assert not s.has("SortMergeJoin")
    # The only join is the 1-row broadcast of the query vector.
    assert s.has("BroadcastNestedLoopJoin") or s.has("BroadcastHashJoin")


def test_agg_hash_is_partial_then_final(spark, sf_dir) -> None:
    """Hash aggregation does a map-side partial before the shuffle:
    two HashAggregate nodes around exactly one Exchange."""
    s = _summary(spark, sf_dir, "agg_hash")
    assert s.count("HashAggregate") >= 2
    assert s.count("Exchange") == 1
    assert not s.has("SortAggregate")


def test_equi_joins_never_cartesian(spark, sf_dir) -> None:
    """Every equi-join query compiles to hash/merge joins — an
    accidental CartesianProduct or BroadcastNestedLoopJoin here would
    be quadratic at scale."""
    for name in [
        "join_inner_equi",
        "join_left_outer",
        "join_semi",
        "join_anti",
        "join_skew_salted",
        "tpch_q10_returned",
        "tpch_q18_large_orders",
        "tpch_q21_waiting_suppliers",
    ]:
        s = _summary(spark, sf_dir, name)
        assert not s.has("CartesianProduct"), f"{name}\n{s.text}"
        assert not s.has("BroadcastNestedLoopJoin"), f"{name}\n{s.text}"


def test_decontaminate_is_broadcast_semi_join(spark, sf_dir) -> None:
    """Decontamination must stream the training corpus once and
    broadcast the (small) eval-gram set — never shuffle the corpus."""
    s = _summary(spark, sf_dir, "pipeline_decontaminate")
    assert s.has("BroadcastExchange"), s.text
    assert not s.has("SortMergeJoin"), s.nodes


def test_dedup_exact_shuffles_digests_not_documents(spark, sf_dir) -> None:
    """Exact dedup groups on the md5 digest: the scan must not carry the
    full text through the shuffle (only digest + doc metadata)."""
    s = _summary(spark, sf_dir, "dedup_exact_docs")
    assert s.count("HashAggregate") >= 2  # partial before the exchange
    assert not s.has("CartesianProduct")


def test_pushdown_disjunctive_filter(spark, sf_dir) -> None:
    """TPC-H Q19's OR-of-ANDs still pushes the shared predicates to both
    scans (Catalyst factors the common conjuncts out of the OR)."""
    s = _summary(spark, sf_dir, "tpch_q19_disjunctive_filter")
    assert any("Or(" in p for p in s.pushed_filters), s.pushed_filters
    assert not s.has("CartesianProduct")


@pytest.mark.parametrize(
    "name", ["win_rank", "win_frame_running", "topk_per_group"]
)
def test_window_queries_single_shuffle(spark, sf_dir, name) -> None:
    """Window queries shuffle once on the partition key; rank filters
    must not add a second exchange over the same key."""
    s = _summary(spark, sf_dir, name)
    assert s.count("Exchange") <= 1, f"{name}: {s.nodes}"


def test_sessionize_single_exchange(spark, sf_dir) -> None:
    """The lag/running-sum windows and the final session groupBy all key
    on user_id, so the whole query needs exactly ONE shuffle — the
    groupBy must reuse the window's hash partitioning."""
    s = _summary(spark, sf_dir, "win_sessionize")
    assert s.count("Exchange") == 1, s.nodes


def test_q13_aggregates_fact_before_outer_join(spark, sf_dir) -> None:
    """The order-count histogram pre-aggregates orders, then outer-joins
    the per-customer counts — the join input must be the aggregate, and
    the join a broadcast (per-customer counts ≪ fact)."""
    s = _summary(spark, sf_dir, "tpch_q13_custdist")
    assert s.has("BroadcastHashJoin"), s.nodes
    assert not s.has("SortMergeJoin")
    txt = s.text
    # HashAggregate on o_custkey appears BELOW the join in the plan.
    assert txt.index("HashAggregate") != -1


def test_interval_join_is_keyed_never_cartesian(spark, sf_dir) -> None:
    """The stream-analog interval join must key on user_id with the time
    band as a residual — a cartesian/range product would be unbounded
    state in the streaming form and a scale-killer in batch."""
    s = _summary(spark, sf_dir, "stream_interval_join")
    assert not s.has("CartesianProduct"), s.nodes
    assert not s.has("BroadcastNestedLoopJoin"), s.nodes
    assert s.has("Join") or s.has("SortMergeJoin") or s.has("ShuffledHashJoin") or s.has("BroadcastHashJoin")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path) -> None:
    """Hive-style partitioned output + a partition-key filter must prune
    at planning time: the scan's PartitionFilters carry the predicate
    and only the matching directory is read."""
    from maxscale_cdc_connector_spark.plans import explain_string
    from maxscale_cdc_connector_spark.session import load_table

    out = str(tmp_path / "docs_by_lang")
    load_table(spark, "documents", sf_dir).write.partitionBy("lang").parquet(out)
    scan = spark.read.parquet(out).filter("lang = 'en'")
    txt = explain_string(scan, "formatted")
    assert "PartitionFilters" in txt
    assert "lang" in txt.split("PartitionFilters", 1)[1].splitlines()[0]
    got = {r["lang"] for r in scan.select("lang").distinct().collect()}
    assert got <= {"en"}


def test_sql_api_same_plan_as_dataframe(spark, sf_dir) -> None:
    """spark.sql and the DataFrame API compile to the same physical
    shape: broadcast joins on both dims, partial aggregation."""
    s = _summary(spark, sf_dir, "sql_api_join_agg")
    assert s.count("BroadcastHashJoin") == 2, s.nodes
    assert s.count("HashAggregate") >= 2
    assert not s.has("CartesianProduct")


def test_funnel_exchanges_all_key_on_user(spark, sf_dir) -> None:
    """Every hash exchange in the funnel keys on user_id — stage joins
    and aggregates reuse each branch's partitioning, never cascade
    repartitions on other keys."""
    s = _summary(spark, sf_dir, "funnel_conversion")
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([a-z_#0-9]+)", s.text):
        assert m.group(1).startswith("user_id"), m.group(0)


def test_q6_all_predicates_pushed(spark, sf_dir) -> None:
    """TPC-H Q6 is a pure scan query: every predicate must reach the
    parquet reader as a pushed data filter, and the scan must read only
    the four referenced columns."""
    s = _summary(spark, sf_dir, "tpch_q6_forecast_revenue")
    assert s.pushes_filter_on("l_shipdate")
    assert s.pushes_filter_on("l_discount")
    assert s.pushes_filter_on("l_quantity")
    assert not s.scans_column("l_orderkey")
    assert not s.scans_column("l_returnflag")


def test_q17_threshold_join_broadcasts(spark, sf_dir) -> None:
    """The correlated-avg decorrelation must stay broadcast end-to-end
    (brand partkeys into the fact scan, per-part thresholds back onto the
    fact) — a sort-merge here would shuffle the fact twice."""
    s = _summary(spark, sf_dir, "tpch_q17_small_qty_revenue")
    assert s.has("BroadcastHashJoin")
    assert not s.has("SortMergeJoin"), s.nodes
    assert not s.has("CartesianProduct")


def test_q22_scalar_gate_is_one_row_broadcast(spark, sf_dir) -> None:
    """The global-average gate joins a 1-row aggregate: broadcast nested
    loop on one row is fine, a CartesianProduct of two big sides is not."""
    s = _summary(spark, sf_dir, "tpch_q22_idle_customers")
    assert s.has("BroadcastHashJoin") or s.has("BroadcastNestedLoopJoin")
    assert not s.has("CartesianProduct"), s.nodes


def test_token_budget_window_is_bucket_partitioned(spark, sf_dir) -> None:
    """The corpus-wide cumsum must run partitioned by md5 bucket; the only
    unpartitioned window is over the 256 bucket totals."""
    from pyspark.sql.window import Window  # noqa: F401

    s = _summary(spark, sf_dir, "pipeline_token_budget_sample")
    text = s.text
    # The per-doc window is partitioned (partial windows over bk);
    # an unpartitioned corpus window would show a SinglePartition
    # exchange feeding a Window over the documents scan.
    assert "partitionBy=[bk" in text.replace(" ", "") or "bk#" in text
    assert s.has("Window")


def test_chunk_dedup_shuffles_digests_only(spark, sf_dir) -> None:
    """Passage dedup groups on the md5 digest — partial aggregation means
    the shuffle carries (digest, min-key, count), never passages."""
    s = _summary(spark, sf_dir, "text_chunk_dedup")
    assert s.has("HashAggregate")
    assert not s.has("SortMergeJoin")
    assert not s.has("CartesianProduct")


def test_knn_label_vote_broadcast_side_is_bounded(spark, sf_dir) -> None:
    """The k-NN query side is broadcast, so it must be O(K) regardless of
    corpus size: the bounding range predicate (vec_id < STRIDE*MAX) must
    reach the query-side parquet scan as a pushed filter, and the corpus
    must never shuffle for this join."""
    from maxscale_cdc_connector_spark.queries.llm_queries import (
        KNN_MAX_QUERIES,
        KNN_QUERY_STRIDE,
    )

    s = _summary(spark, sf_dir, "embedding_knn_label_vote")
    cap = KNN_QUERY_STRIDE * KNN_MAX_QUERIES
    assert any(
        "vec_id" in p and str(cap) in p for p in s.pushed_filters
    ), f"bounding cap {cap} not pushed to the query-side scan: {s.pushed_filters}"
    assert s.has("BroadcastExchange"), s.nodes
    assert not s.has("SortMergeJoin"), s.nodes
    assert not s.has("CartesianProduct"), s.nodes


def test_sequence_gaps_window_is_bucket_partitioned(spark, sf_dir) -> None:
    """The per-event lag window must key on (stream, bucket), never on the
    stream alone — a bare per-stream window funnels the whole log through
    one reducer. The tiny per-bucket boundary window is allowed."""
    s = _summary(spark, sf_dir, "cdc_sequence_gaps")
    assert s.has("Window")
    assert "bk" in s.text, "per-event window lost its bucket key"


def test_market_basket_keyed_joins_and_topk(spark, sf_dir) -> None:
    """Pair generation must be row-local over per-basket arrays (never
    corpus-cartesian) and the final top-20 must be TakeOrderedAndProject,
    not a global sort. The 1-row corpus total rides a broadcast.

    The registered query returns a checkpoint (r17 — its plan is just a
    Scan ExistingRDD), so the shape assertions run on the lazy plan
    inside a barriers() scope, which releases the basket cache."""
    from maxscale_cdc_connector_spark.operators.cache import barriers
    from maxscale_cdc_connector_spark.queries.relational import _market_basket_lazy

    with barriers() as hold:
        s = plan_summary(_market_basket_lazy(spark, sf_dir, hold))
        assert not s.has("CartesianProduct"), s.nodes
        assert s.has("TakeOrderedAndProject"), s.nodes
        assert s.has("BroadcastExchange"), s.nodes


def test_stratified_sample_is_single_scan_plus_broadcasts(spark, sf_dir) -> None:
    """The corpus-side pass must never shuffle documents: the per-lang
    rate table reaches the scan via broadcast joins only (the only
    exchanges besides broadcasts belong to the tiny per-lang
    aggregates)."""
    s = _summary(spark, sf_dir, "pipeline_stratified_sample")
    assert s.has("BroadcastExchange"), s.nodes
    assert not s.has("CartesianProduct"), s.nodes
    assert not s.has("SortMergeJoin"), s.nodes


def test_transition_matrix_single_user_window(spark, sf_dir) -> None:
    """One window exchange keyed on user_id, then a hash aggregate over
    at most |event_types|^2 groups — no global sort anywhere."""
    s = _summary(spark, sf_dir, "events_transition_matrix")
    assert s.count("Window") == 1, s.nodes
    assert s.has("HashAggregate"), s.nodes


def test_abc_pareto_has_no_global_window(spark, sf_dir) -> None:
    """The cumulative share must come from the distributed prefix sum:
    any Window in the plan partitions by the range-partition id (the
    #partitions-row offset frame), never an unpartitioned global sum
    over the parts."""
    s = _summary(spark, sf_dir, "orders_abc_pareto")
    assert "_ers_pid" in s.text, "distributed prefix sum machinery missing"
    assert s.has("BroadcastExchange"), s.nodes


def test_triangle_census_closes_wedges_with_semi_join(spark, sf_dir) -> None:
    """Wedges must close against the edge set via a left-semi equi-join;
    the only nested-loop joins allowed are the broadcast 1-row scalar
    frames that assemble the final census row."""
    s = _summary(spark, sf_dir, "graph_triangle_count")
    assert "LeftSemi" in s.text, "wedge-closing semi-join missing"
    assert not s.has("CartesianProduct"), s.nodes


def test_corr_matrix_single_scan_single_aggregate(spark, sf_dir) -> None:
    """All six correlations must compute in ONE aggregate pass — one
    lineitem scan, no per-pair scans, no join."""
    s = _summary(spark, sf_dir, "dq_numeric_corr_matrix")
    assert sum(1 for n in s.nodes if "Scan parquet" in n) == 1, s.nodes
    assert not s.has("Join"), s.nodes
    assert not s.scans_column("l_comment")


def test_whale_and_gini_have_no_unpartitioned_data_window(spark, sf_dir) -> None:
    """The distributed exact rank must keep every window that touches
    DATA rows keyed on the range-partition id; the only unpartitioned
    window runs over the #partitions-row offsets frame. Detect the
    funnel by asserting no Window node sorts the raw revenue order
    columns without the pid key."""
    for name in ["customer_whale_concentration", "customer_revenue_gini",
                 "feature_quantile_binning"]:
        s = _summary(spark, sf_dir, name)
        # the ranked side carries the synthetic pid column through its window
        windows = [n for n in s.nodes if n.startswith("Window")]
        assert windows, f"{name}: expected window nodes\n{s.nodes}"
        assert not s.has("CartesianProduct"), name


def test_ewma_is_one_exchange_no_window(spark, sf_dir) -> None:
    """The EWMA fold happens inside the aggregate expression — no Window
    operator, exactly one exchange (the user_id hash aggregate)."""
    s = _summary(spark, sf_dir, "events_ewma_value")
    assert not s.has("Window"), s.nodes
    assert sum(1 for n in s.nodes if n.startswith("Exchange")) == 1, s.nodes


def test_outlier_distance_broadcasts_mean_and_threshold(spark, sf_dir) -> None:
    """The d-row mean vector and the 1-row p99 threshold must reach the
    corpus scan as broadcasts — never a shuffled join of the vectors."""
    s = _summary(spark, sf_dir, "embedding_outlier_distance")
    assert s.has("BroadcastNestedLoopJoin") or s.has("BroadcastExchange"), s.nodes
    assert not s.has("SortMergeJoin"), s.nodes


def test_partitioned_layout_scan_prunes_partitions(spark, sf_dir) -> None:
    """The partitionBy(event_type) layout must turn the IN-filter into
    PartitionFilters on the scan — only the two selected directories are
    read, which is the whole point of the layout at 100 TB."""
    from maxscale_cdc_connector_spark.plans import explain_string

    df = REGISTRY["layout_partition_pruned_scan"].fn(spark, sf_dir)
    text = explain_string(df, "formatted")
    assert "PartitionFilters" in text, text[:2000]
    tail = text.split("PartitionFilters", 1)[1][:300]
    assert "event_type" in tail, tail


def test_referential_integrity_is_one_pass_per_child(spark, sf_dir) -> None:
    """lineitem's three FK edges must resolve on ONE scan of the fact
    table (three left joins + one aggregate), never three anti-join
    scans."""
    from maxscale_cdc_connector_spark.plans import explain_string

    df = REGISTRY["dq_referential_integrity"].fn(spark, sf_dir)
    text = explain_string(df, "formatted")
    assert text.count("lineitem.parquet") <= 1 or text.lower().count("lineitem") <= 2, (
        text[:3000]
    )


def test_q2_q11_broadcast_dims_no_cartesian(spark, sf_dir) -> None:
    """The derived-partsupp TPC-H shapes keep region/nation/supplier on
    the broadcast side; the only big shuffles key on partkey."""
    for name in ["tpch_q2_min_cost_supplier", "tpch_q11_important_stock"]:
        s = _summary(spark, sf_dir, name)
        assert s.has("BroadcastHashJoin"), f"{name}: no broadcast join"
        assert not s.has("CartesianProduct"), name


def test_merge_upsert_preaggregates_delta(spark, sf_dir) -> None:
    """MERGE INTO must collapse the delta log with a partial+final
    aggregate BEFORE the key join (shuffle ~ |keys|, not |events|), and
    the base-delta resolution must be a keyed join, never cartesian."""
    s = _summary(spark, sf_dir, "cdc_merge_into_upsert")
    # max over a string-bearing struct compiles to SortAggregate, not
    # HashAggregate — what matters is partial+final around the exchange.
    assert s.count("SortAggregate") + s.count("HashAggregate") >= 2, s.nodes
    assert s.has("SortMergeJoin") or s.has("ShuffledHashJoin") or s.has(
        "BroadcastHashJoin"
    ), s.nodes
    assert not s.has("CartesianProduct")


@pytest.mark.parametrize(
    "name", ["cdc_latest_snapshot", "cdc_merge_into_upsert", "cdc_multi_source_reconcile"]
)
def test_latest_row_per_key_is_one_max_struct(spark, sf_dir, name) -> None:
    """Each newest-row-per-key query plans one latest_by: ONE
    ``max(struct(...))`` aggregate function with a map-side partial and a
    final part, never a per-column ``max_by``."""
    import re

    s = _summary(spark, sf_dir, name)
    functions = " ".join(
        line for line in s.text.splitlines() if line.startswith("Functions [")
    )
    assert len(re.findall(r"\bpartial_max\(struct\(", functions)) == 1, functions
    assert len(re.findall(r"\bmax\(struct\(", functions)) == 1, functions
    assert "max_by" not in s.text, functions


def test_linear_attribution_single_user_exchange(spark, sf_dir) -> None:
    """All channel counts come from ONE user-keyed window; stack() must
    not add a second exchange before the |channels|-row rollup."""
    s = _summary(spark, sf_dir, "events_linear_attribution")
    assert s.count("Window") == 1, s.nodes
    # one exchange for the window, one for the tiny channel rollup
    assert s.count("Exchange") <= 2, s.nodes


def test_phrase_search_filters_posting_lists_before_join(spark, sf_dir) -> None:
    """Only the two query terms' posting lists may reach the join — the
    term filters sit below the exchanges, and the adjacency residual
    rides a keyed join, never a cartesian."""
    s = _summary(spark, sf_dir, "text_phrase_search")
    assert not s.has("CartesianProduct"), s.nodes
    assert s.has("SortMergeJoin") or s.has("ShuffledHashJoin") or s.has(
        "BroadcastHashJoin"
    ), s.nodes


def test_bpe_pair_counts_two_vocab_sized_aggregates(spark, sf_dir) -> None:
    """Both aggregates must be partial+final hash aggregates: the corpus
    collapses to word frequencies map-side, and the pair explode runs
    over the vocab, not the raw token stream."""
    s = _summary(spark, sf_dir, "text_bpe_pair_counts")
    assert s.count("HashAggregate") >= 4, s.nodes  # 2 aggs x partial+final
    assert not s.has("CartesianProduct")


def test_lateral_subquery_decorrelates_to_keyed_plan(spark, sf_dir) -> None:
    """The correlated LATERAL must compile to a set-based keyed plan
    (window rank or keyed join) — never a per-row re-execution shape
    (cartesian / broadcast nested loop over the full orders table)."""
    s = _summary(spark, sf_dir, "sql_lateral_topk_per_customer")
    assert not s.has("CartesianProduct"), s.nodes
    assert s.has("Window") or s.has("SortMergeJoin") or s.has(
        "ShuffledHashJoin"
    ) or s.has("BroadcastHashJoin"), s.nodes


def test_named_window_reuse_single_window_operator(spark, sf_dir) -> None:
    """Three analytics over one named WINDOW must share a single Window
    operator and a single user-keyed exchange — the shared spec must
    not compile to repeated sorts."""
    s = _summary(spark, sf_dir, "sql_window_clause_reuse")
    assert s.count("Window") == 1, s.nodes
    assert s.count("Exchange") == 1, s.nodes


def test_geo_grid_join_is_keyed_never_cartesian(spark, sf_dir) -> None:
    """The spatial self-join must run as an equi-join on cell ids with
    the distance predicate as a residual — an accidental cross join
    here is quadratic in the point count."""
    s = _summary(spark, sf_dir, "geo_grid_neighbor_join")
    assert not s.has("CartesianProduct"), s.nodes
    assert not s.has("BroadcastNestedLoopJoin"), s.nodes


def test_timeseries_similarity_is_broadcast_plus_take_ordered(spark, sf_dir) -> None:
    """The 14-day profile similarity must broadcast the 1-row query
    profile and rank through TakeOrderedAndProject — no corpus-wide
    sort, no shuffled join."""
    s = _summary(spark, sf_dir, "timeseries_user_similarity_topk")
    assert s.has("TakeOrderedAndProject"), s.nodes
    assert s.has("BroadcastExchange"), s.nodes
    assert not s.has("SortMergeJoin"), s.nodes


def test_pattern_match_single_user_window_chain(spark, sf_dir) -> None:
    """Dense calendar, lead() windows, and the per-user argmax rank all
    key on user_id — the shifted values must come from window functions,
    not a self-join of the series against itself."""
    s = _summary(spark, sf_dir, "timeseries_pattern_match")
    assert s.count("Window") >= 1, s.nodes
    assert not s.has("CartesianProduct"), s.nodes


def test_kaplan_meier_no_corpus_sized_window(spark, sf_dir) -> None:
    """The survival fold runs over the collected distinct-day array; the
    only windows in the plan operate on the day-table subtree (post-
    aggregation), and the corpus-sized work is keyed aggregates."""
    s = _summary(spark, sf_dir, "orders_kaplan_meier_ship_lag")
    # No shuffled cartesian anywhere; a BroadcastNestedLoopJoin from the
    # 1-row horizon crossJoin is a distinct node and remains allowed.
    assert not s.has("CartesianProduct"), s.nodes
    assert s.count("HashAggregate") >= 2, s.nodes


def test_interleave_no_global_window_over_corpus(spark, sf_dir) -> None:
    """The interleave position must come from a SOURCE-partitioned rank
    plus a broadcast source-index — the only unpartitioned window runs
    over the distinct-source frame (|sources| rows), never the corpus."""
    s = _summary(spark, sf_dir, "pipeline_interleave_sources")
    assert s.has("BroadcastExchange") or s.has("BroadcastHashJoin"), s.nodes
    assert not s.has("CartesianProduct"), s.nodes


def test_higher_order_pack_is_shuffle_free_projection(spark, sf_dir) -> None:
    """fn_higher_order_pack (r9 fix: array results emitted as joined
    strings) must stay a single row-local projection — the whole point
    of higher-order array functions is evaluating inside Catalyst with
    NO exchange (an explode+groupBy re-aggregation would shuffle the
    full fan-out), and the string emission must not change that."""
    s = _summary(spark, sf_dir, "fn_higher_order_pack")
    assert s.count("Exchange") == 0, s.nodes
    assert not s.scans_column("o_comment")  # projection pruned
