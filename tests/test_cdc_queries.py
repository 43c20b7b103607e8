from __future__ import annotations

import duckdb
import pytest

from tests.oracle import compare_query

CDC_QUERIES = [
    "cdc_merge_into_upsert",
    "cdc_incremental_var",
    "cdc_dead_letter",
    "cdc_txn_manifest",
    "cdc_multi_source_reconcile",
    "cdc_tombstone_gc",
    "cdc_incremental_join_view",
    "cdc_backfill_chunks",
    "cdc_scd2_temporal_join",
    "cdc_decode",
    "cdc_gtid",
    "cdc_latest_snapshot",
    "cdc_resume_offset",
    "cdc_update_pairs",
    "cdc_changes_between",
    "cdc_snapshot_join_agg",
    "cdc_schema_fields",
    "cdc_decode_decimal",
    "cdc_scd2_history",
    "cdc_incremental_agg",
    "cdc_point_in_time",
    "cdc_sequence_gaps",
    "cdc_snapshot_diff",
    "cdc_column_churn",
    "cdc_key_hotspots",
    "cdc_txn_size_histogram",
]


def test_decimal_decodes_to_decimal_type(spark, sf_dir):
    """The wire decimal(12,2) must land as DecimalType, not string/double,
    and sum exactly in decimal arithmetic before the output-boundary cast."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from maxscale_cdc_connector_spark.operators.cdc import decode_events
    from maxscale_cdc_connector_spark.queries.cdc_queries import (
        ORDER_DECIMAL_SCHEMA_RECORD,
    )
    from maxscale_cdc_connector_spark.typemap import schema_record_to_struct

    schema = schema_record_to_struct(ORDER_DECIMAL_SCHEMA_RECORD)
    assert schema["o_price"].dataType == T.DecimalType(12, 2)

    raw = spark.createDataFrame(
        [('{"sequence":1,"event_type":"insert","o_orderkey":1,'
          '"o_orderpriority":"1-URGENT","o_price":"0.10"}',),
         ('{"sequence":2,"event_type":"insert","o_orderkey":2,'
          '"o_orderpriority":"1-URGENT","o_price":"0.20"}',)],
        "value string",
    )
    decoded = decode_events(raw, schema)
    assert decoded.schema["o_price"].dataType == T.DecimalType(12, 2)
    from decimal import Decimal

    total = decoded.agg(F.sum("o_price").alias("s")).collect()[0].s
    # 0.1 + 0.2 is exactly 0.30 in decimal — the float answer would be
    # 0.30000000000000004, which is the whole point of the type.
    assert total == Decimal("0.30")


@pytest.mark.parametrize("name", CDC_QUERIES)
def test_cdc_oracle_parity(spark, sf_dir, name):
    from maxscale_cdc_connector_spark.queries import load_all

    load_all()
    compare_query(spark, sf_dir, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"n_name", "n_customers", "total_acctbal"}


def test_gtid_roundtrip():
    from maxscale_cdc_connector_spark.envelope import parse_gtid

    assert parse_gtid("0-3000-42") == (0, 3000, 42)
    with pytest.raises(ValueError):
        parse_gtid("0-3000")


def test_snapshot_semantics(spark, sf_dir):
    """Updated keys show new values; deleted keys are gone; others untouched."""
    from maxscale_cdc_connector_spark.operators.cdc import (
        latest_snapshot,
        synthetic_customer_events,
    )
    from maxscale_cdc_connector_spark.session import load_table

    events = synthetic_customer_events(spark, sf_dir)
    snap = latest_snapshot(events, ["c_custkey"]).select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    rows = {r.c_custkey: r for r in snap.collect()}
    base = {r.c_custkey: r for r in load_table(spark, "customer", sf_dir).collect()}

    for k, orig in base.items():
        if k % 20 == 0:
            assert k not in rows, f"key {k} should be deleted"
        elif k % 10 == 0:
            assert rows[k].c_mktsegment == "MACHINERY"
            assert abs(rows[k].c_acctbal - (orig.c_acctbal + 100.0)) < 1e-9
        else:
            assert rows[k].c_mktsegment == orig.c_mktsegment
            assert rows[k].c_acctbal == orig.c_acctbal
    assert set(rows) == {k for k in base if k % 20 != 0}


def test_scd2_intervals_contiguous_and_current_flags(spark, sf_dir) -> None:
    """Per key: versions tile [first_seq, ...) with no gaps/overlaps;
    exactly one current version unless the key ends deleted (then none);
    updated keys carry two versions."""
    from maxscale_cdc_connector_spark.queries.registry import REGISTRY

    rows = REGISTRY["cdc_scd2_history"].fn(spark, sf_dir).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["c_custkey"], []).append(r)
    for key, versions in by_key.items():
        versions.sort(key=lambda r: r["valid_from_seq"])
        deleted = key % 20 == 0
        updated = key % 10 == 0
        assert len(versions) == (2 if updated else 1)
        n_current = sum(r["is_current"] for r in versions)
        assert n_current == (0 if deleted else 1), (key, versions)
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to_seq"] == b["valid_from_seq"], (key, versions)
        last = versions[-1]
        if deleted:
            assert last["valid_to_seq"] is not None  # closed by the delete
        else:
            assert last["valid_to_seq"] is None
        if updated:
            # the update opened a new version with the changed payload
            assert versions[1]["c_mktsegment"] == "MACHINERY"


def test_incremental_agg_equals_snapshot_agg(spark, sf_dir) -> None:
    """Maintaining the rollup from signed deltas must land on exactly the
    aggregate a full snapshot recompute produces (deleted keys net to
    zero, update pairs swap old for new)."""
    from pyspark.sql import functions as F

    from maxscale_cdc_connector_spark.operators.cdc import (
        latest_snapshot,
        synthetic_customer_events,
    )
    from maxscale_cdc_connector_spark.queries.registry import REGISTRY

    inc = {
        r["c_nationkey"]: (r["n_rows"], r["total_acctbal"])
        for r in REGISTRY["cdc_incremental_agg"].fn(spark, sf_dir).collect()
        if r["n_rows"] != 0
    }
    snap = latest_snapshot(synthetic_customer_events(spark, sf_dir), ["c_custkey"])
    full = {
        r["c_nationkey"]: (r["n"], r["total"])
        for r in snap.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("total"),
        )
        .collect()
    }
    assert set(inc) == set(full)
    for k in full:
        assert inc[k][0] == full[k][0], k
        assert abs(inc[k][1] - full[k][1]) < 0.02, k


def test_point_in_time_is_pre_delete_post_update(spark, sf_dir) -> None:
    """As-of sequence 15M: updates applied, deletes not yet — every key
    present (including %20 keys), updated segments visible."""
    from maxscale_cdc_connector_spark.queries.registry import REGISTRY
    from maxscale_cdc_connector_spark.session import load_table

    rows = {r["c_custkey"]: r for r in REGISTRY["cdc_point_in_time"].fn(spark, sf_dir).collect()}
    base = {r["c_custkey"]: r for r in load_table(spark, "customer", sf_dir).collect()}
    assert set(rows) == set(base)  # deletes (seq 20M+) excluded from the window
    for k, r in rows.items():
        if k % 10 == 0:
            assert r["c_mktsegment"] == "MACHINERY"
        else:
            assert r["c_mktsegment"] == base[k]["c_mktsegment"]


def test_dead_letter_routes_exactly_the_malformed_lines(spark, sf_dir) -> None:
    from maxscale_cdc_connector_spark.operators.cdc import (
        split_dead_letter,
        synthetic_customer_events,
    )
    from maxscale_cdc_connector_spark.queries.cdc_queries import CUSTOMER_SCHEMA_RECORD
    from maxscale_cdc_connector_spark.typemap import schema_record_to_struct
    from pyspark.sql import functions as F

    events = synthetic_customer_events(spark, sf_dir)
    n_events = events.count()
    raw = events.select(F.to_json(F.struct(*events.columns)).alias("value"))
    junk_lines = ["{not json", '{"unrelated": 1}', "", '["array", "line"]']
    mixed = raw.unionByName(
        spark.createDataFrame([(j,) for j in junk_lines], "value string")
    )
    good, bad = split_dead_letter(mixed, schema_record_to_struct(CUSTOMER_SCHEMA_RECORD))
    assert good.count() == n_events
    assert sorted(r["raw_line"] for r in bad.collect()) == sorted(junk_lines)
    # typed channel round-trips: same sequences as the source events
    assert good.select(F.sum("sequence")).collect()[0][0] == events.select(
        F.sum("sequence")
    ).collect()[0][0]


def test_merge_upsert_equals_latest_snapshot(spark, sf_dir) -> None:
    """MERGE INTO over (base snapshot + delta tranche) must equal the
    latest_snapshot fold over the FULL log — the incremental and the
    replay paths agree row-for-row (the Lambda/Kappa equivalence)."""
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all

    load_all()
    merged = REGISTRY["cdc_merge_into_upsert"].fn(spark, sf_dir).drop("merge_action")
    replay = REGISTRY["cdc_latest_snapshot"].fn(spark, sf_dir)
    assert merged.exceptAll(replay).count() == 0
    assert replay.exceptAll(merged).count() == 0


def test_merge_upsert_action_provenance(spark, sf_dir) -> None:
    """Synthetic log shape: keys %20==0 end in delete (absent), keys
    %10==0 but not %20 are updated, the rest kept; no inserts in this
    window."""
    from pyspark.sql import functions as F

    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all

    load_all()
    df = REGISTRY["cdc_merge_into_upsert"].fn(spark, sf_dir)
    bad = df.filter(
        (
            (F.col("c_custkey") % 10 == 0) & (F.col("c_custkey") % 20 != 0)
        ).cast("int")
        != (F.col("merge_action") == "updated").cast("int")
    )
    assert bad.count() == 0
    assert df.filter(F.col("c_custkey") % 20 == 0).count() == 0
    assert df.filter(F.col("merge_action") == "inserted").count() == 0


def test_incremental_var_equals_snapshot_recompute(spark, sf_dir) -> None:
    """The delta-maintained moments must equal a full recompute over the
    latest snapshot — the self-maintainable-view guarantee for VAR."""
    from pyspark.sql import functions as F

    from maxscale_cdc_connector_spark.operators.cdc import (
        latest_snapshot,
        synthetic_customer_events,
    )
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all

    load_all()
    inc = {
        r["c_nationkey"]: (r["n"], r["s1_cents"], r["s2_cents2"])
        for r in REGISTRY["cdc_incremental_var"].fn(spark, sf_dir).collect()
    }
    snap = latest_snapshot(synthetic_customer_events(spark, sf_dir), ["c_custkey"])
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    full = {
        r["c_nationkey"]: (r["n"], r["s1"], r["s2"])
        for r in snap.select("c_nationkey", cents.alias("cents"))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("s1"),
            F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        )
        .collect()
    }
    assert inc == full


def test_tombstone_gc_orders_by_gtid_past_event_number_ten(spark, monkeypatch) -> None:
    """A transaction of 10+ row events puts event_number >= 10: the last
    event per key is the greatest (sequence, event_number), not the
    greatest ``sequence * 10 + event_number`` (seq 5 evn 15 → 65 would
    beat seq 6 evn 1 → 61). Spark and the oracle read the same crafted
    log."""
    import pandas as pd

    from maxscale_cdc_connector_spark.operators.cdc import CDC_EVENTS_SQL
    from maxscale_cdc_connector_spark.queries import REGISTRY, cdc_queries, load_all

    load_all()
    log = pd.DataFrame(
        [
            (1, 5, 15, 100, "delete"),  # re-inserted at seq 6: live
            (1, 6, 1, 200, "insert"),
            (2, 5, 15, 300, "insert"),  # deleted at seq 6
            (2, 6, 1, 1_000, "delete"),
            (3, 7, 1, 2_000, "insert"),  # deleted at evn 12 of seq 7
            (3, 7, 12, 100_000_000, "delete"),
        ],
        columns=["c_custkey", "sequence", "event_number", "event_ts", "event_type"],
    )
    events = spark.createDataFrame(log).repartition(3)
    monkeypatch.setattr(cdc_queries, "synthetic_customer_events", lambda spark, sf_dir: events)
    entry = REGISTRY["cdc_tombstone_gc"]
    # horizon = 100_000_000 - 50_000_000: key 2's tombstone is old enough.
    want = {(2, 6, 1_000, True), (3, 7, 100_000_000, False)}
    cols = ["c_custkey", "tombstone_seq", "deleted_at_ts", "gc_eligible"]
    got = {tuple(r) for r in entry.fn(spark, "").select(*cols).collect()}
    assert got == want
    con = duckdb.connect()
    con.register("crafted", log)
    sql = entry.oracle.replace(CDC_EVENTS_SQL, "cdc_events AS (SELECT * FROM crafted)")
    res = con.execute(sql)
    names = [d[0] for d in res.description]
    assert {tuple(dict(zip(names, r))[c] for c in cols) for r in res.fetchall()} == want
