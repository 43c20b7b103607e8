"""CDC-semantic operators: the reference's domain, made queryable.

The reference delivers an ordered stream of row-change events (envelope:
``domain/server_id/sequence/event_number/timestamp/event_type`` +
payload columns; GTID = ``domain-server_id-sequence``,
cdc_connector.h:199-208). These operators turn that change log into
answers: current-state snapshot, resume offsets, before/after diffs,
replay windows.

Scale design (100 TB change logs):

* ``latest_by`` is the one newest-row-per-key rule: ``groupBy(key)
  .agg(max(struct(order, rest)))`` — a partial+final ``SortAggregate``
  (the buffer holds strings) with map-side partial aggregation, NOT a
  window sort. Partial aggregation collapses each map partition to one
  candidate row per key before the shuffle, so shuffle volume ≈
  |distinct keys|, not |events|. A window (`row_number() OVER ...`)
  would shuffle every event and sort per partition. The DuckDB oracles
  use the window form — same result, different physical plan. The
  struct carries every input column through the exchange (Catalyst
  does not prune its fields), so a caller that keeps a few columns
  selects them before the call.
* ``resume_offset`` is a two-column groupBy-max — trivially partial-agg.
* ``update_pairs`` self-joins on (key, sequence): both sides shuffle on
  the same key so AQE can plan a shuffled-hash join; the before-side is
  pre-filtered so only update events shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from maxscale_cdc_connector_spark.envelope import gtid_column
from maxscale_cdc_connector_spark.session import load_table


def decode_events(raw: DataFrame, schema, value_col: str = "value") -> DataFrame:
    """Decode newline-JSON CDC event lines into typed columns.

    Spark analog of ``process_row`` + ``json_to_string``
    (cdc_connector.cpp:288-319,80-115) — except values land as real
    Spark types (via the typemap), and JSON ``null`` becomes a true
    ``NULL``, not ``""`` (deliberate fix of cdc_connector.cpp:106-107).
    """
    return raw.select(F.from_json(F.col(value_col), schema).alias("e")).select("e.*")


def split_dead_letter(
    raw: DataFrame, schema, value_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """Decode with a dead-letter channel: (typed good rows, bad lines).

    A line whose JSON fails to parse (or parses to a non-object) decodes
    to an all-NULL struct under ``from_json``; such lines are routed to
    the second frame with the raw payload preserved for replay/forensics
    instead of silently becoming NULL rows — the protocol-layer strict
    path raises instead (``CDCProtocolError``, protocol.py), but a
    100 TB backfill over historical logs wants quarantine, not abort.
    Both frames come from ONE scan (the parse is a row-local projection;
    Spark evaluates from_json once per branch of the same cached plan —
    or twice over a re-scan, both cheap and shuffle-free).
    """
    parsed = raw.withColumn("e", F.from_json(F.col(value_col), schema))
    # from_json yields NULL for unparseable input; a JSON value that is
    # not a change record parses to a struct with a NULL mandatory
    # envelope (sequence is never absent in avrorouter output,
    # cdc_connector.cpp:272-286).
    is_bad = F.col("e").isNull() | F.col("e.sequence").isNull()
    good = parsed.filter(~is_bad).select("e.*")
    bad = parsed.filter(is_bad).select(F.col(value_col).alias("raw_line"))
    return good, bad


def with_gtid(events: DataFrame, col_name: str = "gtid") -> DataFrame:
    """Append the GTID string column (cdc_connector.h:199-208)."""
    return events.withColumn(col_name, gtid_column())


# GTID order, the stream's one total order (cdc_connector.h:65).
GTID_ORDER = ("sequence", "event_number")


def latest_by(df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[str]) -> DataFrame:
    """The whole newest row per key: the greatest ``order_cols``.

    One ``max(struct(*order_cols, *rest))`` per key, so a tie in
    ``order_cols`` keeps the greatest row by the rest of its columns
    (input order). A tie never splits a row and the result never
    depends on partitioning or arrival order (Spark's ``MaxBy`` per
    column keeps the first tied row each column meets). The max is
    commutative and idempotent, so a replayed or duplicated row is
    harmless.
    Returns ``key_cols``, then the other columns in input order.
    """
    keys = list(key_cols)
    cols = [c for c in df.columns if c not in keys]
    rest = [c for c in cols if c not in order_cols]
    latest = F.max(F.struct(*order_cols, *rest)).alias("_latest")
    return df.groupBy(*keys).agg(latest).select(
        *keys, *[F.col("_latest")[c].alias(c) for c in cols]
    )


def latest_snapshot(events: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Current row per primary key from insert/update/delete events.

    ``latest_by`` in GTID order; keys whose last event is a ``delete``
    disappear; ``update_before`` can never win because its paired
    ``update_after`` shares the sequence with a higher event_number.
    """
    return latest_by(events, key_cols, GTID_ORDER).filter(F.col("event_type") != "delete")


def resume_offset(events: DataFrame) -> DataFrame:
    """Max GTID per (domain, server_id) — the restart position an
    application would pass to ``connect(table, gtid)``
    (cdc_connector.cpp:199-206)."""
    return (
        events.groupBy("domain", "server_id")
        .agg(F.max("sequence").alias("max_sequence"))
        .withColumn("gtid", gtid_column(sequence="max_sequence"))
    )


def update_pairs(
    events: DataFrame, key_cols: Sequence[str], value_cols: Sequence[str]
) -> DataFrame:
    """Pair ``update_before``/``update_after`` events into (old, new) diffs.

    Pairing key is (key, domain, server_id, sequence): the avrorouter
    emits both halves of an update under one GTID with consecutive
    event_numbers (envelope semantics the reference's stream carries).
    """
    join_cols = [*key_cols, "domain", "server_id", "sequence"]
    before = events.filter(F.col("event_type") == "update_before").select(
        *join_cols, *[F.col(c).alias(f"old_{c}") for c in value_cols]
    )
    after = events.filter(F.col("event_type") == "update_after").select(
        *join_cols, *[F.col(c).alias(f"new_{c}") for c in value_cols]
    )
    return before.join(after, join_cols, "inner")


def changes_between(events: DataFrame, lo: int, hi: int) -> DataFrame:
    """Events with ``lo <= sequence < hi`` — a replay window, the batch
    analog of resuming from a GTID (cdc_connector.h:62-69)."""
    return events.filter((F.col("sequence") >= F.lit(lo)) & (F.col("sequence") < F.lit(hi)))


def scd2_history(
    events: DataFrame, key_cols: Sequence[str], value_cols: Sequence[str]
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from the change log.

    Every ``insert``/``update_after`` event opens a version valid from
    its own sequence until the next version-or-delete event's sequence
    for that key (GTID order is the stream's total order,
    cdc_connector.h:65); a ``delete`` closes the last version without
    opening one; the newest undeleted version has ``valid_to_seq`` NULL
    and ``is_current`` true. ``update_before`` rows are pre-images, not
    versions — they're excluded before the window so they can't shift
    interval boundaries.

    One shuffle total: a single ``lead()`` window keyed on the primary
    key; the version filter is evaluated before the window so state per
    key is the version count, not the event count.
    """
    boundary = events.filter(
        F.col("event_type").isin("insert", "update_after", "delete")
    )
    w = W.partitionBy(*key_cols).orderBy(*GTID_ORDER)
    hist = boundary.withColumn("valid_to_seq", F.lead("sequence").over(w))
    return hist.filter(F.col("event_type") != "delete").select(
        *key_cols,
        *value_cols,
        F.col("sequence").alias("valid_from_seq"),
        "valid_to_seq",
        F.col("valid_to_seq").isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Deterministic synthetic CDC event log over the `customer` table.
#
# The driver's DuckDB oracle can only see the ten parquet tables, so CDC
# queries derive their event log *deterministically from `customer`* with
# pure relational ops — the identical derivation is expressed in ANSI SQL
# (CDC_EVENTS_SQL) so both engines compute over the same events:
#   * one `insert` per customer           (sequence = c_custkey)
#   * update_before/after pair for keys % 10 = 0 (sequence = 10_000_000 + key)
#   * `delete` for keys % 20 = 0          (sequence = 20_000_000 + key)
# ---------------------------------------------------------------------------

PAYLOAD_COLS = ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

_UPD_SEQ_BASE = 10_000_000
_DEL_SEQ_BASE = 20_000_000


def synthetic_customer_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic CDC event log derived from the `customer` table.

    ONE customer scan: each row expands row-locally (array → filter →
    inline) into its 1-4 events — insert always, update_before/after on
    custkey % 10, delete on % 20. The r15 four-way union form re-scanned
    customer once per event class, so every cdc_* query paid 4 scans
    for identical bytes. Same rows, same schema, different physical
    order (every consumer aggregates/joins — order-insensitive)."""
    c = load_table(spark, "customer", sf_dir)
    key = F.col("c_custkey")

    def ev(
        seq: Column, event_number: int, ts_base: int, event_type: str,
        acctbal: Column, mktsegment: Column,
    ) -> Column:
        return F.struct(
            F.lit(0).alias("domain"),
            F.lit(3000).alias("server_id"),
            seq.cast("bigint").alias("sequence"),
            F.lit(event_number).alias("event_number"),
            (F.lit(ts_base) + key).cast("bigint").alias("event_ts"),
            F.lit(event_type).alias("event_type"),
            F.col("c_custkey").alias("c_custkey"),
            F.col("c_name").alias("c_name"),
            F.col("c_nationkey").alias("c_nationkey"),
            acctbal.alias("c_acctbal"),
            mktsegment.alias("c_mktsegment"),
        )

    old_bal, old_seg = F.col("c_acctbal"), F.col("c_mktsegment")
    new_bal = F.col("c_acctbal") + F.lit(100.0)
    new_seg = F.lit("MACHINERY")
    is_upd = key % 10 == 0
    is_del = key % 20 == 0
    events = F.array(
        ev(key, 1, 1_500_000_000, "insert", old_bal, old_seg),
        F.when(is_upd, ev(key + _UPD_SEQ_BASE, 1, 1_600_000_000, "update_before", old_bal, old_seg)),
        F.when(is_upd, ev(key + _UPD_SEQ_BASE, 2, 1_600_000_000, "update_after", new_bal, new_seg)),
        F.when(is_del, ev(key + _DEL_SEQ_BASE, 1, 1_700_000_000, "delete", new_bal, new_seg)),
    )
    return c.select(F.inline(F.filter(events, lambda e: e.isNotNull())))


# The same event log in DuckDB SQL, used as a CTE by every CDC oracle query.
CDC_EVENTS_SQL = """
cdc_events AS (
    SELECT 0 AS domain, 3000 AS server_id, CAST(c_custkey AS BIGINT) AS sequence,
           1 AS event_number, CAST(1500000000 + c_custkey AS BIGINT) AS event_ts,
           'insert' AS event_type,
           c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    UNION ALL
    SELECT 0, 3000, CAST(10000000 + c_custkey AS BIGINT),
           1, CAST(1600000000 + c_custkey AS BIGINT), 'update_before',
           c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT 0, 3000, CAST(10000000 + c_custkey AS BIGINT),
           2, CAST(1600000000 + c_custkey AS BIGINT), 'update_after',
           c_custkey, c_name, c_nationkey, c_acctbal + 100.0, 'MACHINERY'
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT 0, 3000, CAST(20000000 + c_custkey AS BIGINT),
           1, CAST(1700000000 + c_custkey AS BIGINT), 'delete',
           c_custkey, c_name, c_nationkey, c_acctbal + 100.0, 'MACHINERY'
    FROM customer WHERE c_custkey % 20 = 0
)
"""


def merge_upsert(
    base: DataFrame,
    delta: DataFrame,
    key_cols: Sequence[str],
    payload_cols: Sequence[str],
) -> DataFrame:
    """MERGE INTO semantics: apply a CDC delta log onto a base snapshot.

    The lakehouse upsert pattern (Delta/Iceberg ``MERGE``): collapse the
    delta log to ONE net action per key (the event with the greatest
    ``(sequence, event_number)`` wins — GTID order is the stream's total
    order, cdc_connector.h:65), then resolve against the base in a
    single full-outer join:

    * key only in base          → ``kept`` (row unchanged)
    * net action ``delete``     → row dropped
    * key in both, non-delete   → ``updated`` (delta payload wins)
    * key only in delta         → ``inserted``

    Scale: the collapse is ``latest_by`` over the columns the merge
    needs (map-side partials, shuffle ≈ |delta keys|, not |delta
    events|), and the join keys both sides on the primary key — the
    exact shuffle MERGE INTO performs on a cluster. No windows, no
    driver state.
    """
    val_cols = [c for c in payload_cols if c not in key_cols]
    net = latest_by(
        delta.select(*key_cols, *GTID_ORDER, "event_type", *val_cols), key_cols, GTID_ORDER
    ).select(*key_cols, *[F.col(c).alias(f"d_{c}") for c in ["event_type", *val_cols]])
    b = base.withColumn("_in_base", F.lit(1))
    joined = b.join(net, on=list(key_cols), how="full_outer")
    action = (
        F.when(F.col("d_event_type").isNull(), F.lit("kept"))
        .when(F.col("_in_base").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
    )
    merged = joined.filter(
        F.col("d_event_type").isNull() | (F.col("d_event_type") != "delete")
    )
    out = [F.col(c) for c in key_cols]
    out += [
        F.when(F.col("d_event_type").isNull(), F.col(c))
        .otherwise(F.col(f"d_{c}"))
        .alias(c)
        for c in val_cols
    ]
    out.append(action.alias("merge_action"))
    return merged.select(*out)
