"""CDC-semantic queries (SURVEY.md §2B "CDC-semantic operators").

Every query runs over the deterministic synthetic CDC event log derived
from `customer` (operators/cdc.py) so the DuckDB oracle can reproduce it
from the same parquet tables via the CDC_EVENTS_SQL CTE.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from maxscale_cdc_connector_spark.envelope import gtid_column
from maxscale_cdc_connector_spark.operators.cdc import (
    CDC_EVENTS_SQL,
    GTID_ORDER,
    PAYLOAD_COLS,
    changes_between,
    decode_events,
    latest_by,
    latest_snapshot,
    resume_offset,
    scd2_history,
    synthetic_customer_events,
    update_pairs,
)
from maxscale_cdc_connector_spark.queries.registry import register
from maxscale_cdc_connector_spark.session import load_table
from maxscale_cdc_connector_spark.typemap import schema_record_to_struct

# The avrorouter-style schema record for the synthetic customer stream —
# shape per cdc_connector.cpp:237-286 (fields[] with name/real_type/length).
CUSTOMER_SCHEMA_RECORD = json.dumps(
    {
        "namespace": "MaxScaleChangeDataSchema.avro",
        "type": "record",
        "name": "ChangeRecord",
        "fields": [
            {"name": "domain", "type": "int", "real_type": "int", "length": -1},
            {"name": "server_id", "type": "int", "real_type": "int", "length": -1},
            {"name": "sequence", "type": "long", "real_type": "bigint", "length": -1},
            {"name": "event_number", "type": "int", "real_type": "int", "length": -1},
            {"name": "event_ts", "type": "long", "real_type": "bigint", "length": -1},
            {
                "name": "event_type",
                "type": {"type": "enum", "name": "EVENT_TYPES"},
                "real_type": "varchar",
                "length": 16,
            },
            {"name": "c_custkey", "type": "long", "real_type": "bigint", "length": -1},
            {"name": "c_name", "type": "string", "real_type": "varchar", "length": 25},
            {"name": "c_nationkey", "type": "int", "real_type": "int", "length": -1},
            {"name": "c_acctbal", "type": "double", "real_type": "double", "length": -1},
            {"name": "c_mktsegment", "type": "string", "real_type": "varchar", "length": 10},
        ],
    }
)


@register(
    "cdc_decode",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT domain, server_id, sequence, event_number, event_ts, event_type,
       c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM cdc_events
""",
    doc="JSON event line → typed columns (process_row/json_to_string analog, "
    "cdc_connector.cpp:288-319,80-115). Round-trips every event through the "
    "newline-JSON wire form and the typemap-built StructType.",
)
def cdc_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = synthetic_customer_events(spark, sf_dir)
    # Serialize to the wire form (one JSON object per line), then decode with
    # the schema built from the avrorouter schema record — the full path a
    # real stream takes: bytes → json → typed row.
    raw = events.select(F.to_json(F.struct(*events.columns)).alias("value"))
    schema = schema_record_to_struct(CUSTOMER_SCHEMA_RECORD)
    return decode_events(raw, schema)


@register(
    "cdc_gtid",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT domain || '-' || server_id || '-' || sequence AS gtid,
       sequence, event_number, event_type, c_custkey
FROM cdc_events
""",
    doc="GTID string column — Row::gtid() (cdc_connector.h:199-208) as a "
    "codegen'd concat_ws expression.",
)
def cdc_gtid(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = synthetic_customer_events(spark, sf_dir)
    return events.select(
        gtid_column().alias("gtid"), "sequence", "event_number", "event_type", "c_custkey"
    )


@register(
    "cdc_latest_snapshot",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY c_custkey ORDER BY sequence DESC, event_number DESC
    ) AS rn
    FROM cdc_events
)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM ranked WHERE rn = 1 AND event_type <> 'delete'
""",
    doc="Current row per primary key from the change log. Spark plan is "
    "latest_by: one max(struct((sequence, event_number), rest)) per key, a "
    "partial+final SortAggregate with map-side partial aggregation — "
    "shuffle volume ~ |keys|, not |events|.",
)
def cdc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = synthetic_customer_events(spark, sf_dir)
    snap = latest_snapshot(events, ["c_custkey"])
    return snap.select(*PAYLOAD_COLS)


@register(
    "cdc_resume_offset",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT domain, server_id, max(sequence) AS max_sequence,
       domain || '-' || server_id || '-' || max(sequence) AS gtid
FROM cdc_events GROUP BY domain, server_id
""",
    doc="Max GTID per (domain, server_id) = the position to pass to "
    "connect(table, gtid) on restart (cdc_connector.cpp:199-206).",
)
def cdc_resume_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resume_offset(synthetic_customer_events(spark, sf_dir))


@register(
    "cdc_update_pairs",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT b.c_custkey, b.domain, b.server_id, b.sequence,
       b.c_acctbal AS old_c_acctbal, a.c_acctbal AS new_c_acctbal,
       b.c_mktsegment AS old_c_mktsegment, a.c_mktsegment AS new_c_mktsegment
FROM (SELECT * FROM cdc_events WHERE event_type = 'update_before') b
JOIN (SELECT * FROM cdc_events WHERE event_type = 'update_after') a
  ON b.c_custkey = a.c_custkey AND b.domain = a.domain
 AND b.server_id = a.server_id AND b.sequence = a.sequence
""",
    doc="Pair update_before/update_after into (old, new) diffs — both sides "
    "shuffle on the same key so the join co-locates.",
)
def cdc_update_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = synthetic_customer_events(spark, sf_dir)
    pairs = update_pairs(events, ["c_custkey"], ["c_acctbal", "c_mktsegment"])
    return pairs.select(
        "c_custkey", "domain", "server_id", "sequence",
        "old_c_acctbal", "new_c_acctbal", "old_c_mktsegment", "new_c_mktsegment",
    )


@register(
    "cdc_changes_between",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT domain, server_id, sequence, event_number, event_type, c_custkey, c_acctbal
FROM cdc_events WHERE sequence >= 10000000 AND sequence < 20000000
""",
    doc="Events in a GTID/sequence range — replay window; the filter is a "
    "pushed-down range predicate (connect-from-GTID semantics, "
    "cdc_connector.h:62-69).",
)
def cdc_changes_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = synthetic_customer_events(spark, sf_dir)
    return changes_between(events, 10_000_000, 20_000_000).select(
        "domain", "server_id", "sequence", "event_number", "event_type",
        "c_custkey", "c_acctbal",
    )


@register(
    "cdc_snapshot_join_agg",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY c_custkey ORDER BY sequence DESC, event_number DESC
    ) AS rn
    FROM cdc_events
),
snap AS (
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM ranked WHERE rn = 1 AND event_type <> 'delete'
)
SELECT n.n_name, count(*) AS n_customers,
       round(sum(CAST(round(s.c_acctbal * 100) AS BIGINT)) / 100.0, 2)
         AS total_acctbal
FROM snap s JOIN nation n ON s.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    doc="Flagship: change log → latest snapshot → broadcast join to nation → "
    "aggregate. Exercises decode semantics, snapshot, join, agg in one "
    "plan. The balance total is an exact integer cents sum (r11 — "
    "acctbal can be negative, which the sign-safe cents pattern carries; "
    "only the half-up (+50) div form needs non-negative sums).",
)
def cdc_snapshot_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = synthetic_customer_events(spark, sf_dir).select(
        "c_custkey", *GTID_ORDER, "event_type", "c_nationkey", "c_acctbal"
    )
    snap = latest_snapshot(events, ["c_custkey"])
    nation = load_table(spark, "nation", sf_dir)
    return (
        snap.join(F.broadcast(nation), snap.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(
                F.expr(
                    "sum(cast(cast(round(c_acctbal * 100) as bigint)"
                    " as decimal(38,0)))"
                )
                / 100.0,
                2,
            ).alias("total_acctbal"),
        )
    )


# Hand-pinned expected introspection table — independent of the typemap
# implementation, so the oracle actually checks it (one row per field of
# CUSTOMER_SCHEMA_RECORD, in declaration order).
_FIELDS_ORACLE_SQL = """
SELECT * FROM (VALUES
    (0, 'domain', 'int', 'int'),
    (1, 'server_id', 'int', 'int'),
    (2, 'sequence', 'bigint', 'bigint'),
    (3, 'event_number', 'int', 'int'),
    (4, 'event_ts', 'bigint', 'bigint'),
    (5, 'event_type', 'varchar(16)', 'string'),
    (6, 'c_custkey', 'bigint', 'bigint'),
    (7, 'c_name', 'varchar(25)', 'string'),
    (8, 'c_nationkey', 'int', 'int'),
    (9, 'c_acctbal', 'double', 'double'),
    (10, 'c_mktsegment', 'varchar(10)', 'string')
) AS t(ordinal, field_name, sql_type, spark_type)
"""


# Avrorouter-style schema record for a stream carrying a DECIMAL column —
# exercises the decimal branch of the typemap (typemap.py) end-to-end, the
# type string shape the reference emits for MariaDB DECIMAL
# (cdc_connector.cpp:272-281: real_type + "(p,s)" suffix).
ORDER_DECIMAL_SCHEMA_RECORD = json.dumps(
    {
        "namespace": "MaxScaleChangeDataSchema.avro",
        "type": "record",
        "name": "ChangeRecord",
        "fields": [
            {"name": "sequence", "type": "long", "real_type": "bigint", "length": -1},
            {
                "name": "event_type",
                "type": {"type": "enum", "name": "EVENT_TYPES"},
                "real_type": "varchar",
                "length": 16,
            },
            {"name": "o_orderkey", "type": "long", "real_type": "bigint", "length": -1},
            {
                "name": "o_orderpriority",
                "type": "string",
                "real_type": "varchar",
                "length": 15,
            },
            {
                "name": "o_price",
                "type": "string",
                "real_type": "decimal(12,2)",
                "length": -1,
            },
        ],
    }
)


@register(
    "cdc_decode_decimal",
    oracle="""
WITH src AS (
    SELECT o_orderpriority,
           CAST(
               ((o_orderkey * 137 + o_custkey) % 1000000000) // 100
               || '.' ||
               lpad(CAST((o_orderkey * 137 + o_custkey) % 100 AS VARCHAR), 2, '0')
               AS DECIMAL(12,2)
           ) AS o_price
    FROM orders
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(o_price) AS DOUBLE) AS sum_price,
       CAST(min(o_price) AS DOUBLE) AS min_price,
       CAST(max(o_price) AS DOUBLE) AS max_price
FROM src GROUP BY o_orderpriority
""",
    doc="DECIMAL end-to-end: a MariaDB DECIMAL(12,2) column rides the JSON "
    "wire form, decodes through the typemap's decimal branch into "
    "DecimalType(12,2) (reference type strings: cdc_connector.cpp:272-281), "
    "and aggregates in exact decimal arithmetic. The amount is built from "
    "integer math as a 2-decimal string so neither engine ever rounds a "
    "float; final sums cast to DOUBLE only at the output boundary (both "
    "engines take the nearest double of the same exact decimal, so the "
    "driver hash agrees). Sum/min/max stay in decimal internally — avg is "
    "deliberately omitted (Spark computes decimal avg exactly at scale+4, "
    "DuckDB computes it in floating point; they legitimately differ).",
)
def cdc_decode_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    cents = (F.col("o_orderkey") * 137 + F.col("o_custkey")) % 1_000_000_000
    price_str = F.concat(
        (cents / 100).cast("bigint").cast("string"),
        F.lit("."),
        F.lpad((cents % 100).cast("string"), 2, "0"),
    )
    events = o.select(
        F.col("o_orderkey").cast("bigint").alias("sequence"),
        F.lit("insert").alias("event_type"),
        F.col("o_orderkey").cast("bigint"),
        F.col("o_orderpriority"),
        price_str.alias("o_price"),
    )
    raw = events.select(F.to_json(F.struct(*events.columns)).alias("value"))
    schema = schema_record_to_struct(ORDER_DECIMAL_SCHEMA_RECORD)
    decoded = decode_events(raw, schema)  # o_price is DecimalType(12,2) here
    return decoded.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("o_price").cast("double").alias("sum_price"),
        F.min("o_price").cast("double").alias("min_price"),
        F.max("o_price").cast("double").alias("max_price"),
    )


@register(
    "cdc_schema_fields",
    oracle=_FIELDS_ORACLE_SQL,
    doc="Schema-introspection parity with Connection::fields() "
    "(cdc_connector.h:113-123): the {field → SQL type} map from the "
    "avrorouter schema record, plus the Spark DataType each SQL type "
    "decodes to (the typemap upgrade of cdc_connector.cpp:250-286). The "
    "oracle is the hand-pinned expected table; the query derives its rows "
    "from the schema record through the typemap at runtime.",
)
def cdc_schema_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.typemap import (
        schema_record_fields,
        schema_record_to_struct,
    )

    fields = schema_record_fields(CUSTOMER_SCHEMA_RECORD)
    struct = schema_record_to_struct(CUSTOMER_SCHEMA_RECORD)
    rows = [
        (i, name, sql_t, struct[name].dataType.simpleString())
        for i, (name, sql_t) in enumerate(fields.items())
    ]
    return spark.createDataFrame(
        rows, "ordinal int, field_name string, sql_type string, spark_type string"
    )


@register(
    "cdc_scd2_history",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
boundary AS (
    SELECT * FROM cdc_events
    WHERE event_type IN ('insert', 'update_after', 'delete')
),
hist AS (
    SELECT *, lead(sequence) OVER (
        PARTITION BY c_custkey ORDER BY sequence, event_number
    ) AS valid_to_seq
    FROM boundary
)
SELECT c_custkey, c_acctbal, c_mktsegment,
       sequence AS valid_from_seq,
       valid_to_seq,
       (valid_to_seq IS NULL) AS is_current
FROM hist WHERE event_type <> 'delete'
""",
    doc="Type-2 SCD history from the change log: every insert/update_after "
    "opens a version valid until the next version-or-delete for that key; "
    "deletes close without opening; newest undeleted version is current. "
    "The reference streams raw row events and leaves history to the "
    "consumer (cdc_connector.h:240-258 exposes only per-event rows) — "
    "this is the warehouse-side operator that consumer would build. One "
    "lead() window = one shuffle on the primary key.",
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = synthetic_customer_events(spark, sf_dir)
    return scd2_history(events, ["c_custkey"], ["c_acctbal", "c_mktsegment"])


@register(
    "cdc_incremental_agg",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
deltas AS (
    SELECT c_nationkey,
           CASE event_type
                WHEN 'insert' THEN CAST(round(c_acctbal * 100) AS BIGINT)
                WHEN 'update_after' THEN CAST(round(c_acctbal * 100) AS BIGINT)
                WHEN 'update_before' THEN -CAST(round(c_acctbal * 100) AS BIGINT)
                WHEN 'delete' THEN -CAST(round(c_acctbal * 100) AS BIGINT)
           END AS d_cents,
           CASE event_type
                WHEN 'insert' THEN 1
                WHEN 'update_after' THEN 1
                WHEN 'update_before' THEN -1
                WHEN 'delete' THEN -1
           END AS d_rows
    FROM cdc_events
)
SELECT c_nationkey,
       CAST(sum(d_rows) AS BIGINT) AS n_rows,
       round(sum(d_cents) / 100.0, 2) AS total_acctbal
FROM deltas GROUP BY c_nationkey
""",
    doc="Incremental aggregate maintenance from the change log: every event "
    "contributes a signed delta (+row for insert/update_after, -row for "
    "update_before/delete), so the maintained per-nation totals equal the "
    "recomputed snapshot aggregate WITHOUT materializing per-key state — "
    "ONE scan of the deltas and a shuffle of |groups| partial rows, vs "
    "the snapshot path's per-key groupBy. This is how a downstream "
    "warehouse applies a CDC feed to a rollup at 100 TB: deltas stream "
    "into a decomposable aggregate; equality with the snapshot aggregate "
    "is pinned in pytest.",
)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = synthetic_customer_events(spark, sf_dir)
    sign = (
        F.when(F.col("event_type").isin("insert", "update_after"), F.lit(1))
        .when(F.col("event_type").isin("update_before", "delete"), F.lit(-1))
    )
    # Signed deltas in exact integer cents (r11): cancellation makes the
    # float form WORSE than a plain sum — the net total is small while
    # the positive/negative partials are large, so relative error is
    # unbounded; integer cents cancel exactly at any accumulation order.
    cents = F.expr("cast(round(c_acctbal * 100) as bigint)")
    return (
        events.select(
            "c_nationkey",
            (sign * cents).cast("decimal(38,0)").alias("d_cents"),
            sign.alias("d_rows"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.sum("d_rows").cast("bigint").alias("n_rows"),
            F.round(F.sum("d_cents") / 100.0, 2).alias("total_acctbal"),
        )
    )


@register(
    "cdc_point_in_time",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
as_of AS (SELECT * FROM cdc_events WHERE sequence <= 15000000),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY c_custkey ORDER BY sequence DESC, event_number DESC
    ) AS rn
    FROM as_of
)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM ranked WHERE rn = 1 AND event_type <> 'delete'
""",
    doc="Point-in-time snapshot (time travel): the table as of GTID "
    "sequence 15,000,000 — after the update wave, before any delete — "
    "by filtering the replay window FIRST (a pushed-down range "
    "predicate) and snapshotting with the same latest_by aggregate as "
    "cdc_latest_snapshot. The change log is the history; any historical "
    "state is one filtered aggregate away, no stored snapshots needed.",
)
def cdc_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = synthetic_customer_events(spark, sf_dir)
    asof = changes_between(events, 0, 15_000_001)
    return latest_snapshot(asof, ["c_custkey"]).select(*PAYLOAD_COLS)


@register(
    "cdc_dead_letter",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT 'good' AS channel, CAST(count(*) AS BIGINT) AS n FROM cdc_events
UNION ALL
SELECT 'dead_letter' AS channel, CAST(4 AS BIGINT) AS n
""",
    doc="Dead-letter decode over a log with malformed lines mixed in: "
    "good rows decode typed, bad lines are quarantined with the raw "
    "payload preserved (split_dead_letter). Every well-formed event "
    "must survive and EXACTLY the four injected junk lines must "
    "quarantine — the oracle pins both channel counts (the good count "
    "is the full synthetic log; a decode regression that drops or "
    "misroutes any line flips a row). Exact routing of each line is "
    "additionally pinned in tests/test_cdc_queries.py.",
)
def cdc_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.cdc import split_dead_letter
    from maxscale_cdc_connector_spark.typemap import schema_record_to_struct

    events = synthetic_customer_events(spark, sf_dir)
    raw = events.select(F.to_json(F.struct(*events.columns)).alias("value"))
    junk = spark.createDataFrame(
        [("{not json",), ('{"unrelated": 1}',), ("",), ('["array", "line"]',)],
        "value string",
    )
    mixed = raw.unionByName(junk)
    schema = schema_record_to_struct(CUSTOMER_SCHEMA_RECORD)
    good, bad = split_dead_letter(mixed, schema)
    return spark.createDataFrame(
        [("good", good.count()), ("dead_letter", bad.count())],
        "channel string, n long",
    )


@register(
    "cdc_sequence_gaps",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
seqs AS (SELECT DISTINCT domain, server_id, sequence FROM cdc_events),
lagged AS (
    SELECT domain, server_id, sequence,
           lag(sequence) OVER (PARTITION BY domain, server_id
                               ORDER BY sequence) AS prev_seq
    FROM seqs
)
SELECT domain, server_id,
       CAST(prev_seq + 1 AS BIGINT) AS gap_start,
       CAST(sequence - 1 AS BIGINT) AS gap_end,
       CAST(sequence - prev_seq - 1 AS BIGINT) AS gap_size
FROM lagged
WHERE prev_seq IS NOT NULL AND sequence > prev_seq + 1
""",
    doc="Sequence-gap detection — the operational 'did we lose events?' "
    "monitor an at-least-once CDC consumer (cdc_connector.h:62-69 resume "
    "contract) runs continuously. Emits every missing [gap_start, "
    "gap_end] range per (domain, server_id) stream. The oracle is the "
    "textbook per-stream lag() window; the Spark plan is the DISTRIBUTED "
    "form: sequences bucket by DIV 100k, gaps INSIDE a bucket come from "
    "a window partitioned by (stream, bucket) — thousands of independent "
    "partitions, no per-stream reducer funnel — and gaps ACROSS bucket "
    "boundaries from a per-bucket min/max aggregate (rows = #buckets, "
    "not #events) lagged per stream. Same answer, no single-partition "
    "sort of a 100 TB log.",
)
def cdc_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    bucket_width = 100_000
    ev = synthetic_customer_events(spark, sf_dir)
    seqs = ev.select("domain", "server_id", "sequence").distinct()
    b = seqs.withColumn("bk", F.expr(f"sequence DIV {bucket_width}"))

    gap_cols = [
        F.col("domain"),
        F.col("server_id"),
        (F.col("prev_seq") + 1).cast("bigint").alias("gap_start"),
        (F.col("sequence") - 1).cast("bigint").alias("gap_end"),
        (F.col("sequence") - F.col("prev_seq") - 1).cast("bigint").alias("gap_size"),
    ]
    # Gaps inside a bucket: window keyed on (stream, bucket) — parallel.
    w_in = W.partitionBy("domain", "server_id", "bk").orderBy("sequence")
    inside = (
        b.withColumn("prev_seq", F.lag("sequence").over(w_in))
        .filter(F.col("prev_seq").isNotNull() & (F.col("sequence") > F.col("prev_seq") + 1))
        .select(*gap_cols)
    )
    # Gaps across bucket boundaries: one row per non-empty bucket.
    bounds = b.groupBy("domain", "server_id", "bk").agg(
        F.min("sequence").alias("lo"), F.max("sequence").alias("hi")
    )
    w_bk = W.partitionBy("domain", "server_id").orderBy("bk")
    across = (
        bounds.withColumn("prev_seq", F.lag("hi").over(w_bk))
        .withColumn("sequence", F.col("lo"))
        .filter(F.col("prev_seq").isNotNull() & (F.col("sequence") > F.col("prev_seq") + 1))
        .select(*gap_cols)
    )
    return inside.unionByName(across)


@register(
    "cdc_snapshot_diff",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
snap1 AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY c_custkey ORDER BY sequence DESC, event_number DESC
        ) AS rn
        FROM cdc_events WHERE event_ts <= 1599999999
    ) WHERE rn = 1 AND event_type <> 'delete'
),
snap2 AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY c_custkey ORDER BY sequence DESC, event_number DESC
        ) AS rn
        FROM cdc_events
    ) WHERE rn = 1 AND event_type <> 'delete'
)
SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
       CASE WHEN b.c_custkey IS NULL THEN 'removed'
            WHEN a.c_custkey IS NULL THEN 'added'
            ELSE 'changed' END AS change,
       CAST(round(a.c_acctbal * 100) AS BIGINT) AS old_acctbal_e2,
       CAST(round(b.c_acctbal * 100) AS BIGINT) AS new_acctbal_e2
FROM snap1 a
FULL OUTER JOIN snap2 b ON a.c_custkey = b.c_custkey
WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL
   OR a.c_acctbal <> b.c_acctbal OR a.c_name <> b.c_name
   OR a.c_nationkey <> b.c_nationkey OR a.c_mktsegment <> b.c_mktsegment
""",
    doc="Snapshot diff between two points in time: what changed in the "
    "table between T1 and T2 — the audit/reconciliation query a CDC "
    "consumer runs to answer 'what did last night's replication do'. "
    "Each snapshot is the latest_by aggregate (no window sort) at its "
    "cutoff; the diff is a full outer join on the primary key with "
    "added/removed/changed classification. Both sides shuffle once on "
    "the key and balances are exact integer cents.",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = synthetic_customer_events(spark, sf_dir)
    s1 = latest_snapshot(ev.filter(F.col("event_ts") <= 1_599_999_999), ["c_custkey"])
    s2 = latest_snapshot(ev, ["c_custkey"])
    a = s1.select(
        F.col("c_custkey").alias("k1"),
        F.col("c_acctbal").alias("bal1"),
        F.col("c_name").alias("name1"),
        F.col("c_nationkey").alias("nat1"),
        F.col("c_mktsegment").alias("seg1"),
    )
    b = s2.select(
        F.col("c_custkey").alias("k2"),
        F.col("c_acctbal").alias("bal2"),
        F.col("c_name").alias("name2"),
        F.col("c_nationkey").alias("nat2"),
        F.col("c_mktsegment").alias("seg2"),
    )
    change = (
        F.when(F.col("k2").isNull(), "removed")
        .when(F.col("k1").isNull(), "added")
        .otherwise("changed")
    )
    differs = (
        F.col("k1").isNull()
        | F.col("k2").isNull()
        | (F.col("bal1") != F.col("bal2"))
        | (F.col("name1") != F.col("name2"))
        | (F.col("nat1") != F.col("nat2"))
        | (F.col("seg1") != F.col("seg2"))
    )
    return (
        a.join(b, a.k1 == b.k2, "full_outer")
        .filter(differs)
        .select(
            F.coalesce(F.col("k1"), F.col("k2")).alias("c_custkey"),
            change.alias("change"),
            F.expr("cast(round(bal1 * 100) as bigint)").alias("old_acctbal_e2"),
            F.expr("cast(round(bal2 * 100) as bigint)").alias("new_acctbal_e2"),
        )
    )


@register(
    "cdc_column_churn",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
pairs AS (
    SELECT b.c_name AS old_c_name, a.c_name AS new_c_name,
           b.c_nationkey AS old_c_nationkey, a.c_nationkey AS new_c_nationkey,
           b.c_acctbal AS old_c_acctbal, a.c_acctbal AS new_c_acctbal,
           b.c_mktsegment AS old_c_mktsegment, a.c_mktsegment AS new_c_mktsegment
    FROM (SELECT * FROM cdc_events WHERE event_type = 'update_before') b
    JOIN (SELECT * FROM cdc_events WHERE event_type = 'update_after') a
      ON b.c_custkey = a.c_custkey AND b.domain = a.domain
     AND b.server_id = a.server_id AND b.sequence = a.sequence
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_updates,
           CAST(sum(CASE WHEN old_c_name IS DISTINCT FROM new_c_name
                    THEN 1 ELSE 0 END) AS BIGINT) AS ch_name,
           CAST(sum(CASE WHEN old_c_nationkey IS DISTINCT FROM new_c_nationkey
                    THEN 1 ELSE 0 END) AS BIGINT) AS ch_nationkey,
           CAST(sum(CASE WHEN old_c_acctbal IS DISTINCT FROM new_c_acctbal
                    THEN 1 ELSE 0 END) AS BIGINT) AS ch_acctbal,
           CAST(sum(CASE WHEN old_c_mktsegment IS DISTINCT FROM new_c_mktsegment
                    THEN 1 ELSE 0 END) AS BIGINT) AS ch_mktsegment
    FROM pairs
)
SELECT 'c_name' AS column_name, n_updates, ch_name AS n_changed FROM agg
UNION ALL SELECT 'c_nationkey', n_updates, ch_nationkey FROM agg
UNION ALL SELECT 'c_acctbal', n_updates, ch_acctbal FROM agg
UNION ALL SELECT 'c_mktsegment', n_updates, ch_mktsegment FROM agg
""",
    doc="Per-column update churn: of all paired update_before/update_after "
    "events, how many actually CHANGED each column (null-safe compare). "
    "The CDC-operations question behind hot-column monitoring, "
    "trigger-storm diagnosis, and schema-denormalization decisions — "
    "an update event that changes nothing is replication noise worth "
    "seeing. One co-located pair join (both halves shuffle on the same "
    "(key, gtid) key) + one global aggregate; the per-column rows are "
    "a 1-row stack, so output is |columns| rows at any log size.",
)
def cdc_column_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.cdc import synthetic_customer_events, update_pairs

    events = synthetic_customer_events(spark, sf_dir)
    cols = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    pairs = update_pairs(events, ["c_custkey"], cols)
    changed = [
        F.sum(
            F.when(~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}")), 1).otherwise(0)
        )
        .cast("bigint")
        .alias(f"ch_{c}")
        for c in cols
    ]
    agg = pairs.agg(F.count("*").alias("n_updates"), *changed)
    stack = ", ".join(f"'{c}', ch_{c}" for c in cols)
    return agg.selectExpr(
        f"stack({len(cols)}, {stack}) AS (column_name, n_changed)", "n_updates"
    ).select("column_name", "n_updates", "n_changed")


@register(
    "cdc_key_hotspots",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT c_custkey,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN event_type = 'insert' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_inserts,
       CAST(sum(CASE WHEN event_type LIKE 'update%' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_updates,
       CAST(sum(CASE WHEN event_type = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_deletes
FROM cdc_events
GROUP BY c_custkey
ORDER BY n_events DESC, c_custkey
LIMIT 10
""",
    doc="Hot-key monitor: the 10 most-changed primary keys with their "
    "event-type mix — the operational 'which rows are churning' view "
    "that flags update storms, retry loops and delete/recreate "
    "anti-patterns before they skew downstream partitions. One "
    "map-side-combinable aggregate keyed on the pk plus "
    "TakeOrderedAndProject under a total (n DESC, key) order; at any "
    "log size the driver sees 10 rows.",
)
def cdc_key_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.cdc import synthetic_customer_events

    events = synthetic_customer_events(spark, sf_dir)
    return (
        events.groupBy("c_custkey")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "insert", 1).otherwise(0))
            .cast("bigint")
            .alias("n_inserts"),
            F.sum(F.when(F.col("event_type").startswith("update"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_updates"),
            F.sum(F.when(F.col("event_type") == "delete", 1).otherwise(0))
            .cast("bigint")
            .alias("n_deletes"),
        )
        .orderBy(F.desc("n_events"), F.asc("c_custkey"))
        .limit(10)
    )


@register(
    "cdc_txn_size_histogram",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
txn AS (
    SELECT domain, server_id, sequence, CAST(count(*) AS BIGINT) AS n_events
    FROM cdc_events GROUP BY domain, server_id, sequence
)
SELECT n_events AS txn_size,
       CAST(count(*) AS BIGINT) AS n_txns,
       CAST(sum(n_events) AS BIGINT) AS n_rows
FROM txn GROUP BY n_events
""",
    doc="Transaction-size profile of the change log: each GTID "
    "(domain, server_id, sequence) is one transaction "
    "(cdc_connector.h:171-189 exposes exactly these fields per event); "
    "the histogram of events-per-transaction is what sizes consumer "
    "micro-batches and flags runaway bulk transactions (a 1M-row txn "
    "needs chunked apply; a flood of 1-row txns wants group-commit). "
    "Two map-side-combinable hash aggregates — per-GTID counts then a "
    "histogram over sizes; output height is the distinct size count, "
    "independent of log volume.",
)
def cdc_txn_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = synthetic_customer_events(spark, sf_dir)
    txn = ev.groupBy("domain", "server_id", "sequence").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    return txn.groupBy(F.col("n_events").alias("txn_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_txns"),
        F.sum("n_events").cast("bigint").alias("n_rows"),
    )


@register(
    "cdc_incremental_join_view",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY c_custkey ORDER BY sequence DESC, event_number DESC
    ) AS rn
    FROM cdc_events
),
final AS (
    SELECT c_custkey, c_nationkey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS acct_cents
    FROM ranked WHERE rn = 1 AND event_type <> 'delete'
),
ordrev AS (
    SELECT o_custkey,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
    FROM orders GROUP BY o_custkey
)
SELECT f.c_nationkey,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(f.acct_cents) AS BIGINT) AS acctbal_cents,
       CAST(coalesce(sum(o.rev_cents), 0) AS BIGINT) AS revenue_cents
FROM final f LEFT JOIN ordrev o ON o.o_custkey = f.c_custkey
GROUP BY f.c_nationkey
""",
    doc="Incremental JOIN-view maintenance (delta-join IVM): keep a "
    "per-nation (customer count, account balance, order revenue) view "
    "current under the customer change log WITHOUT re-joining the fact "
    "table to a rebuilt snapshot. Every event contributes a signed "
    "delta (+1 insert/update_after, -1 update_before/delete) in exact "
    "integer cents, so per-key contributions telescope to the final "
    "state; the revenue leg joins the signed delta batch (broadcast — "
    "a CDC batch is small by definition) against the per-customer "
    "fact pre-aggregate, which is scanned ONCE and never reshuffled. "
    "The oracle recomputes the view from the terminal snapshot — the "
    "driver hash IS the delta==recompute equivalence proof. Updates "
    "exercise the in-place-change path (acctbal moves, revenue "
    "doesn't), deletes the retraction path (both legs drop).",
)
def cdc_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = synthetic_customer_events(spark, sf_dir)
    sign = (
        F.when(F.col("event_type").isin("insert", "update_after"), F.lit(1))
        .when(F.col("event_type").isin("update_before", "delete"), F.lit(-1))
    )
    deltas = ev.select(
        "c_custkey",
        "c_nationkey",
        sign.alias("sign"),
        (sign * F.round(F.col("c_acctbal") * 100).cast("bigint")).alias("d_acct_cents"),
    )
    base = deltas.groupBy("c_nationkey").agg(
        F.sum("sign").cast("bigint").alias("n_customers"),
        F.sum("d_acct_cents").cast("bigint").alias("acctbal_cents"),
    )
    o = load_table(spark, "orders", sf_dir)
    ordrev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_cents")
    )
    rev_delta = (
        ordrev.join(
            F.broadcast(deltas.select("c_custkey", "c_nationkey", "sign")),
            ordrev.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(F.sum(F.col("sign") * F.col("rev_cents")).cast("bigint").alias("revenue_cents"))
    )
    return (
        base.where(F.col("n_customers") > 0)
        .join(rev_delta, "c_nationkey", "left")
        .select(
            "c_nationkey",
            "n_customers",
            "acctbal_cents",
            F.coalesce(F.col("revenue_cents"), F.lit(0)).cast("bigint").alias("revenue_cents"),
        )
    )


@register(
    "cdc_backfill_chunks",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
tiled AS (
    SELECT sequence, ntile(8) OVER (ORDER BY sequence, event_number) AS chunk
    FROM cdc_events
)
SELECT CAST(chunk AS BIGINT) AS chunk,
       CAST(min(sequence) AS BIGINT) AS seq_lo,
       CAST(max(sequence) AS BIGINT) AS seq_hi,
       CAST(count(*) AS BIGINT) AS n_events
FROM tiled GROUP BY chunk
""",
    doc="Backfill chunk planning: split the change log into 8 equal-"
    "FREQUENCY GTID-sequence ranges so parallel backfill workers get "
    "balanced work even when sequences are bursty (equal-WIDTH ranges "
    "would give one worker the bulk-insert wave and the rest air). "
    "Chunking needs a global rank over (sequence, event_number) — "
    "computed with the distributed exact ntile (range partition + "
    "offset prefix sum, operators/ranking.py), so no single reducer "
    "sees the log; the per-chunk (lo, hi, count) boundary table is "
    "what the replay coordinator hands to workers as REQUEST-DATA "
    "ranges (cdc_connector.cpp:199-206 consumes exactly such a "
    "start position).",
)
def cdc_backfill_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.ranking import exact_ntile

    ev = synthetic_customer_events(spark, sf_dir).select("sequence", "event_number")
    tiled = exact_ntile(ev, [F.asc("sequence"), F.asc("event_number")], 8, out="chunk")
    return tiled.groupBy("chunk").agg(
        F.min("sequence").cast("bigint").alias("seq_lo"),
        F.max("sequence").cast("bigint").alias("seq_hi"),
        F.count("*").cast("bigint").alias("n_events"),
    )


@register(
    "cdc_scd2_temporal_join",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
vers0 AS (
    SELECT c_custkey, c_mktsegment, event_type, event_ts,
           lead(event_ts) OVER (
               PARTITION BY c_custkey ORDER BY sequence, event_number
           ) AS valid_to
    FROM cdc_events
    WHERE event_type IN ('insert', 'update_after', 'delete')
),
vers AS (
    SELECT c_custkey, c_mktsegment, event_ts AS valid_from, valid_to
    FROM vers0 WHERE event_type <> 'delete'
),
enriched AS (
    SELECT e.event_id, e.value, v.c_mktsegment
    FROM events e
    LEFT JOIN vers v
      ON v.c_custkey = e.user_id
     AND epoch_us(e.ts) // 1000000 >= v.valid_from
     AND (v.valid_to IS NULL OR epoch_us(e.ts) // 1000000 < v.valid_to)
)
SELECT coalesce(c_mktsegment, '<deleted>') AS segment_at_event_time,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM enriched GROUP BY segment_at_event_time
""",
    doc="Temporal dimension join (AS-OF enrichment against SCD2 "
    "history): every event joins the customer VERSION whose validity "
    "interval covers the event's timestamp — versions cut from the "
    "change log with one lead() window (insert/update_after open a "
    "version, delete closes without opening), the same derivation as "
    "cdc_scd2_history. Deleted-at-event-time users surface as "
    "'<deleted>' — time-correct attribution, where a naive join to the "
    "CURRENT snapshot would backdate today's segment onto last year's "
    "events. Join plan: equi key (user) + residual BETWEEN on the "
    "interval — a keyed join with per-key version lists, never a "
    "cartesian; value summed in exact integer cents.",
)
def cdc_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from maxscale_cdc_connector_spark.session import events_ts_us

    ev = synthetic_customer_events(spark, sf_dir)
    w = W.partitionBy("c_custkey").orderBy("sequence", "event_number")
    vers = (
        ev.where(F.col("event_type").isin("insert", "update_after", "delete"))
        .withColumn("valid_to", F.lead("event_ts").over(w))
        .where(F.col("event_type") != "delete")
        .select(
            "c_custkey", "c_mktsegment", F.col("event_ts").alias("valid_from"), "valid_to"
        )
    )
    e = events_ts_us(load_table(spark, "events", sf_dir)).select(
        "event_id", "user_id", "value", F.expr("ts_us DIV 1000000").alias("ts_sec")
    )
    enriched = e.join(
        vers,
        (vers.c_custkey == e.user_id)
        & (e.ts_sec >= vers.valid_from)
        & (vers.valid_to.isNull() | (e.ts_sec < vers.valid_to)),
        "left",
    )
    return enriched.groupBy(
        F.coalesce("c_mktsegment", F.lit("<deleted>")).alias("segment_at_event_time")
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("value_cents"),
    )


@register(
    "cdc_merge_into_upsert",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
base AS (
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY c_custkey ORDER BY sequence DESC, event_number DESC
    ) AS rn
    FROM cdc_events WHERE sequence >= 10000000
),
net AS (
    SELECT c_custkey, event_type, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM ranked WHERE rn = 1
)
SELECT coalesce(b.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN n.event_type IS NULL THEN b.c_name ELSE n.c_name END AS c_name,
       CASE WHEN n.event_type IS NULL THEN b.c_nationkey ELSE n.c_nationkey END
           AS c_nationkey,
       CASE WHEN n.event_type IS NULL THEN b.c_acctbal ELSE n.c_acctbal END
           AS c_acctbal,
       CASE WHEN n.event_type IS NULL THEN b.c_mktsegment ELSE n.c_mktsegment END
           AS c_mktsegment,
       CASE WHEN n.event_type IS NULL THEN 'kept'
            WHEN b.c_custkey IS NULL THEN 'inserted'
            ELSE 'updated' END AS merge_action
FROM base b FULL OUTER JOIN net n ON n.c_custkey = b.c_custkey
WHERE n.event_type IS NULL OR n.event_type <> 'delete'
""",
    doc="MERGE INTO (lakehouse upsert): the update/delete tranche of the "
    "change log applied onto the base snapshot in one pass — delta "
    "collapsed to one net action per key by GTID order (latest_by, "
    "map-side partials: shuffle ~ |keys| not |events|), then a single "
    "key-partitioned full-outer join resolves kept/updated/inserted and "
    "drops deletes. Provenance rides along as merge_action. The result "
    "must equal cdc_latest_snapshot over the full log (pytest pins the "
    "equivalence) — same answer, O(|base|+|delta|) instead of replaying "
    "history.",
)
def cdc_merge_into_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.operators.cdc import merge_upsert

    events = synthetic_customer_events(spark, sf_dir)
    base = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    delta = events.filter(F.col("sequence") >= 10_000_000)
    return merge_upsert(
        base, delta, ["c_custkey"],
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )


@register(
    "cdc_incremental_var",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
signed AS (
    SELECT c_nationkey,
           CASE event_type WHEN 'delete' THEN -1
                           WHEN 'update_before' THEN -1 ELSE 1 END AS sgn,
           CAST(round(c_acctbal * 100) AS BIGINT) AS cents
    FROM cdc_events
),
moments AS (
    SELECT c_nationkey,
           sum(sgn) AS n,
           sum(sgn * cents) AS s1,
           sum(sgn * cents * cents) AS s2
    FROM signed GROUP BY c_nationkey
)
SELECT c_nationkey,
       CAST(n AS BIGINT) AS n,
       CAST(s1 AS BIGINT) AS s1_cents,
       CAST(s2 AS BIGINT) AS s2_cents2,
       round((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
             / (CAST(n AS DOUBLE) * n) / 10000.0, 4) AS variance
FROM moments WHERE n > 0
""",
    doc="Self-maintainable VARIANCE view from signed CDC deltas: beyond "
    "SUM/COUNT (cdc_incremental_agg), the second moment is also "
    "incrementally maintainable — insert/update_after contribute "
    "(+1, +x, +x^2), delete/update_before (-1, -x, -x^2), so the view "
    "updates from the delta stream alone, never rescanning history. "
    "Moments accumulate as EXACT 64-bit integer cents (order-"
    "independent, immune to shuffle-order float drift; bounds: 1e12 "
    "per cents^2 row, ~1e16 summed, << 2^63), with one deterministic "
    "double expression at the output boundary. A pytest pins the "
    "Lambda-architecture equivalence: these moments equal a full "
    "recompute over the latest snapshot.",
)
def cdc_incremental_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = synthetic_customer_events(spark, sf_dir)
    sgn = F.when(
        F.col("event_type").isin("delete", "update_before"), F.lit(-1)
    ).otherwise(F.lit(1))
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    signed = events.select(
        "c_nationkey", sgn.alias("sgn"), cents.alias("cents")
    )
    moments = signed.groupBy("c_nationkey").agg(
        F.sum("sgn").alias("n"),
        F.sum(F.col("sgn") * F.col("cents")).alias("s1"),
        F.sum(F.col("sgn") * F.col("cents") * F.col("cents")).alias("s2"),
    )
    var = (
        (F.col("n").cast("double") * F.col("s2")
         - F.col("s1").cast("double") * F.col("s1"))
        / (F.col("n").cast("double") * F.col("n"))
        / 10000.0
    )
    return moments.filter(F.col("n") > 0).select(
        "c_nationkey",
        F.col("n").cast("bigint").alias("n"),
        F.col("s1").cast("bigint").alias("s1_cents"),
        F.col("s2").cast("bigint").alias("s2_cents2"),
        F.round(var, 4).alias("variance"),
    )


@register(
    "cdc_txn_manifest",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT domain, server_id, sequence,
       CAST(count(*) AS BIGINT) AS n_events,
       string_agg(event_type, ',' ORDER BY event_number, event_type) AS event_chain,
       CAST(min(c_custkey) AS BIGINT) AS first_key,
       CAST(max(event_number) AS BIGINT) AS last_event_number
FROM cdc_events
GROUP BY domain, server_id, sequence
HAVING count(*) > 1
""",
    doc="Transaction reassembly: one manifest row per GTID whose "
    "transaction carries multiple events (the avrorouter emits an "
    "update's before/after halves under ONE sequence with consecutive "
    "event_numbers — envelope semantics, cdc_connector.h:65), with the "
    "event-type chain rebuilt in event_number order via an ordered "
    "string aggregation. This is the audit a downstream consumer runs "
    "to confirm transactional atomicity survived transport: a chain "
    "that is not 'update_before,update_after' means a half-applied "
    "transaction. One hash aggregate keyed on the GTID triple; "
    "map-side partials collapse each transaction before the shuffle. "
    "The chain order tie-breaks on event_type (array_sort over the "
    "(event_number, event_type) struct is total): the r11 sf1 sweep "
    "caught the oracle's bare ORDER BY event_number leaving within-tie "
    "order engine-defined once the ×10 id-shifted corpus made distinct "
    "transactions' sequences collide — a divergence invisible at "
    "sf0.01 where every (triple, event_number) is unique.",
)
def cdc_txn_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = synthetic_customer_events(spark, sf_dir)
    chain = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("event_number", "event_type"))
            ),
            lambda s: s["event_type"],
        ),
        ",",
    )
    return (
        events.groupBy("domain", "server_id", "sequence")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            chain.alias("event_chain"),
            F.min("c_custkey").cast("bigint").alias("first_key"),
            F.max("event_number").cast("bigint").alias("last_event_number"),
        )
        .where(F.col("n_events") > 1)
    )


@register(
    "cdc_multi_source_reconcile",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
replica AS (
    SELECT 1 AS domain, 3100 AS server_id,
           CAST(15000000 + c_custkey AS BIGINT) AS sequence,
           1 AS event_number,
           CAST(1650000000 + c_custkey AS BIGINT) AS event_ts,
           'update_after' AS event_type,
           c_custkey, c_name, c_nationkey, c_acctbal + 500.0 AS c_acctbal,
           'FURNITURE' AS c_mktsegment
    FROM customer WHERE c_custkey % 5 = 0
),
unioned AS (
    SELECT * FROM cdc_events UNION ALL SELECT * FROM replica
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY c_custkey
        ORDER BY event_ts DESC, domain DESC, sequence DESC, event_number DESC
    ) AS rn
    FROM unioned
)
SELECT c_custkey, CAST(domain AS BIGINT) AS src_domain,
       c_acctbal, c_mktsegment
FROM ranked WHERE rn = 1 AND event_type <> 'delete'
""",
    doc="Multi-source CDC reconciliation: two change feeds for the same "
    "table (primary domain 0 + a replica/second pipeline as domain 1) "
    "unioned and resolved per key by LAST-WRITER-WINS on (event_ts, "
    "domain, sequence, event_number) — the conflict rule active-active "
    "replication and dual-pipeline migrations need, where neither "
    "source's GTID sequence totally orders the other's. One latest_by "
    "over the 4-part order (a partial+final SortAggregate) with map-side "
    "partials — shuffle ~ |keys| across BOTH feeds, and src_domain "
    "rides along so the output shows which source won each key.",
)
def cdc_multi_source_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = synthetic_customer_events(spark, sf_dir)
    c = load_table(spark, "customer", sf_dir)
    replica = c.filter(F.col("c_custkey") % 5 == 0).select(
        F.lit(1).alias("domain"),
        F.lit(3100).alias("server_id"),
        (F.lit(15_000_000) + F.col("c_custkey")).cast("bigint").alias("sequence"),
        F.lit(1).alias("event_number"),
        (F.lit(1_650_000_000) + F.col("c_custkey")).cast("bigint").alias("event_ts"),
        F.lit("update_after").alias("event_type"),
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + 500.0).alias("c_acctbal"),
        F.lit("FURNITURE").alias("c_mktsegment"),
    )
    order = ["event_ts", "domain", "sequence", "event_number"]
    unioned = events.unionByName(replica).select(
        "c_custkey", *order, "event_type", "c_acctbal", "c_mktsegment"
    )
    resolved = latest_by(unioned, ["c_custkey"], order)
    return resolved.where(F.col("event_type") != "delete").select(
        "c_custkey",
        F.col("domain").cast("bigint").alias("src_domain"),
        "c_acctbal",
        "c_mktsegment",
    )


@register(
    "cdc_tombstone_gc",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY c_custkey ORDER BY sequence DESC, event_number DESC
    ) AS rn
    FROM cdc_events
),
horizon AS (SELECT max(event_ts) - 50000000 AS cutoff FROM cdc_events)
SELECT l.c_custkey,
       CAST(l.sequence AS BIGINT) AS tombstone_seq,
       CAST(l.event_ts AS BIGINT) AS deleted_at_ts,
       (l.event_ts <= hz.cutoff) AS gc_eligible
FROM ranked l, horizon hz
WHERE l.rn = 1 AND l.event_type = 'delete'
""",
    doc="Tombstone garbage collection planning — the log-compaction "
    "question every CDC retention job answers: which deleted keys' "
    "tombstones can be PURGED (final event is a delete, older than "
    "the retention horizon — here horizon = max event time minus a "
    "fixed window, matching how compaction offsets trail the head). "
    "Purging a tombstone too early resurrects the row on replay from "
    "an older snapshot, so the eligibility flag rides with the "
    "evidence (sequence, timestamp) rather than silently filtering. "
    "One key-partitioned latest_by in GTID order + a broadcast scalar.",
)
def cdc_tombstone_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = synthetic_customer_events(spark, sf_dir)
    last = latest_by(
        events.select("c_custkey", *GTID_ORDER, "event_type", "event_ts"), ["c_custkey"], GTID_ORDER
    )
    horizon = events.agg((F.max("event_ts") - 50_000_000).alias("cutoff"))
    return (
        last.where(F.col("event_type") == "delete")
        .crossJoin(F.broadcast(horizon))
        .select(
            "c_custkey",
            F.col("sequence").cast("bigint").alias("tombstone_seq"),
            F.col("event_ts").cast("bigint").alias("deleted_at_ts"),
            (F.col("event_ts") <= F.col("cutoff")).alias("gc_eligible"),
        )
    )
