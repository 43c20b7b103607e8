"""Driver-checkable batch analogs of the streaming operators.

Spark's unified model means every streaming/ops.py operator runs
identically on a batch DataFrame — so the windowed operators get
oracle-checked here over the `events` table (the true streaming forms,
with watermarks/state/micro-batches, are pinned by tests/test_streaming.py
against the file-replay source, which the driver records as the weaker
rows-only check via `stream_replay_count`).

`events.ts`'s physical parquet type has drifted between testdata
generations (TIMESTAMP(NANOS) vs timestamp[us]); session.events_ts_us /
events_ts_timestamp normalize it to epoch-micros type-adaptively. DuckDB
reads either physical type as a microsecond TIMESTAMP, so parity holds
regardless of which the data ships with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from maxscale_cdc_connector_spark.operators.cdc import CDC_EVENTS_SQL, synthetic_customer_events
from maxscale_cdc_connector_spark.queries.registry import register
from maxscale_cdc_connector_spark.session import events_ts_timestamp, events_ts_us
from maxscale_cdc_connector_spark.session import load_table as t
from maxscale_cdc_connector_spark.streaming.ops import (
    dedup_exact,
    session_agg,
    sliding_agg,
    tumbling_agg,
)


def _value_cents_sum(ndigits: int):
    """Exact sum of the 2-decimal ``value`` column in integer cents
    (r11 — same half-unit-lattice hazard as the money sums; rounding to
    4 digits does NOT snap a drifted float sum back to the source's
    1e-2 lattice, and windowed groups grow with corpus size). Works
    identically under streaming partial aggregation: the cents cast is
    per-row, the sum is decomposable."""
    return F.round(
        F.expr(
            "sum(cast(cast(round(value * 100) as bigint) as decimal(38,0)))"
        )
        / 100.0,
        ndigits,
    ).alias("value_sum")


def _events_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_ts_timestamp(t(spark, "events", sf_dir))


@register(
    "stream_tumbling_agg",
    oracle="""
SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS win_start,
       event_type,
       count(*) AS n,
       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS value_sum
FROM events
GROUP BY 1, 2
""",
    doc="Tumbling 10-minute windows per event_type (batch form of the "
    "streaming tumbling agg; windows are epoch-aligned on both engines). "
    "Decomposable aggregates only — the same plan streams under a "
    "watermark (tests/test_streaming.py).",
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tumbling_agg(
        _events_ts(spark, sf_dir),
        "ts_us",
        "10 minutes",
        ["event_type"],
        [F.count("*").alias("n"), _value_cents_sum(4)],
    )
    return out.select(F.col("win.start").alias("win_start"), "event_type", "n", "value_sum")


@register(
    "stream_sliding_agg",
    oracle="""
WITH buckets AS (
    SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS tb, event_id, value FROM events
),
exploded AS (
    SELECT unnest([tb, tb - INTERVAL 5 MINUTE]) AS win_start, event_id, value
    FROM buckets
)
SELECT win_start, count(*) AS n,
       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS value_sum
FROM exploded GROUP BY win_start
""",
    doc="Sliding windows 10 min long every 5 min: each event lands in "
    "exactly two windows (the 5-min bucket it starts and the previous "
    "one) — the oracle materializes that membership with unnest.",
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sliding_agg(
        _events_ts(spark, sf_dir),
        "ts_us",
        "10 minutes",
        "5 minutes",
        [],
        [F.count("*").alias("n"), _value_cents_sum(4)],
    )
    return out.select(F.col("win.start").alias("win_start"), "n", "value_sum")


@register(
    "stream_session_window",
    oracle="""
WITH ordered AS (
    SELECT user_id, ts, value, event_id,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
numbered AS (
    SELECT user_id, ts, value,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM ordered
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS value_sum
FROM numbered GROUP BY user_id, session_no
""",
    doc="Session windows with a 30-minute inactivity gap per user — "
    "Spark's session_window in batch mode vs the classic SQL islands "
    "formulation (session end = last event + gap on both engines). "
    "The islands prefix sum orders by (ts, event_id): with bare ts, "
    "tied timestamps straddling a session boundary get engine-defined "
    "session numbers (r11 sf1 catch — the ×10 corpus clones events at "
    "identical ts, and 6 of 95k sessions split off; gap semantics "
    "put a whole tie group in the boundary row's session). "
    "Streaming form: the same operator under a watermark merges "
    "in-flight sessions in the state store.",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit user_id-keyed exchange BEFORE the session aggregation
    # (r17, guide §2.5): the single-file events scan is one task, and
    # the session merge's partial aggregation serialized there (a 0.72 s
    # single-task stage at sf0.1); hash(user_id) satisfies the session
    # agg's distribution, so the exchange count is unchanged and the
    # sessionization runs on every core (A/B 0.52 → 0.30 s). The
    # decimal-exact value sum and count are partitioning-independent.
    par = spark.sparkContext.defaultParallelism
    out = session_agg(
        _events_ts(spark, sf_dir).repartition(par, "user_id"),
        "ts_us",
        "30 minutes",
        ["user_id"],
        [F.count("*").alias("n_events"), _value_cents_sum(4)],
    )
    return out.select(
        "user_id",
        F.col("win.start").alias("session_start"),
        F.col("win.end").alias("session_end"),
        "n_events",
        "value_sum",
    )


@register(
    "stream_dedup_exact",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
replayed AS (
    SELECT * FROM cdc_events UNION ALL
    SELECT * FROM cdc_events WHERE sequence % 7 = 0
)
SELECT domain, server_id, sequence, event_number, event_type, c_custkey
FROM replayed
GROUP BY ALL
""",
    doc="Exact event dedup on the envelope identity (domain, server_id, "
    "sequence, event_number) under simulated at-least-once replay — the "
    "batch form of dropDuplicatesWithinWatermark in the streaming path.",
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = synthetic_customer_events(spark, sf_dir)
    replayed = ev.unionByName(ev.filter(F.col("sequence") % 7 == 0))
    return dedup_exact(replayed).select(
        "domain", "server_id", "sequence", "event_number", "event_type", "c_custkey"
    )


@register(
    "stream_snapshot_sink",
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
    doc="Flagship CDC capability on the driver record: the full change log "
    "replays through Structured Streaming (4 log files, maxFilesPerTrigger=1 "
    "⇒ ≥4 foreachBatch upserts) into the incremental SnapshotSink; the "
    "resulting current-state table must equal the batch latest-snapshot "
    "(same oracle as cdc_latest_snapshot). This pins the sink's per-key "
    "reduction (max over (sequence, event_number), tombstone handling, "
    "appended deltas folded by compaction) against an exact hash, across "
    "micro-batch boundaries that split updates/deletes from their inserts.",
)
def stream_snapshot_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import uuid

    from maxscale_cdc_connector_spark.queries.cdc_queries import CUSTOMER_SCHEMA_RECORD
    from maxscale_cdc_connector_spark.sources.file_replay import replay_stream
    from maxscale_cdc_connector_spark.streaming.ops import write_snapshot_stream

    ev = synthetic_customer_events(spark, sf_dir)
    base = os.path.join(tempfile.gettempdir(), f"snapsink-{uuid.uuid4().hex[:12]}")
    log_dir = os.path.join(base, "log")
    os.makedirs(log_dir)
    # Split the log into 4 files by sequence range so inserts, updates and
    # deletes for the same key land in DIFFERENT micro-batches — the merge
    # must get the same answer as the batch oracle anyway. Each range is
    # written executor-side (coalesce(1).write.json) and moved into place;
    # the previous driver-side toLocalIterator loop serialized the whole
    # log through one Python process.
    bounds = [(0, 5_000_000), (5_000_000, 10_000_000),
              (10_000_000, 20_000_000), (20_000_000, 1 << 62)]
    import glob

    for i, (lo, hi) in enumerate(bounds):
        part = ev.filter((F.col("sequence") >= lo) & (F.col("sequence") < hi))
        tmp_dir = os.path.join(base, f"tmp-{i:03d}")
        part.coalesce(1).write.mode("overwrite").json(tmp_dir)
        (src_file,) = glob.glob(os.path.join(tmp_dir, "part-*.json"))
        shutil.move(src_file, os.path.join(log_dir, f"part-{i:03d}.jsonl"))
        shutil.rmtree(tmp_dir, ignore_errors=True)

    stream = replay_stream(
        spark, log_dir, CUSTOMER_SCHEMA_RECORD, max_files_per_trigger=1
    )
    query, sink = write_snapshot_stream(
        stream,
        path=os.path.join(base, "state"),
        key_cols=["c_custkey"],
        checkpoint_dir=os.path.join(base, "ckpt"),
        trigger={"availableNow": True},
    )
    try:
        if not query.awaitTermination(300):
            query.stop()
            raise RuntimeError("snapshot-sink replay did not finish in 300s")
        sink.compact(spark)  # no compaction writes into the dir deleted below
        snap = sink.snapshot(spark).select(
            "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
        )
        # Materialize before the temp state dir is deleted.
        out = snap.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@register(
    "stream_snapshot_evolved",
    oracle="""
SELECT c_custkey,
       c_name,
       CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
       CASE WHEN c_custkey % 10 = 0 THEN 'MACHINERY' ELSE c_mktsegment END AS c_mktsegment,
       CASE WHEN c_custkey % 10 = 0 THEN 'GOLD' ELSE NULL END AS c_tier
FROM customer
""",
    doc="Snapshot sink across a mid-stream ALTER TABLE (the reference's "
    "schema hot-swap, cdc_connector.cpp:339-344, meeting Spark's fixed-"
    "schema-per-query model): phase 1 replays pre-ALTER inserts under the "
    "original schema record; phase 2 — a NEW streaming incarnation, as "
    "the schema-restart wrapper would start — replays post-ALTER updates "
    "carrying an added c_tier column into the SAME state table. The "
    "merged snapshot (the widened schema recorded in the manifest every "
    "read and compaction uses, NULL-filling older files) must show "
    "NULL-backfilled c_tier on untouched keys and the post-ALTER payload "
    "on updated ones — the same backfill MariaDB applies to rows "
    "predating an ADD COLUMN. Exact-hash oracle over the "
    "batch-derivable final state.",
)
def stream_snapshot_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os
    import shutil
    import tempfile
    import uuid

    from maxscale_cdc_connector_spark.queries.cdc_queries import CUSTOMER_SCHEMA_RECORD
    from maxscale_cdc_connector_spark.sources.file_replay import replay_stream
    from maxscale_cdc_connector_spark.streaming.ops import write_snapshot_stream

    evolved_record = json.loads(CUSTOMER_SCHEMA_RECORD)
    evolved_record["fields"] = evolved_record["fields"] + [
        {"name": "c_tier", "type": "string", "real_type": "varchar", "length": 10}
    ]

    ev = synthetic_customer_events(spark, sf_dir)
    pre = ev.filter(F.col("event_type") == "insert")
    post = ev.filter(F.col("event_type") == "update_after").withColumn(
        "c_tier", F.lit("GOLD")
    )

    base = os.path.join(tempfile.gettempdir(), f"snapevolve-{uuid.uuid4().hex[:12]}")
    state = os.path.join(base, "state")

    def replay_phase(events: DataFrame, schema, log_name: str, ckpt_name: str) -> None:
        log_dir = os.path.join(base, log_name)
        events.coalesce(1).write.mode("overwrite").json(log_dir)
        query, _ = write_snapshot_stream(
            replay_stream(spark, log_dir, schema),
            path=state,
            key_cols=["c_custkey"],
            checkpoint_dir=os.path.join(base, ckpt_name),
            trigger={"availableNow": True},
        )
        if not query.awaitTermination(300):
            query.stop()
            raise RuntimeError(f"{log_name} replay did not finish in 300s")

    try:
        # Phase 1: pre-ALTER schema. Phase 2: separate checkpoint — a
        # schema change forces a new streaming incarnation (the restart
        # wrapper's contract); the state table carries over.
        replay_phase(pre, CUSTOMER_SCHEMA_RECORD, "log-pre", "ckpt-pre")
        replay_phase(post, evolved_record, "log-post", "ckpt-post")

        from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

        sink = SnapshotSink(state, ["c_custkey"])
        sink.compact(spark)  # no compaction writes into the dir deleted below
        snap = sink.snapshot(spark).select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_tier"
        )
        out = snap.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@register(
    "stream_replay_count",
    oracle=f"""
WITH {CDC_EVENTS_SQL}
SELECT event_type, CAST(count(*) AS BIGINT) AS n
FROM cdc_events WHERE sequence <= 2000
GROUP BY event_type
""",
    doc="File-replay through the real Structured Streaming path: replays "
    "a deterministic slice of the synthetic change log (sequence <= "
    "2000 — a LIMIT would pick arbitrary rows and break the oracle at "
    "larger scale factors) as a stream (availableNow) into a memory "
    "sink and hash-verifies per-event_type counts against the batch "
    "oracle — the stream must lose nothing and double nothing. The "
    "full behavior matrix (watermarks, sessions, snapshot sink, dedup "
    "state) is pinned in tests/test_streaming.py and "
    "tests/test_cdc_source.py.",
)
def stream_replay_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os
    import tempfile
    import uuid

    from maxscale_cdc_connector_spark.queries.cdc_queries import CUSTOMER_SCHEMA_RECORD
    from maxscale_cdc_connector_spark.sources.file_replay import replay_stream

    ev = synthetic_customer_events(spark, sf_dir).filter(F.col("sequence") <= 2000)
    log_dir = os.path.join(tempfile.gettempdir(), f"replay-{uuid.uuid4().hex[:12]}")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "part-000.jsonl"), "w") as fh:
        for row in ev.toJSON().toLocalIterator():
            fh.write(row + "\n")

    name = f"replay_{uuid.uuid4().hex[:8]}"
    stream = replay_stream(spark, log_dir, json.loads(CUSTOMER_SCHEMA_RECORD))
    q = (
        stream.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


@register(
    "stream_interval_join",
    oracle="""
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       CAST(epoch_us(c.ts) AS BIGINT) AS click_us,
       CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
    doc="Batch analog of streaming/ops.stream_stream_interval_join: "
    "click->purchase attribution per user within 30 minutes. The join is "
    "equi-key on user_id with the time band as a residual condition — a "
    "shuffled hash/merge join keyed on user, NEVER a cross/range join, "
    "which is exactly the state-bounding condition the streaming form "
    "needs (watermarked interval join, state evicted after the band; "
    "tests/test_streaming.py::test_stream_stream_interval_join pins the "
    "true two-stream watermarked execution).",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_ts_us(t(spark, "events", sf_dir))
    c = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts_us").alias("click_us"),
        )
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts_us").alias("purchase_us"),
        )
    )
    band = (F.col("purchase_us") >= F.col("click_us")) & (
        F.col("purchase_us") <= F.col("click_us") + F.lit(30 * 60 * 1_000_000)
    )
    return (
        c.join(p, (c.user_id == p.p_user_id) & band)
        .select("click_id", "purchase_id", "user_id", "click_us", "purchase_us")
    )


@register(
    "stream_interval_join_outer",
    oracle="""
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       CAST(epoch_us(c.ts) AS BIGINT) AS click_us,
       CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
    doc="Batch analog of the LEFT-OUTER watermarked interval join: every "
    "click row survives; unconverted clicks carry a NULL purchase side "
    "(the abandonment signal). Same keyed-join + residual-band plan as "
    "the inner form; the true streaming semantics — outer rows emit "
    "only after the watermark closes their interval, and the advancing "
    "batch must carry BOTH sides' event types — are pinned in "
    "tests/test_streaming.py::test_stream_stream_left_outer_interval_join.",
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_ts_us(t(spark, "events", sf_dir))
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts_us").alias("click_us"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts_us").alias("purchase_us"),
    )
    band = (F.col("purchase_us") >= F.col("click_us")) & (
        F.col("purchase_us") <= F.col("click_us") + F.lit(30 * 60 * 1_000_000)
    )
    return c.join(p, (c.user_id == p.p_user_id) & band, "left").select(
        "click_id", "purchase_id", "user_id", "click_us", "purchase_us"
    )


@register(
    "stream_windowed_topk",
    oracle="""
WITH w AS (
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS win_start,
           event_type, count(*) AS n
    FROM events GROUP BY 1, 2
),
r AS (
    SELECT win_start, event_type, n,
           row_number() OVER (PARTITION BY win_start
                              ORDER BY n DESC, event_type) AS rk
    FROM w
)
SELECT win_start, event_type, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 2
""",
    doc="Per-window heavy hitters: top-2 event types per tumbling "
    "10-minute window (the trending-now panel of a streaming "
    "dashboard). Batch form of the streaming shape: the windowed "
    "count is the same decomposable tumbling aggregate that streams "
    "under a watermark (streaming/ops.tumbling_agg); the rank over "
    "FINALIZED windows runs downstream of the sink (foreachBatch / "
    "reading the sink table), since append-mode streaming cannot "
    "re-rank an open window. Rank partitions are single windows "
    "(≤ |event_types| rows each) — thousands of tiny partitions, "
    "no reducer funnel.",
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    out = tumbling_agg(
        events_ts_timestamp(t(spark, "events", sf_dir)),
        "ts_us",
        "10 minutes",
        ["event_type"],
        [F.count("*").alias("n")],
    ).select(F.col("win.start").alias("win_start"), "event_type", "n")
    w = W.partitionBy("win_start").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        out.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 2)
    )


@register(
    "stream_stateful_ewma",
    oracle="""
WITH sub AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
    FROM events ORDER BY event_id LIMIT 2000
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(list_reduce(list(value ORDER BY ts_us, event_id),
                         (acc, x) -> 0.8 * acc + 0.2 * x), 4) AS ewma
FROM sub GROUP BY user_id
""",
    doc="Custom STATEFUL streaming operator with an EXACT oracle: the "
    "first 2000 events (deterministic event_id prefix) replay through "
    "a real Structured Streaming file source into "
    "streaming/ops.stateful_ewma (applyInPandasWithState, state = "
    "(n, ewma) per user), and the final per-user EWMA hash-matches the "
    "batch list_reduce fold because the operator folds each batch in "
    "(ts_us, event_id) order with the identical IEEE constants — the "
    "strongest correctness form a stateful streaming op can carry "
    "(most get rows-only). Single-file replay = one micro-batch = "
    "global fold order; state store memory is O(users).",
)
def stream_stateful_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    from maxscale_cdc_connector_spark.streaming.ops import stateful_ewma

    sub = (
        events_ts_us(t(spark, "events", sf_dir))
        .select("user_id", "ts_us", "event_id", "value")
        .orderBy("event_id")
        .limit(2000)
    )
    log_dir = os.path.join(tempfile.gettempdir(), f"ewma-{uuid.uuid4().hex[:12]}")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "part-000.jsonl"), "w") as fh:
        for row in sub.toJSON().toLocalIterator():
            fh.write(row + "\n")

    name = f"ewma_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(
        "user_id bigint, ts_us bigint, event_id bigint, value double"
    ).json(log_dir)
    q = (
        stateful_ewma(stream, key_col="user_id")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # Update mode appends one row per (user, batch); the final state is
    # the row with the greatest n_events (n is strictly increasing).
    final = spark.table(name).groupBy("user_id").agg(
        F.max("n_events").cast("bigint").alias("n_events"),
        F.max_by("ewma", "n_events").alias("ewma"),
    )
    return final.select("user_id", "n_events", F.round("ewma", 4).alias("ewma"))


@register(
    "stream_enrich_static",
    oracle="""
SELECT c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(CAST(round(e.value * 100) AS BIGINT)) / 100.0, 2) AS value_sum
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY segment
""",
    doc="Stream-static enrichment (streaming/ops.enrich_static): events "
    "decorated with a slowly-changing customer dimension via an inner "
    "broadcast join — each micro-batch joins map-side with zero stream "
    "shuffle and zero state, and the dim re-evaluates per trigger so "
    "dimension updates flow in. Spark's unified model makes the batch "
    "run of the SAME operator the hash-checkable analog (the true "
    "streaming execution of this op is pinned in "
    "tests/test_streaming.py); the rollup to per-segment totals keeps "
    "output height at the segment count.",
)
def stream_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    from maxscale_cdc_connector_spark.streaming.ops import enrich_static

    e = events_ts_us(t(spark, "events", sf_dir)).withColumnRenamed(
        "user_id", "c_custkey"
    )
    dim = t(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    joined = enrich_static(e, dim, ["c_custkey"])
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        _value_cents_sum(2),
    )


@register(
    "stream_snapshot_sink_replayed",
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
    doc="At-least-once IDEMPOTENCE proof for the snapshot sink: the "
    "change log replays with its middle file DUPLICATED (every update "
    "pair delivered twice, in a separate micro-batch) and the resulting "
    "current-state table must still hash-match the exactly-once oracle "
    "— because the sink's reduction keeps the max (sequence, event_number) "
    "per key, re-applying an already-applied event is a no-op. This is "
    "the delivery guarantee the reference's GTID-resume contract "
    "(cdc_connector.h:62-69) forces every consumer to handle: resuming "
    "from a checkpoint ALWAYS re-delivers the tail.",
)
def stream_snapshot_sink_replayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    from maxscale_cdc_connector_spark.queries.cdc_queries import CUSTOMER_SCHEMA_RECORD
    from maxscale_cdc_connector_spark.sources.file_replay import replay_stream
    from maxscale_cdc_connector_spark.streaming.ops import write_snapshot_stream

    ev = synthetic_customer_events(spark, sf_dir)
    base = os.path.join(tempfile.gettempdir(), f"snapdup-{uuid.uuid4().hex[:12]}")
    log_dir = os.path.join(base, "log")
    os.makedirs(log_dir)
    bounds = [(0, 10_000_000), (10_000_000, 20_000_000), (20_000_000, 1 << 62)]
    for i, (lo, hi) in enumerate(bounds):
        part = ev.filter((F.col("sequence") >= lo) & (F.col("sequence") < hi))
        tmp_dir = os.path.join(base, f"tmp-{i:03d}")
        part.coalesce(1).write.mode("overwrite").json(tmp_dir)
        (src_file,) = glob.glob(os.path.join(tmp_dir, "part-*.json"))
        shutil.move(src_file, os.path.join(log_dir, f"part-{i:03d}.jsonl"))
        shutil.rmtree(tmp_dir, ignore_errors=True)
    # At-least-once: the update-pair file is delivered AGAIN as a later
    # micro-batch (same events, new file) — the sink must not double-apply.
    shutil.copy(
        os.path.join(log_dir, "part-001.jsonl"),
        os.path.join(log_dir, "part-900-redelivery.jsonl"),
    )

    stream = replay_stream(
        spark, log_dir, CUSTOMER_SCHEMA_RECORD, max_files_per_trigger=1
    )
    query, sink = write_snapshot_stream(
        stream,
        path=os.path.join(base, "state"),
        key_cols=["c_custkey"],
        checkpoint_dir=os.path.join(base, "ckpt"),
        trigger={"availableNow": True},
    )
    try:
        if not query.awaitTermination(300):
            query.stop()
            raise RuntimeError("replayed snapshot sink did not finish in 300s")
        sink.compact(spark)  # no compaction writes into the dir deleted below
        snap = sink.snapshot(spark).select(
            "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
        )
        out = snap.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@register(
    "stream_dedup_within_watermark",
    oracle=f"""
WITH {CDC_EVENTS_SQL},
replayed AS (
    SELECT * FROM cdc_events UNION ALL
    SELECT * FROM cdc_events WHERE sequence % 7 = 0
)
SELECT domain, server_id, sequence, event_number, event_type, c_custkey
FROM replayed
GROUP BY ALL
""",
    doc="State-BOUNDED streaming dedup under at-least-once redelivery: a "
    "real Structured Streaming replay (3 micro-batches split by event "
    "phase, duplicates injected for sequence % 7 = 0) through "
    "dropDuplicatesWithinWatermark on the envelope identity (domain, "
    "server_id, sequence, event_number). Unlike plain dropDuplicates — "
    "whose state grows forever on an unbounded stream — the watermark "
    "variant evicts identity state once event time passes the 30-day "
    "horizon, which is the ONLY dedup that survives an unbounded 100 TB "
    "CDC feed; redelivery in real systems happens within a bounded "
    "window (a resumed GTID replays the tail, cdc_connector.h:62-69). "
    "Files are replayed in event-time order so nothing is late; the "
    "exact-hash oracle is the distinct event set — the streaming "
    "execution must lose nothing and emit nothing twice.",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    from maxscale_cdc_connector_spark.queries.cdc_queries import CUSTOMER_SCHEMA_RECORD
    from maxscale_cdc_connector_spark.sources.file_replay import replay_stream

    ev = synthetic_customer_events(spark, sf_dir)
    replayed = ev.unionByName(ev.filter(F.col("sequence") % 7 == 0))
    base = os.path.join(tempfile.gettempdir(), f"wmdedup-{uuid.uuid4().hex[:12]}")
    log_dir = os.path.join(base, "log")
    os.makedirs(log_dir)
    # One file per event-time phase (insert / update / delete waves carry
    # event_ts bases 1.5e9 / 1.6e9 / 1.7e9), so event time only moves
    # forward across micro-batches and every duplicate lands inside the
    # watermark window of its original.
    bounds = [(0, 10_000_000), (10_000_000, 20_000_000), (20_000_000, 1 << 62)]
    for i, (lo, hi) in enumerate(bounds):
        part = replayed.filter((F.col("sequence") >= lo) & (F.col("sequence") < hi))
        tmp_dir = os.path.join(base, f"tmp-{i:03d}")
        part.coalesce(1).write.mode("overwrite").json(tmp_dir)
        (src_file,) = glob.glob(os.path.join(tmp_dir, "part-*.json"))
        shutil.move(src_file, os.path.join(log_dir, f"part-{i:03d}.jsonl"))
        shutil.rmtree(tmp_dir, ignore_errors=True)

    stream = replay_stream(
        spark, log_dir, CUSTOMER_SCHEMA_RECORD, max_files_per_trigger=1
    )
    deduped = (
        stream.withColumn("ts", F.timestamp_seconds(F.col("event_ts")))
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["domain", "server_id", "sequence", "event_number"])
    )
    name = f"wm_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.select(
            "domain", "server_id", "sequence", "event_number", "event_type", "c_custkey"
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("watermarked dedup replay did not finish in 300s")
        out = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@register(
    "stream_session_ttl_finalize",
    oracle="""
SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(CASE WHEN c_custkey % 10 = 0 THEN 3 ELSE 1 END AS BIGINT) AS n_events,
       CAST(CASE WHEN c_custkey % 10 = 0 THEN 100000000000000 ELSE 0 END
            AS BIGINT) AS duration_us
FROM customer WHERE c_custkey % 20 <> 0
""",
    doc="State-EXPIRING session finalization through a real Structured "
    "Streaming replay: per-key sessions fold in applyInPandasWithState "
    "under EventTimeTimeout (streaming/ops.stateful_session_ttl), and "
    "a session row is emitted exactly when the event-time watermark "
    "proves it closed — then its state is REMOVED, which is the "
    "bounded-memory contract an unbounded keyspace demands (NoTimeout "
    "state accretes forever). The replay's three event-time waves sit "
    "1e8 seconds apart with a 1-day watermark and 1-hour gap, so the "
    "closure set is decade-robust at any scale factor. availableNow runs a FINAL empty micro-batch after the last data batch, flushing timeouts against the post-delete-wave watermark: insert-only keys close with (n=1, dur=0), updated keys with (n=3, dur=1e14 us exactly — the integer wave spacing), while deleted-wave keys saw the newest activity and must remain OPEN and unemitted — the exact-hash oracle pins both the emissions and the non-emissions.",
)
def stream_session_ttl_finalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    from maxscale_cdc_connector_spark.queries.cdc_queries import CUSTOMER_SCHEMA_RECORD
    from maxscale_cdc_connector_spark.sources.file_replay import replay_stream
    from maxscale_cdc_connector_spark.streaming.ops import stateful_session_ttl

    # Bound the per-key event-time offset to < 1 hour (the session gap):
    # the synthetic log carries event_ts = wave_base + c_custkey, which at
    # key ranges past ~90k (sf >= ~0.6) would let early keys' timeouts
    # fall behind the final watermark and flip the closed/open partition.
    # With offset = c_custkey % 3600 the offset cancels in every duration
    # (identical across waves per key) and the closure set is key-range
    # independent at ANY scale factor: last closing activity is at most
    # 1.6e9 + 3599 + gap(3600), always far below the final watermark
    # 1.7e9 - 1 day, and no key's timeout can fire before a later wave.
    ev = synthetic_customer_events(spark, sf_dir).withColumn(
        "event_ts",
        (F.col("event_ts") - F.col("c_custkey") + F.col("c_custkey") % 3600).cast("bigint"),
    )
    base = os.path.join(tempfile.gettempdir(), f"ttlfin-{uuid.uuid4().hex[:12]}")
    log_dir = os.path.join(base, "log")
    os.makedirs(log_dir)
    bounds = [(0, 10_000_000), (10_000_000, 20_000_000), (20_000_000, 1 << 62)]
    for i, (lo, hi) in enumerate(bounds):
        part = ev.filter((F.col("sequence") >= lo) & (F.col("sequence") < hi))
        tmp_dir = os.path.join(base, f"tmp-{i:03d}")
        part.coalesce(1).write.mode("overwrite").json(tmp_dir)
        (src_file,) = glob.glob(os.path.join(tmp_dir, "part-*.json"))
        shutil.move(src_file, os.path.join(log_dir, f"part-{i:03d}.jsonl"))
        shutil.rmtree(tmp_dir, ignore_errors=True)

    stream = replay_stream(
        spark, log_dir, CUSTOMER_SCHEMA_RECORD, max_files_per_trigger=1
    )
    sessions = stateful_session_ttl(
        stream.withColumn("ts", F.timestamp_seconds(F.col("event_ts")))
        .withWatermark("ts", "1 day"),
        key_col="c_custkey",
        gap="1 hour",
    )
    name = f"ttl_fin_{uuid.uuid4().hex[:8]}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("TTL finalize replay did not finish in 300s")
        out = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


@register(
    "stream_late_data_drop",
    oracle="""
WITH k AS (SELECT c_custkey AS key FROM customer ORDER BY c_custkey LIMIT 2000),
on_time AS (
    SELECT 100 + key % 20 AS ts_s FROM k
    UNION ALL
    SELECT 200 + key % 20 FROM k
    UNION ALL
    SELECT 300 + key % 20 FROM k
),
finalized AS (
    SELECT CAST(ts_s // 60 * 60 AS BIGINT) AS window_start,
           count(*) AS n_events
    FROM on_time GROUP BY 1
)
SELECT window_start, CAST(n_events AS BIGINT) AS n_events
FROM finalized
WHERE window_start + 60 <= (SELECT 300 + max(key % 20) - 10 FROM k)
""",
    doc="Watermark LATE-DATA DROP and append-mode finalization, pinned "
    "end-to-end through a real 3-batch replay: wave 1 (t~100s) and "
    "wave 2 (t~200s) arrive on time; batch 3 carries BOTH a late "
    "straggler (t=50s — behind the watermark, silently dropped, its "
    "window already finalized) AND fresh t~300s traffic. The oracle "
    "is the tumbling count over ONLY the on-time events, restricted "
    "to windows the final watermark (max event time - 10s) has "
    "closed — so the hash simultaneously proves (a) the late row "
    "contributed to NO window, (b) closed windows emitted exactly "
    "once, and (c) the still-open t~300 window was withheld, which "
    "is append-mode's contract (emit only finalized results). These "
    "are the three behaviors that decide correctness of any "
    "streaming aggregation at 100 TB.",
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os
    import tempfile
    import uuid

    # Fixture keys are CAPPED at 2000 (ordered, deterministic): the
    # driver-side materialization is a fixed-size replay script, not a
    # corpus-sized collect — at any SF this is <= 2000 bigints. The
    # oracle applies the identical ORDER BY/LIMIT.
    keys = [
        int(r["c_custkey"])
        for r in t(spark, "customer", sf_dir)
        .select("c_custkey")
        .orderBy("c_custkey")
        .limit(2000)
        .collect()
    ]
    base = os.path.join(tempfile.gettempdir(), f"latedrop-{uuid.uuid4().hex[:12]}")
    os.makedirs(base)

    def write(idx: int, rows: list[dict]) -> None:
        p = os.path.join(base, f"part-{idx:03d}.jsonl")
        with open(p, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + idx * 100,) * 2)

    write(0, [{"key": k, "ts_s": 100 + k % 20} for k in keys])
    write(1, [{"key": k, "ts_s": 200 + k % 20} for k in keys])
    write(
        2,
        [{"key": k, "ts_s": 50} for k in keys if k % 10 == 0]
        + [{"key": k, "ts_s": 300 + k % 20} for k in keys],
    )

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("key bigint, ts_s bigint")
        .json(base)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
        .withWatermark("ts", "10 seconds")
    )
    agg = stream.groupBy(F.window("ts", "60 seconds").alias("win")).agg(
        F.count("*").alias("n_events")
    )
    name = f"late_drop_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    import shutil

    try:
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("late-drop replay did not finish in 300s")
        out = (
            spark.table(name)
            .select(
                F.unix_timestamp("win.start").cast("bigint").alias("window_start"),
                F.col("n_events").cast("bigint").alias("n_events"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out
