"""Streaming tests: file replay, windowed aggs, dedup, snapshot sink.

Strategy per SURVEY.md §5.2.4: replay a captured event log through the
full Structured Streaming machinery (micro-batches via maxFilesPerTrigger,
checkpoints, memory sinks) and assert stream results equal the batch
computation over the same log — the unified-model invariant.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from maxscale_cdc_connector_spark.operators.cdc import latest_snapshot
from maxscale_cdc_connector_spark.sources.file_replay import replay_batch, replay_stream
from maxscale_cdc_connector_spark.streaming.ops import (
    dedup_exact,
    session_agg,
    tumbling_agg,
    write_snapshot_stream,
)
from tests.fake_maxscale import TEST_SCHEMA_RECORD, make_event


def _write_log(path: str, events: list[dict]) -> None:
    with open(path, "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")


def _sink_events(spark, events: list[dict]):
    """Decoded CDC events as one SnapshotSink batch."""
    from maxscale_cdc_connector_spark.operators.cdc import decode_events
    from maxscale_cdc_connector_spark.typemap import schema_record_to_struct

    lines = [(json.dumps(e),) for e in events]
    schema = schema_record_to_struct(TEST_SCHEMA_RECORD)
    return decode_events(spark.createDataFrame(lines, "value string"), schema)


def _snapshot_ids(sink, spark) -> list[int]:
    return sorted(r["id"] for r in sink.snapshot(spark).collect())


@pytest.fixture(scope="module")
def event_log(tmp_path_factory) -> tuple[str, list[dict]]:
    """Two log files (⇒ ≥2 micro-batches with maxFilesPerTrigger=1):
    inserts 1..40, then updates on every 4th key and deletes on every
    10th, with one exact replay duplicate."""
    d = tmp_path_factory.mktemp("cdclog")
    first = [make_event(s, id_=s, name=f"n{s}") for s in range(1, 41)]
    second = []
    for s in range(1, 41):
        if s % 4 == 0:
            second.append(make_event(100 + s, "update_before", 1, id_=s, name=f"n{s}"))
            second.append(make_event(100 + s, "update_after", 2, id_=s, name=f"upd{s}"))
        if s % 10 == 0:
            second.append(make_event(200 + s, "delete", 1, id_=s, name=f"upd{s}"))
    second.append(make_event(1, id_=1, name="n1"))  # at-least-once replay dup
    _write_log(os.path.join(d, "part-000.jsonl"), first)
    _write_log(os.path.join(d, "part-001.jsonl"), second)
    return str(d), first + second


def test_replay_batch_decodes_typed(spark, event_log) -> None:
    path, events = event_log
    df = replay_batch(spark, path, TEST_SCHEMA_RECORD)
    assert df.count() == len(events)
    types = dict(df.dtypes)
    assert types["sequence"] == "bigint"
    assert types["balance"].startswith("decimal")
    # JSON null → SQL NULL semantics hold through the replay decode too.
    assert df.filter(F.col("event_type") == "insert").count() == 41


def test_stream_tumbling_agg_matches_batch(spark, event_log) -> None:
    path, _ = event_log
    ts = F.timestamp_seconds(F.col("timestamp"))
    # Exact distinct aggregation is unsupported on streams; use
    # decomposable aggregates so batch and stream plans both run.
    aggs = [F.count("*").alias("n"), F.sum("id").alias("id_sum")]

    batch = tumbling_agg(
        replay_batch(spark, path, TEST_SCHEMA_RECORD), ts, "30 seconds", ["event_type"], aggs
    )
    stream = tumbling_agg(
        replay_stream(spark, path, TEST_SCHEMA_RECORD, max_files_per_trigger=1),
        ts,
        "30 seconds",
        ["event_type"],
        aggs,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("tumbling")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["win"]["start"], r["event_type"]): (r["n"], r["id_sum"])
        for r in spark.sql("SELECT * FROM tumbling").collect()
    }
    want = {
        (r["win"]["start"], r["event_type"]): (r["n"], r["id_sum"])
        for r in batch.collect()
    }
    assert got == want and len(want) > 2


def test_stream_windowed_topk_ranks_sink_output(spark, event_log) -> None:
    """The windowed-top-k shape end-to-end: the decomposable tumbling
    count runs as a REAL stream into a sink, the per-window rank runs
    over the finalized sink table, and the result equals the batch
    rank of the batch windowed count — pinning the documented
    'rank downstream of the sink' composition of stream_windowed_topk."""
    from pyspark.sql import Window as W

    path, _ = event_log
    ts = F.timestamp_seconds(F.col("timestamp"))
    aggs = [F.count("*").alias("n")]
    stream = tumbling_agg(
        replay_stream(spark, path, TEST_SCHEMA_RECORD, max_files_per_trigger=1),
        ts, "30 seconds", ["event_type"], aggs,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("wtopk")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def rank(df):
        flat = df.select(F.col("win.start").alias("ws"), "event_type", "n")
        w = W.partitionBy("ws").orderBy(F.desc("n"), F.asc("event_type"))
        return {
            (r.ws, r.event_type, r.n, r.rk)
            for r in flat.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 2).collect()
        }

    got = rank(spark.sql("SELECT * FROM wtopk"))
    want = rank(
        tumbling_agg(
            replay_batch(spark, path, TEST_SCHEMA_RECORD), ts, "30 seconds",
            ["event_type"], aggs,
        )
    )
    assert got == want and len(want) > 2


def test_stream_dedup_exact_under_replay(spark, event_log) -> None:
    path, events = event_log
    stream = dedup_exact(
        replay_stream(spark, path, TEST_SCHEMA_RECORD, max_files_per_trigger=1)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) c FROM dedup").first()["c"]
    distinct_ids = {
        (e["domain"], e["server_id"], e["sequence"], e["event_number"]) for e in events
    }
    assert n == len(distinct_ids) == len(events) - 1  # exactly the dup dropped


def test_session_agg_batch_form(spark, event_log) -> None:
    path, _ = event_log
    df = replay_batch(spark, path, TEST_SCHEMA_RECORD)
    out = session_agg(
        df,
        F.timestamp_seconds(F.col("timestamp")),
        "15 seconds",
        ["id"],
        [F.count("*").alias("n")],
    )
    row = out.filter(F.col("id") == 4).orderBy(F.col("win.start")).collect()
    # key 4: insert at t+4, update pair at t+104 — gap 100s > 15s ⇒ 2 sessions.
    assert [r["n"] for r in row] == [1, 2]
    # session end = last ts + gap (Spark's session_window definition).
    assert (row[0]["win"]["end"] - row[0]["win"]["start"]).total_seconds() == 15


def test_snapshot_sink_equals_batch_snapshot(spark, event_log, tmp_path) -> None:
    path, _ = event_log
    stream = replay_stream(spark, path, TEST_SCHEMA_RECORD, max_files_per_trigger=1)
    query, sink = write_snapshot_stream(
        stream,
        str(tmp_path / "state"),
        ["id"],
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    query.awaitTermination(180)

    got = {
        r["id"]: (r["sequence"], r["name"])
        for r in sink.snapshot(spark).collect()
    }
    batch = replay_batch(spark, path, TEST_SCHEMA_RECORD)
    want = {
        r["id"]: (r["sequence"], r["name"])
        for r in latest_snapshot(batch, ["id"]).collect()
    }
    assert got == want
    assert 10 not in got and got[4][1] == "upd4" and got[1][1] == "n1"


def test_watermark_drops_late_event(spark, tmp_path) -> None:
    """stream_watermark_late (SURVEY §2B): with a 10s watermark, an event
    arriving after the watermark passed its window is dropped from the
    windowed aggregation; on-time events all land."""
    import time as _time

    d = tmp_path / "latelog"
    d.mkdir()
    base = 1_700_000_000
    # Batch 1: events at t+0..t+29.
    _write_log(str(d / "a-000.jsonl"), [make_event(s, id_=s) for s in range(30)])
    _time.sleep(0.05)
    # Batch 2: a far-future event advances the watermark to t+990,
    # evicting (and emitting) every first-minute window.
    future = make_event(600, id_=600)
    future["timestamp"] = base + 1000
    _write_log(str(d / "b-000.jsonl"), [future])
    _time.sleep(0.05)
    # Batch 3: a LATE event back at t+5 — its window was already evicted
    # under the t+990 watermark, so the stateful agg drops it (watermark
    # eviction lags arrival by one batch, hence the separate batch 2).
    late = make_event(500, id_=500)
    late["timestamp"] = base + 5
    _write_log(str(d / "c-000.jsonl"), [late])
    _time.sleep(0.05)
    # Batch 4: far ahead, so the future event's window finalizes too.
    flush = make_event(700, id_=700)
    flush["timestamp"] = base + 2000
    _write_log(str(d / "d-000.jsonl"), [flush])

    stream = replay_stream(spark, str(d), TEST_SCHEMA_RECORD, max_files_per_trigger=1)
    windowed = (
        stream.withColumn("ts", F.timestamp_seconds(F.col("timestamp")))
        .withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "30 seconds").alias("win"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT win.start AS s, n FROM late_drop").collect()
    starts = [r["s"].timestamp() for r in rows]
    assert len(starts) == len(set(starts)), "a window was emitted twice"
    by_start = {r["s"].timestamp(): r["n"] for r in rows}
    # ts=base aligns into the epoch-aligned 30s window starting base-20;
    # that window holds on-time events base..base+9 — exactly 10: the
    # late event (also ts within it) was dropped, and the window was
    # emitted exactly once.
    first_window_start = float(base - (base % 30))
    assert by_start[first_window_start] == 10
    assert sum(by_start.values()) == 31  # 30 on-time + future; late gone


def test_snapshot_sink_incremental_and_idempotent(spark, tmp_path) -> None:
    """A batch is appended as one delta that records the buckets it
    touches, and its compaction rewrites only those (exactly one base
    entry changes); applying the same batch twice leaves the state
    unchanged (restart safety)."""
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    sink = SnapshotSink(str(tmp_path / "state"), ["id"], n_buckets=8)
    sink(_sink_events(spark, [make_event(s, id_=s) for s in range(1, 129)]), 0)
    sink.compact(spark)
    before = dict(sink._head()["buckets"])
    assert len(before) == 8  # 128 keys cover all 8 buckets

    # Batch 2 updates a single key → one delta of one bucket, published
    # as the next version beside the unchanged base; its compaction
    # remaps exactly that bucket.
    single = _sink_events(spark, [make_event(1000, "update_after", 2, id_=7, name="seven2")])
    appended = sink._versions()[-1] + 1
    sink(single, 1)
    (delta,) = sink._read(appended)["deltas"]
    assert len(delta["buckets"]) == 1 and sink._read(appended)["buckets"] == before
    sink.compact(spark)
    after = sink._head()["buckets"]
    changed = {b for b in after if after[b] != before.get(b)}
    assert changed == {str(b) for b in delta["buckets"]}, f"rewritten buckets {changed}"

    # Idempotency: re-applying the same batch yields identical state.
    state_1 = sorted(
        (r["id"], r["sequence"], r["name"]) for r in sink.snapshot(spark).collect()
    )
    sink(single, 2)
    state_2 = sorted(
        (r["id"], r["sequence"], r["name"]) for r in sink.snapshot(spark).collect()
    )
    assert state_1 == state_2
    assert ({(r[0], r[2]) for r in state_1} >= {(7, "seven2")})


def test_snapshot_sink_consistent_under_reexecuting_source(spark, tmp_path) -> None:
    """The sink must freeze ONE materialization of the batch before its
    multi-action merge (r8 soak finding). A partitioned-CDC batch
    re-executes the live socket read per action, so a batch can GROW
    between the sink's `touched`-bucket collect and its merged write —
    rows seen only by the write landed in buckets absent from
    `touched`, were dropped by the swap, and were permanently skipped
    once the frontier passed them (observed as burst-sized loss on one
    stream). Simulated here with a mapInPandas source whose output
    grows on every execution: the sink must persist exactly ONE
    consistent execution's rows — the first — not a bucket-filtered
    shred of a later one."""
    import json as _json
    import os as _os

    import pandas as pd

    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    counter = str(tmp_path / "executions")

    def growing(batches):
        for _ in batches:
            pass
        n = 1
        if _os.path.exists(counter):
            with open(counter) as fh:
                n = int(fh.read() or "0") + 1
        with open(counter, "w") as fh:
            fh.write(str(n))
        hi = 50 * n  # execution k yields ids 1..50k
        yield pd.DataFrame(
            {
                "domain": [0] * hi,
                "server_id": [3000] * hi,
                "sequence": list(range(1, hi + 1)),
                "event_number": [1] * hi,
                "event_type": ["insert"] * hi,
                "id": list(range(1, hi + 1)),
            }
        )

    batch = spark.range(1).repartition(1).mapInPandas(
        growing,
        "domain int, server_id int, sequence long, event_number int, "
        "event_type string, id int",
    )
    sink = SnapshotSink(str(tmp_path / "state"), ["id"], n_buckets=8)
    sink(batch, 0)
    got = sorted(r["id"] for r in sink.snapshot(spark).collect())
    with open(counter) as fh:
        n_exec = int(fh.read())
    # Exactly one consistent execution persisted — all 50 ids of the
    # frozen first read, no bucket-shredded subset of a later one.
    assert got == list(range(1, 51)), (
        f"inconsistent multi-action state: {len(got)} ids after "
        f"{n_exec} source executions"
    )


def _crash(*_args) -> None:
    raise RuntimeError("driver died here")


def test_snapshot_sink_crash_before_publish_keeps_previous_version(
    spark, tmp_path, monkeypatch
) -> None:
    """A driver crash after a batch wrote its delta dir but before it
    published the manifest leaves the previous version current: a read
    on the same or a fresh instance sees exactly it and leaves the
    unpublished dir alone (readers never write). The next publish — a
    fresh instance, as after a restart — deletes that dir, since no
    manifest lists it."""
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    path = str(tmp_path / "state")
    data = os.path.join(path, "data")
    sink = SnapshotSink(path, ["id"], n_buckets=4)
    sink(_sink_events(spark, [make_event(s, id_=s) for s in range(1, 65)]), 0)
    sink.compact(spark)  # no compaction in flight from here on
    want = _snapshot_ids(sink, spark)
    published = set(os.listdir(data))

    monkeypatch.setattr(sink, "_publish", _crash)
    with pytest.raises(RuntimeError, match="driver died"):
        sink(_sink_events(spark, [make_event(100 + i, id_=100 + i) for i in range(32)]), 1)
    orphan = set(os.listdir(data)) - published
    assert len(orphan) == 1

    for reader in (sink, SnapshotSink(path, ["id"], n_buckets=4)):
        assert _snapshot_ids(reader, spark) == want
    assert set(os.listdir(data)) - published == orphan

    restarted = SnapshotSink(path, ["id"], n_buckets=4)
    restarted(_sink_events(spark, [make_event(200, id_=200)]), 1)
    assert not orphan & set(os.listdir(data))
    assert _snapshot_ids(restarted, spark) == sorted(want + [200])


def test_snapshot_sink_same_instance_retry_after_failed_publish(
    spark, tmp_path, monkeypatch
) -> None:
    """r9 review finding, on the manifest layout: a batch that fails on
    THIS instance after its data write (the publish raised) is replayed
    by the supervised query on the same sink object. The retry must
    append to the still-current previous version — every pre-existing
    key kept — and leave no unpublished dir behind."""
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    path = str(tmp_path / "state")
    data = os.path.join(path, "data")
    sink = SnapshotSink(path, ["id"], n_buckets=4)
    sink(_sink_events(spark, [make_event(s, id_=s) for s in range(1, 65)]), 0)
    sink.compact(spark)  # no compaction in flight from here on
    want = _snapshot_ids(sink, spark)
    published = set(os.listdir(data))

    # 32 new ids touch every bucket with certainty under the fixed
    # xxhash64 bucketing, so a retry built without the previous state
    # would lose keys in all of them.
    batch = _sink_events(spark, [make_event(100 + i, id_=100 + i) for i in range(32)])
    monkeypatch.setattr(sink, "_publish", _crash)
    with pytest.raises(RuntimeError, match="driver died"):
        sink(batch, 1)
    orphan = set(os.listdir(data)) - published
    monkeypatch.undo()
    sink(batch, 1)
    got = _snapshot_ids(sink, spark)
    want = sorted(want + [100 + i for i in range(32)])
    assert got == want, f"keys lost across the retry: {sorted(set(want) - set(got))[:10]}"
    assert orphan and not orphan & set(os.listdir(data))


def test_snapshot_sink_crash_after_publish_loses_nothing(
    spark, tmp_path, monkeypatch
) -> None:
    """A driver crash right after the publish (before garbage
    collection) loses nothing: a fresh instance reads the new version.
    Superseded dirs stay while a reader may still hold them — for
    RETENTION_S after the newer version's publish — and the first
    publish after that deletes them with their manifests; the newest
    version is never deleted, and after a compaction the data dirs on
    disk are exactly the ones its manifest maps."""
    from maxscale_cdc_connector_spark.streaming import ops
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    path = str(tmp_path / "state")
    sink = SnapshotSink(path, ["id"], n_buckets=4)
    sink(_sink_events(spark, [make_event(s, id_=s) for s in range(1, 65)]), 0)
    sink.compact(spark)  # no compaction in flight from here on
    monkeypatch.setattr(sink, "_gc", _crash)
    with pytest.raises(RuntimeError, match="driver died"):
        sink(_sink_events(spark, [make_event(100, id_=100)]), 1)

    restarted = SnapshotSink(path, ["id"], n_buckets=4)
    assert _snapshot_ids(restarted, spark) == list(range(1, 65)) + [100]
    restarted(_sink_events(spark, [make_event(101, id_=101)]), 2)
    restarted.compact(spark)
    versions = restarted._versions()
    assert versions == list(range(len(versions)))  # v0 superseded just now

    monkeypatch.setattr(ops, "RETENTION_S", 0.0)
    restarted(_sink_events(spark, [make_event(102, id_=102)]), 3)
    restarted.compact(spark)
    head = restarted._head()
    assert restarted._versions() == [versions[-1] + 2] and head["deltas"] == []
    # An entry's data dir is its first two path parts: `data/<name>`
    # for a compaction dir and for the earlier layout's `_bucket=<b>` leaves.
    mapped = {"/".join(d.split("/")[:2]) for d in head["buckets"].values()}
    assert {f"data/{d}" for d in os.listdir(os.path.join(path, "data"))} == mapped
    assert _snapshot_ids(restarted, spark) == list(range(1, 65)) + [100, 101, 102]


def test_snapshot_sink_adopts_legacy_layout_once(spark, tmp_path) -> None:
    """A state dir of the earlier in-place layout — ``_bucket=<b>`` dirs
    beside a ``.sink-meta.json`` marker, one bucket left parked as
    ``.old-_bucket=<b>`` by a swap that crashed between its renames and
    another with a stale parked copy beside it — is adopted once, as
    version 0, by the first merge. An unreadable marker is refused: it
    is never replaced by the constructing instance's parameters."""
    import shutil

    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    path = str(tmp_path / "state")
    legacy = SnapshotSink(path, ["id"], n_buckets=4)
    rows = _sink_events(spark, [make_event(s, id_=s) for s in range(1, 65)])
    rows.withColumn("_bucket", legacy._bucket()).write.partitionBy("_bucket").parquet(path)
    parts = sorted(d for d in os.listdir(path) if d.startswith("_bucket="))
    assert len(parts) == 4
    os.rename(os.path.join(path, parts[0]), os.path.join(path, ".old-" + parts[0]))
    shutil.copytree(os.path.join(path, parts[1]), os.path.join(path, ".old-" + parts[1]))
    marker = os.path.join(path, ".sink-meta.json")

    with open(marker, "w") as fh:
        fh.write("{torn")
    with pytest.raises(ValueError, match="sink-meta"):
        SnapshotSink(path, ["id"], n_buckets=8)(_sink_events(spark, [make_event(99, id_=99)]), 0)

    with open(marker, "w") as fh:
        json.dump({"n_buckets": 4, "key_cols": ["id"]}, fh)  # pre-r10: no order_cols
    sink = SnapshotSink(path, ["id"], n_buckets=4)
    assert sink.current(spark) is None  # readers wait for the writer's adoption
    sink(_sink_events(spark, [make_event(100, id_=100)]), 0)
    sink(_sink_events(spark, [make_event(101, id_=101)]), 1)
    sink.compact(spark)
    assert sink._versions()[0] == 0
    assert sorted(sink._read(0)["buckets"].values()) == parts
    assert sink._read(0).get("deltas", []) == [] and sink._read(1)["buckets"] == sink._read(0)["buckets"]
    assert _snapshot_ids(sink, spark) == list(range(1, 65)) + [100, 101]
    assert not [d for d in os.listdir(path) if d.startswith(".old-") or d == ".sink-meta.json"]


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select("id", "sequence", "event_type", "name").collect())


def test_snapshot_sink_reads_mixed_layouts(spark, tmp_path, monkeypatch) -> None:
    """A manifest may map buckets to three kinds of dir: an adopted root
    ``_bucket=<b>`` dir, a ``data/<v>-<id>/_bucket=<b>`` leaf of the
    one-file-per-bucket layout, and a merge dir holding several buckets
    — here also superseded rows of buckets it no longer serves. A read
    on the same or a fresh instance is exactly the latest row per key.
    A compaction touching one bucket leaves the others readable, and
    garbage collection keeps every dir the newest manifest maps."""
    from maxscale_cdc_connector_spark.streaming import ops
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    path = str(tmp_path / "state")
    data = os.path.join(path, "data")
    sink = SnapshotSink(path, ["id"], n_buckets=4)
    inserts = [make_event(s, id_=s, name=f"n{s}") for s in range(1, 65)]
    updates = [make_event(100 + s, "update_after", 2, id_=s, name=f"u{s}") for s in range(1, 65)]
    old = _sink_events(spark, inserts).withColumn("_bucket", sink._bucket())
    new = _sink_events(spark, updates).withColumn("_bucket", sink._bucket())
    staging = str(tmp_path / "staging")
    new.filter("_bucket = 0").write.partitionBy("_bucket").parquet(staging)
    os.makedirs(path)
    os.rename(os.path.join(staging, "_bucket=0"), os.path.join(path, "_bucket=0"))
    new.filter("_bucket = 1").write.partitionBy("_bucket").parquet(os.path.join(data, "0-leaf"))
    new.filter("_bucket >= 2").unionByName(old.filter("_bucket < 2")).write.parquet(
        os.path.join(data, "1-merge")
    )
    os.makedirs(sink._manifest())
    with open(sink._manifest(1), "w") as fh:
        json.dump(
            {
                "n_buckets": 4,
                "key_cols": ["id"],
                "order_cols": ["sequence", "event_number"],
                "schema": new.drop("_bucket").schema.jsonValue(),
                "buckets": {
                    "0": "_bucket=0",
                    "1": "data/0-leaf/_bucket=1",
                    "2": "data/1-merge",
                    "3": "data/1-merge",
                },
            },
            fh,
        )

    want = _rows(latest_snapshot(_sink_events(spark, inserts + updates), ["id"]))
    for reader in (sink, SnapshotSink(path, ["id"], n_buckets=4)):
        assert reader.current(spark).columns == new.drop("_bucket").columns
        assert _rows(reader.snapshot(spark)) == want

    monkeypatch.setattr(ops, "RETENTION_S", 0.0)
    key = new.filter("_bucket = 0").first()["id"]
    for seq in (500, 501):
        sink(_sink_events(spark, [make_event(seq, "update_after", 2, id_=key, name="again")]), seq)
    sink.compact(spark)
    want = sorted(r if r[0] != key else (key, 501, "update_after", "again") for r in want)
    head = sink._head()
    assert {b: d for b, d in head["buckets"].items() if b != "0"} == {
        "1": "data/0-leaf/_bucket=1",
        "2": "data/1-merge",
        "3": "data/1-merge",
    }
    assert sorted(os.listdir(data)) == sorted(["0-leaf", "1-merge", head["buckets"]["0"][5:]])
    assert not os.path.exists(os.path.join(path, "_bucket=0"))  # no manifest maps it now
    for reader in (sink, SnapshotSink(path, ["id"], n_buckets=4)):
        assert _rows(reader.snapshot(spark)) == want


def test_snapshot_sink_sparse_merge_reads_only_mapped_buckets(spark, tmp_path) -> None:
    """After a compaction over every bucket and one over a single
    bucket, the older dir still holds that bucket's superseded row, yet
    snapshot() has one row per key, with the new value: a read keeps
    only the buckets the manifest maps to each dir. The `_bucket IN (…)`
    filter is pushed into the parquet scan that current(), snapshot()
    and the compaction's read-back share, and current() carries no
    `_bucket`."""
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    path = str(tmp_path / "state")
    sink = SnapshotSink(path, ["id"], n_buckets=4)
    sink(_sink_events(spark, [make_event(s, id_=s, name=f"n{s}") for s in range(1, 65)]), 0)
    sink.compact(spark)
    (first,) = set(sink._head()["buckets"].values())
    sink(_sink_events(spark, [make_event(100, "update_after", 2, id_=7, name="seven")]), 1)
    sink.compact(spark)
    head = sink._head()
    older = {b: d for b, d in head["buckets"].items() if d == first}
    assert len(older) == 3 and len(set(head["buckets"].values())) == 2

    stale = spark.read.parquet(os.path.join(path, first)).filter("id = 7").collect()
    assert [r["name"] for r in stale] == ["n7"]
    rows = sink.snapshot(spark).select("id", "name").collect()
    assert len(rows) == 64 and len({r["id"] for r in rows}) == 64
    assert {r["id"]: r["name"] for r in rows}[7] == "seven"

    current = sink.current(spark)
    assert "_bucket" not in current.columns
    read_back = sink._scan(spark, head, older)
    for df in (current, read_back):
        assert "In(_bucket, [" in df._jdf.queryExecution().executedPlan().toString()


def test_compact_parquet_reduces_files(spark, tmp_path) -> None:
    """Small-file compaction: 32 tiny files collapse to 1 with content
    preserved exactly."""
    import os as _os

    from maxscale_cdc_connector_spark.operators.maintenance import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(0, 10_000).repartition(32).write.parquet(path)
    n_before = sum(1 for f in _os.listdir(path) if f.endswith(".parquet"))
    assert n_before == 32
    before = {r["id"] for r in spark.read.parquet(path).collect()}

    n_after = compact_parquet(spark, path, target_file_mb=128)
    assert n_after == 1
    assert {r["id"] for r in spark.read.parquet(path).collect()} == before


def test_stream_static_enrich_equals_batch(spark, event_log) -> None:
    """Stream-static broadcast enrichment produces exactly the batch join."""
    from maxscale_cdc_connector_spark.streaming.ops import enrich_static

    path, _ = event_log
    dim = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd") for i in range(1, 41)],
        "id int, parity string",
    )
    stream = replay_stream(spark, path, TEST_SCHEMA_RECORD, max_files_per_trigger=1)
    q = (
        enrich_static(stream, dim, ["id"])
        .select("sequence", "id", "parity")
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["sequence"], r["id"], r["parity"])
        for r in spark.sql("SELECT * FROM enriched").collect()
    }
    batch = replay_batch(spark, path, TEST_SCHEMA_RECORD)
    want = {
        (r["sequence"], r["id"], r["parity"])
        for r in batch.join(dim, ["id"]).select("sequence", "id", "parity").collect()
    }
    assert got == want and len(want) > 0


def test_stream_stream_interval_join(spark, event_log) -> None:
    """Watermarked stream-stream join: update_after events join back to
    the insert of the same key within the interval bound."""
    from maxscale_cdc_connector_spark.streaming.ops import stream_stream_interval_join

    path, _ = event_log

    def side(event_type, ts_name, prefix):
        s = replay_stream(spark, path, TEST_SCHEMA_RECORD, max_files_per_trigger=1)
        return (
            s.filter(F.col("event_type") == event_type)
            .select(
                F.col("id").alias(f"{prefix}id") if prefix else F.col("id"),
                F.timestamp_seconds(F.col("timestamp")).alias(ts_name),
                F.col("sequence").alias(f"{prefix}seq"),
            )
        )

    inserts = side("insert", "ins_ts", "")
    updates = side("update_after", "upd_ts", "u_")
    # inserts at t+s, updates at t+100+s → delay is exactly 100s per key.
    joined = stream_stream_interval_join(
        inserts.withColumnRenamed("id", "id"),
        updates.withColumnRenamed("u_id", "id"),
        key="id",
        left_ts="ins_ts",
        right_ts="upd_ts",
        watermark="10 seconds",
        max_delay_seconds=150,
    )
    q = (
        joined.select("seq", "u_seq")
        .writeStream.format("memory")
        .queryName("ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {(r["seq"], r["u_seq"]) for r in spark.sql("SELECT * FROM ssjoin").collect()}
    # Every 4th key 1..40 was updated: insert seq=k joins update seq=100+k.
    want = {(k, 100 + k) for k in range(1, 41) if k % 4 == 0}
    assert rows == want


def test_stream_incremental_agg_matches_snapshot(spark, event_log) -> None:
    """The signed-delta rollup (cdc_incremental_agg's shape) maintained
    under micro-batches — with replay dedup restoring exactly-once —
    lands on the aggregate a batch snapshot recompute produces."""
    from maxscale_cdc_connector_spark.operators.cdc import latest_snapshot
    from maxscale_cdc_connector_spark.streaming.ops import dedup_exact

    path, _ = event_log
    sign = (
        F.when(F.col("event_type").isin("insert", "update_after"), F.lit(1))
        .when(F.col("event_type").isin("update_before", "delete"), F.lit(-1))
    )

    def deltas(df):
        return (
            df.select((F.col("id") % 2).alias("grp"), sign.alias("d_rows"),
                      (sign * F.col("id")).alias("d_id"))
            .groupBy("grp")
            .agg(F.sum("d_rows").alias("n_rows"), F.sum("d_id").alias("id_sum"))
        )

    stream = dedup_exact(replay_stream(spark, path, TEST_SCHEMA_RECORD, max_files_per_trigger=1))
    q = (
        deltas(stream)
        .writeStream.format("memory")
        .queryName("inc_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["grp"]: (r["n_rows"], r["id_sum"])
        for r in spark.sql("SELECT * FROM inc_agg").collect()
        if r["n_rows"] != 0
    }
    snap = latest_snapshot(
        replay_batch(spark, path, TEST_SCHEMA_RECORD).dropDuplicates(
            ["domain", "server_id", "sequence", "event_number"]
        ),
        ["id"],
    )
    want = {
        r["grp"]: (r["n"], r["id_sum"])
        for r in snap.select((F.col("id") % 2).alias("grp"), "id")
        .groupBy("grp")
        .agg(F.count("*").alias("n"), F.sum("id").alias("id_sum"))
        .collect()
    }
    assert got == want and len(want) == 2


def test_stream_stream_left_outer_interval_join(spark, event_log, tmp_path) -> None:
    """Left-outer interval join: matched inserts pair with their update;
    unmatched inserts emit with a NULL right side once the watermark
    passes their interval — no left row is ever lost."""
    from maxscale_cdc_connector_spark.streaming.ops import stream_stream_interval_join

    src, _ = event_log
    # Outer-side emission needs a LATER batch to advance the watermark
    # past each row's interval end. Each side's watermark operator sits
    # AFTER its event_type filter, so the flush batch must contain an
    # event of EACH side's type — a flush insert alone never advances
    # the right (update_after) watermark, and left state finalizes only
    # when the RIGHT watermark passes left_ts + delay.
    import shutil

    path = str(tmp_path / "log_with_flush")
    shutil.copytree(src, path)
    _write_log(
        os.path.join(path, "part-zzz-flush.jsonl"),
        [
            make_event(9999, id_=9999, name="flush"),
            make_event(9998, "update_after", 1, id_=9998, name="flush"),
        ],
    )

    def side(event_type, ts_name, prefix):
        s = replay_stream(spark, path, TEST_SCHEMA_RECORD, max_files_per_trigger=1)
        return s.filter(F.col("event_type") == event_type).select(
            F.col("id").alias(f"{prefix}id") if prefix else F.col("id"),
            F.timestamp_seconds(F.col("timestamp")).alias(ts_name),
            F.col("sequence").alias(f"{prefix}seq"),
        )

    joined = stream_stream_interval_join(
        side("insert", "ins_ts", ""),
        side("update_after", "upd_ts", "u_").withColumnRenamed("u_id", "id"),
        key="id",
        left_ts="ins_ts",
        right_ts="upd_ts",
        watermark="10 seconds",
        max_delay_seconds=150,
        how="left_outer",
    )
    q = (
        joined.select("seq", "u_seq")
        .writeStream.format("memory")
        .queryName("ssjoin_outer")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {
        (r["seq"], r["u_seq"])
        for r in spark.sql("SELECT * FROM ssjoin_outer").collect()
    }
    matched = {(k, 100 + k) for k in range(1, 41) if k % 4 == 0}
    assert matched <= rows
    # The flush update (no matching insert) must NOT appear: left-outer
    # drops unmatched right rows.
    assert not any(u == 9998 for _, u in rows)
    unmatched_emitted = {s for s, u in rows if u is None and s != 9999}
    # Sequences 1..40 inserted; non-%4 keys have no update. availableNow
    # ends the stream by advancing the watermark to the end of input, so
    # every unmatched insert must have been emitted with NULL by then.
    want_unmatched = {k for k in range(1, 41) if k % 4 != 0}
    assert unmatched_emitted == want_unmatched, (
        sorted(want_unmatched - unmatched_emitted),
        sorted(unmatched_emitted - want_unmatched),
    )


def test_windowed_agg_under_rocksdb_state_store(spark, event_log) -> None:
    """The tumbling agg runs identically under the RocksDB state store
    provider — the bounded-memory state backend a 100 TB stream needs
    (HDFS-backed in-memory maps are the small-state default)."""
    path, _ = event_log
    ts = F.timestamp_seconds(F.col("timestamp"))
    aggs = [F.count("*").alias("n"), F.sum("id").alias("id_sum")]
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = tumbling_agg(
            replay_stream(spark, path, TEST_SCHEMA_RECORD, max_files_per_trigger=1)
            .withColumn("ts", ts),
            "ts", "30 seconds", [], aggs,
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("rocksdb_agg")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["win"]["start"], r["n"], r["id_sum"])
            for r in spark.sql("SELECT * FROM rocksdb_agg").collect()
        }
        batch = tumbling_agg(
            replay_batch(spark, path, TEST_SCHEMA_RECORD).withColumn("ts", ts),
            "ts", "30 seconds", [], aggs,
        )
        want = {
            (r["win"]["start"], r["n"], r["id_sum"]) for r in batch.collect()
        }
        assert got == want and len(want) > 0
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stateful_ewma_carries_state_across_micro_batches(spark, tmp_path):
    """Two files + maxFilesPerTrigger=1 force two micro-batches; the
    second batch must fold ON TOP of the first batch's state, so the
    final per-key EWMA equals the single-pass batch fold over the full
    ordered sequence."""
    import json

    from maxscale_cdc_connector_spark.streaming.ops import stateful_ewma

    rows = [
        {"user_id": u, "ts_us": i * 1000, "event_id": i, "value": float((i * 7) % 13) + 0.25}
        for i in range(40)
        for u in [i % 3]
    ]
    # Split by event_id so concatenation preserves the global order.
    log = tmp_path / "ewma_log"
    log.mkdir()
    with open(log / "part-000.jsonl", "w") as fh:
        for r in rows[:20]:
            fh.write(json.dumps(r) + "\n")
    with open(log / "part-001.jsonl", "w") as fh:
        for r in rows[20:]:
            fh.write(json.dumps(r) + "\n")
    # FileStreamSource orders files by modification time; back-to-back
    # writes can land in the same mtime tick, making batch order (and
    # therefore the fold order) nondeterministic. Pin strictly
    # increasing mtimes so part-000 is always micro-batch 1.
    os.utime(log / "part-000.jsonl", (1_700_000_000, 1_700_000_000))
    os.utime(log / "part-001.jsonl", (1_700_000_100, 1_700_000_100))

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("user_id bigint, ts_us bigint, event_id bigint, value double")
        .json(str(log))
    )
    q = (
        stateful_ewma(stream, key_col="user_id")
        .writeStream.format("memory")
        .queryName("ewma_xbatch")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.n_events, round(r.ewma, 10))
        for r in spark.sql(
            "SELECT user_id, max(n_events) AS n_events, "
            "max_by(ewma, n_events) AS ewma FROM ewma_xbatch GROUP BY user_id"
        ).collect()
    }
    # Reference: sequential fold over the full ordered sequence per key.
    want = {}
    for r in rows:
        u, x = r["user_id"], r["value"]
        if u not in want:
            want[u] = (1, x)
        else:
            n, ew = want[u]
            want[u] = (n + 1, 0.8 * ew + 0.2 * x)
    want = {u: (n, round(ew, 10)) for u, (n, ew) in want.items()}
    assert got == want


def test_stateful_session_ttl_emits_only_watermark_closed_sessions(spark, tmp_path):
    """EventTimeTimeout state expiry: sessions emit exactly when the
    event-time watermark passes (last event + gap), and the emitting
    key's state is removed — bounded memory for unbounded keyspaces.
    The watermark from batch N's data governs batch N+1's timeouts, so
    a third batch is required to flush sessions closed by the second."""
    import json

    from maxscale_cdc_connector_spark.streaming.ops import stateful_session_ttl

    def ev(user, sec, eid):
        return {"user_id": user, "ts": f"2026-01-01 00:{sec // 60:02d}:{sec % 60:02d}", "event_id": eid}

    log = tmp_path / "ttl_log"
    log.mkdir()
    batches = [
        # users 1 and 2: short sessions around t=0..8s
        [ev(1, 0, 1), ev(1, 5, 2), ev(2, 3, 3), ev(2, 8, 4)],
        # much later traffic advances the watermark far past 8s + 30s gap
        [ev(3, 600, 5)],
        # one more batch so the post-batch-2 watermark drives timeouts
        [ev(3, 610, 6)],
    ]
    for i, rows in enumerate(batches):
        with open(log / f"part-{i:03d}.jsonl", "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(log / f"part-{i:03d}.jsonl", (1_700_000_000 + i * 100,) * 2)

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("user_id bigint, ts string, event_id bigint")
        .json(str(log))
        .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_id")
        .withWatermark("ts", "10 seconds")
    )
    q = (
        stateful_session_ttl(stream, gap="30 seconds")
        .writeStream.format("memory")
        .queryName("ttl_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.n_events, r.duration_us)
        for r in spark.sql("SELECT * FROM ttl_sessions").collect()
    }
    # users 1 and 2 closed (watermark 590s >> their end + 30s); user 3's
    # session is still open — its state must NOT have been emitted.
    assert got == {1: (2, 5_000_000), 2: (2, 5_000_000)}, got


def test_stateful_session_ttl_finalizes_late_groups_inline(spark, tmp_path):
    """A key whose ENTIRE history arrives behind the watermark (late
    data, or a replayed shard landing after other keys advanced the
    watermark) cannot arm an EventTimeTimeout — Spark requires the
    timeout to be ahead of the watermark and fails the whole query with
    INVALID_TIMEOUT_TIMESTAMP otherwise (seen at the sf1 sweep: replica
    keys' insert waves landed behind the update-wave watermark). The
    operator must treat 'timeout would already have expired' as 'the
    session is provably closed' and emit it inline with no state."""
    import json

    from maxscale_cdc_connector_spark.streaming.ops import stateful_session_ttl

    def ev(user, sec, eid):
        return {"user_id": user, "ts": f"2026-01-01 00:{sec // 60:02d}:{sec % 60:02d}", "event_id": eid}

    log = tmp_path / "ttl_late_log"
    log.mkdir()
    batches = [
        # batch 1: user 3's traffic at t=600 advances the watermark to 590s
        [ev(3, 600, 1)],
        # batch 2: user 7's whole session is at t=0..5 — entirely behind
        # the 590s watermark; its would-be timeout (5s + 30s gap) is in
        # the past. Old behavior: PySparkValueError kills the query.
        [ev(7, 0, 2), ev(7, 5, 3)],
        # batch 3: more user-3 traffic keeps its session open at the end
        [ev(3, 610, 4)],
    ]
    for i, rows in enumerate(batches):
        with open(log / f"part-{i:03d}.jsonl", "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(log / f"part-{i:03d}.jsonl", (1_700_000_000 + i * 100,) * 2)

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("user_id bigint, ts string, event_id bigint")
        .json(str(log))
        .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_id")
        .withWatermark("ts", "10 seconds")
    )
    q = (
        stateful_session_ttl(stream, gap="30 seconds")
        .writeStream.format("memory")
        .queryName("ttl_late_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.n_events, r.duration_us)
        for r in spark.sql("SELECT * FROM ttl_late_sessions").collect()
    }
    # user 7 emitted closed despite arriving wholly late; user 3 open.
    assert got == {7: (2, 5_000_000)}, got


def test_dedup_exact_rejects_missing_identity_columns(spark) -> None:
    """r9 review: deduping on a silently-narrowed key collapses
    distinct events (update halves share a GTID); missing identity
    columns are a hard error now."""
    import pytest as _pytest

    from maxscale_cdc_connector_spark.streaming.ops import dedup_exact

    df = spark.createDataFrame(
        [(0, 3000, 1)], "domain int, server_id int, sequence long"
    )  # no event_number
    with _pytest.raises(ValueError, match="event_number"):
        dedup_exact(df)


def test_snapshot_sink_rejects_changed_parameters(spark, tmp_path) -> None:
    """r9 review: restarting a sink with a different n_buckets re-hashes
    keys into new buckets while stale rows sit untouched in old ones —
    two rows per key forever. The parameters every manifest records
    make the mismatch a loud merge-time error."""
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    path = str(tmp_path / "state")
    SnapshotSink(path, ["id"], n_buckets=8)(_sink_events(spark, [make_event(1, id_=1)]), 0)
    # Same parameters: fine.
    SnapshotSink(path, ["id"], n_buckets=8)(_sink_events(spark, [make_event(2, id_=2)]), 1)
    # Different n_buckets: refused before any corruption.
    with pytest.raises(ValueError, match="n_buckets"):
        SnapshotSink(path, ["id"], n_buckets=4)(_sink_events(spark, [make_event(3, id_=3)]), 2)
    # Different key_cols: refused too.
    with pytest.raises(ValueError, match="key_cols|stored"):
        SnapshotSink(path, ["name"], n_buckets=8)(_sink_events(spark, [make_event(4, id_=4)]), 3)


def test_snapshot_sink_unreadable_manifest_keeps_parameter_guard(
    spark, tmp_path, monkeypatch
) -> None:
    """An unreadable newest manifest falls back to the newest complete
    one, and with none readable the sink refuses: the stored parameters
    are never replaced by the constructing instance's guess."""
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    path = str(tmp_path / "state")
    sink = SnapshotSink(path, ["id"], n_buckets=8)
    _hold_compaction(sink, monkeypatch)  # version 1 is the second batch
    sink(_sink_events(spark, [make_event(1, id_=1)]), 0)
    sink(_sink_events(spark, [make_event(2, id_=2)]), 1)
    with open(sink._manifest(1), "w") as fh:
        fh.write('{"n_buckets": 4')
    assert _snapshot_ids(sink, spark) == [1]  # version 0
    batch = _sink_events(spark, [make_event(3, id_=3)])
    with pytest.raises(ValueError, match="n_buckets"):
        SnapshotSink(path, ["id"], n_buckets=4)(batch, 2)
    with open(sink._manifest(0), "w") as fh:
        fh.write("garbage")
    with pytest.raises(ValueError, match="no readable manifest"):
        SnapshotSink(path, ["id"], n_buckets=4)(batch, 2)


def _drained_jobs(sc, group: str) -> list[int]:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _hold_compaction(sink, monkeypatch) -> None:
    """No background compaction on ``sink``: its deltas stay until
    ``compact()``."""
    monkeypatch.setattr(sink, "_compact_in_background", lambda _spark: None)


def test_snapshot_sink_merge_job_budget(spark, tmp_path, monkeypatch) -> None:
    """A batch runs exactly one Spark job, the delta write — no frozen
    read, no touched-bucket list — and adds one delta dir. One
    compact() runs at most 4 jobs and adds exactly one data dir; AQE
    sizes its file count from the data, so it holds at most
    `spark.sql.shuffle.partitions` files however many buckets (here
    twice that many) it holds. No footer-inference job anywhere: a
    fresh instance's snapshot() launches none, with a delta listed or
    after the compaction."""
    import glob

    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    sc = spark.sparkContext
    path = str(tmp_path / "state")
    data = os.path.join(path, "data")
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_buckets = 2 * parts
    sink = SnapshotSink(path, ["id"], n_buckets=n_buckets)
    _hold_compaction(sink, monkeypatch)
    sink(_sink_events(spark, [make_event(s, id_=s) for s in range(1, 129)]), 0)
    sink.compact(spark)
    before = set(os.listdir(data))
    batch = _sink_events(spark, [make_event(1000 + s, "update_after", 2, id_=s) for s in range(1, 129)])
    try:
        sc.setJobGroup("snapshot-sink-batch", "one batch")
        sink(batch, 1)
        appended = set(os.listdir(data))
        sc.setJobGroup("snapshot-sink-read", "two snapshot() calls")
        snaps = [SnapshotSink(path, ["id"], n_buckets=n_buckets).snapshot(spark)]
        sc.setJobGroup("snapshot-sink-compact", "one compaction")
        sink.compact(spark)
        sc.setJobGroup("snapshot-sink-read", "two snapshot() calls")
        snaps.append(SnapshotSink(path, ["id"], n_buckets=n_buckets).snapshot(spark))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    batch_jobs, compact_jobs, read_jobs = (
        len(_drained_jobs(sc, f"snapshot-sink-{step}")) for step in ("batch", "compact", "read")
    )
    assert batch_jobs == 1, f"{batch_jobs} jobs for one batch"
    assert 0 < compact_jobs <= 4, f"{compact_jobs} jobs for one compaction"
    assert read_jobs == 0
    assert [s.count() for s in snaps] == [128, 128]

    (delta,) = appended - before
    assert delta.startswith("delta-")
    head = sink._head()
    assert len(head["buckets"]) == n_buckets and head["deltas"] == []
    added = set(os.listdir(data)) - appended
    assert len(added) == 1, f"one compaction added data dirs {sorted(added)}"
    files = glob.glob(os.path.join(data, *added, "**", "*.parquet"), recursive=True)
    assert 0 < len(files) <= parts, f"{len(files)} parquet files for {n_buckets} buckets"
    assert set(head["buckets"].values()) == {f"data/{d}" for d in added}


def test_snapshot_sink_compaction_keeps_deltas_appended_while_it_ran(
    spark, tmp_path, monkeypatch
) -> None:
    """A batch appended between a compaction's write and its publish
    stays listed: the compaction re-reads the head under the writer
    lock and drops only the deltas it folded, so both batches are in
    snapshot() right after its publish, and after the next compaction."""
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    sink = SnapshotSink(str(tmp_path / "state"), ["id"], n_buckets=4)
    sink(_sink_events(spark, [make_event(s, id_=s, name=f"n{s}") for s in range(1, 33)]), 0)
    sink.compact(spark)
    first = [make_event(200, "update_after", 2, id_=1, name="first"), make_event(201, id_=99, name="new")]
    mid = [make_event(300, "update_after", 2, id_=2, name="mid")]
    seen: list = []
    replace = sink._replace

    def append_then_publish(head, touched, name) -> None:
        if seen:
            return replace(head, touched, name)
        sink(_sink_events(spark, mid), 2)
        replace(head, touched, name)
        seen.append(sink._head())
        seen.append({r["id"]: r["name"] for r in sink.snapshot(spark).collect()})

    monkeypatch.setattr(sink, "_replace", append_then_publish)
    sink(_sink_events(spark, first), 1)  # its background compaction runs the hook
    sink.compact(spark)
    assert len(seen) == 2, "the background compaction never published"
    kept, names = seen
    (delta,) = kept["deltas"]
    assert delta["dir"].startswith("data/delta-")
    want = {**{s: f"n{s}" for s in range(1, 33)}, 1: "first", 2: "mid", 99: "new"}
    assert names == want
    assert sink._head()["deltas"] == []
    assert {r["id"]: r["name"] for r in sink.snapshot(spark).collect()} == want


def test_snapshot_sink_delete_in_delta_hides_base_row(spark, tmp_path, monkeypatch) -> None:
    """A delete appended as a delta hides the key's base row on read:
    snapshot() drops the key and current() returns the tombstone,
    before and after the delta is compacted."""
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    sink = SnapshotSink(str(tmp_path / "state"), ["id"], n_buckets=4)
    _hold_compaction(sink, monkeypatch)
    sink(_sink_events(spark, [make_event(s, id_=s) for s in range(1, 17)]), 0)
    sink.compact(spark)
    sink(_sink_events(spark, [make_event(100, "delete", 1, id_=5)]), 1)
    for folded in (False, True):
        assert bool(sink._head()["deltas"]) is not folded
        assert _snapshot_ids(sink, spark) == [s for s in range(1, 17) if s != 5]
        tomb = sink.current(spark).filter("id = 5").collect()
        assert [(r["event_type"], r["sequence"]) for r in tomb] == [("delete", 100)]
        sink.compact(spark)


def test_snapshot_sink_replayed_batch_appended_twice(spark, tmp_path, monkeypatch) -> None:
    """A replayed batch is appended again, not skipped by its batch id
    (a replay may be a superset of the original): the state read with
    it listed twice equals the state with it listed once, and the
    compaction of both gives the same rows."""
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    sink = SnapshotSink(str(tmp_path / "state"), ["id"], n_buckets=4)
    _hold_compaction(sink, monkeypatch)
    sink(_sink_events(spark, [make_event(s, id_=s, name=f"n{s}") for s in range(1, 33)]), 0)
    sink.compact(spark)
    events = [make_event(100 + s, "update_after", 2, id_=s, name=f"u{s}") for s in range(1, 33, 3)]
    events += [make_event(200 + s, "delete", 1, id_=s) for s in range(2, 33, 5)]
    batch = _sink_events(spark, events)
    sink(batch, 1)
    once = (_rows(sink.current(spark)), _rows(sink.snapshot(spark)))
    sink(batch, 1)
    assert len(sink._head()["deltas"]) == 2
    assert (_rows(sink.current(spark)), _rows(sink.snapshot(spark))) == once
    sink.compact(spark)
    assert sink._head()["deltas"] == []
    assert (_rows(sink.current(spark)), _rows(sink.snapshot(spark))) == once


def test_snapshot_sink_failed_compaction_fails_next_batch(spark, tmp_path, monkeypatch) -> None:
    """A background compaction that fails publishes nothing: the state
    read afterwards is unchanged, and the next batch raises its error
    before writing anything, so the query fails visibly. A synchronous
    compact() raises its own error. Once raised, the error is cleared:
    the replayed batch appends and compacts normally."""
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    sink = SnapshotSink(str(tmp_path / "state"), ["id"], n_buckets=4)
    sink(_sink_events(spark, [make_event(s, id_=s) for s in range(1, 17)]), 0)
    sink.compact(spark)
    monkeypatch.setattr(sink, "_replace", _crash)
    sink(_sink_events(spark, [make_event(100, id_=100)]), 1)  # its compaction fails
    with pytest.raises(RuntimeError, match="driver died"):
        sink.compact(spark)
    want = _rows(sink.current(spark))
    assert [r[0] for r in want] == list(range(1, 17)) + [100]
    monkeypatch.undo()
    head = sink._head()
    later = _sink_events(spark, [make_event(101, id_=101)])
    with pytest.raises(RuntimeError, match="compaction .* failed") as failed:
        sink(later, 2)
    assert "driver died" in str(failed.value.__cause__)
    assert sink._head() == head and _rows(sink.current(spark)) == want
    sink(later, 2)
    sink.compact(spark)
    assert sink._head()["deltas"] == []
    assert _snapshot_ids(sink, spark) == list(range(1, 17)) + [100, 101]


def test_snapshot_sink_concurrent_appends_lose_nothing(spark, tmp_path) -> None:
    """Appends from more threads than cores, each on its own instance of
    one sink path, beside the background compactions they start, lose
    no batch: every publish takes the next version under the path's
    one writer lock, so each batch's delta is listed by some manifest
    and every thread's keys end at its last batch."""
    import sys
    import threading

    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    path = str(tmp_path / "state")
    n_threads, n_batches, n_keys = spark.sparkContext.defaultParallelism + 2, 3, 4
    errors: list[BaseException] = []

    def append(t: int) -> None:
        sink = SnapshotSink(path, ["id"], n_buckets=4)
        try:
            for j in range(n_batches):
                events = [
                    make_event(1000 * j + 10 * t + i, id_=100 * t + i, name=f"t{t}b{j}")
                    for i in range(n_keys)
                ]
                sink(_sink_events(spark, events), j)
        except BaseException as exc:  # noqa: BLE001 — every failure is the finding
            errors.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=append, args=(t,), daemon=True) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads) and not errors, errors[:1]

    sink = SnapshotSink(path, ["id"], n_buckets=4)
    sink.compact(spark)
    versions = sink._versions()
    assert versions == list(range(len(versions)))  # none superseded long enough to go
    listed = {d["dir"] for v in versions for d in sink._read(v)["deltas"]}
    assert len(listed) == n_threads * n_batches
    want = {100 * t + i: f"t{t}b{n_batches - 1}" for t in range(n_threads) for i in range(n_keys)}
    assert {r["id"]: r["name"] for r in sink.snapshot(spark).collect()} == want


def test_snapshot_sink_reads_isolated_from_merges(spark, tmp_path) -> None:
    """A reader looping snapshot() plus an aggregate beside 200 small
    appends and the background compactions they start sees no error.
    Each read opens the dirs one published manifest lists, which no
    writer modifies and garbage collection keeps for RETENTION_S —
    there is no bucket swap to race (the in-place layout failed here:
    file not found on a swapped bucket's file)."""
    import threading

    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    n_keys, n_merges = 8, 200

    def batch(k):
        return spark.range(0, n_keys, 1, 1).select(
            F.lit(0).alias("domain"),
            F.lit(3000).alias("server_id"),
            (F.col("id") + n_keys * k).alias("sequence"),
            F.lit(1).alias("event_number"),
            F.lit("update_after").alias("event_type"),
            F.col("id").cast("int").alias("id"),
            F.lit(k).alias("version"),
        )

    path = str(tmp_path / "state")
    writer = SnapshotSink(path, ["id"], n_buckets=4)
    writer(batch(0), 0)
    reader = SnapshotSink(path, ["id"], n_buckets=4)
    errors: list[BaseException] = []
    reads = 0
    done = threading.Event()

    def read_loop() -> None:
        nonlocal reads
        while not done.is_set():
            try:
                rows = reader.snapshot(spark).groupBy("version").count().collect()
                assert sum(r["count"] for r in rows) == n_keys
                reads += 1
            except BaseException as exc:  # noqa: BLE001 — every failure is the finding
                errors.append(exc)

    thread = threading.Thread(target=read_loop, daemon=True)
    thread.start()
    try:
        for k in range(1, n_merges + 1):
            writer(batch(k), k)
    finally:
        done.set()
        thread.join(60)
    assert not errors, f"{len(errors)} of {reads + len(errors)} reads failed: {errors[0]!r}"
    assert reads > 0
    # The first batch published no base: one exists only if background
    # compactions ran beside the reads.
    assert writer._head()["buckets"]
    final = reader.snapshot(spark).collect()
    assert {(r["id"], r["version"]) for r in final} == {(i, n_merges) for i in range(n_keys)}


def test_windowed_agg_watermark_covers_column_event_time(spark, event_log) -> None:
    """r9 review: a Column-typed ts with a watermark used to watermark a
    guessed literal 'ts' column — crashing, or bounding state on the
    wrong clock. The helper now materializes the expression and
    watermarks the same column the window uses; append-mode results
    must finalize and arrive."""
    from maxscale_cdc_connector_spark.streaming.ops import tumbling_agg

    path, _ = event_log
    stream = replay_stream(spark, path, TEST_SCHEMA_RECORD, max_files_per_trigger=1)
    out = tumbling_agg(
        stream,
        F.timestamp_seconds(F.col("timestamp")),  # Column, not a name
        "60 seconds",
        ["event_type"],
        [F.count("*").alias("n")],
        watermark="10 seconds",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("wm_col_agg")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM wm_col_agg").collect()
    # Append mode emits only FINALIZED windows: with the watermark bound
    # to the real event-time column, the early windows must have closed.
    assert len(rows) > 0, "no windows finalized — watermark on wrong column"
    assert all(r["n"] > 0 for r in rows)


def test_event_time_private_name_never_clobbers_user_column(spark) -> None:
    """ADVICE r9: a fixed '_event_time' private name silently REPLACED a
    pre-existing user column of that name, corrupting it when it was a
    group key. The helper must pick an unused name instead."""
    from maxscale_cdc_connector_spark.streaming.ops import tumbling_agg

    df = spark.createDataFrame(
        [(g, 1_700_000_000 + i) for i in range(10) for g in ("a", "b")],
        "_event_time string, epoch long",
    )
    out = tumbling_agg(
        df,
        F.timestamp_seconds(F.col("epoch")),  # Column ts, name collision
        "60 seconds",
        ["_event_time"],  # user column with the old private name
        [F.count("*").alias("n")],
    )
    rows = {r["_event_time"]: r["n"] for r in out.collect()}
    # Pre-fix the user column was overwritten by the timestamp expression
    # and the groups became per-second timestamps instead of {'a','b'}.
    assert rows == {"a": 10, "b": 10}


def test_interval_join_outer_preserves_key_from_right(spark) -> None:
    """ADVICE r9: for right/full outer interval joins an unmatched RIGHT
    row has a NULL left key, so dropping the right copy of the equi-key
    lost the key. The coalesced output must keep it for every row.
    (Batch frames: withWatermark is a no-op in batch, and the join
    semantics under test are join-type key handling, not state.)"""
    from maxscale_cdc_connector_spark.streaming.ops import stream_stream_interval_join

    left = spark.createDataFrame(
        [(1, "2026-01-01 00:00:00"), (2, "2026-01-01 00:00:00")],
        "k int, lts string",
    ).select("k", F.col("lts").cast("timestamp").alias("lts"))
    right = spark.createDataFrame(
        [(1, "2026-01-01 00:00:30"), (9, "2026-01-01 00:00:30")],
        "k int, rts string",
    ).select("k", F.col("rts").cast("timestamp").alias("rts"))

    for how in ("right_outer", "full_outer"):
        out = stream_stream_interval_join(
            left, right, key="k", left_ts="lts", right_ts="rts",
            watermark="10 seconds", max_delay_seconds=60, how=how,
        )
        assert out.columns.count("k") == 1
        keys = {r["k"] for r in out.collect()}
        # Unmatched right key 9 must survive; pre-fix it came back NULL.
        want = {1, 9} if how == "right_outer" else {1, 2, 9}
        assert keys == want, (how, keys)

    # inner/left_outer: unchanged fast path, single key column.
    inner = stream_stream_interval_join(
        left, right, key="k", left_ts="lts", right_ts="rts",
        watermark="10 seconds", max_delay_seconds=60, how="inner",
    )
    assert inner.columns.count("k") == 1
    assert {r["k"] for r in inner.collect()} == {1}
