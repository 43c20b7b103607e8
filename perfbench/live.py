"""Live phase of the ``cdc`` workload: open-loop CDC upserts into
``SnapshotSink`` with a dashboard reading beside the writer.

Two streams (shards with disjoint keys) open with one insert per key,
which the first batches apply: the snapshot the live phase starts from
holds ``N_KEYS`` rows, so the merge cost does not drift. Then the CDC
server releases event ``i`` at ``t0 + i / RATE`` (stamped in
``event_ts``) for ``LEAD_S`` plus the run's seconds: updates, deletes
and re-inserts on skewed keys. One closed-loop client runs a fixed
dashboard query on ``SnapshotSink.snapshot()`` with a think time. After
the window the stream drains to zero backlog and is stopped; the final
snapshot must equal the latest-per-key reduction of the generated log.

Freshness of an event: from its due time to the end of the last batch
that committed before the first re-dial whose resume GTID is at or past
the event.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time

import numpy as np

from perfbench import common, datagen, tracing
from perfbench.cdcserver import CDCServer, ServedLog

N_STREAMS = 2
N_KEYS = 20_000
# Events/s over both streams (an update is two events): half of 10k,
# the highest rate probed under TRIGGER and THINK_S at which every batch
# fitted in the trigger period and freshness stayed flat over the window
# (4 cores).
RATE = 5_000
MIX = (0.2, 0.6, 0.2)  # insert, update, delete
THINK_S = 1.0  # dashboard client think time
DRAIN_TIMEOUT_S = 30.0
READER_OPTIONS = {"pollSeconds": "0.25", "maxBatchSeconds": "0.5"}
# A fixed trigger period longer than a loaded batch (~2 s on 4 cores at
# RATE, most of it the merge): batches start on a regular clock, so an
# event's wait for the next batch is uniform over the period instead of
# depending on where back-to-back batches happened to fall. The gap
# between batches also lets stop() land between them.
TRIGGER_S = 3
TRIGGER = {"processingTime": f"{TRIGGER_S} seconds"}
# The schedule starts once the opening is committed. The first live
# batches run slower (the merge of updates and deletes warms up over
# three or four batches): events due in the schedule's first LEAD_S
# seconds, and in the part of the run's seconds that does not fill a
# whole trigger period, are applied but left out of the freshness
# figures.
LEAD_S = 4.0
STOP_WAIT_S = 10.0
N_BUCKETS = 16


def inputs(seed: int, seconds: float):
    """Per stream: opening inserts (due at once), then the live events.
    The live operations are released at a fixed rate; both halves of an
    update share a GTID and a due time. ``event_ts`` carries the due time
    (``EVENT_TS_BASE_MS`` + milliseconds after t0)."""
    rng = np.random.default_rng([seed, 3])
    op_rate = RATE / N_STREAMS / (1 + MIX[1] / sum(MIX))
    opening = N_KEYS // N_STREAMS
    served, logs = {}, []
    for j in range(N_STREAMS):
        n_ops = int(op_rate * (LEAD_S + seconds))
        op_due = (np.arange(n_ops) + j / N_STREAMS) / op_rate
        log = datagen.customer_log(
            rng, n_ops, opening, first_sequence=1_000_000 * (j + 1),
            server_id=3000, mix=MIX, insert_all_first=True,
            event_ts_ms=datagen.EVENT_TS_BASE_MS + np.round(op_due * 1000).astype(np.int64),
            key_stride=N_STREAMS, key_offset=j,
        )
        live_ts = log.columns["event_ts"][opening:]
        due = np.concatenate([np.full(opening, -1e9), (live_ts - datagen.EVENT_TS_BASE_MS) / 1000.0])
        served[f"bench.s{j}"] = ServedLog(log.blob, log.offsets, log.sequence, due=due)
        logs.append(log)
    return served, logs, [opening] * N_STREAMS


def _swap_race(exc: BaseException) -> bool:
    """The transient error ``SnapshotSink`` documents for a read that
    overlaps a bucket swap (a replaced bucket's files are gone)."""
    msg = str(exc)
    return isinstance(exc, FileNotFoundError) or any(
        s in msg for s in ("FileNotFoundException", "FILE_NOT_EXIST", "PATH_NOT_FOUND")
    )


class Dashboard(threading.Thread):
    """Closed-loop reader: snapshot(), a fixed aggregate, think, repeat.
    The main thread leaves ``ops`` alone from start() to join().

    ``SnapshotSink`` reads are not isolated from its bucket swap, and
    the sink documents the resulting file-not-found as transient: retry
    and it heals on the next call. The client does what the sink asks,
    up to ``READ_ATTEMPTS`` attempts. Each transient failure is counted
    (``failures``, ``Ops.transient``) and its time stays in the read's
    latency; a read that fails otherwise, or on every attempt, is a
    failed operation."""

    READ_ATTEMPTS = 3

    def __init__(self, spark, sink, ops: common.Ops) -> None:
        super().__init__(daemon=True)
        self.spark, self.sink, self.ops = spark, sink, ops
        self.stop_event = threading.Event()
        self.read_ms: list[float] = []
        self.call_ms: list[float] = []
        self.failures = 0

    def _attempt(self) -> float:
        """snapshot() and the fixed aggregate; snapshot() ms."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        snap = self.sink.snapshot(self.spark)
        t1 = time.perf_counter()
        (snap.groupBy("c_mktsegment")
         .agg(F.count("*").alias("n"), F.round(F.sum("c_acctbal"), 2).alias("bal"))
         .collect())
        return (t1 - t0) * 1000.0

    def read(self) -> None:
        """One dashboard read, counted in ``ops``; its latency (every
        attempt) and the snapshot() time of the attempt that succeeded
        are recorded."""
        t0 = time.perf_counter()
        for attempt in range(1, self.READ_ATTEMPTS + 1):
            try:
                call_ms = self._attempt()
            except Exception as exc:  # noqa: BLE001 — counted either way
                if not _swap_race(exc) or attempt == self.READ_ATTEMPTS:
                    self.ops.fail("snapshot read", exc)
                    return
                self.ops.retried("snapshot read", exc)
                self.failures += 1
            else:
                self.ops.ok()
                self.call_ms.append(call_ms)
                self.read_ms.append((time.perf_counter() - t0) * 1000.0)
                return

    def run(self) -> None:
        while not self.stop_event.is_set():
            self.read()
            self.stop_event.wait(THINK_S)


def _batch_ends(progress: list[dict], wall_minus_mono: float) -> list[tuple[float, dict]]:
    """(end on the monotonic clock, progress row) per batch."""
    out = []
    for p in progress:
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        end = start + p["durationMs"].get("triggerExecution", 0) / 1000.0 - wall_minus_mono
        out.append((end, p))
    return sorted(out, key=lambda e: e[0])


def freshness_s(server: CDCServer, logs, n_open, ends: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per live event: seconds from due time to its commit (NaN if
    never), and the due time (seconds after t0)."""
    out, dues = [], []
    for j, log in enumerate(logs):
        table = f"bench.s{j}"
        served = server.logs[table]
        dials = sorted((d for d in server.dials if d.table == table and d.t_request), key=lambda d: d.t_request)
        seq = log.sequence[n_open[j]:]
        due = server.t0 + served.due[n_open[j]:]
        fresh = np.full(len(seq), np.nan)
        # First dial whose resume sequence is at or past each event.
        resume = np.maximum.accumulate(np.array([d.resume_sequence for d in dials] or [-1]))
        t_dial = np.array([d.t_request for d in dials] or [np.inf])
        k = np.searchsorted(resume, seq, side="left")
        seen = k < len(dials)
        # The last batch end at or before that dial.
        b = np.searchsorted(ends, t_dial[k[seen]] + 0.005, side="right") - 1
        commit = np.where(b >= 0, ends[np.maximum(b, 0)], np.nan)
        fresh[seen] = commit - due[seen]
        out.append(fresh)
        dues.append(served.due[n_open[j]:])
    return np.concatenate(out), np.concatenate(dues)


def _drained(server: CDCServer, logs, after: float) -> bool:
    for j, log in enumerate(logs):
        last = int(log.sequence[-1])
        if not any(
            d.table == f"bench.s{j}" and d.t_request > after and d.resume_sequence >= last
            for d in server.dials
        ):
            return False
    return True


def _stop_between_batches(q, ops: common.Ops) -> None:
    """stop() while no trigger is active; a raise, or an error the
    stream thread records while stopping, is a counted failure."""
    deadline = time.monotonic() + STOP_WAIT_S
    while time.monotonic() < deadline and q.status["isTriggerActive"]:
        time.sleep(0.01)
    try:
        q.stop()
        err = q.exception()
    except Exception as exc:  # noqa: BLE001 — counted, never retried
        err = exc
    if err is None:
        ops.ok()
    else:
        ops.fail("stop", str(err))


def _check(spark, sink, logs) -> tuple[bool, int, str]:
    want = datagen.latest_per_key(logs)
    rows = sink.snapshot(spark).select(
        "c_custkey", "event_type", "c_nationkey", "c_acctbal", "c_mktsegment"
    ).collect()
    got = {r[0]: (r[1], r[2], r[3], r[4]) for r in rows}
    if len(rows) != len(got):
        return False, len(rows), "duplicate keys in the snapshot"
    if got != want:
        bad = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
        return False, len(rows), f"{bad} keys differ from the latest-per-key reduction"
    return True, len(rows), ""


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files if f.endswith(".parquet"))
    return total


def phase(spark, inp, seconds: float, ops: common.Ops, tracer: tracing.Tracer) -> dict:
    """Opening snapshot and lead, ``seconds`` of open-loop events beside
    the dashboard, drain, stop, check."""
    from maxscale_cdc_connector_spark.queries.cdc_queries import CUSTOMER_SCHEMA_RECORD
    from maxscale_cdc_connector_spark.streaming.ops import write_snapshot_stream

    served, logs, n_open = inp
    t_start = time.perf_counter()
    trace_path = str(common.WORK / "live-spans.jsonl") if tracer.enabled else None
    server = CDCServer(served, datagen.schema_line(CUSTOMER_SCHEMA_RECORD), common.USER, common.PASSWORD)
    sink_path = str(common.WORK / "snapshot")
    correct, detail, n_rows = False, "", 0
    dash = None
    progress: list[dict] = []
    live_progress: list[dict] = []
    q = None
    try:
        reader = (
            spark.readStream.format("perfbench_traced_cdc" if tracer.enabled else "maxscale_cdc")
            .option("host", "127.0.0.1").option("user", common.USER).option("password", common.PASSWORD)
            .option("streams", json.dumps([{"table": t, "port": server.port} for t in served]))
            .option("frontierDir", str(common.WORK / "frontier"))
            .option("schemaRecord", CUSTOMER_SCHEMA_RECORD)
        )
        for k, v in READER_OPTIONS.items():
            reader = reader.option(k, v)
        if trace_path:
            reader = reader.option("perfbenchTracePath", trace_path)
        wall_minus_mono = time.time() - time.monotonic()
        q, sink = write_snapshot_stream(
            reader.load(), sink_path, ["c_custkey"], str(common.WORK / "ckpt"),
            trigger=TRIGGER, n_buckets=N_BUCKETS,
        )
        ops.ok()  # the stream run
        # Wait for the opening inserts to be committed.
        deadline = time.monotonic() + 60
        opened = False
        while time.monotonic() < deadline and not opened:
            time.sleep(0.05)
            opened = sum(p["numInputRows"] for p in tracing.progress_rows(q)) >= sum(n_open)
        if not opened:
            raise TimeoutError("opening snapshot not committed in 60 s")
        t_open = time.perf_counter()
        last_prebuild_batch = max((p["batchId"] for p in tracing.progress_rows(q)), default=-1)
        n_dials_before = len(server.dials)
        dash = Dashboard(spark, sink, ops)
        # One untimed read first: a cold dashboard plan would otherwise
        # compete with the first batches it runs beside.
        dash.read()
        dash.read_ms.clear()
        dash.call_ms.clear()
        server.start_schedule()
        dash.start()
        time.sleep(max(0.0, server.t0 + LEAD_S + seconds - time.monotonic()))
        dash.stop_event.set()
        dash.join()
        t_window_end = time.monotonic()
        t_win = time.perf_counter()
        deadline = t_window_end + DRAIN_TIMEOUT_S
        while time.monotonic() < deadline and not _drained(server, logs, server.t0):
            time.sleep(0.05)
        if not _drained(server, logs, server.t0):
            ops.fail("drain", f"backlog not drained {DRAIN_TIMEOUT_S} s after the window")
        t_drained = time.perf_counter()
        progress = tracing.progress_rows(q)
        live_progress = [p for p in progress if p["batchId"] > last_prebuild_batch]
        _stop_between_batches(q, ops)
        t_stopped = time.perf_counter()
        correct, n_rows, detail = _check(spark, sink, logs)
        t_checked = time.perf_counter()
        ops.ok()
        if detail:
            ops.errors.append(f"final snapshot: {detail}")
    finally:
        if dash is not None and dash.is_alive():
            dash.stop_event.set()
            dash.join()
        if q is not None and q.isActive:
            q.stop()
        server.stop()

    ends = [e for e, _ in _batch_ends(progress, wall_minus_mono)]
    fresh, due = freshness_s(server, logs, n_open, np.asarray(ends or [np.nan]))
    batches = _batch_ends(live_progress, wall_minus_mono)
    # Sink throughput between the first and the last non-empty commit.
    full = [(e, p["numInputRows"]) for e, p in batches if p["numInputRows"]]
    applied = (
        sum(n for _, n in full[1:]) / (full[-1][0] - full[0][0]) if len(full) > 1 else float("nan")
    )
    window_end = LEAD_S + seconds
    window_start = window_end - TRIGGER_S * max(1, int(seconds // TRIGGER_S))
    measured = ~np.isnan(fresh) & (due >= window_start)
    done = fresh[measured]
    # Backlog check: freshness of the window's second half minus its
    # first half; near 0 while the sink keeps up with the offered rate.
    mid = (window_start + window_end) / 2.0
    early, later = fresh[measured & (due < mid)], fresh[measured & (due >= mid)]
    n_live = sum(len(log) - o for log, o in zip(logs, n_open))
    never = int(np.isnan(fresh).sum())
    if never:
        correct = False
        ops.errors.append(f"{never} live events never committed")
    due_end = float(due.max())
    late = [s * 1000.0 for s in server.lateness.samples] or [0.0]
    return {
        "correct": correct,
        "extra": {
            "freshness_p50_ms": common.pct(done, 50) * 1000.0,
            "freshness_p99_ms": common.pct(done, 99) * 1000.0,
            "freshness_drift_ms": (
                (common.median(later) - common.median(early)) * 1000.0 if len(early) and len(later) else float("nan")
            ),
            "applied_events_per_s": applied,
            "offered_events_per_s": n_live / due_end,
            "snapshot_read_p50_ms": common.pct(dash.read_ms, 50) if dash.read_ms else float("nan"),
            "snapshot_read_p90_ms": common.pct(dash.read_ms, 90) if dash.read_ms else float("nan"),
            "snapshot_reads": len(dash.read_ms),
            "state_bytes_per_row": _dir_bytes(sink_path) / max(1, n_rows),
            "generator_late_ms": common.pct(late, 99),
            "live_batches": len(live_progress),
            "live_batch_ms": " ".join(str(p["durationMs"].get("triggerExecution", 0)) for p in live_progress),
            "live_opening_s": t_open - t_start,
            "live_drain_tail_s": t_drained - t_win,
            "live_stop_s": t_stopped - t_drained,
            "live_check_s": t_checked - t_stopped,
            "live_reader_options": json.dumps({**READER_OPTIONS, "trigger": TRIGGER, "think_s": THINK_S}),
        },
        "dials": server.dials[n_dials_before:],
        "progress": live_progress,
        "trace_path": trace_path,
        "dashboard": dash,
    }


def sink_layers(result: dict, log: tracing.EventLog) -> dict:
    """``SnapshotSink`` numbers of the live phase."""
    batches = result["progress"]
    out = {}
    dash = result["dashboard"]
    out["sink.snapshot_call_ms"] = common.median(dash.call_ms) if dash.call_ms else 0.0
    out["sink.read_failures"] = float(dash.failures)
    if batches:
        merge_ms, jobs, per_event = [], [], []
        for b in batches:
            bj = log.jobs_in(lambda j, b=b: j.batch_id == str(b["batchId"]) and j.group == b["runId"])
            if not bj:
                continue
            read = bj[0]  # the batch's frozen read (localCheckpoint) comes first
            merge_ms.append(b["durationMs"].get("addBatch", 0) - (read.end_ms - read.start_ms))
            jobs.append(len(bj) - 1)
            if b["numInputRows"]:
                per_event.append(log.metric(bj, "output_bytes") / b["numInputRows"])
        out["sink.merge_ms"] = common.median(merge_ms) if merge_ms else 0.0
        out["sink.merge_jobs"] = common.median(jobs) if jobs else 0.0
        out["sink.bytes_rewritten_per_event"] = common.median(per_event) if per_event else 0.0
    return out
