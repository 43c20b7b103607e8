"""Catch-up phase of the ``cdc`` workload: drain a preloaded CDC backlog
with the partitioned reader.

The benchmark's CDC server holds a seeded backlog of insert, update and
delete events (skewed key popularity) spread over ``min(4, cpus)``
streams. Each drain is one ``availableNow`` query into a
count-by-``event_type`` memory sink: one dial per stream, a light sink.
``DRAINS`` drains follow an untimed warm-up drain (fixed work:
``--seconds`` does not change it); every drain must deliver exactly the
generated events, per event type.

A drain's rate is timed on the wire, from the first ``REQUEST-DATA`` to
the last read task closing its connection (the CDC server's dial
records): the steady drain, without the query start-up before the read
tasks dial and the sink commit after them. The whole query's time is
printed beside it. The fastest drain is reported.
"""

from __future__ import annotations

import json
import time
from collections import Counter

import numpy as np

from perfbench import common, datagen, tracing
from perfbench.cdcserver import CDCServer, ServedLog

MAX_STREAMS = 4
BASE_OPS_PER_STREAM = 60_000  # ~84k events, ~18 MB of JSON per stream
# The backlog is the base log sent this many times (~590k events a
# stream), so a drain runs about 2.5-3 s on the wire at 4 streams on 4
# cores, as long as the ~2 s of a warm query start-up that the wire
# timing leaves out. Resending one blob costs the server no memory.
REPEATS = 7
DRAINS = 2
KEYS_PER_STREAM = 50_000
MIX = (0.4, 0.4, 0.2)  # insert, update (before/after pair), delete
READER_OPTIONS = {
    "pollSeconds": "0.5",
    "maxRecordsPerBatch": str(100_000_000),
    # availableNow runs this source as one batch: the whole backlog
    # must drain in it.
    "maxBatchSeconds": "600",
}


def _stream_df(spark, source: str, port: int, tables: list[str], frontier_dir: str, trace_path: str | None):
    from maxscale_cdc_connector_spark.queries.cdc_queries import CUSTOMER_SCHEMA_RECORD

    reader = (
        spark.readStream.format(source)
        .option("host", "127.0.0.1")
        .option("user", common.USER)
        .option("password", common.PASSWORD)
        .option("streams", json.dumps([{"table": t, "port": port} for t in tables]))
        .option("frontierDir", frontier_dir)
        .option("schemaRecord", CUSTOMER_SCHEMA_RECORD)
    )
    for k, v in READER_OPTIONS.items():
        reader = reader.option(k, v)
    if trace_path:
        reader = reader.option("perfbenchTracePath", trace_path)
    return reader.load()


def drain(spark, server: CDCServer, tables: list[str], name: str, tracer, trace_path):
    """One availableNow drain; returns (query seconds, wire seconds,
    {event_type: n}, progress)."""
    from pyspark.sql import functions as F

    source = "perfbench_traced_cdc" if tracer.enabled else "maxscale_cdc"
    df = _stream_df(spark, source, server.port, tables, str(common.WORK / name / "frontier"), trace_path)
    n_dials = len(server.dials)
    t0 = time.perf_counter()
    q = (
        df.groupBy("event_type").agg(F.count("*").alias("n"))
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", str(common.WORK / name / "ckpt"))
        .trigger(availableNow=True).start()
    )
    try:
        if not q.awaitTermination(60):
            raise TimeoutError(f"{name}: drain not finished in 60 s")
        seconds = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
    finally:
        q.stop()
    got = {r["event_type"]: r["n"] for r in spark.sql(f"SELECT * FROM {name}").collect()}
    dials = server.dials[n_dials:]
    deadline = time.monotonic() + 5.0
    while not all(d.t_end for d in dials) and time.monotonic() < deadline:
        time.sleep(0.01)  # the server thread sees each close at once
    if not dials or not all(d.t_end for d in dials):
        raise RuntimeError(f"{name}: a read task's connection is still open")
    wire = max(d.t_end for d in dials) - min(d.t_request for d in dials)
    return seconds, wire, got, tracing.progress_rows(q)


def inputs(seed: int) -> dict:
    """The backlog: per stream a base log served ``REPEATS`` times, the
    expected count per event type, and the warm-up backlog (each base
    log served once, on its own tables)."""
    n_streams = min(MAX_STREAMS, common.host_cpus())
    rng = np.random.default_rng([seed, 2])
    logs, want = {}, Counter()
    for i in range(n_streams):
        log = datagen.customer_log(
            rng, BASE_OPS_PER_STREAM, KEYS_PER_STREAM, first_sequence=1,
            server_id=3000 + i, mix=MIX, key_stride=n_streams, key_offset=i,
        )
        logs[f"bench.c{i}"] = ServedLog(log.blob, log.offsets, log.sequence, repeat=REPEATS)
        logs[f"bench.w{i}"] = ServedLog(log.blob, log.offsets, log.sequence)
        for ty, n in Counter(log.columns["event_type"].tolist()).items():
            want[ty] += n * REPEATS
    return {
        "logs": logs, "want": dict(want),
        "tables": [f"bench.c{i}" for i in range(n_streams)],
        "warm_tables": [f"bench.w{i}" for i in range(n_streams)],
    }


def phase(spark, inp: dict, ops: common.Ops, tracer: tracing.Tracer) -> dict:
    """An untimed warm-up drain, then ``DRAINS`` timed drains."""
    from maxscale_cdc_connector_spark.queries.cdc_queries import CUSTOMER_SCHEMA_RECORD

    t0 = time.perf_counter()
    trace_path = str(common.WORK / "catchup-spans.jsonl") if tracer.enabled else None
    server = CDCServer(inp["logs"], datagen.schema_line(CUSTOMER_SCHEMA_RECORD), common.USER, common.PASSWORD)
    drains, wires, progress, correct = [], [], [], True
    try:
        # Untimed warm-up on the same streams and base logs, sent once:
        # Python workers, codegen, the sink plan and the decode path of
        # every read task.
        warm_spans = str(common.WORK / "warmup-spans.jsonl") if tracer.enabled else None
        drain(spark, server, inp["warm_tables"], "warmup", tracer, warm_spans)
        t1 = time.perf_counter()
        n_dials_warm = len(server.dials)
        for i in range(DRAINS):
            name = f"drain{i}"
            try:
                seconds, wire, got, prog = drain(spark, server, inp["tables"], name, tracer, trace_path)
            except Exception as exc:  # noqa: BLE001 — counted, never retried
                ops.fail(name, exc)
                correct = False
                break
            ops.ok()
            drains.append(seconds)
            wires.append(wire)
            progress += prog
            if got != inp["want"]:
                correct = False
                ops.errors.append(f"{name}: delivered {got}, generated {inp['want']}")
    finally:
        server.stop()
    total = sum(inp["want"].values())
    # The fastest drain: a drain slowed by a burst of host contention
    # says nothing about the reader.
    rate = total / min(wires) if wires else float("nan")
    return {
        "correct": correct and bool(drains),
        "events_per_s": rate,
        "extra": {
            "catchup_events_per_s": rate,
            "catchup_query_events_per_s": total / min(drains) if drains else float("nan"),
            "catchup_wire_s": " ".join(f"{w:.3f}" for w in wires),
            "catchup_query_s": " ".join(f"{s:.3f}" for s in drains),
            "backlog_events": total,
            "streams": len(inp["tables"]),
            "catchup_dials": len(server.dials) - n_dials_warm,
            "catchup_reader_options": json.dumps(READER_OPTIONS),
            "catchup_warmup_s": t1 - t0,
        },
        "dials": server.dials[n_dials_warm:],
        "progress": progress,
        "trace_path": trace_path,
        "n_drains": max(1, len(drains)),
    }


def stream_layers(result: dict, log: tracing.EventLog | None, batches: list[dict]) -> dict:
    """Protocol, reader and streaming-engine numbers of one CDC phase;
    ``batches`` are its measured progress rows."""
    dials = result["dials"]
    spans = tracing.read_reader_spans(result["trace_path"]) if result["trace_path"] else {}

    def med(vals, scale=1.0):
        vals = [v for v in vals if v == v]
        return common.median(vals) * scale if vals else 0.0

    dur = [b.get("durationMs", {}) for b in batches]
    out = {
        "protocol.dials": float(len(dials)),
        "protocol.handshake_ms": med([d.handshake_ms for d in dials]),
        "protocol.bytes_sent": float(sum(d.bytes_sent for d in dials)),
        "reader.latest_offset_ms": med([s["s"] for s in spans.get("latest_offset", [])], 1000.0),
        "reader.plan_ms": med([s["s"] for s in spans.get("plan", [])], 1000.0),
        "reader.read_task_s": med([s["s"] for s in spans.get("read_task", []) if s["rows"]]),
        "reader.events_per_trigger": med([b.get("numInputRows", 0) for b in batches]),
        "stream.trigger_ms": med([d.get("triggerExecution", 0) for d in dur]),
        "stream.wal_commit_ms": med([d.get("walCommit", 0) for d in dur]),
    }
    if log is not None:
        run_ids = {b["runId"] for b in batches}
        out.update(tracing.exec_metrics(log, log.jobs_in(lambda j: j.group in run_ids)))
    return out
