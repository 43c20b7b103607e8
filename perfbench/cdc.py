"""``cdc``: catch-up on a backlog, then live upserts, in one session.

The two phases share one set-up, so the cold start of the first
streaming query is paid once (by the catch-up warm-up drain):

1. catch-up (``catchup.py``): a skewed backlog on ``min(4, cpus)``
   streams drained with ``availableNow`` into a light count sink —
   socket framing and Arrow decode, one dial per stream;
2. live (``live.py``): open-loop events on 2 streams into
   ``SnapshotSink`` beside a dashboard reader — the sink merge,
   per-trigger re-dials and planning, reads beside writes.

``throughput_per_s`` is the catch-up rate (throughput on a backlog);
``latency_p50_ms``/``latency_tail_ms`` are live freshness p50/p99
(latency at a fixed input rate).
"""

from __future__ import annotations

import time

from perfbench import catchup, common, live, tracing


def run(args, ops: common.Ops, tracer: tracing.Tracer) -> dict:
    t0 = time.perf_counter()
    backlog = catchup.inputs(args.seed)
    stream = live.inputs(args.seed, args.seconds)
    t1 = time.perf_counter()
    spark, setup = common.setup()
    if tracer.enabled:
        spark.dataSource.register(tracing.TracedCDCSource)
    cu = catchup.phase(spark, backlog, ops, tracer)
    lv = live.phase(spark, stream, args.seconds, ops, tracer)
    return {
        "correct": cu["correct"] and lv["correct"],
        "spark": spark,
        "setup": setup,
        "e2e": {
            "throughput_per_s": cu["events_per_s"],
            "latency_p50_ms": lv["extra"]["freshness_p50_ms"],
            "latency_tail_ms": lv["extra"]["freshness_p99_ms"],
        },
        "extra": {
            **cu["extra"],
            **lv["extra"],
            "inputs_s": t1 - t0,
        },
        "catchup": cu,
        "live": lv,
    }


def layers(result: dict, log: tracing.EventLog | None, tracer: tracing.Tracer) -> dict:
    """Protocol, reader-planning, sink and engine numbers from the live
    phase; read-task time and executor metrics from the catch-up drains,
    where decode dominates."""
    cu, lv = result["catchup"], result["live"]
    out = catchup.stream_layers(lv, log=None, batches=lv["progress"])
    drains = catchup.stream_layers(cu, log, cu["progress"])
    out["reader.read_task_s"] = drains["reader.read_task_s"]
    for k, v in drains.items():
        if k.startswith("exec."):
            out[k] = v / cu["n_drains"]
    out.update(live.sink_layers(lv, log))
    return out
