"""Benchmark entry point.

    python3 perfbench/run.py --workload {board,cdc} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Prints a table of every metric by
name and unit, then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Each run also writes ``.perfbench/out/<workload>-seed<N>-
trace<T>.json``; a traced run reports its overhead against the untraced
file of the same workload and seed when one exists.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import common  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}


def _print_table(title: str, metrics: dict, units: dict) -> None:
    print(f"-- {title}")
    for name, value in metrics.items():
        shown = f"{value:>16.6g}" if isinstance(value, (int, float)) else str(value)
        print(f"{name:34s} {shown} {units.get(name, '')}")


def _overhead(out_path: Path, e2e: dict) -> dict | None:
    """Traced minus untraced end-to-end metrics, same workload and seed."""
    untraced = Path(str(out_path).replace("-trace1.json", "-trace0.json"))
    if not untraced.exists():
        return None
    base = json.loads(untraced.read_text())["end_to_end"]
    return {k: e2e[k] - base[k] for k in e2e if k in base}


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it every
    Python worker it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    env = common.pin_environment(bool(args.trace))
    steal0 = common.read_steal()
    # Imported after the environment is pinned; fails (no result line)
    # when the program is not in the checkout.
    from perfbench import board, cdc, tracing

    workload = {"board": board, "cdc": cdc}[args.workload]
    tracer = tracing.Tracer(enabled=bool(args.trace))
    ops = common.Ops()
    t_run = time.perf_counter()
    try:
        result = workload.run(args, ops, tracer)
        spark = result["spark"]
        rss = common.peak_rss_mb()
        app_id = spark.sparkContext.applicationId
        spark.stop()
        if args.trace:
            log = tracing.read_event_log(common.WORK / "eventlog", app_id)
            layer = {name: 0.0 for name in (m["name"] for m in SPEC["per_layer"])}
            layer["session.start_s"] = result["setup"]["session_start_s"]
            layer.update(workload.layers(result, log, tracer))
    finally:
        _stop_jvm()
        shutil.rmtree(common.WORK, ignore_errors=True)

    e2e = {
        "setup_s": result["setup"]["setup_s"],
        "peak_rss_mb": rss,
        **result["e2e"],
    }
    extra = {
        **result["extra"],
        "failed_ratio": ops.failed_ratio,
        "transient_read_failures": ops.transient,
        "run_wall_s": time.perf_counter() - t_run,
    }
    host = {**common.host_stamp(steal0), "cpus": env["SPARK_GRAFT_CPUS"],
            "driver_memory": env["SPARK_DRIVER_MEMORY"]}
    _print_table(f"{args.workload} seed={args.seed} trace={args.trace} end-to-end", e2e, UNITS)
    _print_table("workload metrics", {k: v for k, v in extra.items() if not isinstance(v, list)}, {})
    if args.trace:
        _print_table("per-layer", layer, UNITS)
    print(f"-- host {json.dumps(host)}")
    for err in ops.errors:
        print(f"-- failure: {err}")

    out_path = common.OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    record = {"end_to_end": e2e, "extra": extra, "host": host, "errors": ops.errors,
              "query_ms": result.get("query_ms")}
    if args.trace:
        record["per_layer"] = layer
        record["tracing_overhead"] = _overhead(out_path, e2e)
        print(f"-- tracing overhead (traced - untraced): {json.dumps(record['tracing_overhead'])}")
    out_path.write_text(json.dumps(record, indent=1, default=str))

    metrics = layer if args.trace else e2e
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": max(1, ops.attempted),
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
