"""Idle-trigger floor probe: one methodology for every stream count.

VERDICT r13 item 5 + ADVICE r13: the pinned MEASURED_IDLE_MS rows mixed
calibration vintages (16/32/64 predated the r12 fake-server harness
rework; 96/128 postdated it), and the r13 re-probe ran on a noisy host
and came back non-monotone — useless for validation. This script
measures ALL stream counts in one warm session with the same harness,
stamps the run with the bench canary + steal samples so the host class
is part of the record, and prints one JSON line for the calibration
history in sources/cdc_partitioned.py.

Usage: python scripts/probe_idle_trigger.py [--streams 16,32,64,96,128]
       [--reps 3] [--decompose]

``--decompose`` (VERDICT r15 item 7: name the 64-stream step) splits
each count's floor into its constituents using the reader's env-gated
timing hooks: driver-side planning (``latestOffset`` + ``partitions``,
measured inside the JVM-spawned Python planner process via
MAXSCALE_CDC_PLAN_TIMING), executor-side read tasks (per-task total and
handshake dt via MAXSCALE_CDC_READ_TIMING), and the residual (JVM batch planning, task scheduling, commit,
checkpoint IO). The env vars must be exported before the JVM spawns so
the planner/worker processes inherit them — hence set here at import
position, before get_session.

Methodology (matches bench._idle_trigger_ms): per count, N empty blob
servers, one streaming query at trigger 0s / poll 0.1 s, 10-trigger
average AFTER the first completed batch; MIN across reps (an empty
trigger's floor is handshake latency — contention only inflates it).
The 16-stream row doubles as a cross-check against the bench's
per-round 16/32/64 rows.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from maxscale_cdc_connector_spark.session import get_session


def _parse_timing(plan_path: str, read_path: str) -> dict:
    """Aggregate the two timing files accumulated during one count's
    reps: mean per-call planner ms by tag, and read-task dt/handshake
    stats (ms)."""
    plan: dict[str, list[float]] = {}
    try:
        with open(plan_path) as fh:
            for line in fh:
                parts = line.split()
                if len(parts) == 3 and parts[2].startswith("dt="):
                    plan.setdefault(parts[0], []).append(float(parts[2][3:]) * 1000)
    except OSError:
        pass
    reads: list[float] = []
    hss: list[float] = []
    try:
        with open(read_path) as fh:
            for line in fh:
                for tok in line.split():
                    if tok.startswith("dt="):
                        reads.append(float(tok[3:]) * 1000)
                    elif tok.startswith("hs="):
                        hss.append(float(tok[3:]) * 1000)
    except OSError:
        pass
    mean = lambda xs: round(sum(xs) / len(xs), 2) if xs else None  # noqa: E731
    return {
        "plan_latest_offset_ms": mean(plan.get("latestOffset", [])),
        "plan_partitions_ms": mean(plan.get("partitions", [])),
        "n_plan_calls": len(plan.get("latestOffset", [])),
        "read_dt_mean_ms": mean(reads),
        "read_dt_max_ms": round(max(reads), 2) if reads else None,
        "read_hs_mean_ms": mean(hss),
        "n_reads": len(reads),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--streams", default="16,32,64,96,128")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--decompose", action="store_true")
    args = ap.parse_args()
    counts = [int(s) for s in args.streams.split(",")]

    plan_path = read_path = None
    if args.decompose:
        import tempfile

        d = tempfile.mkdtemp(prefix="idle_decompose_")
        plan_path = os.path.join(d, "plan.log")
        read_path = os.path.join(d, "read.log")
        # Before the JVM spawns: the planner/worker processes inherit.
        os.environ["MAXSCALE_CDC_PLAN_TIMING"] = plan_path
        os.environ["MAXSCALE_CDC_READ_TIMING"] = read_path

    spark = get_session("idle_probe")
    # Warm the streaming machinery once (python workers, state store)
    # so the first measured count doesn't pay one-time init.
    bench._idle_trigger_ms(spark, 4)

    watch = bench._StealWatch()
    out: dict = {
        "canary_pre_sec": bench._canary_sec(spark),
        "floors_ms": {},
        "steal_per_count_pct": {},
        "reps": args.reps,
    }
    if args.decompose:
        out["decompose"] = {}
    watch.sample()  # reset the window to the start of the probes
    for n in counts:
        if args.decompose:  # fresh files per count (warm-up lines drop)
            for p in (plan_path, read_path):
                open(p, "w").close()
        vals = [bench._idle_trigger_ms(spark, n) for _ in range(args.reps)]
        out["floors_ms"][n] = min(vals)
        out["steal_per_count_pct"][n] = watch.sample()
        print(f"[probe] {n} streams: min {min(vals)} ms of {vals}", flush=True)
        if args.decompose:
            dec = _parse_timing(plan_path, read_path)
            driver_ms = (dec["plan_latest_offset_ms"] or 0) + (
                dec["plan_partitions_ms"] or 0
            )
            # Waves: reads run task-parallel up to the core count; the
            # floor's executor share is ~waves x per-read dt.
            cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
            waves = -(-n // cores)
            est_exec = (
                round(waves * dec["read_dt_mean_ms"], 1)
                if dec["read_dt_mean_ms"]
                else None
            )
            dec.update(
                {
                    "driver_plan_ms": round(driver_ms, 2),
                    "waves": waves,
                    "est_executor_ms": est_exec,
                    "residual_ms": (
                        round(out["floors_ms"][n] - driver_ms - est_exec, 1)
                        if est_exec is not None
                        else None
                    ),
                }
            )
            out["decompose"][n] = dec
            print(f"[probe] {n} streams decompose: {dec}", flush=True)
    out["canary_post_sec"] = bench._canary_sec(spark)
    # ONE classifier for every artifact: shape the probe's measurements
    # into the bench's out-dict fields and reuse bench._host_class —
    # an inline copy of the decision tree would silently desynchronize
    # from the bench's semantics on any future threshold change.
    out["host_class"] = bench._host_class(
        {
            "canary_sec": out["canary_pre_sec"],
            "canary_sec_post": out["canary_post_sec"],
            "load": {
                "steal_midrun_pct": list(out["steal_per_count_pct"].values())
            },
        }
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
