"""``board``: headline registry queries at sf0.1, each built through
the registry and run to a ``noop`` sink in a warm session.

An untimed check pass first collects every query and compares it with
its DuckDB oracle (value digest); it also warms every plan. Then
``PASSES`` timed passes run the queries in a seeded order, and each
query's time is its faster pass, the min-of-2 of ``bench.py`` (fixed
work: ``--seconds`` does not change it).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import random
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import common, datagen, tracing

# Six of the 42 ``bench.py`` headline queries, covering the layers the
# board loads: eager checkpoints and iteration jobs at build time
# (connected components), a lazy join chain (TPC-H q5), the CDC snapshot
# join, a hash aggregate, a running sum (ABC pareto) and a JSON
# function. All 42, each run cold (check pass) and warm (timed passes),
# make one run take minutes on a 4-core host. Every key has a DuckDB
# oracle.
BOARD_KEYS = (
    "dedup_cluster_cc", "tpch_q5_local_supplier", "cdc_snapshot_join_agg",
    "agg_hash", "orders_abc_pareto", "fn_json_props",
)
PASSES = 2


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{round(v, 6):.6f}"
    if isinstance(v, decimal.Decimal):
        return f"{round(float(v), 6):.6f}"
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple, dict, bytearray, bytes)):
        return repr(v)
    return v


def digest(rows: list[tuple], cols: list[str]) -> str:
    """Order-insensitive value digest: columns sorted by name, cells
    normalized (floats to 6 places), rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(
        (tuple(_cell(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )
    return hashlib.sha256(repr(norm).encode()).hexdigest()


def _duckdb(sf_dir: str):
    import duckdb

    from maxscale_cdc_connector_spark.session import TABLES

    con = duckdb.connect(config={"threads": common.host_cpus()})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _oracle(sf_dir: str, sqls: list[str]) -> list[tuple[list[str], str]]:
    """(columns, digest) of each oracle query, in order."""
    con = _duckdb(sf_dir)
    try:
        out = []
        for sql in sqls:
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out.append((cols, digest(res.fetchall(), cols)))
        return out
    finally:
        con.close()


def check_pass(spark, sf_dir: str, keys, ops: common.Ops) -> bool:
    """Untimed: every query's result against its oracle, which DuckDB
    computes on a thread meanwhile. True if all match."""
    from maxscale_cdc_connector_spark.queries import REGISTRY

    ok = True
    with ThreadPoolExecutor(1) as pool:
        oracle = pool.submit(_oracle, sf_dir, [REGISTRY[k].oracle for k in keys])
        results = {}
        for key in keys:
            try:
                df = REGISTRY[key].fn(spark, sf_dir)
                results[key] = (df.columns, digest([tuple(r) for r in df.collect()], df.columns))
                ops.ok()
            except Exception as exc:  # noqa: BLE001 — a failed query is a counted failure
                ops.fail(f"check {key}", exc)
                ok = False
        for key, (want_cols, want) in zip(keys, oracle.result()):
            if key in results:
                cols, got = results[key]
                if sorted(cols) != sorted(want_cols) or got != want:
                    ops.errors.append(f"check {key}: result differs from the oracle")
                    ok = False
    return ok


def timed_pass(spark, sf_dir: str, keys, ops: common.Ops, tracer: tracing.Tracer, pass_no: int):
    """One pass to the noop sink; per-query wall seconds (None if failed)."""
    from maxscale_cdc_connector_spark.queries import REGISTRY

    sc = spark.sparkContext
    out: dict[str, float | None] = {}
    for key in keys:
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(f"p{pass_no}:build:{key}", key)
            with tracer.span("queries.build"):
                df = REGISTRY[key].fn(spark, sf_dir)
            if tracer.enabled:
                with tracer.span("plan.final"):
                    df._jdf.queryExecution().executedPlan()
            sc.setJobGroup(f"p{pass_no}:exec:{key}", key)
            with tracer.span("exec.run"):
                df.write.format("noop").mode("overwrite").save()
            out[key] = time.perf_counter() - t0
            ops.ok()
        except Exception as exc:  # noqa: BLE001 — counted, never retried
            ops.fail(f"run {key}", exc)
            out[key] = None
        finally:
            sc.setJobGroup("", "")
    return out


def run(args, ops: common.Ops, tracer: tracing.Tracer) -> dict:
    t0 = time.perf_counter()
    sf_dir = str(common.WORK / "sf0.1")
    datagen.write_tables(sf_dir, args.seed)
    keys = list(BOARD_KEYS)
    random.Random(args.seed).shuffle(keys)
    t1 = time.perf_counter()
    spark, setup = common.setup()
    t2 = time.perf_counter()
    correct = check_pass(spark, sf_dir, keys, ops)
    t3 = time.perf_counter()

    restore = tracing.instrument_operators(tracer) if tracer.enabled else None
    try:
        passes = [timed_pass(spark, sf_dir, keys, ops, tracer, i) for i in range(PASSES)]
    finally:
        if restore:
            restore()
    totals = [sum(v for v in p.values() if v is not None) for p in passes]
    # Each query's fastest pass: a pass slowed by a burst of host
    # contention says nothing about the query.
    query_ms = {
        k: min(p[k] for p in passes if p[k] is not None) * 1000.0
        for k in keys if any(p[k] is not None for p in passes)
    }
    board_s = sum(query_ms.values()) / 1000.0
    result = {
        "correct": correct and all(v is not None for p in passes for v in p.values()),
        "spark": spark,
        "setup": setup,
        "e2e": {
            "throughput_per_s": len(keys) / board_s,
            "latency_p50_ms": common.median(query_ms.values()),
            # Six queries: the tail is the slowest one.
            "latency_tail_ms": max(query_ms.values()),
        },
        "extra": {
            "board_s": board_s,
            "pass_s": " ".join(f"{t:.3f}" for t in totals),
            "inputs_s": t1 - t0,
            "check_s": t3 - t2,
        },
        "query_ms": query_ms,
        "passes": passes,
    }
    return result


def layers(result: dict, log: tracing.EventLog, tracer: tracing.Tracer) -> dict:
    """Per-layer numbers of one pass: span times are the mean over the
    timed passes, job and task numbers are read from the last (warmest)
    pass."""
    keys = list(result["passes"][0])
    n_pass = len(result["passes"])
    last = f"p{n_pass - 1}"

    def per_pass(name: str) -> float:
        return sum(t1 - t0 for n, t0, t1 in tracer.spans if n == name) / n_pass

    def in_pass(kind):
        return lambda j: j.group.startswith(f"{last}:{kind}:")

    build = log.jobs_in(in_pass("build"))
    run_jobs = log.jobs_in(in_pass("exec"))
    return {
        "queries.build_s": per_pass("queries.build"),
        "plan.final_s": per_pass("plan.final"),
        "exec.run_s": per_pass("exec.run"),
        "operators.cache.barrier_s": per_pass("operators.cache.barrier"),
        "operators.cache.barrier_calls": sum(
            1 for n, *_ in tracer.spans if n == "operators.cache.barrier"
        ) / n_pass,
        "operators.graph.cc_rounds": tracer.counts["operators.graph.cc_rounds"] / n_pass,
        "queries.build_jobs": float(len(build)),
        **tracing.exec_metrics(log, build + run_jobs),
        "exec.jobs": float(len(run_jobs)),
        "exec.job_gap_s": sum(
            tracing.job_gaps_s(log.jobs_in(lambda j, k=k: j.group in (f"{last}:build:{k}", f"{last}:exec:{k}")))
            for k in keys
        ),
    }
