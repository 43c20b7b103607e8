"""Per-layer tracing for ``--trace 1`` runs.

Everything here is driven from the benchmark's own files: spans around
calls into the program's public functions, Spark's event log (enabled at
launch, uncompressed), job groups, ``StreamingQueryProgress`` and the
CDC server's dial records. Nothing is installed in an untraced run
except the job groups, which cost one local property per query.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql.datasource import DataSourceStreamReader

from maxscale_cdc_connector_spark.sources.cdc_datasource import MaxScaleCDCDataSource

PACKAGE = "maxscale_cdc_connector_spark"
BARRIERS = ("eager_barrier", "checkpoint_if_small", "eager_persist")


@dataclass
class Tracer:
    """Spans kept in memory as (name, start, end), plus counters."""

    enabled: bool
    spans: list[tuple[str, float, float]] = field(default_factory=list)
    counts: Counter = field(default_factory=Counter)
    _depth: Counter = field(default_factory=Counter)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter()))

    def wrap_outermost(self, name: str, fn):
        """Time ``fn`` as span ``name``; a call nested in another call of
        the same span name (eager_barrier → eager_persist) is not
        counted twice."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._depth[name]:
                return fn(*args, **kwargs)
            self._depth[name] += 1
            try:
                with self.span(name):
                    return fn(*args, **kwargs)
            finally:
                self._depth[name] -= 1

        return wrapper


def _rebind(original, replacement) -> list[tuple[object, str, object]]:
    """Point every loaded module's binding of ``original`` at
    ``replacement`` (query packs import helpers by name)."""
    undo = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)
                undo.append((mod, attr, original))
    return undo


def instrument_operators(tracer: Tracer):
    """Wrap the barrier helpers of ``operators.cache`` and
    ``operators.graph.connected_components``; returns an undo callable."""
    from maxscale_cdc_connector_spark.operators import cache, graph

    undo = []
    for name in BARRIERS:
        fn = getattr(cache, name)
        undo += _rebind(fn, tracer.wrap_outermost("operators.cache.barrier", fn))
    cc = graph.connected_components

    @functools.wraps(cc)
    def counted_cc(*args, **kwargs):
        out = cc(*args, **kwargs)
        tracer.counts["operators.graph.cc_rounds"] += graph.LAST_ROUNDS or 0
        return out

    undo += _rebind(cc, counted_cc)

    def restore() -> None:
        for mod, attr, value in undo:
            setattr(mod, attr, value)

    return restore


# --- CDC reader spans (run in Python workers, so they go to a file) ------


class TracedReader(DataSourceStreamReader):
    """Times the partitioned reader's calls; one JSON line per call."""

    def __init__(self, inner: DataSourceStreamReader, path: str) -> None:
        self.inner = inner
        self.path = path

    def _log(self, kind: str, t0: float, **extra) -> None:
        rec = {"kind": kind, "s": time.perf_counter() - t0, "t": time.time(), **extra}
        with open(self.path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")

    def initialOffset(self) -> dict:
        return self.inner.initialOffset()

    def latestOffset(self) -> dict:
        t0 = time.perf_counter()
        out = self.inner.latestOffset()
        self._log("latest_offset", t0)
        return out

    def partitions(self, start: dict, end: dict):
        t0 = time.perf_counter()
        out = self.inner.partitions(start, end)
        self._log("plan", t0, n=len(out))
        return out

    def read(self, partition):
        t0 = time.perf_counter()
        rows = 0
        for batch in self.inner.read(partition):
            rows += batch.num_rows
            yield batch
        self._log("read_task", t0, rows=rows)

    def commit(self, end: dict) -> None:
        self.inner.commit(end)

    def stop(self) -> None:
        self.inner.stop()


class TracedCDCSource(MaxScaleCDCDataSource):
    """``maxscale_cdc`` with :class:`TracedReader` around its reader;
    option ``perfbenchTracePath`` names the span file."""

    @classmethod
    def name(cls) -> str:
        return "perfbench_traced_cdc"

    def streamReader(self, schema):
        return TracedReader(super().streamReader(schema), self.options["perfbenchtracepath"])


def read_reader_spans(path: str) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = defaultdict(list)
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                rec = json.loads(line)
                out[rec["kind"]].append(rec)
    return out


# --- Spark event log ---------------------------------------------------------


@dataclass
class Job:
    job_id: int
    group: str
    batch_id: str | None
    start_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    task_metrics: dict[int, Counter]  # job id -> summed task metrics

    def jobs_in(self, pred) -> list[Job]:
        return sorted((j for j in self.jobs.values() if pred(j)), key=lambda j: j.start_ms)

    def metric(self, jobs: list[Job], key: str) -> float:
        return float(sum(self.task_metrics[j.job_id][key] for j in jobs))


def _event_files(log_dir: Path, app_id: str) -> list[Path]:
    """The event files of one application, rolling (``eventlog_v2_*``)
    or single-file layout."""
    rolled = sorted(
        log_dir.glob(f"eventlog_v2_{app_id}/events_*"),
        key=lambda p: int(p.name.split("_")[1]),
    )
    return rolled or [p for p in log_dir.glob(f"{app_id}*") if p.is_file()]


def read_event_log(log_dir: Path, app_id: str) -> EventLog:
    """Jobs, their job group and streaming batch id, and task metrics
    summed per job, from the event log of application ``app_id``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    metrics: dict[int, Counter] = defaultdict(Counter)
    for path in _event_files(log_dir, app_id):
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        job_id=ev["Job ID"],
                        group=props.get("spark.jobGroup.id") or "",
                        batch_id=props.get("streaming.sql.batchId"),
                        start_ms=ev["Submission Time"],
                        stages=list(ev.get("Stage IDs", [])),
                    )
                    jobs[job.job_id] = job
                    for s in job.stages:
                        stage_job[s] = job.job_id
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job_id = stage_job.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if job_id is None or not tm:
                        continue
                    m = metrics[job_id]
                    m["executor_run_ms"] += tm.get("Executor Run Time", 0)
                    m["gc_ms"] += tm.get("JVM GC Time", 0)
                    m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    m["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    return EventLog(jobs, metrics)


def job_gaps_s(jobs: list[Job]) -> float:
    """Driver time between consecutive jobs of one unit of work: the
    wall span not covered by any running job."""
    if not jobs:
        return 0.0
    gap, covered_to = 0, jobs[0].start_ms
    for j in jobs:
        if j.start_ms > covered_to:
            gap += j.start_ms - covered_to
        covered_to = max(covered_to, j.end_ms or j.start_ms)
    return gap / 1000.0


def exec_metrics(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    mb = 1 << 20
    return {
        "exec.jobs": float(len(jobs)),
        "exec.executor_run_s": log.metric(jobs, "executor_run_ms") / 1000.0,
        "exec.shuffle_write_mb": log.metric(jobs, "shuffle_write_bytes") / mb,
        "exec.spill_mb": log.metric(jobs, "spill_bytes") / mb,
        "exec.gc_s": log.metric(jobs, "gc_ms") / 1000.0,
    }


def progress_rows(query) -> list[dict]:
    """Every ``StreamingQueryProgress`` the query still holds, as dicts."""
    return [json.loads(p.json) for p in query.recentProgress]
