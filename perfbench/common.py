"""Run environment, Spark set-up and small measurement helpers shared by
the workloads."""

from __future__ import annotations

import os
import shlex
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench" / "work"
OUT = ROOT / ".perfbench" / "out"
USER, PASSWORD = "bench", "bench"


@dataclass
class Ops:
    """Operations attempted and failed in one run. Only a dashboard read
    is ever retried, and only on the transient error the program
    documents as healing on the next call; each such attempt is counted
    in ``transient`` and in ``failed_ratio``."""

    attempted: int = 0
    failed: int = 0
    transient: int = 0
    errors: list[str] = field(default_factory=list)

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, what: str, exc: BaseException | str) -> None:
        self.attempted += 1
        self.failed += 1
        self._log(what, exc)

    def retried(self, what: str, exc: BaseException) -> None:
        self.transient += 1
        self._log(f"{what} (transient, retried)", exc)

    def _log(self, what: str, exc: BaseException | str) -> None:
        msg = exc if isinstance(exc, str) else f"{type(exc).__name__}: {exc}"
        self.errors.append(f"{what}: {msg.splitlines()[0][:300] if msg else ''}")

    @property
    def failed_ratio(self) -> float:
        """Failed attempts, transient ones included, over all attempts."""
        return (self.failed + self.transient) / max(1, self.attempted + self.transient)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment(trace: bool) -> dict:
    """Fix what the program reads from the environment: cores, driver
    heap sized to the host, and every scratch path inside the checkout.
    A traced run also enables Spark's uncompressed event log at launch."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp, local, events = WORK / "tmp", WORK / "spark-local", WORK / "eventlog"
    for d in (tmp, local, events, OUT):
        d.mkdir(parents=True, exist_ok=True)
    cpus = host_cpus()
    heap_gb = int(max(1, min(4, _mem_total_gb() // 4)))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
    }
    submit = [
        # Initial heap = maximum: the footprint does not depend on
        # adaptive heap growth. No hsperfdata file in the system /tmp.
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{heap_gb}g -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join([*submit, "pyspark-shell"])
    os.environ.update(env)
    return env


def read_steal() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate cpu line."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def host_stamp(start: tuple[int, int]) -> dict:
    """Steal share since ``start`` and the load average: run metadata,
    never a reason to drop or repeat a run."""
    steal, total = read_steal()
    d_total = max(1, total - start[1])
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {"steal_pct": round(100.0 * (steal - start[0]) / d_total, 3), "loadavg": load}


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid  # spark-submit execs the JVM in place


def peak_rss_mb() -> float:
    """VmHWM of the driver JVM plus this Python process."""
    return vm_hwm_mb(jvm_pid()) + vm_hwm_mb()


def pct(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return float(statistics.median(values))


def setup():
    """One cold set-up, in this fresh process: JVM launch and session
    start (``get_session``), registry load (importing the query packs),
    CDC data-source registration and a warm-up job. Returns the session
    and the set-up times."""
    from maxscale_cdc_connector_spark import queries
    from maxscale_cdc_connector_spark.session import get_session
    from maxscale_cdc_connector_spark.sources.cdc_datasource import MaxScaleCDCDataSource

    t0 = time.perf_counter()
    spark = get_session("perfbench")
    t1 = time.perf_counter()
    queries.load_all()
    spark.dataSource.register(MaxScaleCDCDataSource)
    spark.range(0, 200_000, 1, host_cpus()).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    return spark, {"setup_s": time.perf_counter() - t0, "session_start_s": t1 - t0}
