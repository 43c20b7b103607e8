"""SparkSession factory and test-table loaders.

Local-mode settings follow the public Spark tuning guidance: shuffle
partitions ≈ cores (not the 200 default), AQE on for runtime re-planning
(skew joins, partition coalescing), UTC session timezone so timestamp
semantics line up with the DuckDB oracle, and Arrow enabled for any
pandas-UDF path.

At cluster scale these same settings remain correct except
``shuffle.partitions`` which should track total cores (AQE's
``coalescePartitions`` makes the initial number forgiving — it splits
and merges post-shuffle partitions at runtime).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType, TimestampType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_worker_pythonpath() -> None:
    """Python workers re-import this package when they unpickle
    DataSource/Pandas-UDF closures; if the session was launched from a
    cwd outside the repo, the workers' sys.path lacks the repo root and
    every Python-data-source query dies with
    PYTHON_DATA_SOURCE_ERROR/ModuleNotFoundError (observed: r12's
    16-stream soak launched from /tmp respawned its supervisor child
    every ~10 s for a full chaos window). Local-mode workers inherit
    the driver process env, so prepending the repo root to PYTHONPATH
    before the JVM starts fixes every entry point at once; on a real
    cluster the package ships via --py-files/pip instead."""
    existing = os.environ.get("PYTHONPATH", "")
    parts = existing.split(os.pathsep) if existing else []
    if _REPO_ROOT not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([_REPO_ROOT, *parts])


def get_session(app_name: str = "maxscale-cdc-spark") -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine."""
    _ensure_worker_pythonpath()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Explicit (it is the default, but the bench's Arrow-stage timing
        # stability depends on it): keep python workers alive between
        # Arrow stages so a long session doesn't re-pay spawn cost in
        # timed mapInPandas rows (VERDICT r10 item 4).
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # UI off by default (bench noise); the spill-path sweep flips it
        # on via env to read per-stage spill metrics from the REST API —
        # the only public local-mode surface that exposes
        # memoryBytesSpilled/diskBytesSpilled.
        .config(
            "spark.ui.enabled",
            "true"
            if os.environ.get("SPARK_GRAFT_UI", "").lower() in ("1", "true", "yes")
            else "false",
        )
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_scan_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition to core count — only when the file-backed
    scan would be underparallel (r17: promoted from operators/dedup,
    which has used this guard since r9, so the text/JSON/simsearch
    builders can share it).

    The test tables are single-file single-row-group parquet, so every
    scan is ONE task and any CPU-heavy row-local work (regex tokenize,
    JSON parse, higher-order vector folds) or pre-shuffle partial
    aggregation serializes on one core. A 100 TB table scans as
    thousands of splits, in which case this is a no-op (no shuffle
    inserted) — the guard keeps the scale path clean.

    The check reads scan metadata (``inputFiles``) rather than
    ``df.rdd.getNumPartitions()`` — the latter forces a plan→RDD
    conversion on the driver per call. ``inputFiles()`` is empty for
    non-file-backed inputs (createDataFrame, JDBC, a shuffled
    intermediate); those are left untouched (a shuffled intermediate
    already has ``spark.sql.shuffle.partitions`` sized to cores).

    Use ONLY where the downstream computation is partitioning-
    independent: row-local projections, integer/decimal-exact
    aggregates, and deterministically tie-broken top-k are; float
    partial aggregations whose rounding depends on the partial
    grouping (kmeans partials, PCA covariance) are NOT.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    n = len(df.inputFiles())
    if 0 < n < target:
        return df.repartition(target)
    return df


# Confs under which Spark infers a different schema from the same parquet
# footers; their values are part of a stored schema's signature.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# path -> (signature, Spark's inferred schema): one entry per loaded
# path, replaced when the signature changes. Process-wide on purpose:
# the schema depends only on the files and the confs in the signature,
# not on which session inferred it.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_version(path: str) -> tuple | None:
    """(size, mtime_ns, inode) of the file at ``path``, or of every file
    under the dir at ``path``, so adding, removing or rewriting a data
    file changes it. None when ``path`` cannot be stat'ed locally (a
    remote URI, a missing path)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return ((st.st_size, st.st_mtime_ns, st.st_ino),)
        files = []
        for root, _dirs, names in os.walk(path):
            for name in names:
                f = os.path.join(root, name)
                fst = os.stat(f)
                files.append((f, fst.st_size, fst.st_mtime_ns, fst.st_ino))
        return tuple(sorted(files))
    except OSError:
        return None


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one of the test tables as a DataFrame (columnar parquet scan).

    The schema is inferred once per file version. Spark's footer-reading
    inference job runs on the first load of a path and its schema is
    kept; a later load of the same version passes that schema and runs
    no job. A new version starts when a data file under the path is
    added, removed or rewritten (its size, mtime or inode changes), or
    when one of ``_SCHEMA_CONFS`` changes value. A path that cannot be
    stat'ed locally is inferred on every load.

    ``nanosAsLong`` is set (runtime-settable, harmless otherwise) so an
    ``events.ts`` stored as parquet TIMESTAMP(NANOS) still loads under any
    caller's session instead of erroring. The physical type of ``ts`` has
    drifted between testdata generations (NANOS → micros), so queries must
    NOT assume a type: use :func:`events_ts_us` / :func:`events_ts_micros_col`
    to normalize.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    version = _file_version(path)
    if version is None:
        return spark.read.parquet(path)
    signature = (version, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    held = _SCHEMAS.get(path)
    if held is not None and held[0] == signature:
        return spark.read.schema(held[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (signature, df.schema)
    return df


def events_ts_micros_col(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-microsecond BIGINT column from ``events.ts``, type-adaptively.

    The testdata's physical type for ``ts`` has shipped as both parquet
    TIMESTAMP(NANOS) (read as epoch-nanos LongType under ``nanosAsLong``)
    and timestamp[us] (read as TIMESTAMP_NTZ). DuckDB reads either as a
    microsecond timestamp, so epoch-micros is the parity representation:

    - LongType (epoch nanos)  → ``ts DIV 1000``
    - TIMESTAMP_NTZ           → ``timestampdiff(MICROSECOND, epoch, ts)``
      (timezone-independent — a cast through TIMESTAMP_LTZ would shift by
      the session offset under any non-UTC caller session)
    - TIMESTAMP (LTZ)         → ``unix_micros(ts)``

    All three are JVM-side catalyst expressions; whole-stage codegen keeps
    them in the scan's projection, so the normalization is free at scale.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return F.expr(f"{col} DIV 1000")
    if isinstance(dt, TimestampNTZType):
        return F.expr(f"timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', {col})")
    if isinstance(dt, TimestampType):
        return F.unix_micros(F.col(col))
    raise TypeError(f"events.{col}: unsupported physical type {dt}")


def events_ts_us(df: DataFrame, col: str = "ts", out: str = "ts_us") -> DataFrame:
    """``df`` plus an epoch-microsecond BIGINT ``out`` column (see above)."""
    return df.withColumn(out, events_ts_micros_col(df, col))


def events_ts_timestamp(df: DataFrame, col: str = "ts", out: str = "ts_us") -> DataFrame:
    """``df`` plus a microsecond-precision TIMESTAMP ``out`` column."""
    return df.withColumn(out, F.timestamp_micros(events_ts_micros_col(df, col)))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Read all test tables; also registers each as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, name, sf_dir)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
