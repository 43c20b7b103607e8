"""Streaming operators over the CDC stream (SURVEY.md §2B streaming table).

Every operator takes/returns DataFrames and works identically on a
streaming DataFrame (live source or file replay) and a batch DataFrame —
Spark's unified model. Batch analogs of the windowed operators are
registered as oracle-checked queries in queries/stream_queries.py; the
true streaming forms are exercised in tests/test_streaming.py with
memory sinks.

Scale notes:

* Windowed aggregations keep per-window partial state in the state
  store; the watermark bounds that state (without it, state grows
  forever on an unbounded CDC stream).
* `dedup_exact` keys state on the envelope identity; with a watermark on
  the event timestamp, expired keys are evicted — mandatory under
  at-least-once GTID replay. This (or the foreachBatch keyed upsert in
  `SnapshotSink`) is also the exactly-once recovery for the
  partition-parallel reader, whose REPLAYED micro-batches may deliver a
  SUPERSET of the original attempt (offsets are epoch ticks — see the
  replay-semantics section of sources/cdc_partitioned.py); batchId-skip
  idioms that assume per-batch determinism are NOT safe on that source.
* `SnapshotSink` maintains the queryable current-state table via
  foreachBatch, merge-on-read: a micro-batch is one Spark job that
  appends it as a delta dir, listed by one atomic manifest publish;
  reads reduce the buckets the deltas touch to the latest row per key,
  and a background compaction folds the deltas into fresh base dirs,
  files sorted by a stored `_bucket` column (a Delta/Iceberg table is
  the same commit log with more machinery, and skips files by the same
  kind of statistics).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import threading
import time
import uuid
import weakref
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maxscale_cdc_connector_spark.operators.cdc import GTID_ORDER, latest_by

# Envelope identity of one event: GTID triple + event_number
# (cdc_connector.h:199-208 + event_number disambiguates the two halves
# of an update sharing one GTID).
EVENT_IDENTITY = ("domain", "server_id", "sequence", "event_number")

# Source discriminator stamped by the partitioned reader's ``sourceId``
# option (VERDICT r8 item 5): envelope identity is unique only within
# ONE GTID space, so multi-server ingest into one sink/dedup needs this
# column in the identity. Included automatically when present.
SOURCE_ID_COL = "_source_id"


def _ts(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _event_time(
    df: DataFrame, ts_col: str | Column, watermark: str | None
) -> tuple[DataFrame, Column]:
    """Resolve the event-time column and apply the watermark to IT.

    A ``Column`` ts_col is an expression with no reliable name — the
    pre-r9 code guessed the literal column name ``"ts"`` for the
    watermark, which either crashed (no such column) or silently bounded
    state on an UNRELATED column so windows never finalized / late data
    was dropped against the wrong clock (r9 review). The expression is
    materialized under a private name instead, and the window references
    that same column, so the watermark provably covers the event-time
    the windows use. The private column never reaches output (window
    aggs project only win/group/agg columns).
    """
    if isinstance(ts_col, str):
        if watermark is not None and df.isStreaming:
            df = df.withWatermark(ts_col, watermark)
        return df, F.col(ts_col)
    # Collision-proof private name (ADVICE r9): a fixed "_event_time"
    # would silently REPLACE a user column of that name via withColumn,
    # corrupting it if it also appears in group_cols or aggs.
    name = "_event_time"
    while name in df.columns:
        name += "_"
    df = df.withColumn(name, ts_col)
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(name, watermark)
    return df, F.col(name)


def tumbling_agg(
    events: DataFrame,
    ts_col: str | Column,
    window: str,
    group_cols: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Fixed, non-overlapping windows: groupBy(window(ts, w), keys)."""
    df, ts = _event_time(events, ts_col, watermark)
    return df.groupBy(F.window(ts, window).alias("win"), *group_cols).agg(*aggs)


def sliding_agg(
    events: DataFrame,
    ts_col: str | Column,
    window: str,
    slide: str,
    group_cols: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Overlapping windows: each event lands in window/slide windows."""
    df, ts = _event_time(events, ts_col, watermark)
    return df.groupBy(F.window(ts, window, slide).alias("win"), *group_cols).agg(*aggs)


def session_agg(
    events: DataFrame,
    ts_col: str | Column,
    gap: str,
    group_cols: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Session windows: a session closes after `gap` of inactivity.

    `session_window.end` is (last event ts + gap) — Spark's definition,
    mirrored exactly by the SQL-islands oracle in stream_queries.py.
    """
    df, ts = _event_time(events, ts_col, watermark)
    return df.groupBy(F.session_window(ts, gap).alias("win"), *group_cols).agg(*aggs)


def dedup_exact(
    events: DataFrame,
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Drop replayed events by envelope identity.

    At-least-once delivery is inherent to GTID resume (the resume GTID
    replays, cdc_connector.h:62-69); this restores effective
    exactly-once. Streaming state is bounded by the watermark when one
    is given (dropDuplicatesWithinWatermark).

    SCOPE (r8 soak finding): envelope identity is unique within ONE
    GTID space — one server's (domain, server_id, sequence) sequence,
    shared by all of that server's tables. A query multiplexing streams
    from DIFFERENT servers can see colliding envelopes (two servers
    configured with the same server_id emit overlapping triples), and
    this dedup would then collapse distinct events. For multi-server
    ingest, pass ``sourceId`` per stream to the partitioned reader — the
    stamped ``_source_id`` column joins the dedup identity automatically
    here (r9, VERDICT r8 item 5) — or keep one sink/dedup per source
    (as multi_source_reconcile does).
    """
    missing = [k for k in EVENT_IDENTITY if k not in events.columns]
    if missing:
        # Silently narrowing the key would collapse DISTINCT events:
        # without event_number the two halves of every update share one
        # GTID and dedup to one row, and with no identity columns at all
        # dropDuplicates([]) collapses the whole batch (r9 review).
        raise ValueError(
            f"dedup_exact needs the full envelope identity "
            f"{EVENT_IDENTITY}; missing: {missing}"
        )
    keys = [k for k in (*EVENT_IDENTITY, SOURCE_ID_COL) if k in events.columns]
    if watermark is not None and ts_col is not None and events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


# ---------------------------------------------------------------------------
# Streaming joins.
# ---------------------------------------------------------------------------


def enrich_static(stream: DataFrame, dim: DataFrame, on: Sequence[str] | Column) -> DataFrame:
    """Stream-static enrichment: join each micro-batch to a dimension.

    The dim side is broadcast — each micro-batch joins map-side with no
    state and no shuffle of the stream. The standard shape for decorating
    CDC events with slowly-changing reference data; the dim DataFrame is
    re-evaluated per micro-batch, so an updated dimension table is picked
    up on the next trigger.
    """
    return stream.join(F.broadcast(dim), on)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str,
    max_delay_seconds: int,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join within a time interval.

    Both sides carry watermarks so the join state is bounded: a left row
    waits at most ``max_delay_seconds`` for its right match, after which
    its state is evicted (Structured Streaming's interval-join contract).
    The join condition is equi-key + time bound, which is what keeps the
    state keyed and finite at 100 TB stream rates.

    ``how="left_outer"`` additionally emits unmatched left rows with a
    NULL right side — but only once the watermark passes the end of
    their interval (the engine can't declare "no match" earlier), so
    outer results trail the inner ones by up to watermark + delay.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_delay_seconds} SECONDS"))
    )
    # Collapse the two equi-key copies to ONE output column (r9 review +
    # ADVICE r9): keeping both makes `result[key]` ambiguous and the
    # frame unwritable ("Found duplicate column(s)"). The left copy is
    # correct for inner/left_outer, but for right_outer/full_outer an
    # unmatched RIGHT row carries a NULL left key — coalescing the two
    # copies preserves the key for every join type.
    joined = lw.join(rw, cond, how)
    h = how.lower().replace("_", "")
    if h in ("right", "rightouter", "full", "fullouter", "outer"):
        tmp = "__joined_key"
        while tmp in joined.columns:
            tmp += "_"
        joined = joined.withColumn(tmp, F.coalesce(lw[key], rw[key]))
        return joined.drop(lw[key]).drop(rw[key]).withColumnRenamed(tmp, key)
    return joined.drop(rw[key])


# ---------------------------------------------------------------------------
# Snapshot sink: change log → continuously-maintained current-state table.
# ---------------------------------------------------------------------------


# How long a superseded SnapshotSink version stays on disk after the
# publish that replaced it: the read-isolation bound for a DataFrame
# returned by current()/snapshot(). A Spark file scan lists its files
# when the DataFrame is built and opens them when its tasks run; 30 s
# covers a dashboard query many times over on a loaded host, and at a
# 3 s trigger keeps about ten batches' deltas and compactions on disk.
RETENTION_S = 30.0


class _Writer:
    """What the writing threads of one sink path share in this process,
    on any instance: a stream's batches, its compactor, ``compact()``
    callers. ``cond`` guards "read head → compose manifest → publish →
    GC"; ``pending`` holds the data dirs being written and not yet
    published, which GC keeps; ``compacting`` is the one compaction
    slot; ``error`` is a failed background compaction's exception,
    kept for the next batch to raise."""

    def __init__(self) -> None:
        self.cond = threading.Condition(threading.Lock())
        self.pending: set[str] = set()
        self.compacting = False
        self.error: BaseException | None = None


_WRITERS: weakref.WeakValueDictionary[str, _Writer] = weakref.WeakValueDictionary()
_WRITERS_LOCK = threading.Lock()


class SnapshotSink:
    """foreachBatch upsert maintaining a merge-on-read parquet
    current-state table.

    The whole point of consuming a CDC stream (`cdc_connector.h:42`
    docs: stream one table's changes) is a queryable current state. The
    table is a base plus deltas, both listed by the newest manifest:

    * A micro-batch is ONE Spark job: its rows, with a stored
      ``_bucket`` column (a hash of ``key_cols``), are written to a
      fresh delta dir ``data/delta-<id>``, and a manifest listing it
      after the earlier deltas is published as ``_manifest/<version>.json``
      in one atomic ``os.replace`` (the commit-log pattern of Spark's
      ``FileStreamSink`` ``_spark_metadata``). The delta's row count and
      buckets come from that write, as observed metrics.
    * A read reduces the buckets the deltas touch — their base rows and
      every delta row — to one row per key, the greatest ``order_cols``;
      the other buckets read as stored.
    * Compaction writes that same reduction to a fresh
      ``data/compact-<id>`` dir of AQE-sized files sorted by
      ``_bucket``, then publishes a manifest that maps the touched
      buckets to it and drops the deltas it folded, keeping every delta
      appended while it ran. It runs on a driver thread with its own job
      group, started after a publish when none is in flight, and folds
      every delta published when it starts, so deltas batch up on their
      own whenever compaction is slower than the trigger. ``compact()``
      runs one synchronously.

    A manifest maps every base bucket to its dir, lists the deltas with
    their buckets, and records the merged schema and
    ``n_buckets``/``key_cols``/``order_cols``. A read opens the newest
    one's dirs with that schema — no listing of the table, no footer
    inference — NULL-filling the columns a dir predates, and keeps from
    each base dir only the buckets mapped to it: an older dir still
    holds the rows of buckets a later compaction superseded. Base
    entries of the earlier layouts, ``data/<version>-<id>`` merge dirs,
    ``data/<version>-<id>/_bucket=<b>`` leaves and adopted root
    ``_bucket=<b>`` dirs, read through the same scan, and a manifest
    without a delta list has no deltas. Deleted keys stay in-state as
    TOMBSTONES (a late replay of an older event can never resurrect a
    deleted key); ``snapshot()`` filters them, ``current()`` returns
    them raw.

    Reads are snapshot-isolated: a DataFrame returned by ``current()``/
    ``snapshot()`` stays readable for ``RETENTION_S`` seconds after a
    newer version is published; cache or copy it to hold it longer.

    Restart-safe: the per-key max is commutative and idempotent, so a
    replayed batch, even a superset of the original, is appended again
    harmlessly, and at-least-once foreachBatch semantics suffice with
    no batch-id dedup. A driver crash before a publish leaves the
    previous version current and a dir the next publish deletes; one
    after it loses nothing. A failed background compaction publishes
    nothing, and the next batch raises its error.

    One writer per sink path: the instances of one process that write
    a path share one lock and one compaction slot, so a stream, its
    compactor and a restarted stream's fresh instance never publish
    over each other.

    Multi-server note (r9): the default ordering, (sequence,
    event_number), is meaningful only within one GTID space, so for
    active-active sources either include ``_source_id`` in ``key_cols``
    (per-source current state) or pass an explicit cross-source
    ``order_cols`` (r10, VERDICT r9 item 5): ``("event_ts",
    "_source_id", "sequence", "event_number")`` is the documented
    last-writer-wins rule (event time, ties broken by source then
    envelope — the same total order cdc_multi_source_reconcile applies
    in batch), giving ONE reconciled row per key across conflicting
    writers. The ordering is pinned in the manifest like
    n_buckets/key_cols: changing it on live state silently changes
    merge identity, so a mismatch is refused.
    """

    BUCKET_COL = "_bucket"
    # The single-GTID-space default (cdc_connector.h:199-208 envelope).
    DEFAULT_ORDER = GTID_ORDER

    def __init__(
        self,
        path: str,
        key_cols: Sequence[str],
        n_buckets: int = 16,
        order_cols: Sequence[str] = DEFAULT_ORDER,
    ) -> None:
        self.path = path
        self.key_cols = list(key_cols)
        self.order_cols = list(order_cols)
        self.n_buckets = n_buckets
        with _WRITERS_LOCK:
            self._w = _WRITERS.setdefault(os.path.realpath(path), _Writer())

    def _bucket(self) -> Column:
        return F.pmod(F.xxhash64(*[F.col(c) for c in self.key_cols]), F.lit(self.n_buckets))

    def _manifest(self, version: int | None = None) -> str:
        d = os.path.join(self.path, "_manifest")
        return d if version is None else os.path.join(d, f"{version}.json")

    def _versions(self) -> list[int]:
        """Published manifest versions, oldest first."""
        try:
            names = os.listdir(self._manifest())
        except FileNotFoundError:
            return []
        return sorted(int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit())

    def _read(self, version: int) -> dict | None:
        """The manifest, or None when it is unreadable or incomplete."""
        try:
            with open(self._manifest(version)) as fh:
                m = json.load(fh)
            if {"n_buckets", "key_cols", "order_cols", "schema", "buckets"} <= m.keys():
                return m
        except (OSError, ValueError, AttributeError):
            pass
        return None

    def _head(self) -> dict | None:
        """The newest readable manifest; None if none was ever published.
        Publication is atomic, so an unreadable newest manifest was
        damaged after the fact: fall back to the newest complete one.
        With none readable, refuse: guessed parameters would switch off
        the guard they exist for (r9 review: a different n_buckets
        strands rows in stale buckets, a different key_cols or
        order_cols silently changes merge identity)."""
        versions = self._versions()
        for v in reversed(versions):
            m = self._read(v)
            if m is not None:
                return m
        if versions:
            raise ValueError(
                f"no readable manifest among {len(versions)} under "
                f"{self._manifest()}: the state table's parameters are unknown"
            )
        return None

    def _params(self) -> dict:
        return {"n_buckets": self.n_buckets, "key_cols": self.key_cols, "order_cols": self.order_cols}

    def _check(self, head: dict) -> None:
        want = self._params()
        have = {k: head[k] for k in want}
        if have != want:
            raise ValueError(
                f"SnapshotSink parameters do not match the existing "
                f"state table at {self.path}: stored {have}, "
                f"constructed {want} — changing n_buckets or key_cols "
                "on live state strands rows in stale buckets; rebuild "
                "the snapshot (or construct with the stored values)"
            )

    def _publish(self, version: int, manifest: dict) -> None:
        os.makedirs(self._manifest(), exist_ok=True)
        tmp = os.path.join(self._manifest(), ".next.tmp")  # one writer per sink path
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._manifest(version))

    def _adopt(self, spark) -> dict | None:
        """Adopt a state dir of the earlier in-place layout — ``_bucket=<b>``
        dirs swapped by rename beside a ``.sink-meta.json`` parameter
        marker — once, as version 0. A bucket a crashed swap left parked
        as ``.old-_bucket=<b>`` is restored when its live dir is missing
        and dropped otherwise. A missing or unreadable marker is refused
        like an unreadable manifest."""
        live = f"{self.BUCKET_COL}="
        try:
            entries = os.listdir(self.path)
        except FileNotFoundError:
            return None
        if not any(e.startswith((live, ".old-" + live)) for e in entries):
            return None
        marker = os.path.join(self.path, ".sink-meta.json")
        try:
            with open(marker) as fh:
                params = json.load(fh)
            params.setdefault("order_cols", list(self.DEFAULT_ORDER))  # pre-r10 marker
            head = {k: params[k] for k in ("n_buckets", "key_cols", "order_cols")}
        except (OSError, ValueError, AttributeError, KeyError) as exc:
            raise ValueError(
                f"cannot adopt the state table at {self.path}: its parameter "
                f"marker {marker} is missing or unreadable"
            ) from exc
        for e in entries:
            if e.startswith(".old-" + live):
                old, dst = os.path.join(self.path, e), os.path.join(self.path, e[5:])
                if os.path.isdir(dst):
                    shutil.rmtree(old, ignore_errors=True)
                else:
                    os.rename(old, dst)
            elif e.startswith(".tmp-"):
                shutil.rmtree(os.path.join(self.path, e), ignore_errors=True)
        parts = sorted(e for e in os.listdir(self.path) if e.startswith(live))
        # One footer pass, once: the buckets may hold pre- and post-ALTER files.
        schema = (
            spark.read.option("mergeSchema", "true")
            .parquet(*[os.path.join(self.path, p) for p in parts])
            .schema
        )
        head["schema"] = schema.jsonValue()
        head["buckets"] = {p[len(live):]: p for p in parts}
        self._publish(0, head)
        os.remove(marker)
        return head

    def _gc(self) -> None:
        """Delete what no reader can still hold. The newest manifest and
        every one superseded less than ``RETENTION_S`` ago stay, with
        the dirs they list; older manifests go, and so do data dirs that
        none of the kept ones lists and no writer is still writing —
        among them the unpublished write of a batch or compaction that
        crashed before its publish. Runs under the writer lock."""
        versions = self._versions()
        now = time.time()
        keep = set(self._w.pending)
        for v, newer in zip(versions, versions[1:] + [None]):
            if newer is not None and now - os.path.getmtime(self._manifest(newer)) >= RETENTION_S:
                os.remove(self._manifest(v))
                continue
            m = self._read(v)
            if m is not None:
                keep.update(self._top(d) for d in m["buckets"].values())
                keep.update(d["dir"] for d in m.get("deltas", ()))
        data = os.path.join(self.path, "data")
        dirs = [f"data/{e}" for e in os.listdir(data)] if os.path.isdir(data) else []
        dirs += [e for e in os.listdir(self.path) if e.startswith(self.BUCKET_COL + "=")]
        for d in dirs:
            if d not in keep:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    @staticmethod
    def _top(entry: str) -> str:
        """The data dir a base entry lives in: ``data/<name>`` for a
        compaction or merge dir and for a ``data/<v>-<id>/_bucket=<b>``
        leaf of the earlier per-bucket layout, the entry itself for an
        adopted root ``_bucket=<b>`` dir."""
        return "/".join(entry.split("/")[:2]) if entry.startswith("data/") else entry

    def _schema(self, head: dict) -> T.StructType:
        return T.StructType.fromJson(head["schema"]).add(self.BUCKET_COL, T.LongType())

    def _scan(self, spark, head: dict, buckets: dict[str, str]) -> DataFrame:
        """The base rows of ``buckets`` (bucket → manifest entry) with the
        manifest's schema plus ``_bucket``. Each distinct dir opens once
        and keeps only the buckets mapped to it, by a ``_bucket IN (…)``
        filter Spark pushes into the parquet scan: a compaction dir holds
        every bucket it wrote, including ones a later compaction
        superseded. Leaves of the earlier layouts (``_bucket=<b>`` dirs)
        open by parent, as ``basePath``, so ``_bucket`` comes from the
        dir name."""
        schema = self._schema(head)
        groups: dict[str, tuple[set[str], list[int]]] = {}
        for b, d in buckets.items():
            leaf = os.path.basename(d).startswith(self.BUCKET_COL + "=")
            dirs, ids = groups.setdefault(os.path.dirname(d) if leaf else d, (set(), []))
            dirs.add(d)
            ids.append(int(b))
        frames = [
            spark.read.schema(schema)
            .option("basePath", os.path.join(self.path, base))
            .parquet(*[os.path.join(self.path, d) for d in sorted(dirs)])
            # A SQL string: one py4j call, not one per literal.
            .filter(f"{self.BUCKET_COL} IN ({', '.join(map(str, sorted(ids)))})")
            for base, (dirs, ids) in groups.items()
        ]
        return functools.reduce(DataFrame.unionByName, frames)

    @staticmethod
    def _touched(head: dict) -> set[str]:
        """The buckets the head's deltas hold rows of."""
        return {str(b) for d in head.get("deltas", ()) for b in d["buckets"]}

    def _reduce(self, spark, head: dict, touched: set[str]) -> DataFrame:
        """The latest row per key of the ``touched`` buckets, with
        ``_bucket``: their base rows and every delta row under one
        ``latest_by`` on ``order_cols``, so the order of the deltas, a
        replayed batch and a delta folded twice are all harmless. The
        one shuffle, on ``_bucket`` with no count, lets AQE size a
        compaction's file count from the data, and the sort aggregate
        leaves each file sorted by ``_bucket``, so a reader's
        ``_bucket`` filter skips row groups by their statistics."""
        rows = spark.read.schema(self._schema(head)).parquet(
            *[os.path.join(self.path, d["dir"]) for d in head["deltas"]]
        )
        base = {b: d for b, d in head["buckets"].items() if b in touched}
        if base:
            rows = rows.unionByName(self._scan(spark, head, base))
        rest = [c for c in rows.columns if c not in self.key_cols and c != self.BUCKET_COL]
        latest = latest_by(
            rows.repartition(self.BUCKET_COL), [self.BUCKET_COL, *self.key_cols], self.order_cols
        )
        return latest.select(*self.key_cols, self.BUCKET_COL, *rest)

    def current(self, spark) -> DataFrame | None:
        """The newest version, tombstones included; None before the
        first publish. The buckets a delta touches are reduced on read.
        A state dir of the earlier layout reads as None until the
        writer's first batch adopts it."""
        head = self._head()
        if head is None:
            return None
        touched = self._touched(head)
        stored = {b: d for b, d in head["buckets"].items() if b not in touched}
        frames = [self._scan(spark, head, stored)] if stored else []
        if touched:
            frames.append(self._reduce(spark, head, touched))
        columns = T.StructType.fromJson(head["schema"]).names
        return functools.reduce(DataFrame.unionByName, frames).select(*columns)

    def snapshot(self, spark) -> DataFrame:
        """The queryable current state (tombstones filtered)."""
        df = self.current(spark)
        if df is None:
            raise FileNotFoundError(f"no snapshot at {self.path}")
        return df.filter(F.col("event_type") != "delete")

    def _reserve(self, kind: str) -> str:
        """A fresh data dir, kept from GC until it is published or its
        write fails. Called under the writer lock."""
        name = f"data/{kind}-{uuid.uuid4().hex[:12]}"
        self._w.pending.add(name)
        return name

    def _commit(self, schema: dict, buckets: dict[str, str], deltas: list[dict]) -> None:
        """Publish the next version, then collect garbage. Called under
        the writer lock, so the version is one past the newest."""
        version = max(self._versions(), default=-1) + 1
        manifest = {**self._params(), "schema": schema, "buckets": buckets, "deltas": deltas}
        self._publish(version, manifest)
        self._gc()

    @staticmethod
    def _widen(spark, head: dict | None, columns: DataFrame) -> dict:
        """The manifest schema once ``columns`` join the state. A
        post-ALTER batch carries columns the stored state predates (and,
        on a dropped column, vice versa): the manifest keeps the union,
        typed as unionByName allowMissingColumns types it, and reads
        NULL-fill — the backfill MariaDB applies to rows predating an ADD
        COLUMN. Analysis only, no job, and none when nothing is new."""
        if head is None:
            return columns.schema.jsonValue()
        stored = T.StructType.fromJson(head["schema"])
        have = {f.name: f.dataType for f in stored}
        if all(have.get(f.name) == f.dataType for f in columns.schema):
            return head["schema"]
        empty = spark.createDataFrame([], stored)
        return empty.unionByName(columns, allowMissingColumns=True).schema.jsonValue()

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        """Append the batch as one delta: one Spark job writes it with
        ``_bucket``, then a manifest listing it is published, and a
        background compaction starts if none is in flight. The write is
        the batch's only action, so the batch needs no freeze: a
        partitioned-CDC batch re-executes its live socket read per
        action (r8 soak finding), and its row count and buckets are
        observed on the write's own execution. Nothing is keyed on
        ``batch_id``: a replay may deliver a superset of the original
        batch, and appending it again is harmless. A failed background
        compaction's error is raised here, before anything is
        written."""
        w = self._w
        with w.cond:
            failed, w.error = w.error, None
        if failed is not None:
            raise RuntimeError(f"SnapshotSink compaction at {self.path} failed") from failed
        spark = batch.sparkSession
        with w.cond:
            head = self._head() or self._adopt(spark)
            if head is not None:
                self._check(head)
            name = self._reserve("delta")
        try:
            rest = [c for c in batch.columns if c not in self.key_cols]
            delta = batch.select(*self.key_cols, self._bucket().alias(self.BUCKET_COL), *rest)
            seen = Observation()
            delta.observe(
                seen, F.count(F.lit(1)).alias("rows"), F.collect_set(self.BUCKET_COL).alias("buckets")
            ).write.parquet(os.path.join(self.path, name))
            written = seen.get
            if not written["rows"]:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
                return
            with w.cond:
                head = self._head()
                schema = self._widen(spark, head, delta.drop(self.BUCKET_COL))
                entry = {"dir": name, "buckets": sorted(written["buckets"])}
                if head is None:
                    self._commit(schema, {}, [entry])
                else:
                    self._commit(schema, head["buckets"], [*head.get("deltas", ()), entry])
        finally:
            with w.cond:
                w.pending.discard(name)
        self._compact_in_background(spark)

    def compact(self, spark) -> None:
        """Fold every published delta into the base now, in this thread
        and job group, after the compaction in flight (if any) ends.
        Call it before relying on a folded layout, and before deleting
        the sink dir: no compaction writes into it afterwards."""
        w = self._w
        with w.cond:
            w.cond.wait_for(lambda: not w.compacting)
            w.compacting = True
        try:
            self._fold(spark)
        finally:
            with w.cond:
                w.compacting = False
                w.cond.notify_all()

    def _compact_in_background(self, spark) -> None:
        """Start a compactor thread unless a compaction is in flight."""
        w = self._w
        with w.cond:
            if w.compacting:
                return
            w.compacting = True
        threading.Thread(
            target=self._compactor, args=(spark,), name=f"SnapshotSink compactor {self.path}", daemon=True
        ).start()

    def _compactor(self, spark) -> None:
        """Fold until no delta is left, then free the slot in the same
        locked step that saw none, so a batch published after it starts
        a new compactor. The job group comes first: a query's stop()
        cancels its own group, and no compaction job carries the
        stream's batch id. An error frees the slot and is kept for the
        next batch."""
        w = self._w
        sc = spark.sparkContext
        sc.setJobGroup(f"snapshot-sink-compact:{self.path}", "SnapshotSink compaction")
        sc.setLocalProperty("streaming.sql.batchId", None)
        try:
            while True:
                with w.cond:
                    if not (self._head() or {}).get("deltas"):
                        w.compacting = False
                        w.cond.notify_all()
                        return
                self._fold(spark)
        except Exception as exc:  # noqa: BLE001 — kept for the next batch to raise
            with w.cond:
                w.error, w.compacting = exc, False
                w.cond.notify_all()

    def _fold(self, spark) -> None:
        """One compaction: the merge of every delta the head lists into
        the base buckets they touch, written to one fresh dir, then a
        publish that maps those buckets to it and keeps the deltas
        appended since the head was read. The caller holds the
        compaction slot, so the base does not change meanwhile."""
        w = self._w
        with w.cond:
            head = self._head()
            if head is None or not head.get("deltas"):
                return
            self._check(head)
            name = self._reserve("compact")
        try:
            touched = self._touched(head)
            self._reduce(spark, head, touched).write.parquet(os.path.join(self.path, name))
            self._replace(head, touched, name)
        finally:
            with w.cond:
                w.pending.discard(name)

    def _replace(self, head: dict, touched: set[str], name: str) -> None:
        """Publish the compaction of ``head``'s deltas written to
        ``name``: the touched buckets map to it, and every delta
        appended since ``head`` was read stays listed."""
        folded = {d["dir"] for d in head["deltas"]}
        with self._w.cond:
            now = self._head()
            self._commit(
                now["schema"],
                {**now["buckets"], **dict.fromkeys(sorted(touched), name)},
                [d for d in now["deltas"] if d["dir"] not in folded],
            )


def write_snapshot_stream(
    events: DataFrame,
    path: str,
    key_cols: Sequence[str],
    checkpoint_dir: str,
    trigger: dict | None = None,
    n_buckets: int = 16,
    order_cols: Sequence[str] = SnapshotSink.DEFAULT_ORDER,
):
    """Wire a CDC event stream into a SnapshotSink via foreachBatch. A
    compaction may still run after the query ends; call the returned
    sink's ``compact()`` before deleting its path."""
    sink = SnapshotSink(path, key_cols, n_buckets, order_cols)
    writer = events.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start(), sink


# ---------------------------------------------------------------------------
# Stateful streaming EWMA: recency-weighted value per key via the state store.
# ---------------------------------------------------------------------------


def stateful_ewma(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key exponentially weighted moving average (alpha = 0.2) as a
    custom stateful streaming operator (``applyInPandasWithState``).

    State per key is ``(n, ewma)``; each micro-batch folds its rows in
    ``(ts_us, event_id)`` order on top of the carried state and emits
    the key's updated ``(n_events, ewma)``. The fold uses the literal
    constants ``0.8 * acc + 0.2 * x`` — the SAME IEEE double operations
    the batch form (queries/relational.events_ewma_value) and its
    DuckDB ``list_reduce`` oracle apply — so when events arrive in
    global order (one replay batch) the streaming result is
    bit-identical to the batch fold, which is how the driver
    hash-verifies this operator end-to-end. State lives in Spark's
    state store (RocksDB-backed on a cluster); memory is O(keys), not
    O(events).

    Input schema: ``key_col bigint, ts_us bigint, event_id bigint,
    value double``.
    """
    out_schema = f"{key_col} bigint, n_events bigint, ewma double"
    state_schema = "n bigint, ewma double"
    key_name = key_col

    def update(key, pdfs, state):
        import pandas as _pd

        n, ew = state.get if state.exists else (0, 0.0)
        pdf = _pd.concat(list(pdfs), ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for x in pdf["value"].tolist():
            x = float(x)
            ew = x if n == 0 else 0.8 * ew + 0.2 * x
            n += 1
        state.update((int(n), float(ew)))
        yield _pd.DataFrame({key_name: [key[0]], "n_events": [n], "ewma": [ew]})

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


_GAP_UNITS_MS = {
    "millisecond": 1,
    "second": 1_000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
}


def _parse_gap_ms(gap: str) -> int:
    """Parse a Spark-style interval string ("1 hour", "30 seconds") to ms.

    Single source of truth for the session gap — callers pass only the
    human-readable string, so the timeout arithmetic can never disagree
    with the documented gap.
    """
    parts = gap.strip().lower().split()
    if len(parts) != 2:
        raise ValueError(f"gap must look like '<n> <unit>', got {gap!r}")
    n, unit = parts
    unit = unit.rstrip("s")
    if unit not in _GAP_UNITS_MS:
        raise ValueError(f"unsupported gap unit {unit!r} in {gap!r}")
    return int(n) * _GAP_UNITS_MS[unit]


def stateful_session_ttl(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 seconds",
) -> DataFrame:
    """Session finalization with STATE EXPIRY (EventTimeTimeout): emit a
    key's session row only when the watermark proves it is CLOSED, and
    clear the state — the bounded-memory contract an unbounded keyspace
    needs (NoTimeout state, like :func:`stateful_ewma`'s, lives
    forever; a 100 TB stream with churning keys would accrete state
    without bound).

    Per key the state is ``(n, first_us, last_us)``; each batch folds
    its rows in, then re-arms the timeout at ``last event + gap``. When
    the EVENT-TIME watermark (set via ``withWatermark`` upstream)
    passes that point, Spark invokes the function once more with
    ``state.hasTimedOut`` — the closed session is emitted and the state
    removed. Emission is therefore watermark-driven and deterministic
    under replay, unlike ProcessingTimeTimeout.

    Output: one row per CLOSED session: key, n_events, duration_us.
    """
    out_schema = f"{key_col} bigint, n_events bigint, duration_us bigint"
    state_schema = "n bigint, first_us bigint, last_us bigint"
    key_name = key_col
    gap_ms = _parse_gap_ms(gap)

    def update(key, pdfs, state):
        import pandas as _pd

        if state.hasTimedOut:
            n, first_us, last_us = state.get
            state.remove()
            yield _pd.DataFrame(
                {
                    key_name: [key[0]],
                    "n_events": [int(n)],
                    "duration_us": [int(last_us - first_us)],
                }
            )
            return
        n, first_us, last_us = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            us = (pdf[ts_col].astype("int64") // 1000).tolist()
            n += len(us)
            lo, hi = min(us), max(us)
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        if n:
            timeout_ms = last_us // 1000 + gap_ms
            # LATE-GROUP finalization: when every event of this key sits
            # behind the current watermark (late data, or a key whose
            # whole history arrives in one replayed batch after other
            # keys advanced the watermark), the session is already
            # provably closed — and arming the timeout is impossible:
            # Spark rejects timeout < watermark (INVALID_TIMEOUT_TIMESTAMP
            # fails the QUERY, seen at sf1 where replica keys' insert
            # waves landed behind the update-wave watermark). Emit the
            # closed session inline and keep no state, exactly as the
            # timeout path would have. STRICT >: arming AT the watermark
            # is legal and an armed timeout fires only once the watermark
            # passes it, so closing inline at equality would diverge from
            # the timeout path (a data-less key at equality stays open
            # and may still absorb later events).
            if state.getCurrentWatermarkMs() > timeout_ms:
                if state.exists:
                    state.remove()
                yield _pd.DataFrame(
                    {
                        key_name: [key[0]],
                        "n_events": [int(n)],
                        "duration_us": [int(last_us - first_us)],
                    }
                )
                return
            state.update((int(n), int(first_us), int(last_us)))
            # re-arm: expire when event time passes last event + gap
            state.setTimeoutTimestamp(timeout_ms)
        return

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
