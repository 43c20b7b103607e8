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
  `snapshot_sink`) is also the exactly-once recovery for the
  partition-parallel reader, whose REPLAYED micro-batches may deliver a
  SUPERSET of the original attempt (offsets are epoch ticks — see the
  replay-semantics section of sources/cdc_partitioned.py); batchId-skip
  idioms that assume per-batch determinism are NOT safe on that source.
* `snapshot_sink` maintains the queryable current-state table via
  foreachBatch compaction: per batch, dedup → per-key latest → merge
  with the previous snapshot → atomic swap. On a real cluster the state
  table is partitioned by key hash and only touched partitions rewrite
  (or a Delta/Iceberg MERGE replaces the swap); the rewrite-all form
  here keeps plain-parquet semantics exact.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from maxscale_cdc_connector_spark.operators.cache import release

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
# In-flight stateful snapshot: applyInPandasWithState keyed on the pk.
# ---------------------------------------------------------------------------


def stateful_snapshot(events: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Continuously-maintained current state via the state store.

    The custom-stateful-operator form of the snapshot (SURVEY.md §2B
    `stream_stateful_snapshot`): state per key is the winning event
    (greatest (sequence, event_number)) as a JSON blob; each micro-batch
    emits the key's new current row whenever it changes. Compared to the
    foreachBatch `SnapshotSink`, state lives in Spark's state store
    (RocksDB-backed on a cluster) instead of a parquet table — right
    when the snapshot feeds further streaming stages rather than ad-hoc
    queries.

    Output = key columns + `current` (JSON of the full winning event,
    envelope included; tombstones carry event_type='delete' — filter
    downstream). JSON keeps the state/output schemas fixed for any
    payload, so one operator serves every table.

    Multi-server note (r9): the winning-event comparison is
    (sequence, event_number), meaningful only within ONE GTID space —
    so when the partitioned reader stamps ``_source_id``, it joins the
    state key automatically (per-source current state, same guidance as
    SnapshotSink's key_cols); cross-source sequences are incomparable
    and a shared key would pin the winner to whichever server's counter
    runs numerically higher.
    """
    if SOURCE_ID_COL in events.columns and SOURCE_ID_COL not in key_cols:
        key_cols = [*key_cols, SOURCE_ID_COL]
    key_schema = ", ".join(f"`{c}` {dict(events.dtypes)[c]}" for c in key_cols)
    out_schema = f"{key_schema}, current string"
    state_schema = "sequence bigint, event_number int, current string"

    # Self-contained closure: executors unpickle by value (no package on
    # the worker PYTHONPATH — same constraint as operators/multimodal.py).
    def update(key, pdfs, state):
        import json as _json

        import pandas as _pd

        best_seq, best_num, best_row = -1, -1, None
        if state.exists:
            best_seq, best_num, cur = state.get
            best_row = _json.loads(cur)
        changed = False
        for pdf in pdfs:
            for rec in pdf.to_dict("records"):
                sq, num = int(rec["sequence"]), int(rec["event_number"])
                if (sq, num) > (best_seq, best_num):
                    best_seq, best_num, best_row = sq, num, rec
                    changed = True
        if changed and best_row is not None:
            blob = _json.dumps(
                {k: (v.item() if hasattr(v, "item") else v) for k, v in best_row.items()},
                default=str,
                sort_keys=True,
            )
            state.update((best_seq, best_num, blob))
            data = dict(zip(key_names, ([k] for k in key)))
            data["current"] = [blob]
            yield _pd.DataFrame(data)

    key_names = list(key_cols)
    return events.groupBy(*key_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Snapshot sink: change log → continuously-maintained current-state table.
# ---------------------------------------------------------------------------


class SnapshotSink:
    """foreachBatch upsert maintaining a parquet current-state table.

    The whole point of consuming a CDC stream (`cdc_connector.h:42`
    docs: stream one table's changes) is a queryable current state.
    Per micro-batch: dedup replays → reduce the batch to its per-key
    latest → merge with the previous snapshot keeping the greater
    (sequence, event_number) → write + atomic swap. Deleted keys stay
    in-state as TOMBSTONES (a late replay of an older event can never
    resurrect a deleted key); ``snapshot()`` filters them, ``current()``
    returns them raw.

    Concurrent reads: ``snapshot()``/``current()`` from a monitoring
    thread are safe against recovery (it runs once per instance, under
    the swap lock) but NOT snapshot-isolated against an in-flight
    bucket swap — a read whose file listing was pinned just before a
    swap can fail transiently (file-not-found on the replaced bucket
    files). Retry such reads; they heal on the next call.

    Restart-safe: merging is idempotent (an event applied twice yields
    the same state), so at-least-once foreachBatch semantics suffice.

    Multi-server note (r9): when the partitioned reader stamps
    ``_source_id``, replay dedup keys on it automatically (dedup_exact),
    so two servers sharing (domain, server_id, sequence) ranges cannot
    collapse distinct events in one sink. The default MERGE ordering,
    however, is (sequence, event_number) — meaningful only within one
    GTID space — so for active-active sources either include
    ``_source_id`` in ``key_cols`` (per-source current state) or pass
    an explicit cross-source ``order_cols`` (r10, VERDICT r9 item 5):
    ``("event_ts", "_source_id", "sequence", "event_number")`` is the
    documented last-writer-wins rule (event time, ties broken by
    source then envelope — the same total order
    cdc_multi_source_reconcile applies in batch), giving ONE reconciled
    row per key across conflicting writers. The ordering is pinned in
    the sink's meta marker like n_buckets/key_cols: changing it on live
    state silently changes merge identity, so a mismatch is refused.
    """

    BUCKET_COL = "_bucket"
    # The single-GTID-space default (cdc_connector.h:199-208 envelope).
    DEFAULT_ORDER = ("sequence", "event_number")

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
        # Shared by _recover and the swap loop (ADVICE r8): a monitoring
        # thread calling current()/snapshot() on THIS instance can never
        # interleave a recovery with an in-flight bucket swap.
        self._lock = threading.Lock()
        self._recovered = False

    def _bucket(self) -> Column:
        return F.pmod(F.xxhash64(*[F.col(c) for c in self.key_cols]), F.lit(self.n_buckets))

    def _ensure_meta(self) -> None:
        """Pin (n_buckets, key_cols) to the state table (r9 review): a
        restart with a DIFFERENT n_buckets re-hashes keys into other
        buckets while stale rows sit untouched in the old ones —
        snapshot() then returns two rows per key forever; a different
        key_cols silently changes merge identity. First merge writes a
        meta marker; later instances validate against it. Pre-r9 state
        dirs lack the marker and adopt the current parameters."""
        import json as _json

        meta_path = os.path.join(self.path, ".sink-meta.json")
        want = {
            "n_buckets": self.n_buckets,
            "key_cols": list(self.key_cols),
            "order_cols": list(self.order_cols),
        }
        if os.path.isfile(meta_path):
            try:
                with open(meta_path) as fh:
                    have = _json.load(fh)
            except (OSError, ValueError):
                have = None
            if have is not None:
                # Pre-r10 markers predate order_cols; they were written
                # by sinks that always merged on the default.
                have.setdefault("order_cols", list(self.DEFAULT_ORDER))
            if have is not None and have != want:
                raise ValueError(
                    f"SnapshotSink parameters do not match the existing "
                    f"state table at {self.path}: stored {have}, "
                    f"constructed {want} — changing n_buckets or key_cols "
                    "on live state strands rows in stale buckets; rebuild "
                    "the snapshot (or construct with the stored values)"
                )
            if have is not None:
                return
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(want, fh)
        os.replace(tmp, meta_path)

    # Pre-merge copies parked beside the live dir during a swap. The
    # leading dot keeps them invisible to Spark's partition discovery,
    # so even a stale one (writer crashed between rename and rmtree)
    # can never surface as a bogus partition value in a read.
    _OLD_PREFIX = ".old-"

    def _recover_locked(self) -> None:
        """Heal the bucket-swap crash windows (r8 soak review). The swap
        is rename(dst, .old-dst) → rename(scratch, dst) → rmtree(.old-);
        a driver crash between the first two steps leaves the bucket
        ONLY in ``.old-`` (its keys would silently vanish from every
        later snapshot — the checkpoint will not replay events the sink
        already consumed), and a crash between the last two leaves a
        stale ``.old-`` beside the new dir. Both states are unambiguous
        — the scratch dir lives under ``self.path`` (same filesystem),
        so the second rename is atomic and a present ``dst`` is always
        COMPLETE — recovery is mechanical: restore ``.old-`` when the
        real dir is missing, drop it when present. (Pre-r9 the scratch
        dir lived in tempfile.gettempdir(); on a different filesystem
        shutil.move degrades to copytree and a crash mid-copy left a
        partial dst whose complete ``.old`` twin recovery then deleted
        — ADVICE r8.)

        Caller must hold ``self._lock``. Runs once per instance (first
        read or first merge), NOT on every read: a per-read recovery
        racing a concurrent writer's swap could rename the pre-merge
        copy back over the writer's in-flight window (ADVICE r8).

        MIGRATION NOTE (r10, VERDICT r9 item 6): the ``<part>.old``
        suffix branch below heals state dirs written by PRE-r9 sinks
        that crashed mid-swap and were never reopened since. Any sink
        opened once by a ≥r9 build is permanently migrated (this
        healing is one-shot: afterwards only ``.old-`` prefixed names
        can exist). The branch is test-pinned
        (tests/test_streaming.py::test_snapshot_sink_crash_recovery)
        and is kept because deleting it strands exactly the layout it
        heals — a ``<part>.old`` dir STARTS WITH ``_bucket=`` and would
        otherwise surface as a corrupt partition value to Spark's
        partition discovery. Delete branch + test together once pre-r9
        state dirs are out of support.
        """
        if not os.path.isdir(self.path):
            return
        for entry in os.listdir(self.path):
            if entry.startswith(self._OLD_PREFIX):
                dst_name = entry[len(self._OLD_PREFIX):]
            elif entry.endswith(".old"):  # pre-r9 layout
                dst_name = entry[: -len(".old")]
            else:
                continue
            old = os.path.join(self.path, entry)
            dst = os.path.join(self.path, dst_name)
            if os.path.isdir(dst):
                shutil.rmtree(old, ignore_errors=True)  # crash after swap
            else:
                os.rename(old, dst)  # crash mid-swap: pre-merge state back

    def _recover_once(self) -> None:
        if self._recovered:
            return
        with self._lock:
            if not self._recovered:
                self._recover_locked()
                self._recovered = True

    def current(self, spark) -> DataFrame | None:
        self._recover_once()
        if not os.path.isdir(self.path):
            return None
        # The writer creates the dir (and its hidden scratch) BEFORE the
        # first swap publishes a bucket; a read in that window — or after
        # recovery healed everything away — must read as "no state yet",
        # not an unable-to-infer-schema error on an empty dir.
        if not any(
            e.startswith(self.BUCKET_COL + "=") for e in os.listdir(self.path)
        ):
            return None
        # mergeSchema: after a mid-stream ALTER the state table holds
        # bucket files written under both the pre- and post-ALTER schema;
        # merged reading widens them into one schema with NULL backfill.
        return (
            spark.read.option("basePath", self.path)
            .option("mergeSchema", "true")
            .parquet(self.path)
        )

    def _buckets_of(self, df: DataFrame) -> list[int]:
        return [r[0] for r in df.select(self.BUCKET_COL).distinct().collect()]

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        """Incremental compaction: merge ONLY the hash buckets the batch
        touches. At 100 TB the state table is large but a micro-batch
        touches few keys — reading and rewriting |touched buckets| /
        n_buckets of the state bounds the per-batch IO, the same
        copy-on-write contract a Delta/Iceberg MERGE provides on plain
        parquet. The distinct-bucket list is the only driver round-trip,
        ≤ n_buckets ints."""
        spark = batch.sparkSession
        incoming = dedup_exact(batch).withColumn(self.BUCKET_COL, self._bucket())
        # Freeze the batch BEFORE the multi-action merge (r8 soak
        # finding — burst-sized permanent loss on one stream): every
        # action on a partitioned-CDC batch re-executes the live socket
        # read, so without this the `touched` bucket list (action 1)
        # and the merged write (action 2) can see DIFFERENT rows. Rows
        # arriving between the two actions were written under buckets
        # absent from `touched`, left out of the swap, and permanently
        # skipped once the frontier passed them. localCheckpoint pins
        # ONE materialization for every downstream action (and halves
        # the per-batch server re-dials as a side effect).
        incoming = incoming.localCheckpoint(eager=True)
        try:
            return self._merge(spark, incoming)
        finally:
            # Free the checkpoint blocks eagerly — on a long-running
            # stream, waiting for the ContextCleaner to GC one frozen
            # batch per trigger accumulates block-manager storage.
            release(incoming)

    def _merge(self, spark, incoming: DataFrame) -> None:
        touched = self._buckets_of(incoming)
        if not touched:
            return
        # Heal BEFORE reading prev (r9 review): if a swap on THIS
        # instance failed between its two renames (transient EIO, NFS
        # hiccup) and the supervised query replays the batch on the same
        # sink object, _recover_once is already consumed — prev would be
        # read WITHOUT the parked bucket's state and the re-swap would
        # then replace the healed dir with merged output built without
        # those rows, losing every pre-existing key in the bucket. The
        # writer healing under the swap lock cannot race a reader.
        with self._lock:
            self._recover_locked()
            self._recovered = True
        os.makedirs(self.path, exist_ok=True)
        self._ensure_meta()
        # Read back ONLY the touched buckets' directories (r9 review):
        # a whole-table read with mergeSchema lists and footer-reads
        # EVERY file under the path per micro-batch — per-batch cost
        # growing with total state size, defeating the
        # |touched|/n_buckets IO bound this sink exists for. Keep
        # deletes in-state as tombstones so a late replay of an older
        # event can never resurrect a deleted key; filter tombstones
        # only at read time (snapshot()).
        prev_dirs = [
            os.path.join(self.path, f"{self.BUCKET_COL}={b}")
            for b in touched
        ]
        prev_dirs = [d for d in prev_dirs if os.path.isdir(d)]
        if prev_dirs:
            prev_touched = (
                spark.read.option("basePath", self.path)
                .option("mergeSchema", "true")
                .parquet(*prev_dirs)
            )
            # allowMissingColumns: a post-ALTER batch carries columns the
            # stored snapshot predates (and, on a dropped column, vice
            # versa) — union the schemas and NULL-fill, the same backfill
            # MariaDB applies to rows predating an ADD COLUMN.
            incoming = incoming.unionByName(prev_touched, allowMissingColumns=True)
        ord_key = F.struct(*[F.col(c) for c in self.order_cols])
        merged = incoming.groupBy(*self.key_cols, self.BUCKET_COL).agg(
            *[
                F.max_by(F.col(c), ord_key).alias(c)
                for c in incoming.columns
                if c not in self.key_cols and c != self.BUCKET_COL
            ]
        )
        # Rewrite only the touched partition dirs: write to a scratch
        # dir UNDER self.path — same filesystem, so every move below is
        # an atomic os.rename and a visible bucket dir is always a
        # complete one (ADVICE r8: a gettempdir() scratch on another
        # filesystem made shutil.move a non-atomic copytree). The dot
        # prefix hides the scratch dir from partition discovery, so
        # concurrent reads of self.path never see half-written files.
        # Single-writer contract (one streaming query per sink path):
        # reap scratch dirs a crashed predecessor left behind. Readers
        # never touch .tmp- dirs, so this cannot race a live writer.
        for entry in os.listdir(self.path):
            if entry.startswith(".tmp-"):
                shutil.rmtree(os.path.join(self.path, entry), ignore_errors=True)
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex[:12]}")
        merged.write.mode("overwrite").partitionBy(self.BUCKET_COL).parquet(tmp)
        with self._lock:
            # Healing already ran before the prev read above; the write
            # action between cannot park dirs. Swap each touched bucket
            # atomically.
            for b in touched:
                part = f"{self.BUCKET_COL}={b}"
                src = os.path.join(tmp, part)
                dst = os.path.join(self.path, part)
                old = os.path.join(self.path, self._OLD_PREFIX + part)
                if not os.path.isdir(src):  # all rows in the bucket merged away
                    continue
                if os.path.isdir(dst):
                    os.rename(dst, old)
                os.rename(src, dst)  # atomic: same filesystem by construction
                shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    def snapshot(self, spark) -> DataFrame:
        """The queryable current state (tombstones filtered)."""
        df = self.current(spark)
        if df is None:
            raise FileNotFoundError(f"no snapshot at {self.path}")
        return df.filter(F.col("event_type") != "delete").drop(self.BUCKET_COL)


def write_snapshot_stream(
    events: DataFrame,
    path: str,
    key_cols: Sequence[str],
    checkpoint_dir: str,
    trigger: dict | None = None,
    n_buckets: int = 16,
    order_cols: Sequence[str] = SnapshotSink.DEFAULT_ORDER,
):
    """Wire a CDC event stream into a SnapshotSink via foreachBatch."""
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
