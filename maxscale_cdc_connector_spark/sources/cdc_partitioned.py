"""The CDC stream reader: executor-side sockets, one per stream.

One CDC session is one socket streaming one table in GTID order
(cdc_connector.h:62-69). This module is the source's only reader: a full
``DataSourceStreamReader`` whose ``read(partition)`` runs ON THE
EXECUTORS. Each configured stream becomes one input partition per
micro-batch, opening its own socket and decoding to Arrow, so a single
table (``table=``, the one-stream case) and N same-schema streams
(shards of one logical table, e.g. ``db.t_0..db.t_15`` behind MaxScale
sharding) share one code path, and ingest bandwidth scales with the
number of streams instead of the driver's NIC.

Configure with ``table`` (one stream) or ``streams`` (a JSON array of
per-stream configs); the data source (cdc_datasource.py) turns ``table``
into a one-element ``streams`` array::

    spark.dataSource.register(MaxScaleCDCDataSource)
    df = (spark.readStream.format("maxscale_cdc")
          .option("host", "cdc.example").option("user", u).option("password", p)
          .option("streams", json.dumps([
              {"table": "db.t_0"},
              {"table": "db.t_1", "host": "cdc2.example", "gtid": "0-3001-7"},
          ]))
          .option("frontierDir", "/shared/ckpt/cdc-frontier")
          .load())

``frontierDir`` is optional. Unset, it defaults to a private temporary
directory that the reader removes in ``stop()`` (or, when Spark kills
the reader's process first, the next default directory's sweep does);
that is valid wherever executors share the driver's filesystem (every
``local[N]`` session).
On a multi-host cluster, set it to a shared path next to the checkpoint.

Tuning options: ``maxRecordsPerBatch`` (per-stream micro-batch cap),
``pollSeconds`` (idle timeout ending a batch: a read ends one
``pollSeconds`` of silence after its last byte), ``arrowCpus`` (size of
the Arrow parse pool each read task restores — PySpark workers export
``OMP_NUM_THREADS=1``, which would otherwise serialize ``pyarrow.json``;
default 4).

Multi-server ingest (``sourceId``, per-stream or as a global default):
envelope identity — (domain, server_id, sequence, event_number) — is
unique only within ONE server's GTID space, so two servers configured
with overlapping server_ids can emit colliding envelopes for distinct
events. Setting ``sourceId`` stamps a constant ``_source_id`` string
column on every delivered row (appended to the inferred schema), keys
stream identity (offsets + frontier files) by ``sourceId::table`` so two
servers may stream the SAME table name, and ``streaming/ops.dedup_exact``
automatically includes the column in the replay-dedup identity. All
streams must carry a sourceId or none (a null discriminator would
silently exempt a stream from the identity).

Offset design (the part a socket protocol makes non-trivial — the CDC
server has no "latest position" RPC, it only replays from a requested
GTID, cdc_connector.cpp:199-206):

* The checkpointed offset is ``{"epoch": e, "streams": {table:
  {"gtid": g, "evn": k}}}``. ``epoch`` is a monotone tick so every
  trigger plans a batch; the per-stream ``(gtid, evn)`` is the newest
  event DELIVERED to Spark — ``evn`` (event_number) makes the cursor
  transaction-split-safe: a batch cap may land mid-transaction, and the
  next batch resumes exactly after ``(gtid, evn)`` rather than dropping
  or doubling the rest of that transaction's rows.
* Executors cannot return offsets through ``read`` (rows only), so each
  completed partition read writes its attained ``(gtid, evn)`` to an
  atomically-replaced file under ``frontierDir`` — a shared filesystem
  path (put it next to the checkpoint on HDFS/DBFS/NFS; any local dir
  under ``local[*]``). The driver's ``latestOffset`` folds those files
  into the next offset without ever touching the data path. A stream's
  position therefore reaches the checkpoint one trigger AFTER delivery:
  a query stopped right after a delivering batch re-delivers that batch
  on restart (at-least-once).
* ``partitions(start, end)`` resumes each stream from the NEWER of the
  two offsets, so a lost/wiped frontier dir degrades to replay from the
  checkpointed offset — at-least-once (the reference's documented resume
  semantics: requesting a GTID replays that GTID, cdc_connector.h:62-69),
  never data loss. Records at or before the cursor are dropped
  client-side on the executor.

Delivery is at-least-once end to end (task retries replay their whole
partition range); downstream envelope dedup — the standard pattern for
this source (streaming/ops.py) — restores exactly-once.

**Replayed batches are NOT byte-identical to the original attempt.** An
offset here is an epoch tick plus resume cursors — the data volume of a
batch is discovered at ``read()`` time (the CDC server has no "latest
position" RPC to bound against, cdc_connector.cpp:199-206), and ``read``
streams until the record cap or idle. A micro-batch replayed after a
driver failure or task retry therefore resumes from the same cursor but
may deliver a SUPERSET of the original rows (whatever more has arrived
by then). Sinks that rely on Spark's batch-replay determinism for
exactly-once (e.g. the foreachBatch-with-batchId-skip idiom) will
observe duplicates; use the envelope-dedup / ``foreachBatch`` upsert
pattern in ``streaming/ops.py`` instead, which is keyed on
``(gtid, event_number)`` and immune to replay supersets.

**Trigger-interval floor for many-stream deployments:** every
micro-batch re-dials, re-authenticates, and re-reads the leading schema
record once per stream (that per-batch reconnect is also how ALTER is
detected — the avrorouter announces the current schema as the leading
record on connect). The handshake is ~3 RTTs + a SHA1; with hundreds of
streams and sub-second triggers it dominates the batch. Rule of thumb:
keep ``trigger(processingTime=...)`` ≥ 5 s once you pass ~64 streams, or
size batches via ``maxRecordsPerBatch`` so each trigger moves ≥ ~100k
events per stream.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import queue
import re
import shutil
import tempfile
import threading
import time
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSourceStreamReader, InputPartition

from maxscale_cdc_connector_spark.sources.protocol import (
    CDCClient,
    CDCProtocolError,
    SchemaChangedError,
)
from maxscale_cdc_connector_spark.streaming.ops import EVENT_IDENTITY, SOURCE_ID_COL
from maxscale_cdc_connector_spark.typemap import schema_record_to_struct

DEFAULT_MAX_RECORDS_PER_BATCH = 100_000
DEFAULT_POLL_SECONDS = 1.0
# Wall-clock bound on one micro-batch's read. Without it a batch only
# ends on idle (a ≥ pollSeconds silence) or the record cap — so a
# steady trickle arriving FASTER than pollSeconds but far slower than
# the cap (e.g. 20 ev/s against a 100k cap) would hold the first batch
# open for hours and nothing would ever commit. The bound turns a
# continuous stream into bounded batches regardless of arrival rhythm;
# delivered rows still advance the offset, so ending early is just a
# batch boundary, never loss. Override with option `maxBatchSeconds`
# (bulk replays that must drain in ONE batch — availableNow harnesses —
# should raise it above their expected drain time).
DEFAULT_MAX_BATCH_SECONDS = 10.0

# Records per emitted Arrow batch: large enough to amortize the fixed
# per-batch costs (pyarrow.json reader setup, schema prefilter, Arrow IPC
# to the JVM), small enough that a partially-filled batch is cheap.
# Raised 8192 → 65536 in r7: profiling the 600k-event ingest bench showed
# per-batch fixed cost dominating fast_decode; 65536 × ~120 B wire rows is
# still only ~8 MiB per batch.
ARROW_BATCH_RECORDS = 65536

# --- Trigger sizing (VERDICT r11 item 4, recalibrated r13 item 5) ------
# Every trigger re-dials every stream (that is also how ALTER is
# detected), so an EMPTY micro-batch has a cost floor of one handshake
# wave: handshakes parallelize across cores, and once streams exceed
# cores they queue in waves. Calibration history (32 cores, quiet host,
# min across repeats — the permanent 16/32/64-stream bench rows plus
# the per-round 96/128-stream probes, SURVEY "Idle-trigger scaling"):
#   - r11 probe: 16 -> 473, 32 -> 512, 64 -> 871, 96 -> 1424,
#     128 -> 2061 ms; the original model scaled one wave linearly by
#     streams/cores (~16 ms/stream past the core count).
#   - r12 harness rework: the fake server's per-dial history scan —
#     HARNESS cost, not client handshake cost — was removed, and the
#     tail re-measured 96 -> 1385 ms, 128 -> 1489 ms. The old model
#     then OVER-estimated 128 streams by 38% (2048 vs 1489): a sizing
#     rule that pessimistic over-provisions trigger intervals.
#   - r13: the oversubscription slope is damped (ALPHA below) so the
#     model reproduces every quiet-host row within a ONE-SIDED +25%
#     band — never under the measured floor, never more than 25% over
#     (pinned in tests/test_cdc_partitioned.py):
#       est(16/32) = 512 (measured 473/512), est(64) = 952 (871, +9%),
#       est(96) = 1393 (1385, +1%), est(128) = 1833 (1489, +23%).
#   - r14 (ADVICE r13 / VERDICT r13 item 5): the five pins had mixed
#     calibration vintages (16/32/64 pre-dated the r12 harness rework)
#     and the r13 re-probe ran on a noisy host (non-monotone, unusable).
#     ALL FIVE floors re-measured in ONE warm session with one harness
#     (scripts/probe_idle_trigger.py, min-of-3 per count, canary
#     0.437/0.389 s — fast host; per-count steal bursts up to 2%
#     rejected by the min): 16 → 448, 32 → 513, 64 → 824, 96 → 1210,
#     128 → 1582 ms. The 32-stream floor (513.1) landed 0.2% ABOVE the
#     old one-wave estimate (512), so the wave constant is bumped to
#     520 ms; the slope stays 0.86 (ests run +16-18% over the new
#     floors — conservative, inside the band, with headroom for the
#     observed ±6% cross-session floor variance at 128 streams).
# The bias stays conservative — over-reserving trigger interval is the
# safe direction — but is now bounded. On a real cluster the
# handshakes spread across executors, so ``cores`` is the TOTAL
# executor-core count and the per-trigger floor drops with
# parallelism — which is exactly this reader's design.
IDLE_TRIGGER_WAVE_MS = 520.0
# Marginal cost of one extra core-count's worth of streams, as a
# fraction of a full wave: queued handshake waves overlap the previous
# wave's slow tail instead of serializing behind it, so each extra wave
# costs ~0.86 of the first (fit to the r12 quiet-host 64/96/128 rows;
# re-validated against the r14 single-methodology floors).
IDLE_TRIGGER_OVERSUB_SLOPE = 0.86


def estimate_idle_trigger_ms(streams: int, cores: int) -> float:
    """Predicted wall-clock cost of an EMPTY trigger: one handshake
    wave while streams fit in the core budget, plus a damped linear
    term in the oversubscription ratio past it (128 sockets on 32
    cores queue handshakes 4 deep, each extra wave overlapping the
    previous one's tail)."""
    if streams < 1 or cores < 1:
        raise ValueError("streams and cores must be >= 1")
    oversub = max(0.0, streams / cores - 1.0)
    return IDLE_TRIGGER_WAVE_MS * (1.0 + IDLE_TRIGGER_OVERSUB_SLOPE * oversub)


def recommend_trigger(
    streams: int,
    cores: int,
    *,
    max_idle_overhead: float = 0.15,
    events_per_stream_per_s: float | None = None,
    target_events_per_stream: int = 100_000,
) -> dict:
    """The README's trigger-interval rule as code: size the
    ``processingTime`` trigger so the fixed re-dial cost stays under
    ``max_idle_overhead`` of each trigger (default 15%), i.e.
    interval >= estimate_idle_trigger_ms / max_idle_overhead.

    When the expected per-stream event rate is known, also returns the
    ``maxRecordsPerBatch`` that moves ``target_events_per_stream``
    (default ~100k, the alternative arm of the README rule) per
    trigger, and stretches the interval to reach it if the rate is low.
    Returns {"trigger_interval_s", "idle_trigger_ms",
    "max_records_per_batch"}.
    """
    if not 0 < max_idle_overhead < 1:
        raise ValueError("max_idle_overhead must be in (0, 1)")
    idle_ms = estimate_idle_trigger_ms(streams, cores)
    interval_s = round(idle_ms / 1000.0 / max_idle_overhead, 3)
    max_records = None
    if events_per_stream_per_s is not None:
        if events_per_stream_per_s <= 0:
            raise ValueError("events_per_stream_per_s must be > 0")
        interval_s = max(
            interval_s, round(target_events_per_stream / events_per_stream_per_s, 3)
        )
        max_records = int(math.ceil(interval_s * events_per_stream_per_s))
    return {
        "trigger_interval_s": interval_s,
        "idle_trigger_ms": round(idle_ms, 1),
        "max_records_per_batch": max_records,
    }


def _arrow_type(dt: T.DataType):
    """Spark type → pyarrow type for the Arrow fast path. Must agree
    with the DataSource schema or the JVM rejects the batch."""
    import pyarrow as pa

    if isinstance(dt, T.ByteType):
        return pa.int8()
    if isinstance(dt, T.ShortType):
        return pa.int16()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.DateType):
        return pa.date32()
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us")
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    return pa.string()


def _converter(dt: T.DataType) -> Callable[[Any], Any]:
    """JSON-native wire value → Arrow-ready Python value of the Spark type.

    The wire format is JSON (registration is hardwired to TYPE=JSON,
    cdc_connector.cpp:37,45), so integers/floats/strings/bools/nulls
    arrive native and temporal/decimal types arrive as strings. Decimals
    are quantized HALF_UP to the declared scale, matching the JVM's
    Decimal.changePrecision, because pyarrow refuses lossy rescaling.
    """
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return lambda v: None if v is None else int(v)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return lambda v: None if v is None else float(v)
    if isinstance(dt, T.DecimalType):
        q = decimal.Decimal(1).scaleb(-dt.scale)
        return lambda v: (
            None
            if v is None
            else decimal.Decimal(str(v)).quantize(q, rounding=decimal.ROUND_HALF_UP)
        )
    if isinstance(dt, T.BooleanType):
        return lambda v: None if v is None else bool(v)
    if isinstance(dt, T.DateType):
        return lambda v: None if v is None else datetime.date.fromisoformat(str(v))
    if isinstance(dt, T.TimestampType):
        return lambda v: None if v is None else datetime.datetime.fromisoformat(str(v))
    if isinstance(dt, T.BinaryType):
        return lambda v: None if v is None else (v if isinstance(v, bytes) else str(v).encode())
    # StringType and anything exotic: stringify non-null scalars — the
    # typed analog of json_to_string (cdc_connector.cpp:80-115), except
    # null stays null instead of "".
    return lambda v: None if v is None else (v if isinstance(v, str) else str(v))


def _gtid_key(gtid: str | None) -> tuple[int, int, int]:
    if not gtid:
        return (-1, -1, -1)
    d, s, q = gtid.split("-")
    return (int(d), int(s), int(q))


def _cursor_key(gtid: str, evn: int) -> tuple[int, int, int, int]:
    """Total order over stream cursors: GTID triple, then event_number.

    ``evn == -1`` marks an INCLUSIVE cursor (a user-configured start
    GTID: deliver that GTID's events too), so it sorts before any
    delivered event of the same GTID.
    """
    return (*_gtid_key(gtid), evn)


def _plan_timing(tag: str, n_streams: int, t0: float) -> None:
    """Env-gated driver-side planning timing (VERDICT r15 item 7).

    The streaming reader's offset/planning methods run in the
    dedicated Python planner process the JVM spawns — out of reach of
    probe-process monkeypatching — so decomposing the idle-trigger
    floor needs an in-code hook, same pattern as
    ``MAXSCALE_CDC_READ_TIMING``. Appends one line per call; costs one
    getenv when disabled."""
    path = os.environ.get("MAXSCALE_CDC_PLAN_TIMING")
    if path:
        with open(path, "a") as fh:
            fh.write(f"{tag} n={n_streams} dt={time.perf_counter() - t0:.6f}\n")


_DEFAULT_FRONTIER_PREFIX = "maxscale-cdc-frontier-"


def _default_frontier_dir() -> str:
    """A private frontier dir named after the creating process.

    Spark stops a stream's planner process with SIGTERM, so the reader's
    ``stop()`` rarely gets to remove its dir. Each new default dir
    therefore first removes those whose creating process is gone (POSIX
    only: elsewhere ``os.kill(pid, 0)`` is not a liveness probe)."""
    tmp = tempfile.gettempdir()
    for name in os.listdir(tmp) if os.name == "posix" else []:
        if not name.startswith(_DEFAULT_FRONTIER_PREFIX):
            continue
        pid = name[len(_DEFAULT_FRONTIER_PREFIX):].split("-")[0]
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
        except (ValueError, OSError):
            pass  # not ours to judge, or alive under another user
    return tempfile.mkdtemp(prefix=f"{_DEFAULT_FRONTIER_PREFIX}{os.getpid()}-")


def _frontier_path(frontier_dir: str, stream_id: str) -> str:
    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", stream_id)
    return os.path.join(frontier_dir, f"{safe}.frontier.json")


def _write_frontier(path: str, gtid: str, evn: int, run_id: str) -> None:
    """Atomic replace so the driver never reads a torn file."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump({"gtid": gtid, "evn": evn, "run_id": run_id}, fh)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _read_frontier(path: str, run_id: str | None = None) -> tuple[str, int] | None:
    """Parse a frontier file; with ``run_id`` given, a file stamped by a
    DIFFERENT reader incarnation reads as absent (defense in depth on
    top of the initialOffset() clear: a zombie task from a previous
    query incarnation that writes AFTER the clear still cannot make a
    fresh query skip data — ignoring it merely falls back to the
    checkpointed cursor, costing at most re-delivery)."""
    try:
        with open(path) as fh:
            obj = json.load(fh)
        if run_id is not None and obj.get("run_id") != run_id:
            return None
        return str(obj["gtid"]), int(obj["evn"])
    except (OSError, ValueError, KeyError):
        return None


class CDCStreamPartition(InputPartition):
    """One stream's read assignment for one micro-batch (pickled to the
    executor). Carries everything ``read`` needs: connection config, the
    resume cursor, caps, and where to report the attained frontier."""

    def __init__(
        self,
        config: dict[str, Any],
        gtid: str,
        evn: int,
        frontier_path: str,
        max_records: int,
        poll_seconds: float,
        null_missing: bool,
        max_batch_seconds: float = 10.0,
        run_id: str = "",
        handshake_seconds: float | None = None,
    ) -> None:
        self.config = config
        self.gtid = gtid
        self.evn = evn
        self.frontier_path = frontier_path
        self.max_records = max_records
        self.poll_seconds = poll_seconds
        self.null_missing = null_missing
        self.max_batch_seconds = max_batch_seconds
        self.run_id = run_id
        self.handshake_seconds = handshake_seconds


class CDCPartitionedStreamReader(DataSourceStreamReader):
    """N executor-side CDC sockets behind GTID-cursor offsets."""

    def __init__(self, schema: T.StructType, options: dict[str, str]) -> None:
        self._schema = schema
        self._options = options
        try:
            streams = json.loads(options["streams"])
        except (KeyError, json.JSONDecodeError) as exc:
            raise ValueError(
                "CDC reader needs option 'streams': a JSON array "
                'of per-stream configs like [{"table": "db.t1"}, ...]'
            ) from exc
        # Where executors report attained cursors. Unset, it is a private
        # temporary dir made on first use (Spark also builds a throwaway
        # reader just to ship read() to the executors, which must not
        # leave a dir behind) and removed in stop() or, when Spark kills
        # the planner process first, by the next default dir's sweep.
        self._frontier_dir: str | None = options.get("frontierdir")
        self._owns_frontier_dir = self._frontier_dir is None
        if self._frontier_dir is not None:
            os.makedirs(self._frontier_dir, exist_ok=True)
        self._streams: dict[str, dict[str, Any]] = {}
        # Multi-server discriminator (VERDICT r8 item 5): each stream
        # may carry ``sourceId`` (defaulting to the global option).
        # All-or-nothing — a null discriminator on some streams would
        # silently exempt them from the multi-source dedup identity.
        sid_default = options.get("sourceid")
        for s in streams:
            cfg = {
                "host": s.get("host", options.get("host", "127.0.0.1")),
                "port": int(s.get("port", options.get("port", 4001))),
                "user": s.get("user", options.get("user", "")),
                "password": s.get("password", options.get("password", "")),
                "table": s["table"],
                "gtid": s.get("gtid", options.get("gtid", "")),
                "source_id": s.get("sourceId", sid_default),
            }
            # Stream identity keys offsets and frontier files; include
            # the source id so two servers streaming the SAME table name
            # (active-active) keep separate cursors.
            sid = (
                f"{cfg['source_id']}::{cfg['table']}"
                if cfg["source_id"] is not None
                else cfg["table"]
            )
            if sid in self._streams:
                raise ValueError(f"duplicate stream table {sid!r}")
            self._streams[sid] = cfg
        if any(c["source_id"] == "" for c in self._streams.values()):
            # Consistency with the truthiness test in _source_id_active
            # (r9 review): "" would count as set here but as unset for
            # schema inference, producing a contradictory error.
            raise ValueError("sourceId must be a non-empty string")
        stamped = [c["source_id"] is not None for c in self._streams.values()]
        self._stamp_source = any(stamped)
        if self._stamp_source:
            if not all(stamped):
                raise ValueError(
                    "sourceId must be set on ALL streams or none: a null "
                    "discriminator would exempt those streams from the "
                    "multi-source dedup identity"
                )
            # Must be the LAST field (r9 review): read() strips the
            # column from the decode schemas wherever it sits but stamp()
            # appends it last — a mid-schema placement would silently
            # transpose columns (PySpark validates RecordBatch columns by
            # name presence, not position).
            if (
                not schema.fieldNames()
                or schema.fieldNames()[-1] != SOURCE_ID_COL
            ):
                raise ValueError(
                    f"sourceId is set but the stream schema does not end "
                    f"with a {SOURCE_ID_COL!r} column — let the data source "
                    "infer the schema (it appends the discriminator) or "
                    f"append a string {SOURCE_ID_COL!r} field as the LAST "
                    "field of the explicit schema"
                )
        self._max_records = int(
            options.get("maxrecordsperbatch", DEFAULT_MAX_RECORDS_PER_BATCH)
        )
        self._poll_seconds = float(options.get("pollseconds", DEFAULT_POLL_SECONDS))
        # Handshake deadline, decoupled from the idle poll (r10): connect
        # + auth + REGISTER + REQUEST-DATA answer in milliseconds on a
        # healthy server, but 32+ executors dialing at once exceed a
        # pollSeconds-sized budget on scheduling noise alone. Defaults in
        # the client to max(pollSeconds, 10 s — the reference's session
        # timeout, cdc_connector.h:58).
        hs = options.get("handshakeseconds")
        self._handshake_seconds = float(hs) if hs is not None else None
        self._null_missing = options.get("nullmissingcolumns", "false").lower() == "true"
        self._max_batch_seconds = float(
            options.get("maxbatchseconds", DEFAULT_MAX_BATCH_SECONDS)
        )
        self._epoch = 0
        # Frontier files are stamped with this reader incarnation's id
        # and files stamped by any OTHER incarnation are ignored — a
        # zombie task from a previous query can never advance a fresh
        # query's resume cursor (it can only cause bounded re-delivery
        # by being ignored). A driver restart mints a new id and simply
        # falls back to the checkpointed cursor for its first batch.
        self._run_id = uuid.uuid4().hex

    def _frontier(self, sid: str) -> str:
        if self._frontier_dir is None:
            self._frontier_dir = _default_frontier_dir()
        return _frontier_path(self._frontier_dir, sid)

    # -- offsets ------------------------------------------------------------

    def initialOffset(self) -> dict:
        # Spark invokes this ONLY for a fresh checkpoint, so any frontier
        # files already under frontierDir are definitionally stale —
        # left behind by a previous incarnation whose checkpoint was
        # deleted (deleting a checkpoint does not delete the separately
        # configured frontierDir). latestOffset folds whatever frontier
        # it finds, so a stale file would make the FIRST batch resume
        # past the configured gtid and silently skip data. Clear this
        # reader's stream frontiers here; no executor can be writing
        # concurrently (no batch has been planned yet).
        for sid in self._streams:
            try:
                os.unlink(self._frontier(sid))
            except FileNotFoundError:
                pass
        return {
            "epoch": 0,
            "streams": {
                sid: {"gtid": cfg["gtid"], "evn": -1}
                for sid, cfg in self._streams.items()
            },
        }

    def latestOffset(self) -> dict:
        # Epoch = wall-clock ms, monotone-guarded: it survives driver
        # restarts (a fresh reader still ticks past the checkpointed
        # epoch) and forces a batch every trigger — the server cannot be
        # asked "how much is there", only streamed from a GTID, so the
        # executors discover the data volume and report it back through
        # the frontier files folded in here.
        t0 = time.perf_counter()
        self._epoch = max(self._epoch + 1, int(time.time() * 1000))
        streams = {}
        for sid, cfg in self._streams.items():
            cur = (cfg["gtid"], -1)
            front = _read_frontier(self._frontier(sid), run_id=self._run_id)
            if front is not None and _cursor_key(*front) > _cursor_key(*cur):
                cur = front
            streams[sid] = {"gtid": cur[0], "evn": cur[1]}
        _plan_timing("latestOffset", len(self._streams), t0)
        return {"epoch": self._epoch, "streams": streams}

    def commit(self, end: dict) -> None:
        # The server keeps no consumer positions, so the checkpoint is the
        # only offset store (the reference makes the application carry
        # the GTID, cdc_connector.h:62-69). Frontier files are a progress
        # report, not a commit log, and stay valid for the next fold.
        pass

    # -- planning / reading -------------------------------------------------

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        if start.get("epoch") == end.get("epoch"):
            return []
        t0 = time.perf_counter()
        parts: list[InputPartition] = []
        for sid, cfg in self._streams.items():
            # Resume from the NEWER of the two offsets: `end` normally
            # carries the folded frontier; if the frontier dir was lost,
            # `start` (committed progress) wins and the stream replays
            # from the checkpoint — at-least-once, never a gap.
            cursors = []
            for off in (start, end):
                o = off.get("streams", {}).get(sid, {"gtid": cfg["gtid"], "evn": -1})
                cursors.append((str(o.get("gtid", "")), int(o.get("evn", -1))))
            gtid, evn = max(cursors, key=lambda c: _cursor_key(*c))
            parts.append(
                CDCStreamPartition(
                    config=cfg,
                    gtid=gtid,
                    evn=evn,
                    frontier_path=self._frontier(sid),
                    max_records=self._max_records,
                    poll_seconds=self._poll_seconds,
                    null_missing=self._null_missing,
                    max_batch_seconds=self._max_batch_seconds,
                    run_id=self._run_id,
                    handshake_seconds=self._handshake_seconds,
                )
            )
        _plan_timing("partitions", len(self._streams), t0)
        return parts

    def read(self, partition: InputPartition):  # executor-side
        """Columnar ingest: frame raw newline-JSON off the socket
        (no per-record parse), batch-decode with ``pyarrow.json``
        (~30× ``json.loads``), cursor-filter and type-finalize with
        Arrow compute, and emit RecordBatches — the Python DataSource
        API accepts RecordBatch iterators, so rows are never pickled.
        One loop consumes every block. A block pyarrow cannot decode
        (malformed line, type surprise), and every block of a query
        schema without the envelope columns, goes to a per-record path
        with IDENTICAL error semantics (``CDCProtocolError`` on
        malformed/missing, dense-row contract per
        cdc_connector.cpp:297-308)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.json as pj

        _t_read0 = time.perf_counter()
        assert isinstance(partition, CDCStreamPartition)
        # PySpark workers export OMP_NUM_THREADS=1 (task cpus), which
        # Arrow reads at init — pa.cpu_count() == 1 serializes the
        # pyarrow.json block parser and makes fast_decode ~5× slower
        # (measured 86 ms vs 18 ms per 65k-line block). Ingest partitions
        # are socket+parse bound, so give Arrow a small pool; option
        # ``arrowCpus`` (default 4) bounds the oversubscription the same
        # way codegen SIMD lanes do not count against task cpus.
        #
        # SCOPE: the Arrow pool is PROCESS-global, so this is a
        # per-python-worker setting, not per-task — N concurrent CDC
        # tasks reusing one worker share (and each may raise) the same
        # pool, and a raised pool persists for later non-CDC Arrow work
        # on that worker. Deliberate: restoring it in a finally would
        # shrink the pool under a concurrent task mid-decode. Size
        # ``arrowCpus`` as a per-WORKER budget (default 4 ≈ one NUMA
        # node's worth of decode lanes), not per-stream.
        arrow_cpus = int(self._options.get("arrowcpus", "4"))
        if pa.cpu_count() < arrow_cpus:
            pa.set_cpu_count(arrow_cpus)
        # The source discriminator is stamped locally, never decoded off
        # the wire — the decode schemas below carry only wire columns,
        # and every emitted batch appends the constant column at the end.
        source_id = partition.config.get("source_id")
        schema_fields = [
            f
            for f in self._schema.fields
            if not (source_id is not None and f.name == SOURCE_ID_COL)
        ]
        fields = [(f.name, _converter(f.dataType)) for f in schema_fields]
        arrow_schema = pa.schema(
            [pa.field(f.name, _arrow_type(f.dataType), nullable=True)
             for f in schema_fields]
        )
        if source_id is not None:
            emit_schema = pa.schema(
                [*arrow_schema, pa.field(SOURCE_ID_COL, pa.string(), nullable=True)]
            )
            sid_scalar = pa.scalar(source_id, type=pa.string())

            def stamp(b: "pa.RecordBatch") -> "pa.RecordBatch":
                return pa.RecordBatch.from_arrays(
                    [*b.columns, pa.repeat(sid_scalar, b.num_rows)],
                    schema=emit_schema,
                )
        else:

            def stamp(b: "pa.RecordBatch") -> "pa.RecordBatch":
                return b
        # Wire-parse schema: types pa.json parses natively stay as-is;
        # string-carried types (decimal/date/timestamp/binary on the
        # JSON wire) parse as strings and are finalized per column.
        tricky = (T.DecimalType, T.DateType, T.TimestampType, T.BinaryType)
        wire_schema = pa.schema(
            [
                pa.field(
                    f.name,
                    pa.string() if isinstance(f.dataType, tricky) else _arrow_type(f.dataType),
                    nullable=True,
                )
                for f in schema_fields
            ]
        )
        parse_opts = pj.ParseOptions(
            explicit_schema=wire_schema, unexpected_field_behavior="ignore"
        )
        field_names = [f.name for f in schema_fields]
        envelope = EVENT_IDENTITY
        # The columnar path needs the envelope for cursor/frontier math;
        # a schema without it (not a real avrorouter stream) decodes
        # every block per record, reading the envelope off the wire.
        fast_ok = all(name in field_names for name in envelope)
        cfg = partition.config
        cursor = _cursor_key(partition.gtid, partition.evn)
        null_missing = partition.null_missing

        def to_batch(buf: list[dict]) -> "pa.RecordBatch":
            arrays = []
            for (name, conv), typ in zip(fields, arrow_schema.types):
                try:
                    if null_missing:
                        col = [conv(r.get(name)) for r in buf]
                    else:
                        col = [conv(r[name]) for r in buf]
                except KeyError as exc:
                    # Dense-row contract (cdc_connector.cpp:297-308).
                    raise CDCProtocolError(
                        f"No value for key found: {exc.args[0]}"
                    ) from None
                arrays.append(pa.array(col, type=typ))
            return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

        def parse_line(ln: bytes) -> dict:
            try:
                return json.loads(ln)
            except json.JSONDecodeError as exc:
                raise CDCProtocolError(
                    f"malformed CDC event line: {ln[:200]!r}"
                ) from exc

        def check_schema_block(block: bytes) -> None:
            # One memchr-speed substring scan over the WHOLE block (the
            # per-line Python loop this replaces was ~8% of ingest CPU);
            # only a block containing the marker pays the line split,
            # and only candidate lines pay a parse.
            from maxscale_cdc_connector_spark.sources.protocol import is_schema_record

            if b'"fields"' not in block:
                return
            for ln in block.split(b"\n"):
                if b'"fields"' in ln:
                    obj = parse_line(ln)
                    if is_schema_record(obj):
                        raise SchemaChangedError(obj)

        def finalize_column(col: "pa.ChunkedArray", dt: T.DataType, typ) -> "pa.Array":
            col = col.combine_chunks()
            if isinstance(dt, T.DecimalType):
                # Arrow's string→decimal128 cast is exact when every
                # value already fits the declared scale (the avrorouter
                # emits DECIMAL(p,s) at its declared scale) — vectorized,
                # no per-value Python. Values needing a rescale make the
                # cast throw; only then pay the per-value HALF_UP
                # quantize that matches the JVM's Decimal.changePrecision.
                try:
                    return pc.cast(col, typ)
                except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
                    conv = _converter(dt)
                    return pa.array([conv(v) for v in col.to_pylist()], type=typ)
            if isinstance(dt, (T.DateType, T.TimestampType, T.BinaryType)):
                return pc.cast(col, typ)
            return col

        def check_envelope_nonnull(tbl: "pa.Table") -> None:
            # Dense-envelope contract for BOTH decode paths (fast and
            # slow agree, incl. null-backfill incarnations where
            # nullMissingColumns=true relaxes only TABLE columns): the
            # avrorouter stamps domain/server_id/sequence/event_number
            # on every event, so a null here is a malformed stream, not
            # data. Without this check the cursor filter would silently
            # drop null-envelope rows (null comparisons filter false)
            # while the per-record path kept them.
            #
            # INTENTIONAL strictness delta vs the reference: the C++
            # client errors only on a MISSING key
            # (cdc_connector.cpp:297-308, mxb::Json::try_get_*) and
            # would stringify a PRESENT JSON null into the row. We
            # raise on both — a null GTID component cannot participate
            # in cursor/frontier ordering, so fail-fast beats the old
            # fast path's silent drop-via-cursor-filter or the
            # reference's "null" string leaking into offsets.
            for name in envelope:
                if tbl.column(name).null_count:
                    raise CDCProtocolError(
                        f"No value for key found: {name}"
                    )

        def fast_decode(block: bytes, cap: int):
            """block of newline-JSON → (RecordBatch in the query schema of
            at most ``cap`` rows, last (gtid, evn)) or None to signal
            per-record fallback."""
            import io

            try:
                tbl = pj.read_json(io.BytesIO(block), parse_options=parse_opts)
            except pa.ArrowInvalid:
                return None
            check_envelope_nonnull(tbl)
            if not null_missing:
                # Dense-row contract: pa.json nulls both true JSON nulls
                # and MISSING keys; only rows containing some null pay a
                # per-record recheck to tell them apart.
                null_mask = None
                for i in range(tbl.num_columns):
                    if tbl.column(i).null_count:
                        m = pc.is_null(tbl.column(i))
                        null_mask = m if null_mask is None else pc.or_(null_mask, m)
                if null_mask is not None:
                    lines = block.split(b"\n")  # rare path pays the split
                    for ridx in pc.indices_nonzero(null_mask).to_pylist():
                        rec = parse_line(lines[ridx])
                        for name in field_names:
                            if name not in rec:
                                raise CDCProtocolError(
                                    f"No value for key found: {name}"
                                )
            d, s = tbl.column("domain"), tbl.column("server_id")
            q, e = tbl.column("sequence"), tbl.column("event_number")
            if cursor > (-1, -1, -1, -1):
                cd, cs, cq, ce = cursor
                eq_d = pc.equal(d, cd)
                eq_ds = pc.and_(eq_d, pc.equal(s, cs))
                eq_dsq = pc.and_(eq_ds, pc.equal(q, cq))
                mask = pc.greater(d, cd)
                mask = pc.or_(mask, pc.and_(eq_d, pc.greater(s, cs)))
                mask = pc.or_(mask, pc.and_(eq_ds, pc.greater(q, cq)))
                mask = pc.or_(mask, pc.and_(eq_dsq, pc.greater(e, ce)))
                tbl = tbl.filter(mask)
            if tbl.num_rows > cap:
                # Hard cap (framing reads whole receive chunks): the
                # undelivered tail is NOT lost — the frontier stops at the
                # last delivered row and the next micro-batch's inclusive
                # GTID replay + cursor skip picks up exactly there.
                tbl = tbl.slice(0, cap)
            if tbl.num_rows == 0:
                return pa.RecordBatch.from_arrays(
                    [pa.array([], type=t) for t in arrow_schema.types],
                    schema=arrow_schema,
                ), None
            arrays = [
                finalize_column(tbl.column(f.name), f.dataType, typ)
                for f, typ in zip(schema_fields, arrow_schema.types)
            ]
            batch = pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)
            tail = tbl.slice(tbl.num_rows - 1)
            lr = {
                name: tail.column(name)[0].as_py()
                for name in envelope
            }
            new_last = (
                f"{lr['domain']}-{lr['server_id']}-{lr['sequence']}",
                int(lr["event_number"]),
            )
            return batch, new_last

        def slow_decode(block: bytes, cap: int):
            """Per-record path — IDENTICAL semantics to fast_decode,
            including the dense-envelope contract (a null or missing
            envelope field raises, never default-and-keep, so a batch
            decodes the same whichever path it takes). The envelope is
            read off the wire record, so the cap is exact even when the
            query schema omits the envelope columns."""
            buf: list[dict] = []
            new_last = None
            for ln in block.split(b"\n"):
                if len(buf) >= cap:
                    break
                record = parse_line(ln)
                try:
                    d, s, q = record["domain"], record["server_id"], record["sequence"]
                    if d is None or s is None or q is None:
                        raise KeyError("domain/server_id/sequence")
                    evn = int(record["event_number"])
                except (KeyError, TypeError) as exc:
                    name = exc.args[0] if isinstance(exc, KeyError) else "event_number"
                    raise CDCProtocolError(
                        f"No value for key found: {name}"
                    ) from None
                gtid = f"{d}-{s}-{q}"
                if _cursor_key(gtid, evn) <= cursor:
                    continue
                buf.append(record)
                new_last = (gtid, evn)
            return to_batch(buf), new_last

        client = CDCClient(
            host=cfg["host"],
            port=cfg["port"],
            user=cfg["user"],
            password=cfg["password"],
            table=cfg["table"],
            gtid=partition.gtid or None,
            timeout=partition.poll_seconds,
            handshake_timeout=partition.handshake_seconds,
        )
        client.connect()
        _t_hs = time.perf_counter() - _t_read0  # dial+auth+REGISTER+schema
        try:
            # Every micro-batch reconnects, so an ALTER made since the
            # last batch arrives as the LEADING schema record
            # (cdc_connector.cpp:214 — avrorouter always announces the
            # current version): detect the change by comparing it to the
            # query's fixed schema, or the stream would silently keep
            # emitting stale columns. An ALTER landing mid-read arrives
            # as a schema record inside a block (check_schema_block).
            if client.schema_record is not None:
                live = schema_record_to_struct(client.schema_record)
                if [(f.name, f.dataType) for f in live.fields] != [
                    (f.name, f.dataType) for f in schema_fields
                ]:
                    raise SchemaChangedError(client.schema_record)
            last: tuple[str, int] | None = None
            delivered = 0
            # The server replays the requested GTID's events inclusively
            # (cdc_connector.h:62-69); the cursor filter inside the
            # decoders drops what the previous batch already delivered
            # (evn == -1 cursors — user-configured starts — drop nothing
            # of their GTID).
            #
            # Framing runs on a PREFETCH thread so socket recv overlaps
            # Arrow decode + IPC-to-JVM (both release the GIL for their
            # heavy parts). The thread does framing ONLY — all decode,
            # schema-change detection, and error classification stay on
            # this (consumer) side. A block fetched but never consumed
            # (cap reached first) is simply discarded work: the frontier
            # stops at the last DELIVERED row and the next batch's
            # inclusive GTID replay + cursor skip picks up exactly there.
            fetched: queue.Queue = queue.Queue(maxsize=4)
            stop_fetch = threading.Event()

            def _prefetch() -> None:
                try:
                    while not stop_fetch.is_set():
                        # Accumulation bounded by pollSeconds so a steady
                        # trickle still emits a block at least once per
                        # poll interval (a full-rate replay fills 65k
                        # lines in ms and never hits it).
                        b = client.read_raw_block(
                            ARROW_BATCH_RECORDS,
                            max_seconds=partition.poll_seconds,
                        )
                        fetched.put(b)  # None = idle → consumer ends
                        if b is None:
                            return
                except BaseException as exc:  # noqa: BLE001 — re-raised by consumer
                    fetched.put(exc)

            fetcher = threading.Thread(target=_prefetch, daemon=True)
            fetcher.start()
            try:
                deadline = time.monotonic() + partition.max_batch_seconds
                while delivered < partition.max_records:
                    if time.monotonic() > deadline:
                        # Steady-trickle guard (DEFAULT_MAX_BATCH_SECONDS):
                        # arrivals faster than pollSeconds never hit idle,
                        # so bound the batch by wall clock; delivered rows
                        # advanced the frontier, ending early is just a
                        # batch boundary.
                        break
                    blk = fetched.get()
                    if isinstance(blk, BaseException):
                        raise blk
                    if blk is None:  # idle — the batch is what arrived
                        break
                    block, _ = blk
                    check_schema_block(block)
                    cap = partition.max_records - delivered
                    decoded = None
                    if fast_ok:
                        try:
                            decoded = fast_decode(block, cap)
                        except pa.ArrowInvalid:
                            pass  # e.g. an uncastable date string
                    if decoded is None:  # envelope-free schema or pyarrow refused
                        decoded = slow_decode(block, cap)
                    batch, new_last = decoded
                    if batch.num_rows:
                        yield stamp(batch)
                        delivered += batch.num_rows
                        last = new_last
            finally:
                # Unblock a fetcher stuck on a full queue, then let the
                # outer finally's client.close() break any recv it is
                # blocked in; the thread is daemonized so a straggler can
                # never hold the task open.
                stop_fetch.set()
                while True:
                    try:
                        fetched.get_nowait()
                    except queue.Empty:
                        break
            if last is not None:
                # Report progress only after every row above was handed
                # to the task; a killed task writes nothing and the
                # range simply replays.
                _write_frontier(partition.frontier_path, *last, run_id=partition.run_id)
            if os.environ.get("MAXSCALE_CDC_READ_TIMING"):
                with open(os.environ["MAXSCALE_CDC_READ_TIMING"], "a") as _fh:
                    _fh.write(
                        f"{cfg['table']} rows={delivered} "
                        f"dt={time.perf_counter() - _t_read0:.3f} "
                        f"hs={_t_hs:.3f}\n"
                    )
        finally:
            client.close()

    def stop(self) -> None:
        # No driver-side sockets exist; the only driver-side resource is
        # a default frontier dir.
        if self._owns_frontier_dir and self._frontier_dir is not None:
            shutil.rmtree(self._frontier_dir, ignore_errors=True)
            self._frontier_dir = None
