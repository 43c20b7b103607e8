"""Supervise CDC streams across schema changes and transport loss.

The reference hot-swaps the schema in place and keeps returning rows
(cdc_connector.cpp:339-344); a Spark Structured Streaming query has a
fixed schema, so this engine's source deliberately raises
:class:`SchemaChangedError` and fails the query instead
(sources/protocol.py:47-56). Transport loss, too, surfaces as a read
error left to the caller (cdc_connector.cpp:237-360). This module is
that caller: one policy (:func:`run_supervised`) applied by one monitor
loop to N streams (:func:`run_supervised_multi`; ``run_supervised`` is
its one-stream case), restarting each sink from its checkpoint.

Delivery stays at-least-once across the boundary: the restarted stream
resumes from the last committed GTID (inclusive replay,
cdc_connector.h:62-69), and replayed rows from before the ALTER
legitimately lack the added columns — so restarted streams run with
``nullMissingColumns=true``, the same NULL-fill MariaDB itself applies
to rows predating an ``ADD COLUMN``. Downstream envelope dedup (the
standard pattern for this source) restores exactly-once.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# The SchemaChangedError message (sources/protocol.py:55) as it surfaces
# inside the StreamingQueryException raised on the driver.
SCHEMA_CHANGE_MARKER = "CDC stream schema changed mid-stream"

# How often the monitor polls its queries, ``stop_when`` and the deadline.
POLL_SECONDS = 0.25


def is_schema_change_failure(exc: BaseException) -> bool:
    """True when a streaming-query failure was caused by a mid-stream
    schema record (vs. any other source/sink error)."""
    return SCHEMA_CHANGE_MARKER in str(exc)


def _null_missing_enabled(opts: dict[str, str]) -> bool:
    # ``opts`` keys are lowercased on entry (_SupervisedStream).
    return str(opts.get("nullmissingcolumns", "")).lower() == "true"


def _read_schema_cache(path: str | None) -> tuple[T.StructType | None, bool]:
    """Returns ``(schema, null_missing)`` from the cache file.

    ``null_missing`` records whether a previous incarnation had already
    enabled the ``nullMissingColumns`` backfill (drift detection or a
    schema-change restart). Persisting it alongside the schema closes
    the ADVICE r9 hole: drift detection writes the NEW inferred schema
    immediately, so a supervisor that dies after that write but before
    the checkpoint passes the ALTER boundary would otherwise see
    cached==inferred on its next run, never re-enable the backfill, and
    fail pre-ALTER replay rows with a non-restartable CDCProtocolError.
    Pre-r10 cache files are the bare schema JSON (null_missing=False).
    """
    if path is None:
        return None, False
    try:
        with open(path) as fh:
            data = json.load(fh)
        if isinstance(data, dict) and "schema" in data:
            return (
                T.StructType.fromJson(data["schema"]),
                bool(data.get("null_missing", False)),
            )
        return T.StructType.fromJson(data), False  # pre-r10 bare-schema file
    except (OSError, ValueError, KeyError, TypeError):
        return None, False


def _write_schema_cache(
    path: str | None, schema: T.StructType, null_missing: bool
) -> None:
    if path is None:
        return
    tmp = f"{path}.tmp"
    try:
        with open(tmp, "w") as fh:
            json.dump({"schema": schema.jsonValue(), "null_missing": null_missing}, fh)
        os.replace(tmp, path)
    except OSError:
        pass  # cache is best-effort; drift detection degrades gracefully


def _load_with_drift_backfill(
    spark: SparkSession,
    opts: dict[str, str],
    last_schema: T.StructType | None,
    cached_null_missing: bool = False,
) -> DataFrame:
    """``load()`` with ALTER-during-downtime drift detection (r9).

    With an un-pinned schema, an ALTER landing while the stream is DOWN
    (in a transport-loss backoff) is absorbed silently by a restart's
    fresh inference — no ``SchemaChangedError`` ever fires, so
    ``nullMissingColumns`` would stay off and the replay of pre-ALTER
    rows (legitimately missing the added column) would fail the
    dense-row contract with a non-restartable ``CDCProtocolError``.
    Comparing the inferred schema against the previous incarnation's
    closes the hole; on drift, MUTATES ``opts`` (lowercased keys) to
    enable the backfill and reloads. ``cached_null_missing`` replays a
    PERSISTED enablement from a previous supervisor process (ADVICE r9):
    once any incarnation turned the backfill on, every later incarnation
    runs with it until the operator rebuilds the cache, because the
    checkpoint may still replay pre-ALTER rows.
    """
    if cached_null_missing and not _null_missing_enabled(opts):
        opts["nullmissingcolumns"] = "true"
    df = spark.readStream.format("maxscale_cdc").options(**opts).load()
    if (
        last_schema is not None
        and df.schema != last_schema
        and not _null_missing_enabled(opts)
    ):
        opts["nullmissingcolumns"] = "true"
        df = spark.readStream.format("maxscale_cdc").options(**opts).load()
    return df


# Substrings that mark a TRANSIENT transport failure (server crash,
# network partition, listener not yet back up) as they surface inside a
# StreamingQueryException on the driver. Anything else is a real error.
CONNECTION_FAILURE_MARKERS = (
    "CDC server closed the connection",  # protocol.py read loop
    "Connection refused",
    "Connection reset",
    "Broken pipe",
    "ConnectionRefusedError",
    "ConnectionResetError",
    # A python worker dying mid-task (OOM-killed, SIGKILLed, host
    # failure) is the local-mode face of losing an executor — in
    # cluster mode Spark's own task retries absorb it, but local mode
    # runs with task maxFailures=1, so it escalates straight to query
    # death and must be retried HERE. Found by the r8 adversarial soak
    # (scripts/soak_partitioned.py): a SIGKILLed worker inside the
    # SnapshotSink's foreachBatch collect() surfaced exactly this text.
    # A worker crashing deterministically (e.g. a decode segfault)
    # retries too, but boundedly: max_restarts still caps it.
    "Python worker exited unexpectedly",
    # A server that ACCEPTS the dial but never answers the handshake
    # (wedged process, black-holed link after SYN-ACK) surfaces as the
    # protocol client's handshake-timeout error, not a ConnectionError
    # — it is transport loss all the same (r9; the reference's caller
    # owns this recovery too, cdc_connector.cpp:487-504).
    "Request timed out",
)


def is_connection_failure(exc: BaseException) -> bool:
    """True when a streaming-query failure looks like transport loss.

    Matches by exception TYPE for raw (non-query-wrapped) errors — a
    synchronous ``load()`` probe against a hung server raises a bare
    ``TimeoutError("timed out")`` whose text is too generic to pattern-
    match safely — and by marker text for failures captured inside a
    ``StreamingQueryException``.
    """
    if isinstance(exc, (ConnectionError, TimeoutError)):
        return True
    text = str(exc)
    return any(m in text for m in CONNECTION_FAILURE_MARKERS)


class _SupervisedStream:
    """One supervised stream: its reader options, its sink and its
    restart state."""

    def __init__(
        self,
        name: str,
        options: dict[str, str],
        attach_sink,
        initial_backoff: float,
        schema_cache: str | None,
    ):
        self.name = name
        # Spark reads option keys case-insensitively, so lowercasing
        # them once lets the policy touch each key under one spelling.
        self.opts = {k.lower(): v for k, v in options.items()}
        self.attach_sink = attach_sink
        self.backoff = initial_backoff
        self.restarts = 0
        self.query = None
        self.restart_at = 0.0  # when query is None: (re)start once due
        self.done = False  # terminated cleanly
        self.schema_cache = schema_cache
        self.last_schema, self.cached_nm = _read_schema_cache(schema_cache)

    def start(self, spark: SparkSession) -> None:
        df = _load_with_drift_backfill(
            spark, self.opts, self.last_schema, self.cached_nm
        )
        self.last_schema = df.schema
        # Persist the backfill enablement WITH the schema (ADVICE r9):
        # the cache must never claim the post-ALTER schema without also
        # recording that nullMissingColumns is on, or a supervisor
        # restarted in that window replays pre-ALTER rows without the
        # backfill.
        self.cached_nm = _null_missing_enabled(self.opts)
        _write_schema_cache(self.schema_cache, self.last_schema, self.cached_nm)
        self.query = self.attach_sink(df)


def _monitor(
    spark: SparkSession,
    streams: list[_SupervisedStream],
    *,
    max_restarts: int,
    initial_backoff: float,
    max_backoff: float,
    stop_when: Callable[[], bool] | None,
    timeout: float | None,
) -> dict[str, int]:
    """The one supervision loop: :func:`run_supervised`'s policy, per
    stream as :func:`run_supervised_multi` describes."""
    deadline = None if timeout is None else time.time() + timeout

    def counts() -> dict[str, int]:
        return {s.name: s.restarts for s in streams}

    def stop_all() -> None:
        for s in streams:
            if s.query is not None and s.query.isActive:
                s.query.stop()
        for s in streams:
            if s.query is not None:
                try:
                    s.query.awaitTermination(30)
                except Exception:  # noqa: BLE001 — already stopping
                    pass

    def fail(s: _SupervisedStream, exc: BaseException) -> None:
        """Schedule a restart of ``s`` after a failure, or stop every
        stream and raise when the failure is not restartable or the
        budget is spent."""
        schema_change = is_schema_change_failure(exc)
        if not schema_change and not is_connection_failure(exc):
            stop_all()
            raise exc
        if s.restarts >= max_restarts:
            stop_all()
            raise RuntimeError(
                f"stream {s.name!r} still failing after {max_restarts} restarts"
            ) from exc
        s.restarts += 1
        s.query = None
        if schema_change:
            # Re-infer the post-ALTER schema from the server; tolerate
            # replayed pre-ALTER rows missing the added columns.
            s.opts.pop("schemarecord", None)
            s.opts["nullmissingcolumns"] = "true"
            s.backoff = initial_backoff  # new incarnation, fresh budget
            s.restart_at = time.time()
        else:
            s.restart_at = time.time() + min(s.backoff, max_backoff)
            s.backoff = min(s.backoff * 2, max_backoff)

    while True:
        for s in streams:
            if s.done:
                continue
            if s.query is not None and not s.query.isActive:
                exc = s.query.exception()
                if exc is None:
                    s.done = True
                    continue
                if s.query.lastProgress is not None:
                    # The query completed a micro-batch, so the server
                    # was reachable: this loss starts a fresh backoff.
                    s.backoff = initial_backoff
                fail(s, exc)
            if s.query is None and time.time() >= s.restart_at:
                # Every (re)start goes through here, the first one too:
                # with ``schemaRecord`` unpinned (always so after a
                # schema-change restart) ``load()`` probes the server
                # for schema, so a down server fails HERE,
                # synchronously, outside any query. That is just
                # another transport loss: consume a restart and back
                # off this stream only, so a dead server affects only
                # its own stream.
                try:
                    s.start(spark)
                except Exception as exc:  # noqa: BLE001 — classified in fail()
                    fail(s, exc)
        if stop_when is not None and stop_when():
            stop_all()
            return counts()
        if all(s.done for s in streams):
            return counts()
        if deadline is not None and time.time() > deadline:
            stop_all()
            raise TimeoutError(
                f"streams did not satisfy stop_when within {timeout}s ({counts()})"
            )
        time.sleep(POLL_SECONDS)


def run_supervised(
    spark: SparkSession,
    options: dict[str, str],
    attach_sink: Callable[[DataFrame], "object"],
    *,
    max_restarts: int = 5,
    initial_backoff: float = 0.5,
    max_backoff: float = 30.0,
    stop_when: Callable[[], bool] | None = None,
    timeout: float | None = None,
    schema_cache: str | None = None,
) -> int:
    """Production supervision for a ``maxscale_cdc`` stream: restart
    across BOTH restartable failure classes —

    - mid-stream schema change → drop the pinned ``schemaRecord`` so the
      new schema is re-inferred from the server's leading schema record,
      enable ``nullMissingColumns`` (see module docstring), and re-attach
      the sink to a fresh stream at once;
    - transport loss (server crash / network partition) → exponential
      backoff (``initial_backoff`` doubling to ``max_backoff``), then
      reattach with UNCHANGED options.

    ``attach_sink(df)`` attaches the caller's sink and returns the
    started ``StreamingQuery``; it MUST set a ``checkpointLocation``, so
    every restart resumes from the committed GTID: delivery stays
    at-least-once across any number of restarts and never replays from
    before the checkpoint. Once a restarted query has completed a
    micro-batch, its next loss starts again from ``initial_backoff``; a
    query that dies inside its first batch keeps doubling. Any
    non-restartable failure re-raises immediately, as does the
    ``max_restarts + 1``-th failure.

    Returns the number of restarts performed, when ``stop_when`` (polled
    every ``POLL_SECONDS``) returns true — the query is then stopped —
    or when the query terminates cleanly. ``timeout`` (seconds) bounds
    the whole run: past it the query is stopped and ``TimeoutError``
    raised. The default, ``None``, sets no deadline, for production
    streams that run until stopped.

    ALTER-during-downtime is covered for BOTH schema modes (r9): with a
    pinned ``schemaRecord``, the next connection's leading-record
    comparison (done by both readers) raises ``SchemaChangedError`` and
    this wrapper handles it; with an un-pinned schema, the next
    restart's fresh inference absorbs the ALTER silently — detected
    here by comparing the inferred schema across restarts, which
    enables ``nullMissingColumns`` exactly as a detected schema change
    would (otherwise the replay of pre-ALTER rows, legitimately missing
    the added column, would fail the dense-row contract with a
    non-restartable ``CDCProtocolError``). Pass ``schema_cache`` (a
    file path, e.g. next to the checkpoint) to make that detection
    survive SUPERVISOR restarts too: without it the comparison state is
    process-local, and an un-pinned deployment redeployed after an
    ALTER — with the checkpoint GTID still before the ALTER boundary —
    would re-open the hole on its first replay.

    This is the one-stream case of :func:`run_supervised_multi`.
    """
    stream = _SupervisedStream(
        "stream", options, attach_sink, initial_backoff, schema_cache
    )
    return _monitor(
        spark,
        [stream],
        max_restarts=max_restarts,
        initial_backoff=initial_backoff,
        max_backoff=max_backoff,
        stop_when=stop_when,
        timeout=timeout,
    )[stream.name]


def run_supervised_multi(
    spark: SparkSession,
    tables: dict[str, dict[str, str]],
    attach_sinks: dict[str, Callable[[DataFrame], "object"]],
    *,
    max_restarts: int = 5,
    initial_backoff: float = 0.5,
    max_backoff: float = 30.0,
    stop_when: Callable[[], bool] | None = None,
    timeout: float | None = None,
    schema_cache_dir: str | None = None,
) -> dict[str, int]:
    """Supervise N tables' CDC streams into N sinks with ONE call.

    ``schema_cache_dir``: optional directory for per-stream inferred-
    schema caches (``<dir>/<name>.schema.json``) so ALTER-during-
    downtime drift detection survives supervisor restarts, per
    :func:`run_supervised`'s ``schema_cache``.

    The reference's consumer model is one session per table
    (cdc_connector.h:62-69), so its caller hand-rolls a thread-and-loop
    per table (examples/main.cpp:27-44). This is that loop done once for
    a whole database: ``tables`` maps a stream name to its reader
    options, ``attach_sinks`` maps the same name to its sink attachment
    (each MUST set its own ``checkpointLocation``, e.g. one snapshot
    store per table). All queries run concurrently on the shared
    SparkSession; one monitor polls them and applies
    :func:`run_supervised`'s per-failure policy INDEPENDENTLY per
    stream — a schema change on one table re-infers and restarts only
    that table; a dead server, at launch or later, backs off only that
    table's stream (the backoff is non-blocking: other streams keep
    being monitored while one waits). A non-restartable failure on any
    stream stops all of them and re-raises.

    Returns ``{name: restarts}`` once ``stop_when`` fires or every
    stream has terminated cleanly.
    """
    if set(tables) != set(attach_sinks):
        raise ValueError(
            f"tables and attach_sinks must share keys: {set(tables) ^ set(attach_sinks)}"
        )
    if schema_cache_dir is not None:
        os.makedirs(schema_cache_dir, exist_ok=True)

    def cache_path(name: str) -> str | None:
        if schema_cache_dir is None:
            return None
        safe = re.sub(r"[^A-Za-z0-9_.-]", "_", name)
        return os.path.join(schema_cache_dir, f"{safe}.schema.json")

    streams = [
        _SupervisedStream(
            name, opts, attach_sinks[name], initial_backoff, cache_path(name)
        )
        for name, opts in tables.items()
    ]
    return _monitor(
        spark,
        streams,
        max_restarts=max_restarts,
        initial_backoff=initial_backoff,
        max_backoff=max_backoff,
        stop_when=stop_when,
        timeout=timeout,
    )
