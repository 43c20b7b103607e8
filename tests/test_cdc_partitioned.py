"""Partition-parallel CDC reader tests (sources/cdc_partitioned.py).

Pins the scale path VERDICT r5 asked for: executor-side sockets (one
per configured stream), GTID+event_number cursor offsets, frontier-file
progress reporting, transaction-split-safe batch caps, and
checkpoint-resume — all against the fake MaxScale server speaking the
reference protocol (cdc_connector.h:62-69 resume semantics).
"""

from __future__ import annotations

import json
import os
import time

import pytest

from maxscale_cdc_connector_spark.sources.cdc_datasource import MaxScaleCDCDataSource
from maxscale_cdc_connector_spark.sources.cdc_partitioned import (
    CDCPartitionedStreamReader,
    CDCStreamPartition,
)
from maxscale_cdc_connector_spark.typemap import schema_record_to_struct
from tests.fake_maxscale import TEST_SCHEMA_RECORD, FakeMaxScale, make_event

SCHEMA = schema_record_to_struct(TEST_SCHEMA_RECORD)


def _reader(tmp_path, servers: list[FakeMaxScale], **extra: str) -> CDCPartitionedStreamReader:
    options = {
        "host": "127.0.0.1",
        "user": servers[0].user,
        "password": servers[0].password,
        "streams": json.dumps(
            [{"table": s.table, "port": s.port} for s in servers]
        ),
        "frontierdir": str(tmp_path / "frontier"),
        "pollseconds": "0.3",
    }
    options.update(extra)
    return CDCPartitionedStreamReader(SCHEMA, options)


def _rows(reader: CDCPartitionedStreamReader, part) -> list[tuple]:
    """Flatten the reader's Arrow RecordBatches into row tuples."""
    out: list[tuple] = []
    for batch in reader.read(part):
        out.extend(tuple(d.values()) for d in batch.to_pylist())
    return out


def _drain(reader: CDCPartitionedStreamReader, start: dict) -> tuple[list[tuple], dict]:
    """One planned micro-batch: latestOffset → partitions → read all."""
    end = reader.latestOffset()
    rows: list[tuple] = []
    for part in reader.partitions(start, end):
        rows.extend(_rows(reader, part))
    return rows, end


def test_offsets_and_two_stream_partitions(tmp_path) -> None:
    ev1 = [make_event(s) for s in (1, 2)]
    ev2 = [make_event(s) for s in (101, 102, 103)]
    with (
        FakeMaxScale(TEST_SCHEMA_RECORD, ev1, table="test.s1") as s1,
        FakeMaxScale(TEST_SCHEMA_RECORD, ev2, table="test.s2") as s2,
    ):
        reader = _reader(tmp_path, [s1, s2])
        start = reader.initialOffset()
        assert set(start["streams"]) == {"test.s1", "test.s2"}
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
        assert len(parts) == 2  # one executor socket per stream
        by_table = {p.config["table"]: _rows(reader, p) for p in parts}
        assert len(by_table["test.s1"]) == 2
        assert len(by_table["test.s2"]) == 3
        # Completed reads reported their frontier for the next fold.
        nxt = reader.latestOffset()
        assert nxt["streams"]["test.s1"] == {"gtid": "0-3000-2", "evn": 1}
        assert nxt["streams"]["test.s2"] == {"gtid": "0-3000-103", "evn": 1}
        # Same-epoch planning is an empty batch.
        assert reader.partitions(end, end) == []


def test_batch_cap_splits_transaction_without_loss_or_dup(tmp_path) -> None:
    # seq 2 is a two-event transaction (update_before/update_after); a
    # cap of 2 lands the batch boundary between its events. The cursor
    # carries event_number, so the next batch resumes mid-transaction.
    events = [
        make_event(1),
        make_event(2, event_type="update_before", event_number=1),
        make_event(2, event_type="update_after", event_number=2),
        make_event(3),
    ]
    with FakeMaxScale(TEST_SCHEMA_RECORD, events, table="test.s1") as srv:
        reader = _reader(tmp_path, [srv], maxrecordsperbatch="2")
        rows1, end1 = _drain(reader, reader.initialOffset())
        assert [(r[2], r[3]) for r in rows1] == [(1, 1), (2, 1)]  # (sequence, evn)
        rows2, end2 = _drain(reader, end1)
        assert [(r[2], r[3]) for r in rows2] == [(2, 2), (3, 1)]
        rows3, _ = _drain(reader, end2)
        assert rows3 == []  # nothing re-delivered once drained


def test_resume_replays_from_configured_gtid_inclusive(tmp_path) -> None:
    events = [make_event(s) for s in (1, 2, 3)]
    with FakeMaxScale(TEST_SCHEMA_RECORD, events, table="test.s1") as srv:
        reader = _reader(tmp_path, [srv], gtid="0-3000-2")
        rows, _ = _drain(reader, reader.initialOffset())
        # Inclusive replay of the requested GTID (cdc_connector.h:62-69).
        assert [r[2] for r in rows] == [2, 3]


def test_lost_frontier_falls_back_to_checkpointed_start(tmp_path) -> None:
    events = [make_event(s) for s in (1, 2, 3)]
    with FakeMaxScale(TEST_SCHEMA_RECORD, events, table="test.s1") as srv:
        reader = _reader(tmp_path, [srv])
        rows1, _ = _drain(reader, reader.initialOffset())
        assert len(rows1) == 3
        # The next planned offset folds the frontier in — this is what
        # the checkpoint WAL would hold as the committed position.
        committed = reader.latestOffset()
        assert committed["streams"]["test.s1"] == {"gtid": "0-3000-3", "evn": 1}
        # Simulate a wiped frontier dir (e.g. moved checkpoint host).
        for f in os.listdir(tmp_path / "frontier"):
            os.unlink(tmp_path / "frontier" / f)
        # The committed offset (start) now outranks the folded frontier:
        # resume replays from the checkpoint — at-least-once, no gap, and
        # the delivered cursor (evn) drops the already-delivered tail.
        end2 = reader.latestOffset()
        parts = reader.partitions(committed, end2)
        (part,) = parts
        assert (part.gtid, part.evn) == ("0-3000-3", 1)
        assert _rows(reader, part) == []


def test_streaming_two_shards_end_to_end(spark, tmp_path) -> None:
    ev1 = [make_event(s, name=f"a{s}") for s in range(1, 16)]
    ev2 = [make_event(s, name=f"b{s}") for s in range(101, 116)]
    with (
        FakeMaxScale(TEST_SCHEMA_RECORD, ev1, table="test.s1") as s1,
        FakeMaxScale(TEST_SCHEMA_RECORD, ev2, table="test.s2") as s2,
    ):
        spark.dataSource.register(MaxScaleCDCDataSource)
        df = (
            spark.readStream.format("maxscale_cdc")
            .option("host", "127.0.0.1")
            .option("user", s1.user)
            .option("password", s1.password)
            .option(
                "streams",
                json.dumps([
                    {"table": s1.table, "port": s1.port},
                    {"table": s2.table, "port": s2.port},
                ]),
            )
            .option("frontierDir", str(tmp_path / "frontier"))
            .option("schemaRecord", json.dumps(TEST_SCHEMA_RECORD))
            .option("pollseconds", "0.3")
            .load()
        )
        assert df.schema == SCHEMA
        query = (
            df.writeStream.format("memory")
            .queryName("cdc_part_e2e")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 90
            while time.time() < deadline:
                if spark.sql("SELECT count(*) c FROM cdc_part_e2e").first()["c"] >= 30:
                    break
                time.sleep(0.5)
            out = spark.sql(
                "SELECT sequence, name FROM cdc_part_e2e ORDER BY sequence"
            ).collect()
            assert len(out) == 30  # both shards, nothing lost or doubled
            assert {r["name"] for r in out[:15]} == {f"a{s}" for s in range(1, 16)}
            assert {r["name"] for r in out[15:]} == {f"b{s}" for s in range(101, 116)}
        finally:
            query.stop()


def test_streaming_checkpoint_resume_across_queries(spark, tmp_path) -> None:
    ev1 = [make_event(s, name=f"a{s}") for s in range(1, 6)]
    ev2 = [make_event(s, name=f"b{s}") for s in range(101, 106)]
    with (
        FakeMaxScale(TEST_SCHEMA_RECORD, ev1, table="test.s1") as s1,
        FakeMaxScale(TEST_SCHEMA_RECORD, ev2, table="test.s2") as s2,
    ):
        spark.dataSource.register(MaxScaleCDCDataSource)

        def load():
            return (
                spark.readStream.format("maxscale_cdc")
                .option("host", "127.0.0.1")
                .option("user", s1.user)
                .option("password", s1.password)
                .option(
                    "streams",
                    json.dumps([
                        {"table": s1.table, "port": s1.port},
                        {"table": s2.table, "port": s2.port},
                    ]),
                )
                .option("frontierDir", str(tmp_path / "frontier"))
                .option("schemaRecord", json.dumps(TEST_SCHEMA_RECORD))
                .option("pollseconds", "0.3")
                .load()
            )

        def run(sink: list[str], want: set[str]) -> None:
            def collect_batch(batch, _bid):
                sink.extend(r["name"] for r in batch.select("name").collect())

            q = (
                load()
                .writeStream.foreachBatch(collect_batch)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(processingTime="300 milliseconds")
                .start()
            )
            try:
                deadline = time.time() + 90
                while time.time() < deadline and not want <= set(sink):
                    time.sleep(0.3)
                # Let the delivering batch commit so the stop is clean and
                # the next incarnation resumes past it.
                time.sleep(1.5)
            finally:
                q.stop()

        first: list[str] = []
        run(first, {f"a{s}" for s in range(1, 6)} | {f"b{s}" for s in range(101, 106)})
        assert set(first) == {f"a{s}" for s in range(1, 6)} | {
            f"b{s}" for s in range(101, 106)
        }
        s1.push_event(make_event(6, name="a6"))
        s2.push_event(make_event(106, name="b106"))
        second: list[str] = []
        run(second, {"a6", "b106"})
        # Only the new events — the checkpointed cursor skipped
        # everything the first query delivered.
        assert set(second) == {"a6", "b106"}


def test_partitioned_schema_change_restart(spark, tmp_path) -> None:
    """A mid-stream ALTER must survive the executor boundary: the
    SchemaChangedError is raised inside an executor task, and its
    marker text must still reach the StreamingQueryException so run_supervised
    re-infers the widened schema and resumes from the checkpoint."""
    import threading

    from maxscale_cdc_connector_spark.streaming.restart import run_supervised

    new_schema = dict(TEST_SCHEMA_RECORD)
    new_schema["fields"] = TEST_SCHEMA_RECORD["fields"] + [
        {"name": "extra", "type": "string", "real_type": "varchar", "length": 10}
    ]
    first = [make_event(s, name=f"pre{s}") for s in range(1, 6)]
    rows: list[dict] = []

    def seqs() -> set[int]:
        return {r["sequence"] for r in list(rows)}

    with FakeMaxScale(TEST_SCHEMA_RECORD, first, table="test.s1") as srv:
        spark.dataSource.register(MaxScaleCDCDataSource)

        def attach_sink(df):
            def collect_batch(batch, _bid):
                rows.extend(r.asDict() for r in batch.collect())

            return (
                df.writeStream.foreachBatch(collect_batch)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(processingTime="300 milliseconds")
                .start()
            )

        def stop_when() -> bool:
            snapshot = list(rows)
            return set(range(1, 11)) <= {r["sequence"] for r in snapshot} and any(
                r.get("extra") == "post10" for r in snapshot
            )

        result: dict = {}

        def run() -> None:
            result["restarts"] = run_supervised(
                spark,
                {
                    "host": "127.0.0.1",
                    "user": srv.user,
                    "password": srv.password,
                    "streams": json.dumps([{"table": srv.table, "port": srv.port}]),
                    "frontierDir": str(tmp_path / "frontier"),
                    "pollseconds": "0.3",
                },
                attach_sink,
                stop_when=stop_when,
                timeout=90.0,
            )

        t = threading.Thread(target=run, daemon=True)
        t.start()
        deadline = time.time() + 45
        while time.time() < deadline and not set(range(1, 6)) <= seqs():
            time.sleep(0.2)
        assert set(range(1, 6)) <= seqs(), "pre-ALTER rows never arrived"

        srv.push_schema_change(new_schema)
        for s in range(6, 11):
            ev = make_event(s, name=f"post{s}")
            ev["extra"] = f"post{s}"
            srv.push_event(ev)

        t.join(timeout=90)
        assert not t.is_alive(), "wrapper did not stop"

    assert result["restarts"] == 1
    assert set(range(1, 11)) <= seqs()  # no loss across the ALTER
    post = {r["sequence"]: r for r in rows if r.get("extra") is not None}
    assert {s: post[s]["extra"] for s in range(6, 11)} == {
        s: f"post{s}" for s in range(6, 11)
    }
    # Replayed pre-ALTER rows under the widened schema are NULL-filled.
    for r in rows:
        if "extra" in r and r["sequence"] < 6:
            assert r["extra"] is None


# ---------------------------------------------------------------------------
# Columnar fast-path semantics: the pyarrow.json batch decode must keep
# the EXACT error contract of the per-record path.
# ---------------------------------------------------------------------------


def _blob_server(lines: list[bytes]):
    from bench import _BlobCDCServer

    schema_line = (json.dumps(TEST_SCHEMA_RECORD) + "\n").encode()
    return _BlobCDCServer(schema_line, b"".join(ln + b"\n" for ln in lines), "u", "p")


def _blob_reader(tmp_path, port: int, **extra: str) -> CDCPartitionedStreamReader:
    options = {
        "host": "127.0.0.1",
        "user": "u",
        "password": "p",
        "streams": json.dumps([{"table": "test.t1", "port": port}]),
        "frontierdir": str(tmp_path / "frontier"),
        "pollseconds": "0.3",
    }
    options.update(extra)
    return CDCPartitionedStreamReader(SCHEMA, options)


def _wire(seq: int, **over) -> bytes:
    rec = make_event(seq)
    rec.update(over)
    for k in [k for k, v in over.items() if v is _DROP]:
        del rec[k]
    return json.dumps(rec).encode()


_DROP = object()


def test_fast_path_malformed_line_raises_protocol_error(tmp_path) -> None:
    import pytest

    from maxscale_cdc_connector_spark.sources.protocol import CDCProtocolError

    srv = _blob_server([_wire(1), b'{"broken', _wire(2)])
    try:
        reader = _blob_reader(tmp_path, srv.port)
        with pytest.raises(CDCProtocolError, match="malformed CDC event line"):
            _drain(reader, reader.initialOffset())
    finally:
        srv.stop()


def test_fast_path_missing_key_enforces_dense_contract(tmp_path) -> None:
    import pytest

    from maxscale_cdc_connector_spark.sources.protocol import CDCProtocolError

    srv = _blob_server([_wire(1), _wire(2, name=_DROP)])
    try:
        reader = _blob_reader(tmp_path, srv.port)
        with pytest.raises(CDCProtocolError, match="No value for key found: name"):
            _drain(reader, reader.initialOffset())
    finally:
        srv.stop()


def test_fast_path_true_null_is_none_not_error(tmp_path) -> None:
    srv = _blob_server([_wire(1, name=None), _wire(2)])
    try:
        reader = _blob_reader(tmp_path, srv.port)
        rows, _ = _drain(reader, reader.initialOffset())
        assert len(rows) == 2
        assert rows[0][7] is None  # name column: JSON null → SQL NULL
        assert rows[1][7] == "row"
    finally:
        srv.stop()


def test_fast_path_null_missing_backfills_after_restart(tmp_path) -> None:
    # The schema-change restart incarnation runs with nullMissingColumns:
    # a replayed pre-ALTER record lacking a column must NULL-fill.
    srv = _blob_server([_wire(1, name=_DROP)])
    try:
        reader = _blob_reader(tmp_path, srv.port, nullmissingcolumns="true")
        rows, _ = _drain(reader, reader.initialOffset())
        assert len(rows) == 1
        assert rows[0][7] is None
    finally:
        srv.stop()


def test_initial_offset_clears_stale_frontier(tmp_path) -> None:
    # Deleting a checkpoint does NOT delete a separately-configured
    # frontierDir. initialOffset() is invoked only for a fresh
    # checkpoint, where any surviving frontier file is definitionally
    # stale — folding it would resume the first batch PAST the
    # configured gtid and silently skip data (ADVICE r6).
    events = [make_event(s) for s in (1, 2, 3)]
    with FakeMaxScale(TEST_SCHEMA_RECORD, events, table="test.s1") as srv:
        fdir = tmp_path / "frontier"
        fdir.mkdir()
        stale = fdir / "test.s1.frontier.json"
        stale.write_text(json.dumps({"gtid": "0-3000-3", "evn": 1}))
        reader = _reader(tmp_path, [srv])
        start = reader.initialOffset()
        assert not stale.exists(), "stale frontier must be cleared"
        rows, _ = _drain(reader, start)
        assert [r[2] for r in rows] == [1, 2, 3]  # nothing skipped


def test_null_envelope_raises_even_with_null_missing(tmp_path) -> None:
    # nullMissingColumns relaxes TABLE columns only: the avrorouter
    # stamps domain/server_id/sequence/event_number on every event, so a
    # null envelope value is a malformed stream. Without this check the
    # fast path's cursor filter silently dropped such rows while the
    # per-record path kept them (ADVICE r6) — now both raise.
    import pytest

    from maxscale_cdc_connector_spark.sources.protocol import CDCProtocolError

    srv = _blob_server([_wire(1), _wire(2, event_number=None)])
    try:
        reader = _blob_reader(tmp_path, srv.port, nullmissingcolumns="true")
        with pytest.raises(CDCProtocolError, match="event_number"):
            _drain(reader, reader.initialOffset())
    finally:
        srv.stop()


def test_missing_envelope_raises_even_with_null_missing(tmp_path) -> None:
    import pytest

    from maxscale_cdc_connector_spark.sources.protocol import CDCProtocolError

    srv = _blob_server([_wire(1), _wire(2, sequence=_DROP)])
    try:
        reader = _blob_reader(tmp_path, srv.port, nullmissingcolumns="true")
        with pytest.raises(CDCProtocolError, match="sequence"):
            _drain(reader, reader.initialOffset())
    finally:
        srv.stop()


_NO_ENVELOPE_SCHEMA_RECORD = {
    **TEST_SCHEMA_RECORD,
    "fields": [
        f
        for f in TEST_SCHEMA_RECORD["fields"]
        if f["name"] not in ("domain", "server_id", "sequence", "event_number")
    ],
}


def _no_envelope_server(lines: list[bytes]):
    """Server announcing a schema WITHOUT envelope columns (not a real
    avrorouter stream) — the only way fast_ok=False is reachable, since
    the live-schema check rejects a query schema narrower than the
    server's. The WIRE records still carry the envelope keys: cursor
    and frontier math always run off the wire, never the query schema."""
    from bench import _BlobCDCServer

    schema_line = (json.dumps(_NO_ENVELOPE_SCHEMA_RECORD) + "\n").encode()
    return _BlobCDCServer(schema_line, b"".join(ln + b"\n" for ln in lines), "u", "p")


def _no_envelope_reader(tmp_path, port: int, **extra: str) -> CDCPartitionedStreamReader:
    """Reader whose QUERY schema omits the envelope columns, forcing the
    per-record (fast_ok=False) decode path."""
    schema = schema_record_to_struct(_NO_ENVELOPE_SCHEMA_RECORD)
    options = {
        "host": "127.0.0.1",
        "user": "u",
        "password": "p",
        "streams": json.dumps([{"table": "test.t1", "port": port}]),
        "frontierdir": str(tmp_path / "frontier"),
        "pollseconds": "0.3",
    }
    options.update(extra)
    return CDCPartitionedStreamReader(schema, options)


def test_envelope_free_schema_still_decodes_and_tracks_frontier(tmp_path) -> None:
    # Positive control for the fast_ok=False path: the query schema may
    # omit envelope columns, but cursor/frontier math still runs off the
    # wire record's envelope.
    srv = _no_envelope_server([_wire(1), _wire(2), _wire(3)])
    try:
        reader = _no_envelope_reader(tmp_path, srv.port)
        rows, _ = _drain(reader, reader.initialOffset())
        assert len(rows) == 3
        frontier = json.loads(
            (tmp_path / "frontier" / "test.t1.frontier.json").read_text()
        )
        assert frontier["gtid"].endswith("-3")
    finally:
        srv.stop()


def test_envelope_free_schema_missing_event_number_raises(tmp_path) -> None:
    # VERDICT r7 item 2: the envelope-free (fast_ok=False) loop used to
    # default a missing event_number to 1 while fast_decode/slow_decode
    # raise — a wire record decoded differently depending on which path
    # the query schema selected. All three paths now raise identically.
    import pytest

    from maxscale_cdc_connector_spark.sources.protocol import CDCProtocolError

    srv = _no_envelope_server([_wire(1), _wire(2, event_number=_DROP)])
    try:
        reader = _no_envelope_reader(tmp_path, srv.port)
        with pytest.raises(CDCProtocolError, match="event_number"):
            _drain(reader, reader.initialOffset())
    finally:
        srv.stop()


def test_envelope_free_schema_null_envelope_raises(tmp_path) -> None:
    import pytest

    from maxscale_cdc_connector_spark.sources.protocol import CDCProtocolError

    srv = _no_envelope_server([_wire(1), _wire(2, domain=None)])
    try:
        reader = _no_envelope_reader(tmp_path, srv.port)
        with pytest.raises(CDCProtocolError, match="domain"):
            _drain(reader, reader.initialOffset())
    finally:
        srv.stop()


def test_steady_trickle_commits_batches(spark, tmp_path) -> None:
    """A continuous trickle arriving FASTER than pollSeconds never hits
    the idle timeout, and a 100k record cap is hours away at low rates —
    without a wall-clock bound the FIRST micro-batch stays open forever
    and nothing ever commits (r7 soak finding). maxBatchSeconds closes
    batches under load; delivered rows advance the frontier, so the
    stream makes progress with no loss and no duplicates."""
    import threading

    srv = FakeMaxScale(TEST_SCHEMA_RECORD, [make_event(1)], table="test.t1")
    srv.__enter__()
    stop = threading.Event()

    def pusher() -> None:
        s = 2
        while not stop.is_set():
            srv.push_event(make_event(s))
            s += 1
            time.sleep(0.05)  # gaps far below pollSeconds: never idle

    push = threading.Thread(target=pusher, daemon=True)
    push.start()
    try:
        spark.dataSource.register(MaxScaleCDCDataSource)
        df = (
            spark.readStream.format("maxscale_cdc")
            .option("host", "127.0.0.1")
            .option("user", srv.user)
            .option("password", srv.password)
            .option("streams", json.dumps([{"table": "test.t1", "port": srv.port}]))
            .option("frontierDir", str(tmp_path / "frontier"))
            .option("schemaRecord", json.dumps(TEST_SCHEMA_RECORD))
            .option("pollseconds", "0.5")
            .option("maxbatchseconds", "1")
            .load()
        )
        q = (
            df.writeStream.format("memory")
            .queryName("trickle_part")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            count = 0
            while time.time() < deadline and count < 30:
                time.sleep(1.0)
                count = spark.sql("SELECT count(*) c FROM trickle_part").first()["c"]
            assert count >= 30, "trickle never committed — batch held open"
            dups = spark.sql(
                "SELECT count(*) c FROM (SELECT sequence, event_number, count(*) n "
                "FROM trickle_part GROUP BY 1, 2 HAVING n > 1)"
            ).first()["c"]
            assert dups == 0, "duplicate delivery within a healthy run"
        finally:
            q.stop()
    finally:
        stop.set()
        srv.stop()


def test_foreign_run_id_frontier_is_ignored(tmp_path) -> None:
    """Frontier files are stamped with the reader incarnation's run id:
    a zombie task from a PREVIOUS query writing after initialOffset()'s
    clear must not advance a fresh query's resume cursor — a foreign
    stamp reads as absent, so the stream replays from the configured
    gtid (re-delivery at worst, never skip)."""
    events = [make_event(s) for s in (1, 2, 3)]
    with FakeMaxScale(TEST_SCHEMA_RECORD, events, table="test.s1") as srv:
        reader = _reader(tmp_path, [srv])
        start = reader.initialOffset()
        zombie = tmp_path / "frontier" / "test.s1.frontier.json"
        zombie.write_text(
            json.dumps({"gtid": "0-3000-3", "evn": 1, "run_id": "deadbeef"})
        )
        rows, _ = _drain(reader, start)
        assert [r[2] for r in rows] == [1, 2, 3]  # nothing skipped
        # This incarnation's OWN frontier (written by the read above)
        # still folds normally.
        nxt = reader.latestOffset()
        assert nxt["streams"]["test.s1"] == {"gtid": "0-3000-3", "evn": 1}


# ---------------------------------------------------------------------------
# Multi-server source discriminator (VERDICT r8 item 5): two servers
# sharing (domain, server_id, sequence) ranges must not collide in one
# sink — envelope identity is unique only within one GTID space.
# ---------------------------------------------------------------------------

SCHEMA_WITH_SOURCE = schema_record_to_struct(TEST_SCHEMA_RECORD).add(
    "_source_id", "string"
)


def test_source_id_stamps_column_and_separates_cursors(tmp_path) -> None:
    """Reader-level: two streams with the SAME table name and the SAME
    GTID triples get distinct stream identities (separate frontier
    cursors) and every delivered row carries its stream's sourceId."""
    ev_a = [make_event(s, id_=s, name=f"a{s}") for s in (1, 2, 3)]
    ev_b = [make_event(s, id_=100 + s, name=f"b{s}") for s in (1, 2, 3)]
    with (
        FakeMaxScale(TEST_SCHEMA_RECORD, ev_a, table="test.t") as sa,
        FakeMaxScale(TEST_SCHEMA_RECORD, ev_b, table="test.t") as sb,
    ):
        options = {
            "host": "127.0.0.1",
            "user": sa.user,
            "password": sa.password,
            "streams": json.dumps([
                {"table": "test.t", "port": sa.port, "sourceId": "A"},
                {"table": "test.t", "port": sb.port, "sourceId": "B"},
            ]),
            "frontierdir": str(tmp_path / "frontier"),
            "pollseconds": "0.3",
        }
        reader = CDCPartitionedStreamReader(SCHEMA_WITH_SOURCE, options)
        start = reader.initialOffset()
        # Same table name, two streams: identity includes the source id.
        assert set(start["streams"]) == {"A::test.t", "B::test.t"}
        rows, end = _drain(reader, start)
        assert len(rows) == 6  # identical envelopes, nothing collapsed
        # _source_id is the last schema column; name is second-to-last
        # payload position per TEST_SCHEMA_RECORD ordering.
        by_src: dict[str, set] = {"A": set(), "B": set()}
        for r in rows:
            by_src[r[-1]].add(r[2])  # sequence per source
        assert by_src == {"A": {1, 2, 3}, "B": {1, 2, 3}}
        # Both cursors advanced independently to the same GTID.
        nxt = reader.latestOffset()
        assert nxt["streams"]["A::test.t"] == {"gtid": "0-3000-3", "evn": 1}
        assert nxt["streams"]["B::test.t"] == {"gtid": "0-3000-3", "evn": 1}


def test_source_id_all_or_nothing_validation(tmp_path) -> None:
    import pytest

    options = {
        "streams": json.dumps([
            {"table": "test.t1", "sourceId": "A"},
            {"table": "test.t2"},
        ]),
        "frontierdir": str(tmp_path / "frontier"),
    }
    with pytest.raises(ValueError, match="ALL streams or none"):
        CDCPartitionedStreamReader(SCHEMA_WITH_SOURCE, options)
    # sourceId set but schema lacks the discriminator column.
    options2 = {
        "streams": json.dumps([{"table": "test.t1", "sourceId": "A"}]),
        "frontierdir": str(tmp_path / "frontier"),
    }
    with pytest.raises(ValueError, match="_source_id"):
        CDCPartitionedStreamReader(SCHEMA, options2)
    # _source_id present but not LAST: stamp() appends the column last,
    # so a mid-schema placement would silently transpose columns.
    from pyspark.sql import types as T

    mid = T.StructType(
        [SCHEMA_WITH_SOURCE.fields[-1], *SCHEMA.fields]  # _source_id first
    )
    with pytest.raises(ValueError, match="LAST"):
        CDCPartitionedStreamReader(mid, options2)
    # Empty-string sourceId: contradictory between schema inference
    # (truthiness) and the reader (is-not-None) — rejected outright.
    options3 = {
        "streams": json.dumps([{"table": "test.t1", "sourceId": ""}]),
        "frontierdir": str(tmp_path / "frontier"),
    }
    with pytest.raises(ValueError, match="non-empty"):
        CDCPartitionedStreamReader(SCHEMA_WITH_SOURCE, options3)


def test_table_option_with_source_id_stamps_column(tmp_path) -> None:
    """``table=`` is the one-stream case of the same reader, so a global
    ``sourceId`` stamps ``_source_id`` there too."""
    with FakeMaxScale(TEST_SCHEMA_RECORD, [make_event(1), make_event(2)]) as srv:
        ds = MaxScaleCDCDataSource(
            options={
                "host": "127.0.0.1",
                "port": str(srv.port),
                "user": srv.user,
                "password": srv.password,
                "table": srv.table,
                "sourceid": "A",
                "frontierdir": str(tmp_path / "frontier"),
                "pollseconds": "0.3",
            }
        )
        schema = ds.schema()
        assert schema == SCHEMA_WITH_SOURCE
        reader = ds.streamReader(schema)
        start = reader.initialOffset()
        assert set(start["streams"]) == {f"A::{srv.table}"}
        rows, _ = _drain(reader, start)
        assert [(r[2], r[-1]) for r in rows] == [(1, "A"), (2, "A")]


def test_default_frontier_dir_created_used_and_removed_on_stop(tmp_path) -> None:
    """Without ``frontierDir`` the reader reports frontiers into a private
    temporary dir, made on first use and removed by ``stop()``."""
    events = [make_event(s) for s in (1, 2, 3)]
    with FakeMaxScale(TEST_SCHEMA_RECORD, events, table="test.s1") as srv:
        options = {
            "host": "127.0.0.1",
            "user": srv.user,
            "password": srv.password,
            "streams": json.dumps([{"table": srv.table, "port": srv.port}]),
            "pollseconds": "0.3",
        }
        reader = CDCPartitionedStreamReader(SCHEMA, options)
        # Spark also builds a reader only to ship read() to executors;
        # construction alone must leave no dir behind.
        assert reader._frontier_dir is None
        start = reader.initialOffset()
        (part,) = reader.partitions(start, reader.latestOffset())
        fdir = os.path.dirname(part.frontier_path)
        assert os.path.isdir(fdir)
        assert len(_rows(reader, part)) == 3
        assert os.listdir(fdir) == ["test.s1.frontier.json"]
        assert reader.latestOffset()["streams"]["test.s1"] == {
            "gtid": "0-3000-3",
            "evn": 1,
        }
        reader.stop()
        assert not os.path.exists(fdir)


def test_default_frontier_dir_sweeps_dirs_of_dead_processes() -> None:
    """Spark stops a stream's planner process with SIGTERM, so ``stop()``
    may never run; a new default dir removes the default dirs whose
    creating process is gone and keeps those of live processes."""
    import subprocess
    import tempfile

    from maxscale_cdc_connector_spark.sources.cdc_partitioned import (
        _default_frontier_dir,
    )

    gone = subprocess.Popen(["true"])
    gone.wait()
    dead = tempfile.mkdtemp(prefix=f"maxscale-cdc-frontier-{gone.pid}-")
    live = tempfile.mkdtemp(prefix=f"maxscale-cdc-frontier-{os.getpid()}-")
    fresh = _default_frontier_dir()
    try:
        assert not os.path.exists(dead)
        assert os.path.isdir(live) and os.path.isdir(fresh)
    finally:
        os.rmdir(live)
        os.rmdir(fresh)


def test_legacy_table_checkpoint_offset_replays_from_configured_gtid(tmp_path) -> None:
    """A checkpoint written by the old driver-side ``table=`` reader holds
    ``{"gtid": g}``; the reader does not read it and resumes from the
    configured ``gtid`` — a replay, still at-least-once."""
    events = [make_event(s) for s in (1, 2, 3)]
    with FakeMaxScale(TEST_SCHEMA_RECORD, events, table="test.s1") as srv:
        reader = _reader(tmp_path, [srv], gtid="0-3000-2")
        (part,) = reader.partitions({"gtid": "0-3000-3"}, reader.latestOffset())
        assert (part.gtid, part.evn) == ("0-3000-2", -1)
        assert [r[2] for r in _rows(reader, part)] == [2, 3]


def test_data_source_schema_appends_source_id(tmp_path) -> None:
    """MaxScaleCDCDataSource.schema() appends the discriminator column
    when sourceId is configured, so inferred-schema users get it free."""
    from pyspark.sql import types as T

    ds = MaxScaleCDCDataSource(
        options={
            "schemarecord": json.dumps(TEST_SCHEMA_RECORD),
            "streams": json.dumps([{"table": "test.t", "sourceId": "A"}]),
        }
    )
    assert ds.schema().fields[-1] == T.StructField("_source_id", T.StringType())
    # Without sourceId the schema is unchanged.
    ds2 = MaxScaleCDCDataSource(
        options={
            "schemarecord": json.dumps(TEST_SCHEMA_RECORD),
            "streams": json.dumps([{"table": "test.t"}]),
        }
    )
    assert ds2.schema() == SCHEMA


def test_two_same_gtid_space_servers_do_not_collide_in_one_sink(
    spark, tmp_path
) -> None:
    """End-to-end (VERDICT r8 item 5 'done' criterion): two fake servers
    emitting IDENTICAL (domain, server_id, sequence, event_number)
    envelopes for DIFFERENT rows stream through one partitioned query
    into one SnapshotSink. The rows have distinct keys, so the sink's
    per-key merge keeps every one of them: it never collapses rows by
    envelope identity, and the stamped _source_id tells the servers
    apart in the state."""
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    n = 10
    ev_a = [make_event(s, id_=s, name=f"a{s}") for s in range(1, n + 1)]
    ev_b = [make_event(s, id_=100 + s, name=f"b{s}") for s in range(1, n + 1)]
    with (
        FakeMaxScale(TEST_SCHEMA_RECORD, ev_a, table="test.t") as sa,
        FakeMaxScale(TEST_SCHEMA_RECORD, ev_b, table="test.t") as sb,
    ):
        spark.dataSource.register(MaxScaleCDCDataSource)
        df = (
            spark.readStream.format("maxscale_cdc")
            .option("host", "127.0.0.1")
            .option("user", sa.user)
            .option("password", sa.password)
            .option(
                "streams",
                json.dumps([
                    {"table": "test.t", "port": sa.port, "sourceId": "A"},
                    {"table": "test.t", "port": sb.port, "sourceId": "B"},
                ]),
            )
            .option("frontierDir", str(tmp_path / "frontier"))
            .option("schemaRecord", json.dumps(TEST_SCHEMA_RECORD))
            .option("pollseconds", "0.3")
            .load()
        )
        assert df.schema == SCHEMA_WITH_SOURCE
        sink = SnapshotSink(str(tmp_path / "state"), ["id"], n_buckets=4)
        query = (
            df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 90
            count = 0
            while time.time() < deadline:
                try:
                    count = sink.snapshot(spark).count()
                except FileNotFoundError:
                    count = 0
                if count >= 2 * n:
                    break
                time.sleep(0.5)
            snap = sink.snapshot(spark)
            assert snap.count() == 2 * n, (
                f"colliding-envelope rows were collapsed: {count} of {2 * n}"
            )
            got = {(r["_source_id"], r["name"]) for r in snap.collect()}
            assert got == {("A", f"a{s}") for s in range(1, n + 1)} | {
                ("B", f"b{s}") for s in range(1, n + 1)
            }
        finally:
            query.stop()


def test_active_active_conflicting_writes_reconcile_lww(spark, tmp_path) -> None:
    """End-to-end (VERDICT r9 item 5): two servers UPDATE THE SAME KEYS
    — the true active-active conflict, beyond r9's distinct-row
    collision test above. The sink applies the documented cross-source
    last-writer-wins order (timestamp, _source_id, sequence,
    event_number) — the same total order cdc_multi_source_reconcile
    uses in batch — and the end state is asserted exactly:

    - key 1: A's update is LATER            → A wins
    - key 2: B's update is LATER            → B wins
    - key 3: exact timestamp TIE            → _source_id breaks it (B>A)
    - key 4: only A ever wrote it           → A wins trivially
    The servers also share a GTID space (identical envelopes), so only
    an order that includes _source_id tells the conflicting halves
    apart."""
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    T = 1_700_000_000

    def ev(seq, id_, name, ts, event_type="insert"):
        e = make_event(seq, event_type=event_type, id_=id_, name=name)
        e["timestamp"] = ts
        return e

    ev_a = [
        ev(1, 1, "a1-old", T + 1),
        ev(2, 2, "a2-old", T + 1),
        ev(3, 3, "a3-tie", T + 7),
        ev(4, 4, "a4-only", T + 2),
        ev(5, 1, "a1-final", T + 10, "update_after"),  # beats B's T+5
        ev(6, 2, "a2-stale", T + 5, "update_after"),   # loses to B's T+10
    ]
    ev_b = [
        ev(1, 1, "b1-stale", T + 5, "update_after"),
        ev(2, 2, "b2-final", T + 10, "update_after"),
        ev(3, 3, "b3-tie", T + 7, "update_after"),     # tie → B wins (B > A)
    ]
    expect = {
        (1, "a1-final", "A"),
        (2, "b2-final", "B"),
        (3, "b3-tie", "B"),
        (4, "a4-only", "A"),
    }
    with (
        FakeMaxScale(TEST_SCHEMA_RECORD, ev_a, table="test.t") as sa,
        FakeMaxScale(TEST_SCHEMA_RECORD, ev_b, table="test.t") as sb,
    ):
        spark.dataSource.register(MaxScaleCDCDataSource)
        df = (
            spark.readStream.format("maxscale_cdc")
            .option("host", "127.0.0.1")
            .option("user", sa.user)
            .option("password", sa.password)
            .option(
                "streams",
                json.dumps([
                    {"table": "test.t", "port": sa.port, "sourceId": "A"},
                    {"table": "test.t", "port": sb.port, "sourceId": "B"},
                ]),
            )
            .option("frontierDir", str(tmp_path / "frontier"))
            .option("schemaRecord", json.dumps(TEST_SCHEMA_RECORD))
            .option("pollseconds", "0.3")
            .load()
        )
        sink = SnapshotSink(
            str(tmp_path / "state"),
            ["id"],
            n_buckets=4,
            order_cols=("timestamp", "_source_id", "sequence", "event_number"),
        )
        query = (
            df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 90
            got: set = set()
            while time.time() < deadline:
                try:
                    got = {
                        (r["id"], r["name"], r["_source_id"])
                        for r in sink.snapshot(spark).collect()
                    }
                except FileNotFoundError:
                    got = set()
                if got == expect:
                    break
                time.sleep(0.5)
            assert got == expect, f"reconciled state diverged: {got}"
        finally:
            query.stop()
    # Restarting on the live state with a DIFFERENT ordering is refused
    # (manifest pin): silently changing merge identity corrupts reconciliation.
    import pytest as _pytest
    from pyspark.sql import functions as F

    batch = spark.createDataFrame(
        [tuple(e.values()) for e in ev_a], list(ev_a[0].keys())
    ).withColumn("_source_id", F.lit("A"))
    with _pytest.raises(ValueError, match="order_cols|stored"):
        SnapshotSink(str(tmp_path / "state"), ["id"], n_buckets=4)(batch, 99)


def test_unpinned_schema_alter_during_downtime_backfills(spark, tmp_path) -> None:
    """r9: with an UN-pinned schema, an ALTER landing while the stream
    is down in a transport-loss backoff is absorbed silently by the next
    restart's fresh inference — no SchemaChangedError ever fires. The
    supervisor must detect the schema drift across restarts and enable
    nullMissingColumns itself, or the replay of pre-ALTER rows (missing
    the added column) dies on the dense-row contract with a
    non-restartable CDCProtocolError."""
    import threading

    from maxscale_cdc_connector_spark.streaming.restart import run_supervised

    new_schema = dict(TEST_SCHEMA_RECORD)
    new_schema["fields"] = TEST_SCHEMA_RECORD["fields"] + [
        {"name": "extra", "type": "string", "real_type": "varchar", "length": 16}
    ]
    pre = [make_event(s, name=f"pre{s}") for s in range(1, 4)]
    rows: list[dict] = []

    def seqs() -> set[int]:
        return {r["sequence"] for r in list(rows)}

    spark.dataSource.register(MaxScaleCDCDataSource)
    srv_a = FakeMaxScale(TEST_SCHEMA_RECORD, pre, table="test.s1")
    srv_a.__enter__()
    port = srv_a.port

    def attach_sink(df):
        def collect_batch(batch, _bid):
            rows.extend(r.asDict() for r in batch.collect())

        return (
            df.writeStream.foreachBatch(collect_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    def stop_when() -> bool:
        snapshot = list(rows)
        return set(range(1, 7)) <= {r["sequence"] for r in snapshot} and any(
            r.get("extra") == "x6" for r in snapshot
        )

    result: dict = {}

    def run() -> None:
        try:
            # NO schemaRecord option: schema inferred by probing.
            result["restarts"] = run_supervised(
                spark,
                {
                    "host": "127.0.0.1",
                    "user": srv_a.user,
                    "password": srv_a.password,
                    "streams": json.dumps([{"table": "test.s1", "port": port}]),
                    "frontierDir": str(tmp_path / "frontier"),
                    "pollseconds": "0.3",
                },
                attach_sink,
                max_restarts=50,
                initial_backoff=0.3,
                max_backoff=2.0,
                stop_when=stop_when,
                timeout=120.0,
            )
        except Exception as exc:  # noqa: BLE001 — asserted below
            result["error"] = f"{type(exc).__name__}: {exc}"

    t = threading.Thread(target=run, daemon=True)
    t.start()
    try:
        deadline = time.time() + 45
        while time.time() < deadline and not set(range(1, 4)) <= seqs():
            time.sleep(0.2)
        assert set(range(1, 4)) <= seqs(), "pre-ALTER rows never arrived"
        time.sleep(1.5)  # let the delivering batch commit

        # Transport loss; while DOWN, the table is ALTERed. The revived
        # server serves the NEW schema as its leading record, a history
        # containing rows 4-5 that PREDATE the ALTER (no 'extra' on the
        # wire), and row 6 written after it.
        srv_a.stop()
        time.sleep(1.0)
        post_history = [make_event(s, name=f"pre{s}") for s in range(1, 6)]
        ev6 = make_event(6, name="post6")
        ev6["extra"] = "x6"
        srv_b = FakeMaxScale(
            new_schema, post_history + [ev6],
            user=srv_a.user, password=srv_a.password,
            table="test.s1", port=port,
        )
        srv_b.__enter__()
        try:
            t.join(timeout=110)
            assert not t.is_alive(), "supervisor did not stop"
            assert "error" not in result, result.get("error")
            assert set(range(1, 7)) <= seqs()
            # Pre-ALTER rows delivered post-restart are NULL-backfilled.
            by_seq = {r["sequence"]: r for r in rows if "extra" in r}
            assert by_seq[6]["extra"] == "x6"
            for s in (4, 5):
                assert by_seq[s]["extra"] is None, by_seq[s]
        finally:
            srv_b.stop()
    finally:
        srv_a.stop()


# --- Trigger sizing helper (VERDICT r11 item 4, re-pinned r14) ---------
# Spark-free: the formula is plain arithmetic; the pins hold it to the
# five measured idle-trigger rows (min-of-3 per count, 32 cores) so
# drift in either the code or the measured reality is visible.
# ALL FIVE rows are from the r14 single-methodology probe
# (scripts/probe_idle_trigger.py: one warm session, the reworked fake
# server, canary-stamped 0.437/0.389 s) — closing ADVICE r13's
# mixed-vintage finding (16/32/64 previously pre-dated the r12 harness
# rework while 96/128 post-dated it).

MEASURED_IDLE_MS = {16: 448.2, 32: 513.1, 64: 823.6, 96: 1210.0, 128: 1581.6}


def test_idle_trigger_estimate_one_sided_25pct_band():
    """VERDICT r12 item 5: the estimate must stay CONSERVATIVE (never
    under a measured quiet-host floor — under-reserving the trigger
    interval is the unsafe direction) but BOUNDED (no more than 25%
    over it — the old model over-provisioned 128 streams by 38%)."""
    from maxscale_cdc_connector_spark.sources.cdc_partitioned import (
        estimate_idle_trigger_ms,
    )

    for streams, measured in MEASURED_IDLE_MS.items():
        est = estimate_idle_trigger_ms(streams, 32)
        assert measured <= est <= 1.25 * measured, (streams, est, measured)


def test_idle_trigger_estimate_shape():
    from maxscale_cdc_connector_spark.sources.cdc_partitioned import (
        IDLE_TRIGGER_OVERSUB_SLOPE,
        IDLE_TRIGGER_WAVE_MS,
        estimate_idle_trigger_ms,
    )

    # Sub-core-count stream counts all pay one wave (parallel dials).
    assert estimate_idle_trigger_ms(1, 32) == IDLE_TRIGGER_WAVE_MS
    assert estimate_idle_trigger_ms(32, 32) == IDLE_TRIGGER_WAVE_MS
    # Past the core count: damped linear in the oversubscription ratio
    # (each extra handshake wave overlaps the previous wave's tail).
    assert estimate_idle_trigger_ms(128, 32) == IDLE_TRIGGER_WAVE_MS * (
        1 + 3 * IDLE_TRIGGER_OVERSUB_SLOPE
    )
    # More cores (a real cluster's total executor cores) -> lower floor.
    assert estimate_idle_trigger_ms(128, 128) == IDLE_TRIGGER_WAVE_MS
    # Monotone in streams, never below one wave.
    ests = [estimate_idle_trigger_ms(s, 32) for s in (1, 16, 32, 48, 64, 96, 128)]
    assert ests == sorted(ests) and min(ests) == IDLE_TRIGGER_WAVE_MS
    with pytest.raises(ValueError):
        estimate_idle_trigger_ms(0, 32)


def test_recommend_trigger_encodes_readme_rule():
    from maxscale_cdc_connector_spark.sources.cdc_partitioned import (
        recommend_trigger,
    )

    # README: ">= ~5 s trigger interval keeps idle overhead under ~15%
    # even at 64 streams" — the helper must land in that band.
    r64 = recommend_trigger(64, 32)
    assert 4.0 <= r64["trigger_interval_s"] <= 8.0
    assert r64["max_records_per_batch"] is None
    # Idle overhead actually is <= the requested cap.
    assert r64["idle_trigger_ms"] / 1000.0 <= 0.15 * r64["trigger_interval_s"] + 1e-9

    # With a known rate, the interval stretches until a trigger moves
    # ~100k events/stream and maxRecordsPerBatch covers the interval.
    r = recommend_trigger(16, 32, events_per_stream_per_s=5_000)
    assert r["trigger_interval_s"] == 20.0  # 100k / 5k ev/s
    assert r["max_records_per_batch"] == 100_000
    # A fast stream is governed by the idle-overhead arm instead.
    fast = recommend_trigger(16, 32, events_per_stream_per_s=500_000)
    assert fast["trigger_interval_s"] == recommend_trigger(16, 32)["trigger_interval_s"]
    import math

    assert fast["max_records_per_batch"] == int(
        math.ceil(fast["trigger_interval_s"] * 500_000)
    )

    with pytest.raises(ValueError):
        recommend_trigger(16, 32, max_idle_overhead=0.0)
    with pytest.raises(ValueError):
        recommend_trigger(16, 32, events_per_stream_per_s=-1.0)


def test_plan_timing_hook_env_gated(tmp_path, monkeypatch) -> None:
    """VERDICT r15 item 7: the planner-process timing hook writes one
    parseable line per call when MAXSCALE_CDC_PLAN_TIMING is set and
    nothing (no file touch) when unset."""
    from maxscale_cdc_connector_spark.sources.cdc_partitioned import _plan_timing

    log = tmp_path / "plan.log"
    monkeypatch.delenv("MAXSCALE_CDC_PLAN_TIMING", raising=False)
    _plan_timing("latestOffset", 64, time.perf_counter())
    assert not log.exists()
    monkeypatch.setenv("MAXSCALE_CDC_PLAN_TIMING", str(log))
    t0 = time.perf_counter()
    _plan_timing("latestOffset", 64, t0)
    _plan_timing("partitions", 64, t0)
    lines = log.read_text().splitlines()
    assert len(lines) == 2
    tag, n, dt = lines[0].split()
    assert tag == "latestOffset" and n == "n=64" and dt.startswith("dt=")
    assert float(dt[3:]) >= 0.0


def test_probe_decompose_parses_timing_files(tmp_path) -> None:
    """The probe's aggregation of the two timing files: planner means by
    tag, read dt/handshake stats, malformed lines ignored."""
    import importlib.util

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "probe_idle_trigger.py",
    )
    spec = importlib.util.spec_from_file_location("probe_idle_trigger", path)
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)

    plan = tmp_path / "plan.log"
    plan.write_text(
        "latestOffset n=64 dt=0.002000\n"
        "latestOffset n=64 dt=0.004000\n"
        "partitions n=64 dt=0.001000\n"
        "garbage line\n"
    )
    read = tmp_path / "read.log"
    read.write_text(
        "bench.t0 rows=0 dt=0.110 hs=0.008\n"
        "bench.t1 rows=0 dt=0.130 hs=0.012\n"
    )
    dec = probe._parse_timing(str(plan), str(read))
    assert dec["plan_latest_offset_ms"] == 3.0
    assert dec["plan_partitions_ms"] == 1.0
    assert dec["n_plan_calls"] == 2
    assert dec["read_dt_mean_ms"] == 120.0
    assert dec["read_dt_max_ms"] == 130.0
    assert dec["read_hs_mean_ms"] == 10.0
    assert dec["n_reads"] == 2
    # Absent files degrade to None/empty, not a crash.
    empty = probe._parse_timing(str(tmp_path / "nope"), str(tmp_path / "nope2"))
    assert empty["read_dt_mean_ms"] is None and empty["n_plan_calls"] == 0
