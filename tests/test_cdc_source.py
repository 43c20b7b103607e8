"""CDC protocol + streaming-source tests against the fake MaxScale server.

Each behavior pins a reference-proven semantic (SURVEY.md §5.2.3):
resume-from-GTID replay (cdc_connector.cpp:199-206), schema-then-data
ordering (cdc_connector.cpp:214), auth/ERR handling
(cdc_connector.cpp:366-403,445-457), timeout-as-idle
(cdc_connector.cpp:487-491), mid-stream schema change
(cdc_connector.cpp:339-344), dense-row enforcement
(cdc_connector.cpp:297-308), and null→NULL (our documented fix of
cdc_connector.cpp:106-107).
"""

from __future__ import annotations

import decimal
import time

import pytest
from pyspark.sql import types as T

from maxscale_cdc_connector_spark.sources.cdc_datasource import MaxScaleCDCDataSource
from maxscale_cdc_connector_spark.sources.protocol import (
    CDCClient,
    CDCProtocolError,
    SchemaChangedError,
    auth_string,
)
from maxscale_cdc_connector_spark.typemap import schema_record_to_struct
from tests.fake_maxscale import TEST_SCHEMA_RECORD, FakeMaxScale, make_event
from tests.test_cdc_partitioned import _drain


def _client(server: FakeMaxScale, gtid: str | None = None, timeout: float = 0.3) -> CDCClient:
    return CDCClient(
        host="127.0.0.1",
        port=server.port,
        user=server.user,
        password=server.password,
        table=server.table,
        gtid=gtid,
        timeout=timeout,
        # Tests want TIGHT deadlines everywhere (the no-newline ERR path
        # surfaces on handshake-read timeout); production defaults this
        # to max(timeout, 10 s) — pinned by
        # test_handshake_timeout_decoupled_from_idle_poll.
        handshake_timeout=timeout,
    )


def test_auth_string_format() -> None:
    # hex("u:") + hex(sha1("p")) — cdc_connector.cpp:65-77.
    s = auth_string("u", "p")
    assert s.startswith(b"753a")  # "u:" hex
    assert len(s) == 4 + 40


def test_handshake_and_read() -> None:
    events = [make_event(1), make_event(2, name="zwei")]
    with FakeMaxScale(TEST_SCHEMA_RECORD, events) as srv, _client(srv) as c:
        # connect() consumed the schema record (schema-first ordering).
        assert c.schema_record is not None
        assert c.schema_record["fields"][0]["name"] == "domain"
        r1 = c.read_record()
        r2 = c.read_record()
        assert (r1["sequence"], r2["sequence"]) == (1, 2)
        assert r2["name"] == "zwei"


def test_timeout_is_idle_not_error() -> None:
    with FakeMaxScale(TEST_SCHEMA_RECORD, []) as srv, _client(srv) as c:
        assert c.read_record() is None  # silence → None (empty batch)
        srv.push_event(make_event(7))
        deadline = time.time() + 5
        got = None
        while got is None and time.time() < deadline:
            got = c.read_record()
        assert got is not None and got["sequence"] == 7


def test_resume_from_gtid_replays_inclusive() -> None:
    events = [make_event(s) for s in (1, 2, 3, 4)]
    with FakeMaxScale(TEST_SCHEMA_RECORD, events) as srv:
        with _client(srv, gtid="0-3000-3") as c:
            seqs = [c.read_record()["sequence"], c.read_record()["sequence"]]
        assert seqs == [3, 4]  # at-least-once: the resume GTID replays


def test_auth_failure_raises() -> None:
    with FakeMaxScale(TEST_SCHEMA_RECORD, [], fail_auth=True) as srv:
        with pytest.raises(CDCProtocolError, match="authentication failed"):
            _client(srv).connect()


def test_err_response_raises() -> None:
    with FakeMaxScale(TEST_SCHEMA_RECORD, [], err_on_request="table not found") as srv:
        with pytest.raises(CDCProtocolError, match="table not found"):
            _client(srv).connect()


def test_err_without_trailing_newline_surfaces_message() -> None:
    """MaxScale error messages may lack the trailing newline; the client
    must surface the buffered ERR text instead of a generic timeout
    (reference workaround: cdc_connector.cpp:494-504)."""
    with FakeMaxScale(
        TEST_SCHEMA_RECORD, [], err_on_request="stream denied", err_no_newline=True
    ) as srv:
        with pytest.raises(CDCProtocolError, match="stream denied"):
            _client(srv).connect()


def test_handshake_timeout_decoupled_from_idle_poll() -> None:
    """``timeout`` is the IDLE POLL (a quiet socket is normal,
    cdc_connector.cpp:487-491); the handshake deadline is a FAILURE
    detector and defaults to the reference's full 10 s session timeout
    (cdc_connector.h:58) rather than inheriting the poll. Pre-r10 the
    two were conflated: a 0.1 s poll gave connect+auth a 0.1 s budget,
    which 32+ executors dialing at once blew on scheduling noise alone
    (r10 bench, 64-stream idle-trigger row)."""
    with FakeMaxScale(
        TEST_SCHEMA_RECORD, [make_event(1)], auth_delay_seconds=0.5
    ) as srv:
        c = CDCClient(
            host="127.0.0.1",
            port=srv.port,
            user=srv.user,
            password=srv.password,
            table=srv.table,
            timeout=0.1,  # idle poll far below the server's auth delay
        )
        assert c.handshake_timeout == 10.0  # max(timeout, DEFAULT_TIMEOUT)
        with c:
            # Handshake survived the slow auth; data reads then run on
            # the 0.1 s idle-poll timeout.
            assert c._sock.gettimeout() == 0.1
            assert c.read_record()["sequence"] == 1
    # An explicit session timeout ABOVE the default is respected.
    assert (
        CDCClient("h", 1, "u", "p", "t", timeout=30.0).handshake_timeout == 30.0
    )


def test_unknown_table_err() -> None:
    with FakeMaxScale(TEST_SCHEMA_RECORD, []) as srv:
        bad = CDCClient("127.0.0.1", srv.port, srv.user, srv.password, "no.such", timeout=0.3)
        with pytest.raises(CDCProtocolError, match="unknown table"):
            bad.connect()


def test_mid_stream_schema_change_raises_typed_error() -> None:
    with FakeMaxScale(TEST_SCHEMA_RECORD, [make_event(1)]) as srv, _client(srv) as c:
        assert c.read_record()["sequence"] == 1
        new_schema = dict(TEST_SCHEMA_RECORD)
        new_schema["fields"] = TEST_SCHEMA_RECORD["fields"] + [
            {"name": "extra", "type": "string", "real_type": "varchar", "length": 10}
        ]
        srv.push_schema_change(new_schema)
        with pytest.raises(SchemaChangedError) as ei:
            deadline = time.time() + 5
            while time.time() < deadline:
                c.read_record()
        assert any(f["name"] == "extra" for f in ei.value.schema_record["fields"])


def test_schema_record_to_struct_types() -> None:
    struct = schema_record_to_struct(TEST_SCHEMA_RECORD)
    by_name = {f.name: f.dataType for f in struct.fields}
    assert by_name["sequence"] == T.LongType()  # real_type bigint wins over avro int
    assert by_name["name"] == T.StringType()
    assert by_name["balance"] == T.DecimalType(10, 0)


# ---------------------------------------------------------------------------
# Stream-reader unit tests (no Spark query needed).
# ---------------------------------------------------------------------------


def _reader(srv: FakeMaxScale, schema_record: dict = TEST_SCHEMA_RECORD, **extra: str):
    """The stream reader exactly as ``table=`` builds it: options
    normalized by the data source, default frontierDir."""
    options = {
        "host": "127.0.0.1",
        "port": str(srv.port),
        "user": srv.user,
        "password": srv.password,
        "table": srv.table,
        "pollseconds": "0.3",
        **extra,
    }
    return MaxScaleCDCDataSource(options).streamReader(
        schema_record_to_struct(schema_record)
    )


def test_reader_batch_and_offset_advance() -> None:
    events = [make_event(s) for s in (1, 2, 3)]
    with FakeMaxScale(TEST_SCHEMA_RECORD, events) as srv:
        reader = _reader(srv)
        start = reader.initialOffset()
        assert start["streams"] == {srv.table: {"gtid": "", "evn": -1}}
        rows, _ = _drain(reader, start)
        assert len(rows) == 3
        # The next trigger folds the delivered position into the offset.
        assert reader.latestOffset()["streams"][srv.table] == {
            "gtid": "0-3000-3",
            "evn": 1,
        }
        # Typed conversion happened: sequence long, balance DECIMAL(10,0)
        # rounded HALF_UP (the JVM's Decimal.changePrecision rule).
        assert rows[0][2] == 1 and isinstance(rows[0][2], int)
        assert rows[0][8] == decimal.Decimal("2")
        reader.stop()


def test_reader_empty_batch_on_idle() -> None:
    with FakeMaxScale(TEST_SCHEMA_RECORD, []) as srv:
        reader = _reader(srv)
        start = reader.initialOffset()
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
        assert len(parts) == 1  # an idle stream still re-dials once
        assert [b.num_rows for b in reader.read(parts[0])] == []
        # The offset does not advance on idle.
        assert reader.latestOffset()["streams"] == start["streams"]
        reader.stop()


def test_reader_ends_one_poll_after_the_last_byte() -> None:
    """A read ends one ``pollSeconds`` after its last byte, not two: the
    block that ended on silence has used the whole idle timeout, so the
    prefetch thread's next block read returns at once."""
    events = [make_event(s) for s in range(1, 2001)]
    with FakeMaxScale(TEST_SCHEMA_RECORD, events) as srv:
        reader = _reader(srv, pollseconds="1.0")
        t0 = time.monotonic()
        rows, end = _drain(reader, reader.initialOffset())
        backlog_s = time.monotonic() - t0
        assert len(rows) == 2000
        # At rest: the re-dial replays the resume GTID and the cursor
        # drops it, so this read delivers nothing.
        t0 = time.monotonic()
        rows, _ = _drain(reader, end)
        at_rest_s = time.monotonic() - t0
        assert rows == []
        assert backlog_s < 1.6 and at_rest_s < 1.6, (backlog_s, at_rest_s)
        reader.stop()


def test_reader_silence_shorter_than_poll_keeps_reading() -> None:
    """Two bursts pushed 0.5 s apart, under ``pollSeconds=1.0``, arrive
    in one read: idle never fires before a full timeout of silence."""
    import threading

    with FakeMaxScale(TEST_SCHEMA_RECORD, [make_event(s) for s in range(1, 101)]) as srv:
        reader = _reader(srv, pollseconds="1.0")

        def second_burst() -> None:
            for s in range(101, 201):
                srv.push_event(make_event(s))

        timer = threading.Timer(0.5, second_burst)
        timer.start()
        rows, _ = _drain(reader, reader.initialOffset())
        timer.join(timeout=10)
        assert not timer.is_alive()
        assert sorted(r[2] for r in rows) == list(range(1, 201))
        reader.stop()


def test_reader_dense_row_enforced() -> None:
    broken = make_event(1)
    del broken["name"]
    with FakeMaxScale(TEST_SCHEMA_RECORD, [broken]) as srv:
        reader = _reader(srv)
        with pytest.raises(CDCProtocolError, match="No value for key"):
            _drain(reader, reader.initialOffset())
        reader.stop()


def test_reader_null_becomes_none() -> None:
    ev = make_event(1)
    ev["name"] = None  # JSON null → SQL NULL, not "" (fix of :106-107)
    with FakeMaxScale(TEST_SCHEMA_RECORD, [ev]) as srv:
        reader = _reader(srv)
        rows, _ = _drain(reader, reader.initialOffset())
        assert rows[0][7] is None
        reader.stop()


# ---------------------------------------------------------------------------
# End-to-end Structured Streaming query over the source.
# ---------------------------------------------------------------------------


def test_streaming_query_end_to_end(spark) -> None:
    events = [make_event(s, name=f"row{s}") for s in range(1, 21)]
    with FakeMaxScale(TEST_SCHEMA_RECORD, events) as srv:
        spark.dataSource.register(MaxScaleCDCDataSource)
        df = (
            spark.readStream.format("maxscale_cdc")
            .option("host", "127.0.0.1")
            .option("port", srv.port)
            .option("user", srv.user)
            .option("password", srv.password)
            .option("table", srv.table)
            .option("pollseconds", "0.3")
            .load()
        )
        assert df.schema == schema_record_to_struct(TEST_SCHEMA_RECORD)
        query = (
            df.writeStream.format("memory")
            .queryName("cdc_e2e")
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.sql("SELECT count(*) c FROM cdc_e2e").first()["c"] >= 20:
                    break
                time.sleep(0.5)
            out = spark.sql(
                "SELECT sequence, name, gtid FROM (SELECT *, "
                "concat_ws('-', domain, server_id, sequence) AS gtid FROM cdc_e2e) "
                "ORDER BY sequence"
            ).collect()
            assert len(out) == 20
            assert out[0]["gtid"] == "0-3000-1"
            assert out[19]["name"] == "row20"
        finally:
            query.stop()


# ---------------------------------------------------------------------------
# Framing edges (cdc_connector.cpp:459-518 behaviors).
# ---------------------------------------------------------------------------


class _ScriptedSocket:
    """recv() returns scripted chunks; simulates TCP fragmentation."""

    def __init__(self, chunks):
        self._chunks = list(chunks)

    def recv(self, _n):
        if not self._chunks:
            raise TimeoutError
        return self._chunks.pop(0)

    def settimeout(self, _t):
        pass


def _framed_client() -> CDCClient:
    c = CDCClient("h", 0, "u", "p", "t")
    c._streaming = True
    return c


def test_framing_line_split_across_chunks() -> None:
    c = _framed_client()
    c._sock = _ScriptedSocket([b'{"sequence"', b": 1, ", b'"domain": 0}\n'])
    assert c.read_record() == {"sequence": 1, "domain": 0}


def test_framing_multiple_events_one_chunk() -> None:
    c = _framed_client()
    c._sock = _ScriptedSocket([b'{"a": 1}\n{"a": 2}\n{"a": 3}\n'])
    assert [c.read_record()["a"] for _ in range(3)] == [1, 2, 3]
    assert c.read_record() is None  # buffer drained → idle


def test_framing_nul_bytes_in_strings() -> None:
    # JSON_ALLOW_NUL parity (cdc_connector.cpp:335): NULs inside string
    # values survive decode.
    c = _framed_client()
    c._sock = _ScriptedSocket([b'{"name": "a\\u0000b"}\n'])
    assert c.read_record()["name"] == "a\x00b"


def test_framing_malformed_json_raises() -> None:
    c = _framed_client()
    c._sock = _ScriptedSocket([b"not json at all\n"])
    with pytest.raises(CDCProtocolError, match="malformed"):
        c.read_record()


def test_framing_disconnect_raises() -> None:
    c = _framed_client()
    c._sock = _ScriptedSocket([b""])  # recv() == b"": the server closed
    with pytest.raises(ConnectionError):
        c.read_record()


def _committed_gtid(ckpt: str, table: str) -> str | None:
    """The stream's GTID cursor in the offsets/ entry of the newest
    committed batch of a checkpoint, or None before the first commit."""
    import json as _json
    import os as _os

    commits = _os.path.join(ckpt, "commits")
    if not _os.path.isdir(commits):
        return None
    done = [int(f) for f in _os.listdir(commits) if f.isdigit()]
    if not done:
        return None
    try:
        with open(_os.path.join(ckpt, "offsets", str(max(done)))) as fh:
            offset = _json.loads(fh.read().splitlines()[-1])
    except (OSError, ValueError, IndexError):
        return None
    return offset.get("streams", {}).get(table, {}).get("gtid")


def test_streaming_checkpoint_resume(spark, tmp_path) -> None:
    """Stop a CDC streaming query, push more events, restart with the
    same checkpoint: the stream resumes from the checkpointed GTID and
    the union of both runs covers every event (at-least-once; envelope
    dedup downstream restores exactly-once — cdc_connector.h:62-69)."""
    import json as _json

    first = [make_event(s, name=f"a{s}") for s in range(1, 11)]
    ckpt = str(tmp_path / "ckpt")
    with FakeMaxScale(TEST_SCHEMA_RECORD, first) as srv:
        spark.dataSource.register(MaxScaleCDCDataSource)
        run_a: list[int] = []
        run_b: list[int] = []

        def start(sink: list[int]):
            def collect_batch(batch, _bid):
                sink.extend(r["sequence"] for r in batch.select("sequence").collect())

            return (
                spark.readStream.format("maxscale_cdc")
                .option("host", "127.0.0.1")
                .option("port", srv.port)
                .option("user", srv.user)
                .option("password", srv.password)
                .option("table", srv.table)
                .option("pollseconds", "0.3")
                .option("schemaRecord", _json.dumps(TEST_SCHEMA_RECORD))
                .load()
                .writeStream.foreachBatch(collect_batch)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="300 milliseconds")
                .start()
            )

        q1 = start(run_a)
        try:
            deadline = time.time() + 60
            while time.time() < deadline and len(set(run_a)) < 10:
                time.sleep(0.3)
            # foreachBatch delivering is NOT the offset commit: a
            # stream's position reaches the checkpoint when the NEXT
            # trigger folds the frontier into its offsets/ entry, and
            # stop() before that makes the restart legitimately replay
            # from scratch (at-least-once) — a test race, not a source
            # bug. Wait until the newest committed batch's offsets/
            # entry holds the cursor of the last delivered event.
            while time.time() < deadline and _committed_gtid(ckpt, srv.table) != "0-3000-10":
                time.sleep(0.2)
        finally:
            q1.stop()
        assert set(run_a) == set(range(1, 11))

        for s in range(11, 21):
            srv.push_event(make_event(s, name=f"b{s}"))

        q2 = start(run_b)
        try:
            deadline = time.time() + 60
            while time.time() < deadline and len({s for s in run_b if s > 10}) < 10:
                time.sleep(0.3)
        finally:
            q2.stop()
        assert set(range(11, 21)) <= set(run_b)  # all new events arrived
        # Resume was from the checkpointed GTID (0-3000-10), not from
        # scratch: the replay window may include GTID 10 (at-least-once)
        # but never anything earlier.
        assert min(run_b) >= 10


def test_streaming_crash_resume_from_checkpoint(spark, tmp_path) -> None:
    """ABRUPT server death mid-stream (TCP loss, not a graceful stop):
    the streaming query fails; restarting it against a recovered server
    on the same address with the SAME checkpoint resumes from the
    checkpointed GTID — at-least-once across the crash, nothing lost,
    nothing replayed from before the checkpoint."""
    import json as _json

    first = [make_event(s, name=f"a{s}") for s in range(1, 11)]
    ckpt = str(tmp_path / "ckpt")
    spark.dataSource.register(MaxScaleCDCDataSource)

    def start(port: int, sink: list[int]):
        def collect_batch(batch, _bid):
            sink.extend(r["sequence"] for r in batch.select("sequence").collect())

        return (
            spark.readStream.format("maxscale_cdc")
            .option("host", "127.0.0.1")
            .option("port", port)
            .option("user", "cdcuser")
            .option("password", "cdcpw")
            .option("table", "test.t1")
            .option("pollseconds", "0.3")
            .option("schemaRecord", _json.dumps(TEST_SCHEMA_RECORD))
            .load()
            .writeStream.foreachBatch(collect_batch)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    srv = FakeMaxScale(TEST_SCHEMA_RECORD, first)
    srv.__enter__()
    port = srv.port
    run_a: list[int] = []
    q1 = start(port, run_a)
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(set(run_a)) < 10:
            time.sleep(0.3)
        assert set(run_a) == set(range(1, 11))
        srv.stop()  # abrupt: sockets die under the running query
        deadline = time.time() + 60
        while time.time() < deadline and q1.isActive:
            time.sleep(0.3)
        assert not q1.isActive, "query survived a dead server"
        assert q1.exception() is not None, "no error surfaced for the crash"
    finally:
        if q1.isActive:
            q1.stop()

    # Recovered server at the SAME address serves the full history; the
    # restarted query must resume from the checkpointed GTID.
    all_events = first + [make_event(s, name=f"b{s}") for s in range(11, 21)]
    with FakeMaxScale(TEST_SCHEMA_RECORD, all_events, port=port) as srv2:
        assert srv2.port == port
        run_b: list[int] = []
        q2 = start(port, run_b)
        try:
            deadline = time.time() + 60
            while time.time() < deadline and len({s for s in run_b if s > 10}) < 10:
                time.sleep(0.3)
        finally:
            q2.stop()
        assert set(range(11, 21)) <= set(run_b)
        assert min(run_b) >= 10  # never re-reads before the checkpoint


def test_run_supervised_auto_reconnects_after_crash(spark, tmp_path) -> None:
    """The supervision wrapper must ride out an abrupt server death on
    its own: backoff, reconnect to the recovered server, resume from the
    checkpoint, and deliver every event — no caller intervention."""
    import json as _json
    import threading

    from maxscale_cdc_connector_spark.streaming.restart import run_supervised

    first = [make_event(s, name=f"a{s}") for s in range(1, 11)]
    ckpt = str(tmp_path / "ckpt")
    spark.dataSource.register(MaxScaleCDCDataSource)

    seen: list[int] = []
    lock = threading.Lock()

    def attach(df):
        def collect_batch(batch, _bid):
            rows = [r["sequence"] for r in batch.select("sequence").collect()]
            with lock:
                seen.extend(rows)

        return (
            df.writeStream.foreachBatch(collect_batch)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    srv = FakeMaxScale(TEST_SCHEMA_RECORD, first)
    srv.__enter__()
    port = srv.port
    options = {
        "host": "127.0.0.1",
        "port": str(port),
        "user": "cdcuser",
        "password": "cdcpw",
        "table": "test.t1",
        "pollseconds": "0.3",
        "schemaRecord": _json.dumps(TEST_SCHEMA_RECORD),
    }

    done = threading.Event()
    result: dict = {}

    def supervise():
        try:
            result["restarts"] = run_supervised(
                spark,
                options,
                attach,
                max_restarts=10,
                initial_backoff=0.3,
                stop_when=done.is_set,
                timeout=120.0,
            )
        except Exception as exc:  # surfaced to the assertion below
            result["error"] = exc

    t = threading.Thread(target=supervise, daemon=True)
    t.start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(set(seen)) < 10:
            time.sleep(0.3)
        assert set(seen) >= set(range(1, 11))

        srv.stop()  # abrupt death under the running query
        time.sleep(1.0)  # let the failure land and backoff begin
        all_events = first + [make_event(s, name=f"b{s}") for s in range(11, 21)]
        with FakeMaxScale(TEST_SCHEMA_RECORD, all_events, port=port):
            deadline = time.time() + 90
            while time.time() < deadline and not set(range(11, 21)) <= set(seen):
                time.sleep(0.3)
            done.set()
            t.join(60)
    finally:
        done.set()

    assert "error" not in result, result.get("error")
    assert result.get("restarts", 0) >= 1, "no reconnect happened"
    assert set(range(11, 21)) <= set(seen), "events after the crash were lost"
    # resume came from the checkpoint: the first post-crash event is 11
    assert min(s for s in seen if s > 10) == 11


def test_run_supervised_multi_recovers_one_of_two_tables(spark, tmp_path) -> None:
    """One call supervises two tables' streams into two snapshot stores
    (the reference's caller hand-rolls this loop per table,
    examples/main.cpp:27-44). Killing one table's server must back off
    and recover ONLY that stream — the other keeps delivering — and both
    final snapshots must be exact."""
    import json as _json
    import threading

    from maxscale_cdc_connector_spark.streaming.restart import run_supervised_multi

    a_first = [make_event(s, name=f"a{s}") for s in range(1, 11)]
    b_first = [make_event(s, name=f"b{s}") for s in range(1, 11)]
    spark.dataSource.register(MaxScaleCDCDataSource)

    lock = threading.Lock()
    snaps: dict[str, dict[int, str]] = {"t1": {}, "t2": {}}

    def make_attach(name: str):
        def attach(df):
            def collect_batch(batch, _bid):
                rows = batch.select("id", "name").collect()
                with lock:
                    for r in rows:  # inserts only: id is the key
                        snaps[name][r["id"]] = r["name"]

            return (
                df.writeStream.foreachBatch(collect_batch)
                .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
                .trigger(processingTime="300 milliseconds")
                .start()
            )

        return attach

    def opts(port: int, table: str) -> dict[str, str]:
        return {
            "host": "127.0.0.1",
            "port": str(port),
            "user": "cdcuser",
            "password": "cdcpw",
            "table": table,
            "pollseconds": "0.3",
            "schemaRecord": _json.dumps(TEST_SCHEMA_RECORD),
        }

    srv1 = FakeMaxScale(TEST_SCHEMA_RECORD, a_first, table="test.t1")
    srv1.__enter__()
    srv2 = FakeMaxScale(TEST_SCHEMA_RECORD, b_first, table="test.t2")
    srv2.__enter__()
    port2 = srv2.port

    done = threading.Event()
    result: dict = {}

    def supervise():
        try:
            result["restarts"] = run_supervised_multi(
                spark,
                {"t1": opts(srv1.port, "test.t1"), "t2": opts(port2, "test.t2")},
                {"t1": make_attach("t1"), "t2": make_attach("t2")},
                max_restarts=10,
                initial_backoff=0.3,
                stop_when=done.is_set,
                timeout=150.0,
            )
        except Exception as exc:
            result["error"] = exc

    t = threading.Thread(target=supervise, daemon=True)
    t.start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not (
            len(snaps["t1"]) >= 10 and len(snaps["t2"]) >= 10
        ):
            time.sleep(0.3)
        assert len(snaps["t1"]) == 10 and len(snaps["t2"]) == 10

        srv2.stop()  # abrupt death of ONE table's server
        time.sleep(1.0)
        # The healthy table keeps delivering while t2 backs off.
        for s in range(11, 16):
            srv1.push_event(make_event(s, name=f"a{s}"))
        b_all = b_first + [make_event(s, name=f"b{s}") for s in range(11, 21)]
        with FakeMaxScale(TEST_SCHEMA_RECORD, b_all, table="test.t2", port=port2):
            deadline = time.time() + 90
            while time.time() < deadline and not (
                len(snaps["t1"]) >= 15 and len(snaps["t2"]) >= 20
            ):
                time.sleep(0.3)
            done.set()
            t.join(60)
    finally:
        done.set()
        srv1.stop()

    assert "error" not in result, result.get("error")
    restarts = result.get("restarts", {})
    assert restarts.get("t2", 0) >= 1, "t2 was never reconnected"
    assert restarts.get("t1", 0) == 0, "healthy stream restarted needlessly"
    assert snaps["t1"] == {s: f"a{s}" for s in range(1, 16)}
    assert snaps["t2"] == {s: f"b{s}" for s in range(1, 21)}


def test_datasource_schema_infer_connection_refused() -> None:
    """schema() inference against a dead server surfaces a clean error,
    not a hang (the reference's connect() error-string path,
    cdc_connector.cpp:147-223)."""
    from pyspark.sql.datasource import CaseInsensitiveDict

    ds = MaxScaleCDCDataSource(
        CaseInsensitiveDict(
            {"host": "127.0.0.1", "port": "1", "table": "db.t", "pollseconds": "0.2"}
        )
    )
    with pytest.raises(OSError):
        ds.schema()


def test_schema_change_restart_wrapper_end_to_end(spark, tmp_path) -> None:
    """Rows flow across an ALTER TABLE with no data loss: the wrapper
    catches the schema-change failure (sources/protocol.py:47-56),
    re-infers the widened schema from the server's leading record, and
    resumes from the checkpointed GTID. Completes the parity story with
    the reference's in-place hot-swap (cdc_connector.cpp:339-344) in
    Spark's fixed-schema-per-query model."""
    import threading

    from maxscale_cdc_connector_spark.streaming.restart import run_supervised

    new_schema = dict(TEST_SCHEMA_RECORD)
    new_schema["fields"] = TEST_SCHEMA_RECORD["fields"] + [
        {"name": "extra", "type": "string", "real_type": "varchar", "length": 10}
    ]
    first = [make_event(s, name=f"pre{s}") for s in range(1, 6)]
    ckpt = str(tmp_path / "ckpt")
    rows: list[dict] = []  # appended from foreachBatch (driver-side, GIL-safe)

    def seqs() -> set[int]:
        return {r["sequence"] for r in list(rows)}

    with FakeMaxScale(TEST_SCHEMA_RECORD, first) as srv:
        spark.dataSource.register(MaxScaleCDCDataSource)

        def attach_sink(df):
            def collect_batch(batch, _bid):
                rows.extend(r.asDict() for r in batch.collect())

            return (
                df.writeStream.foreachBatch(collect_batch)
                .option("checkpointLocation", ckpt)
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
                    "port": str(srv.port),
                    "user": srv.user,
                    "password": srv.password,
                    "table": srv.table,
                    "pollseconds": "0.3",
                },
                attach_sink,
                stop_when=stop_when,
                timeout=90.0,
            )

        t = threading.Thread(target=run, daemon=True)
        t.start()
        # Let the first incarnation deliver (and checkpoint) the
        # pre-ALTER rows before the ALTER lands.
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
    # No data loss across the ALTER boundary.
    assert set(range(1, 11)) <= seqs()
    # Post-ALTER rows carry the new column's values.
    post = {r["sequence"]: r for r in rows if r.get("extra") is not None}
    assert {s: post[s]["extra"] for s in range(6, 11)} == {
        s: f"post{s}" for s in range(6, 11)
    }
    # Any pre-ALTER rows replayed under the widened schema (at-least-once
    # resume, cdc_connector.h:62-69) are NULL-filled, never dropped or
    # mis-shifted.
    for r in rows:
        if "extra" in r and r["sequence"] < 6:
            assert r["extra"] is None
            assert r["name"] == f"pre{r['sequence']}"


def test_snapshot_sink_schema_evolution_across_restart(spark, tmp_path) -> None:
    """An ALTER-added column reaches the persistent snapshot table.

    The restart wrapper re-infers the widened schema and resumes
    (previous test); this pins the sink side: the SnapshotSink's parquet
    state, written pre-ALTER, must absorb post-ALTER batches — the new
    column appears in the snapshot with values for post-ALTER keys and
    NULL backfill for keys last touched before the ALTER (the same
    backfill MariaDB applies to rows predating an ADD COLUMN).
    """
    import threading

    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink
    from maxscale_cdc_connector_spark.streaming.restart import run_supervised

    new_schema = dict(TEST_SCHEMA_RECORD)
    new_schema["fields"] = TEST_SCHEMA_RECORD["fields"] + [
        {"name": "extra", "type": "string", "real_type": "varchar", "length": 10}
    ]
    first = [make_event(s, id_=s, name=f"pre{s}") for s in range(1, 6)]
    ckpt = str(tmp_path / "ckpt")
    sink = SnapshotSink(str(tmp_path / "state"), ["id"], n_buckets=4)

    def snap() -> dict[int, dict]:
        try:
            return {r["id"]: r.asDict() for r in sink.snapshot(spark).collect()}
        except Exception:  # state dir not created yet
            return {}

    with FakeMaxScale(TEST_SCHEMA_RECORD, first) as srv:
        spark.dataSource.register(MaxScaleCDCDataSource)

        def attach_sink(df):
            return (
                df.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="300 milliseconds")
                .start()
            )

        def stop_when() -> bool:
            rows = snap()
            return rows.get(10, {}).get("extra") == "post10"

        result: dict = {}

        def run() -> None:
            result["restarts"] = run_supervised(
                spark,
                {
                    "host": "127.0.0.1",
                    "port": str(srv.port),
                    "user": srv.user,
                    "password": srv.password,
                    "table": srv.table,
                    "pollseconds": "0.3",
                },
                attach_sink,
                stop_when=stop_when,
                timeout=90.0,
            )

        t = threading.Thread(target=run, daemon=True)
        t.start()
        # Pre-ALTER state must be on disk (old schema) before the ALTER.
        # 90 s matches the wrapper's own timeout: the happy path takes
        # ~30 s (streaming startup + first batch + bucket swap), so 45 s
        # missed under concurrent full-load sweeps (r10 flake).
        deadline = time.time() + 90
        while time.time() < deadline and not set(range(1, 6)) <= set(snap()):
            time.sleep(0.2)
        assert set(range(1, 6)) <= set(snap()), "pre-ALTER snapshot never landed"
        assert "extra" not in snap()[1], "state should predate the ALTER here"

        srv.push_schema_change(new_schema)
        for s in range(6, 11):
            ev = make_event(s, id_=s, name=f"post{s}")
            ev["extra"] = f"post{s}"
            srv.push_event(ev)

        t.join(timeout=90)
        assert not t.is_alive(), "wrapper did not stop"

    assert result["restarts"] == 1
    rows = snap()
    # All ten keys present; the ALTER-added column merged into the state.
    assert set(range(1, 11)) <= set(rows)
    assert {i: rows[i]["extra"] for i in range(6, 11)} == {
        i: f"post{i}" for i in range(6, 11)
    }
    # NULL backfill for keys last written before the ALTER.
    for i in range(1, 6):
        assert rows[i]["extra"] is None, f"key {i} should be NULL-backfilled"
        assert rows[i]["name"] == f"pre{i}"


@pytest.mark.parametrize("entry", ["run_supervised", "run_supervised_multi"])
def test_run_supervised_start_probe_failure_backs_off(spark, tmp_path, entry) -> None:
    """With ``schemaRecord`` unpinned, (re)starting a stream PROBES the
    CDC server for schema inside ``load()`` — so a restart against a
    still-down server raises ``ConnectionRefusedError`` synchronously,
    outside any streaming query. Through either entry point that must
    consume a backoff round for that stream (the documented per-table
    isolation), not escape the monitor loop (ADVICE r6), and the stream
    must still recover once the server returns at the same address."""
    import threading

    from maxscale_cdc_connector_spark.streaming.restart import (
        run_supervised,
        run_supervised_multi,
    )

    first = [make_event(s, name=f"a{s}") for s in range(1, 6)]
    spark.dataSource.register(MaxScaleCDCDataSource)

    lock = threading.Lock()
    snap: dict[int, str] = {}

    def attach(df):
        def collect_batch(batch, _bid):
            rows = batch.select("id", "name").collect()
            with lock:
                for r in rows:
                    snap[r["id"]] = r["name"]

        return (
            df.writeStream.foreachBatch(collect_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    srv = FakeMaxScale(TEST_SCHEMA_RECORD, first, table="test.t1")
    srv.__enter__()
    port = srv.port
    # NOTE: no schemaRecord — every start() re-probes the server.
    options = {
        "host": "127.0.0.1",
        "port": str(port),
        "user": "cdcuser",
        "password": "cdcpw",
        "table": "test.t1",
        "pollseconds": "0.3",
    }

    done = threading.Event()
    result: dict = {}

    def supervise():
        policy = dict(
            max_restarts=10, initial_backoff=0.3, stop_when=done.is_set, timeout=150.0
        )
        try:
            if entry == "run_supervised":
                result["restarts"] = run_supervised(spark, options, attach, **policy)
            else:
                result["restarts"] = run_supervised_multi(
                    spark, {"t1": options}, {"t1": attach}, **policy
                )["t1"]
        except Exception as exc:  # noqa: BLE001 — recorded for the assert
            result["error"] = exc

    t = threading.Thread(target=supervise, daemon=True)
    t.start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(snap) < 5:
            time.sleep(0.3)
        assert len(snap) == 5

        srv.stop()  # server dies; restart attempts now probe a dead port
        time.sleep(2.5)  # several backoff rounds' worth of probe failures
        all_events = first + [make_event(s, name=f"a{s}") for s in range(6, 11)]
        with FakeMaxScale(TEST_SCHEMA_RECORD, all_events, table="test.t1", port=port):
            deadline = time.time() + 90
            while time.time() < deadline and len(snap) < 10:
                time.sleep(0.3)
            done.set()
            t.join(60)
    finally:
        done.set()
        srv.stop()

    assert "error" not in result, f"probe failure escaped the monitor: {result.get('error')}"
    # At least one restart consumed by the in-query failure and one by a
    # start-time probe failure during the 2.5 s dead window.
    assert result.get("restarts", 0) >= 2
    assert snap == {s: f"a{s}" for s in range(1, 11)}


def test_run_supervised_multi_server_down_at_launch(spark, tmp_path) -> None:
    """The FIRST start of a stream is guarded like every restart: t2's
    schema is unpinned, so its launch ``load()`` probes a port nobody
    listens on yet. That must back off t2 alone — not raise out of the
    call and leave the already-started t1 running unsupervised — so t1
    delivers with no restart and t2 recovers once its server comes up
    at that port."""
    import json as _json
    import socket as _socket
    import threading

    from maxscale_cdc_connector_spark.streaming.restart import run_supervised_multi

    spark.dataSource.register(MaxScaleCDCDataSource)
    lock = threading.Lock()
    snaps: dict[str, dict[int, str]] = {"t1": {}, "t2": {}}
    started: list = []

    def make_attach(name: str):
        def attach(df):
            def collect_batch(batch, _bid):
                rows = batch.select("id", "name").collect()
                with lock:
                    for r in rows:
                        snaps[name][r["id"]] = r["name"]

            q = (
                df.writeStream.foreachBatch(collect_batch)
                .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
                .trigger(processingTime="300 milliseconds")
                .start()
            )
            started.append(q)
            return q

        return attach

    closed = _socket.socket()
    closed.bind(("127.0.0.1", 0))
    port2 = closed.getsockname()[1]
    closed.close()  # nothing listens on port2 at launch

    common = {"host": "127.0.0.1", "user": "cdcuser", "password": "cdcpw", "pollseconds": "0.3"}
    srv1 = FakeMaxScale(
        TEST_SCHEMA_RECORD, [make_event(s, name=f"a{s}") for s in range(1, 6)], table="test.t1"
    )
    srv1.__enter__()
    tables = {
        "t1": {**common, "port": str(srv1.port), "table": "test.t1",
               "schemaRecord": _json.dumps(TEST_SCHEMA_RECORD)},
        "t2": {**common, "port": str(port2), "table": "test.t2"},  # unpinned
    }

    done = threading.Event()
    result: dict = {}

    def supervise():
        try:
            result["restarts"] = run_supervised_multi(
                spark,
                tables,
                {"t1": make_attach("t1"), "t2": make_attach("t2")},
                max_restarts=20,
                initial_backoff=0.3,
                max_backoff=1.0,
                stop_when=done.is_set,
                timeout=150.0,
            )
        except Exception as exc:  # noqa: BLE001 — recorded for the assert
            result["error"] = exc

    t = threading.Thread(target=supervise, daemon=True)
    t.start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(snaps["t1"]) < 5 and "error" not in result:
            time.sleep(0.3)
        assert "error" not in result, f"launch probe escaped the monitor: {result['error']}"
        assert len(snaps["t1"]) == 5
        b_events = [make_event(s, name=f"b{s}") for s in range(1, 6)]
        with FakeMaxScale(TEST_SCHEMA_RECORD, b_events, table="test.t2", port=port2):
            deadline = time.time() + 90
            while time.time() < deadline and len(snaps["t2"]) < 5:
                time.sleep(0.3)
            done.set()
            t.join(60)
        assert not t.is_alive(), "supervisor did not stop"
    finally:
        done.set()
        srv1.stop()
        for q in started:  # a launch failure would have left these unsupervised
            if q.isActive:
                q.stop()

    assert "error" not in result, result.get("error")
    assert result["restarts"]["t1"] == 0, "healthy stream restarted needlessly"
    assert result["restarts"]["t2"] >= 1
    assert snaps["t1"] == {s: f"a{s}" for s in range(1, 6)}
    assert snaps["t2"] == {s: f"b{s}" for s in range(1, 6)}


def test_table_option_steady_trickle_commits_batches(spark, tmp_path) -> None:
    """Same steady-trickle liveness guarantee through the ``table=``
    shorthand: events arriving faster than pollSeconds never hit the
    idle timeout, so without the maxBatchSeconds bound the first
    micro-batch would collect toward the 100k cap for hours while
    nothing committed."""
    import json
    import threading

    srv = FakeMaxScale(TEST_SCHEMA_RECORD, [make_event(1)], table="test.t1")
    srv.__enter__()
    stop = threading.Event()

    def pusher() -> None:
        s = 2
        while not stop.is_set():
            srv.push_event(make_event(s))
            s += 1
            time.sleep(0.05)

    push = threading.Thread(target=pusher, daemon=True)
    push.start()
    try:
        spark.dataSource.register(MaxScaleCDCDataSource)
        df = (
            spark.readStream.format("maxscale_cdc")
            .option("host", "127.0.0.1")
            .option("port", str(srv.port))
            .option("user", srv.user)
            .option("password", srv.password)
            .option("table", "test.t1")
            .option("schemaRecord", json.dumps(TEST_SCHEMA_RECORD))
            .option("pollseconds", "0.5")
            .option("maxbatchseconds", "1")
            .load()
        )
        q = (
            df.writeStream.format("memory")
            .queryName("trickle_simple")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            count = 0
            while time.time() < deadline and count < 30:
                time.sleep(1.0)
                count = spark.sql("SELECT count(*) c FROM trickle_simple").first()["c"]
            assert count >= 30, "trickle never committed — batch held open"
            dups = spark.sql(
                "SELECT count(*) c FROM (SELECT sequence, event_number, count(*) n "
                "FROM trickle_simple GROUP BY 1, 2 HAVING n > 1)"
            ).first()["c"]
            assert dups == 0
        finally:
            q.stop()
    finally:
        stop.set()
        srv.stop()


def test_worker_crash_classified_as_transient() -> None:
    """A python worker dying mid-task (SIGKILL / OOM / host loss) is the
    local-mode face of losing an executor and must be restartable by
    the supervision layer — found by the r8 adversarial soak, where a
    SIGKILLed worker inside the SnapshotSink's foreachBatch collect()
    killed the whole supervised query instead of riding a restart."""
    from maxscale_cdc_connector_spark.streaming.restart import is_connection_failure

    assert is_connection_failure(
        RuntimeError(
            "[STREAM_FAILED] Query [id = x, runId = y] terminated with "
            "exception: Python worker exited unexpectedly (crashed). "
            "Consider setting ... SQLSTATE: XXKST"
        )
    )
    # Real errors must still re-raise.
    assert not is_connection_failure(RuntimeError("AnalysisException: col"))


def test_reader_detects_alter_at_reconnect(tmp_path) -> None:
    """r9 review: the avrorouter announces the CURRENT schema as the
    leading record on connect, so an ALTER landing while the reader was
    DISCONNECTED (every micro-batch re-dials) can only be seen by
    comparing that leading record to the query's fixed schema — the
    mid-stream detection never fires for it. Without the check,
    post-ALTER columns were silently dropped forever (ADD) or the stream
    died on the dense-row contract (DROP)."""
    new_schema = dict(TEST_SCHEMA_RECORD)
    new_schema["fields"] = TEST_SCHEMA_RECORD["fields"] + [
        {"name": "extra", "type": "string", "real_type": "varchar", "length": 16}
    ]
    ev = make_event(1, name="a1")
    ev["extra"] = "x1"
    with FakeMaxScale(new_schema, [ev], table="test.t") as srv:
        reader = _reader(srv)  # pre-ALTER pin
        with pytest.raises(SchemaChangedError):
            _drain(reader, reader.initialOffset())
        reader.stop()
        # A reader whose schema MATCHES the live one connects fine.
        reader2 = _reader(srv, new_schema)
        rows, _ = _drain(reader2, reader2.initialOffset())
        assert len(rows) == 1
        reader2.stop()


def test_run_supervised_schema_cache_survives_supervisor_restart(
    spark, tmp_path
) -> None:
    """r9 review: drift detection state was process-local, so an
    un-pinned deployment redeployed AFTER an ALTER — with the checkpoint
    GTID still before the ALTER boundary — re-opened the
    non-restartable CDCProtocolError hole. With schema_cache pointing
    at a file, the NEW supervisor process (simulated here by seeding
    the cache with the pre-ALTER schema) detects the drift on its FIRST
    load and enables the NULL backfill."""
    import json as _json
    import threading

    from maxscale_cdc_connector_spark.streaming.restart import run_supervised

    new_schema = dict(TEST_SCHEMA_RECORD)
    new_schema["fields"] = TEST_SCHEMA_RECORD["fields"] + [
        {"name": "extra", "type": "string", "real_type": "varchar", "length": 16}
    ]
    # History: rows 1-2 predate the ALTER (no extra on the wire), row 3
    # was written after it. The server already serves the NEW schema —
    # the old supervisor process died before seeing it.
    history = [make_event(s, name=f"pre{s}") for s in (1, 2)]
    ev3 = make_event(3, name="post3")
    ev3["extra"] = "x3"
    cache = tmp_path / "stream.schema.json"
    cache.write_text(
        _json.dumps(schema_record_to_struct(TEST_SCHEMA_RECORD).jsonValue())
    )
    rows: list[dict] = []

    def stop_when() -> bool:
        return {1, 2, 3} <= {r["sequence"] for r in list(rows)}

    with FakeMaxScale(
        new_schema, history + [ev3], table="test.t"
    ) as srv:
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

        result: dict = {}

        def run() -> None:
            try:
                # NO schemaRecord: fresh inference absorbs the ALTER;
                # only the cache knows the previous incarnation's shape.
                result["restarts"] = run_supervised(
                    spark,
                    {
                        "host": "127.0.0.1",
                        "user": srv.user,
                        "password": srv.password,
                        "streams": _json.dumps(
                            [{"table": "test.t", "port": srv.port}]
                        ),
                        "frontierDir": str(tmp_path / "frontier"),
                        "pollseconds": "0.3",
                    },
                    attach_sink,
                    max_restarts=20,
                    initial_backoff=0.3,
                    stop_when=stop_when,
                    timeout=60.0,
                    schema_cache=str(cache),
                )
            except Exception as exc:  # noqa: BLE001 — asserted below
                result["error"] = f"{type(exc).__name__}: {exc}"

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout=70)
        assert not t.is_alive(), "supervisor did not stop"
        assert "error" not in result, result.get("error")
        by_seq = {r["sequence"]: r for r in rows}
        assert by_seq[3]["extra"] == "x3"
        for s in (1, 2):  # pre-ALTER rows NULL-backfilled, not fatal
            assert by_seq[s]["extra"] is None
        # The cache now holds the post-ALTER schema for the NEXT restart
        # AND records that the NULL backfill is on (ADVICE r9): a
        # supervisor restarted after this write but before the
        # checkpoint passes the ALTER boundary must re-enable it.
        cached = _json.loads(cache.read_text())
        assert any(f["name"] == "extra" for f in cached["schema"]["fields"])
        assert cached["null_missing"] is True


def test_persisted_null_missing_survives_supervisor_restart(
    spark, tmp_path
) -> None:
    """ADVICE r9 (medium): drift detection persisted the NEW inferred
    schema immediately, but the nullMissingColumns enablement lived only
    in in-memory opts — a supervisor dying after the cache write but
    before the checkpoint passed the ALTER boundary saw cached==inferred
    on restart, never re-enabled the backfill, and pre-ALTER replay rows
    died with a non-restartable CDCProtocolError. The cache now records
    null_missing alongside the schema; this test starts a FRESH
    supervisor in exactly that window (cache seeded post-ALTER schema +
    null_missing=true, checkpoint still before the ALTER) and the
    pre-ALTER rows must NULL-backfill instead of failing."""
    import json as _json
    import threading

    from maxscale_cdc_connector_spark.streaming.restart import run_supervised

    new_schema = dict(TEST_SCHEMA_RECORD)
    new_schema["fields"] = TEST_SCHEMA_RECORD["fields"] + [
        {"name": "extra", "type": "string", "real_type": "varchar", "length": 16}
    ]
    history = [make_event(s, name=f"pre{s}") for s in (1, 2)]  # pre-ALTER
    ev3 = make_event(3, name="post3")
    ev3["extra"] = "x3"
    cache = tmp_path / "stream.schema.json"
    # The dead supervisor already wrote the post-ALTER schema AND the
    # persisted backfill flag; no drift is detectable on restart.
    cache.write_text(
        _json.dumps(
            {
                "schema": schema_record_to_struct(new_schema).jsonValue(),
                "null_missing": True,
            }
        )
    )
    rows: list[dict] = []

    def stop_when() -> bool:
        return {1, 2, 3} <= {r["sequence"] for r in list(rows)}

    with FakeMaxScale(new_schema, history + [ev3], table="test.t") as srv:
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

        result: dict = {}

        def run() -> None:
            try:
                result["restarts"] = run_supervised(
                    spark,
                    {
                        "host": "127.0.0.1",
                        "user": srv.user,
                        "password": srv.password,
                        "streams": _json.dumps(
                            [{"table": "test.t", "port": srv.port}]
                        ),
                        "frontierDir": str(tmp_path / "frontier"),
                        "pollseconds": "0.3",
                    },
                    attach_sink,
                    max_restarts=20,
                    initial_backoff=0.3,
                    stop_when=stop_when,
                    timeout=60.0,
                    schema_cache=str(cache),
                )
            except Exception as exc:  # noqa: BLE001 — asserted below
                result["error"] = f"{type(exc).__name__}: {exc}"

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout=70)
        assert not t.is_alive(), "supervisor did not stop"
        assert "error" not in result, result.get("error")
        by_seq = {r["sequence"]: r for r in rows}
        assert by_seq[3]["extra"] == "x3"
        for s in (1, 2):  # backfill re-enabled purely from the cache flag
            assert by_seq[s]["extra"] is None


def test_supervision_retries_hung_server_handshake(spark, tmp_path) -> None:
    """r9: a server that ACCEPTS the dial but never answers the
    handshake (wedged process, black-holed link) surfaces as the
    protocol client's 'Request timed out' — transport loss, not a code
    bug. The supervisor must back off and retry it like any connection
    failure instead of dying; when the real server comes back on the
    same port, delivery resumes."""
    import json as _json
    import socket as _socket
    import threading

    from maxscale_cdc_connector_spark.streaming.restart import run_supervised

    # A listener that accepts connections and never responds.
    hang = _socket.socket()
    hang.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
    hang.bind(("127.0.0.1", 0))
    hang.listen(8)
    port = hang.getsockname()[1]
    held: list = []
    hang_alive = threading.Event()
    hang_alive.set()

    def acceptor() -> None:
        while hang_alive.is_set():
            try:
                hang.settimeout(0.2)
                conn, _ = hang.accept()
                held.append(conn)  # hold open, never answer
            except TimeoutError:
                continue
            except OSError:
                return

    acc = threading.Thread(target=acceptor, daemon=True)
    acc.start()

    rows: list[dict] = []

    def stop_when() -> bool:
        return {1, 2} <= {r["sequence"] for r in list(rows)}

    def attach_sink(df):
        def collect_batch(batch, _bid):
            rows.extend(r.asDict() for r in batch.collect())

        return (
            df.writeStream.foreachBatch(collect_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    spark.dataSource.register(MaxScaleCDCDataSource)
    result: dict = {}

    def run() -> None:
        try:
            result["restarts"] = run_supervised(
                spark,
                {
                    "host": "127.0.0.1",
                    "user": "u",
                    "password": "p",
                    "streams": _json.dumps([{"table": "test.t", "port": port}]),
                    "frontierDir": str(tmp_path / "frontier"),
                    "schemaRecord": _json.dumps(TEST_SCHEMA_RECORD),
                    # Short handshake timeout so the hung phase cycles
                    # fast (decoupled from pollSeconds in r10).
                    "pollseconds": "0.5",
                    "handshakeseconds": "0.5",
                },
                attach_sink,
                max_restarts=50,
                initial_backoff=0.3,
                max_backoff=1.0,
                stop_when=stop_when,
                timeout=90.0,
            )
        except Exception as exc:  # noqa: BLE001 — asserted below
            result["error"] = f"{type(exc).__name__}: {exc}"

    t = threading.Thread(target=run, daemon=True)
    t.start()
    try:
        # Let the supervisor consume a few handshake-timeout restarts.
        deadline = time.time() + 20
        while time.time() < deadline and "error" not in result:
            time.sleep(0.5)
        assert "error" not in result, (
            f"supervision died on a hung handshake: {result.get('error')}"
        )
        # Real server replaces the wedge on the same port.
        hang_alive.clear()
        hang.close()
        for c in held:
            try:
                c.close()
            except OSError:
                pass
        acc.join(5)
        time.sleep(0.5)
        with FakeMaxScale(
            TEST_SCHEMA_RECORD,
            [make_event(1, name="a1"), make_event(2, name="a2")],
            user="u", password="p", table="test.t", port=port,
        ):
            t.join(timeout=60)
            assert not t.is_alive(), "supervisor never delivered after recovery"
            assert "error" not in result, result.get("error")
            assert {1, 2} <= {r["sequence"] for r in rows}
            assert result["restarts"] >= 1
    finally:
        hang_alive.clear()
        try:
            hang.close()
        except OSError:
            pass
