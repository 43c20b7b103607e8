"""Property-based tests (SURVEY.md §5.2.5): snapshot invariance under
event-order permutation, typemap totality/round-trips, GTID round-trip.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import types
from unittest import mock

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from maxscale_cdc_connector_spark.envelope import gtid_column, parse_gtid
from maxscale_cdc_connector_spark.operators.cdc import latest_by, latest_snapshot
from maxscale_cdc_connector_spark.typemap import (
    field_sql_type,
    schema_record_to_struct,
    sql_type_to_spark,
)

# ---------------------------------------------------------------------------
# Pure-Python properties (fast, many examples).
# ---------------------------------------------------------------------------


@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=0, max_value=2**62),
)
def test_gtid_parse_roundtrip(domain: int, server_id: int, seq: int) -> None:
    gtid = f"{domain}-{server_id}-{seq}"
    assert parse_gtid(gtid) == (domain, server_id, seq)


@given(st.text(max_size=40))
def test_sql_type_to_spark_total(s: str) -> None:
    """Never raises, always returns a DataType — the reference's
    carry-anything type-string behavior (cdc_connector.cpp:262-281)."""
    assert isinstance(sql_type_to_spark(s), T.DataType)


@given(
    st.integers(min_value=1, max_value=38),
    st.integers(min_value=0, max_value=37),
)
def test_decimal_mapping(p: int, s: int) -> None:
    dt = sql_type_to_spark(f"decimal({p},{s})")
    assert isinstance(dt, T.DecimalType)
    assert dt.precision == p and dt.scale == s


@given(
    st.sampled_from(["varchar", "char", "varbinary"]),
    st.integers(min_value=1, max_value=65535),
)
def test_length_suffix_applied(base: str, n: int) -> None:
    field = {"name": "x", "type": "string", "real_type": base, "length": n}
    assert field_sql_type(field) == f"{base}({n})"


@given(st.dictionaries(st.just("type"), st.lists(st.integers())))
def test_complex_avro_type_falls_back(d: dict) -> None:
    # Non-string Avro type → varchar(50) fallback (cdc_connector.cpp:270).
    field = {"name": "g", "type": {"type": "record"}, "length": -1}
    assert field_sql_type(field) == "varchar(50)"


# ---------------------------------------------------------------------------
# Spark-involving properties (few examples, deadline off).
# ---------------------------------------------------------------------------

_EVENT_FIELDS = (
    "domain int, server_id int, sequence long, event_number int, "
    "event_type string, k int, v string"
)


def _expected_snapshot(events: list[tuple]) -> dict[int, tuple]:
    """Reference semantics in plain Python: per key, the event with the
    greatest (sequence, event_number) wins; losers are discarded; a key
    whose winner is a delete disappears."""
    best: dict[int, tuple] = {}
    for e in events:
        k = e[5]
        if k not in best or (e[2], e[3]) > (best[k][2], best[k][3]):
            best[k] = e
    return {k: e for k, e in best.items() if e[4] != "delete"}


@st.composite
def _event_logs(draw):
    n_keys = draw(st.integers(min_value=1, max_value=6))
    events = []
    seq = 0
    for k in range(n_keys):
        n_ops = draw(st.integers(min_value=1, max_value=5))
        for _ in range(n_ops):
            seq += 1
            etype = draw(st.sampled_from(["insert", "update_after", "delete"]))
            events.append((0, 3000, seq, 1, etype, k, f"v{seq}"))
    return draw(st.permutations(events))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_event_logs())
def test_snapshot_invariant_under_permutation(spark, events) -> None:
    """latest_snapshot depends only on (sequence, event_number) order —
    arrival order (partitioning, shuffling, replay order) never matters.
    GTID order is the stream's one total order (cdc_connector.h:65)."""
    df = spark.createDataFrame(list(events), _EVENT_FIELDS)
    got = {
        r["k"]: (r["sequence"], r["v"], r["event_type"])
        for r in latest_snapshot(df, ["k"]).collect()
    }
    want = {
        k: (e[2], e[6], e[4]) for k, e in _expected_snapshot(list(events)).items()
    }
    assert got == want


def test_latest_by_invariant_under_permutation(spark) -> None:
    """latest_by over a multi-column order with ties: every permutation
    of one log yields the Python max over (order, rest) per key — a tie
    never splits a row and arrival order never matters. All 120
    permutations run as one job, each under its own ``perm`` key, spread
    over several input partitions."""
    log = [
        (0, 1, 2, "x", 5),
        (0, 1, 2, "y", 3),  # ties (1, 2): the greater rest wins
        (0, 1, 1, "z", 9),
        (1, 2, 0, "p", 1),
        (1, 2, 0, "p", 2),  # ties (2, 0) and v: w decides
    ]
    rows = [
        (perm, *e) for perm, order in enumerate(itertools.permutations(log)) for e in order
    ]
    df = spark.sparkContext.parallelize(rows, 7).toDF(["perm", "k", "a", "b", "v", "w"])
    out = latest_by(df, ["perm", "k"], ["a", "b"])
    assert out.columns == ["perm", "k", "a", "b", "v", "w"]
    want = {
        k: max(((a, b), (v, w)) for kk, a, b, v, w in log if kk == k) for k in (0, 1)
    }
    got = {(r["perm"], r["k"]): ((r["a"], r["b"]), (r["v"], r["w"])) for r in out.collect()}
    assert got == {(p, k): want[k] for p in range(120) for k in want}


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100),
            st.integers(min_value=0, max_value=100),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_gtid_column_matches_python(spark, triples) -> None:
    df = spark.createDataFrame(triples, "domain int, server_id int, sequence long")
    got = [r["gtid"] for r in df.select(gtid_column().alias("gtid")).collect()]
    want = [f"{d}-{s}-{q}" for d, s, q in triples]
    assert sorted(got) == sorted(want)


def test_schema_record_roundtrip_through_json(spark) -> None:
    """A struct built from a schema record survives JSON wire round-trip."""
    record = {
        "fields": [
            {"name": "a", "type": "int", "real_type": "int", "length": -1},
            {"name": "b", "type": "string", "real_type": "varchar", "length": 5},
        ]
    }
    struct = schema_record_to_struct(json.dumps(record))
    df = spark.createDataFrame([(1, "x")], struct)
    back = spark.read.json(
        df.toJSON(), schema=struct
    )
    assert back.schema == struct and back.first()["b"] == "x"


# ---------------------------------------------------------------------------
# Connected components vs a pure-Python union-find reference.
# ---------------------------------------------------------------------------


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # Components labeled by their minimum node id.
    roots: dict[int, int] = {}
    for n in parent:
        r = find(n)
        roots[r] = min(roots.get(r, n), n)
    return {n: roots[find(n)] for n in parent}


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_matches_union_find(spark, edges) -> None:
    """Star contraction agrees with union-find on random graphs
    (self-loops and duplicate/reversed edges included)."""
    from maxscale_cdc_connector_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, max_iters=40).collect()
    }
    want = _union_find_components(edges)
    assert got == want


def test_connected_components_long_chain_converges_fast(spark) -> None:
    """A 1000-node path graph (diameter 999) must still converge in
    O(log^2 n) star-contraction rounds — the diameter-independence that
    justifies star contraction over label propagation — and label every
    node with the chain minimum."""
    from maxscale_cdc_connector_spark.operators import graph

    n = 1000
    edges = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in graph.connected_components(df, max_iters=25).collect()
    }
    assert got == {i: 0 for i in range(n)}
    assert graph.LAST_ROUNDS <= 15, (
        f"chain took {graph.LAST_ROUNDS} rounds — diameter leaked in"
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ).filter(lambda p: p[0] != p[1]).map(lambda p: (min(p), max(p))),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_strict_pairs_matches_default(spark, pairs) -> None:
    """input_strict_pairs (r17: canonicalization as a pure projection,
    labels straight from the fixpoint stars) must agree with the default
    path on every distinct self-loop-free pair set — the exact contract
    the dedup pair pipelines provide."""
    from maxscale_cdc_connector_spark.operators.graph import connected_components

    edges = sorted(pairs)
    df = spark.createDataFrame(edges, "src long, dst long").localCheckpoint(
        eager=True
    )
    base = {
        r["node"]: r["component"]
        for r in connected_components(df, max_iters=40).collect()
    }
    strict = {
        r["node"]: r["component"]
        for r in connected_components(
            df, max_iters=40, input_materialized=True, input_strict_pairs=True
        ).collect()
    }
    assert strict == base


def _visible_bytes(root) -> int:
    """Bytes of a table's data files: every file under ``root`` except
    ``_``/``.``-prefixed entries (``_SUCCESS``, ``.crc``, ``_temporary/``)."""
    import os

    if not os.path.isdir(root):
        return os.path.getsize(root)
    total = 0
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        total += sum(
            os.path.getsize(os.path.join(d, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


def test_checkpoint_if_small_gates_on_input_bytes(spark, sf_dir) -> None:
    """Below the limit the frame is materialized (plan bottoms out in a
    LogicalRDD); above it the frame is returned unchanged (lazy,
    recomputable). Rows identical either way — the gate is a storage
    decision, never a semantic one."""
    import os

    from maxscale_cdc_connector_spark.operators.cache import (
        CKPT_MAX_INPUT_BYTES_ENV,
        checkpoint_if_small,
        input_bytes,
    )
    from maxscale_cdc_connector_spark.session import load_table

    df = load_table(spark, "documents", sf_dir).select("doc_id")
    ib = input_bytes(df)
    assert ib is not None and ib > 0
    assert input_bytes(spark.range(3)) is None  # no file inputs: unknown

    small = checkpoint_if_small(df, ib)
    assert small._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
    old = os.environ.get(CKPT_MAX_INPUT_BYTES_ENV)
    os.environ[CKPT_MAX_INPUT_BYTES_ENV] = "1"
    try:
        big = checkpoint_if_small(df, ib)
        assert big is df  # unchanged, still lazy
        unknown = checkpoint_if_small(df, None)
        assert unknown is df  # unknown size must be treated as big
    finally:
        if old is None:
            del os.environ[CKPT_MAX_INPUT_BYTES_ENV]
        else:
            os.environ[CKPT_MAX_INPUT_BYTES_ENV] = old
    assert small.count() == df.count()


def test_input_bytes_walks_nested_partition_dirs(spark, tmp_path) -> None:
    """A Spark-written partitioned layout (``t.parquet/k=v/sub=w/part-*``)
    measures its data files, so a corpus-scale nested table cannot read
    as small and pass the checkpoint gate (ADVICE r17); ``_SUCCESS``, a
    stray ``_temporary/`` file and ``.crc`` sidecars never count. A flat
    layout measures its visible files; a projection measures the same
    inputs; an unreadable input or a non-``file`` scheme is unknown."""
    import os

    from pyspark.sql import functions as F

    from maxscale_cdc_connector_spark.operators.cache import input_bytes

    root = tmp_path / "t.parquet"
    (
        spark.range(0, 400, 1, 4)
        .withColumn("k", F.col("id") % 2)
        .withColumn("sub", F.when(F.col("id") % 3 == 0, "a").otherwise("b"))
        .write.partitionBy("k", "sub")
        .parquet(str(root))
    )
    assert (root / "_SUCCESS").exists()
    (root / "_temporary" / "0").mkdir(parents=True)
    (root / "_temporary" / "0" / "part-9.parquet").write_bytes(b"x" * 500_000)
    expected = _visible_bytes(str(root))
    assert 0 < expected < 500_000
    df = spark.read.parquet(str(root))
    assert input_bytes(df) == expected
    assert input_bytes(df.select("id").where(F.col("k") == 1)) == expected

    flat = tmp_path / "f.parquet"
    spark.range(0, 50, 1, 2).write.parquet(str(flat))
    assert any(f.startswith(".") for f in os.listdir(flat))  # .crc sidecars
    fdf = spark.read.parquet(str(flat))
    assert input_bytes(fdf) == _visible_bytes(str(flat)) > 0
    os.remove(next(p for p in flat.iterdir() if p.name.startswith("part-")))
    assert input_bytes(fdf) is None  # unreadable input: unknown, not small

    class _Remote:
        def inputFiles(self):
            return ["hdfs://namenode/warehouse/t.parquet/part-0.parquet"]

    assert input_bytes(_Remote()) is None


def test_input_bytes_decodes_percent_encoded_paths(spark, tmp_path) -> None:
    """ADVICE r17: ``inputFiles`` percent-encodes a space in the table's
    directory (``data%20dir``); the probe decodes the URI, so the
    checkpoint gate still sees the table's real size instead of
    silently reading it as unknown."""
    from maxscale_cdc_connector_spark.operators.cache import input_bytes

    root = tmp_path / "data dir" / "t.parquet"
    spark.range(0, 100, 1, 2).write.parquet(str(root))
    df = spark.read.parquet(str(root))
    assert any("%20" in f for f in df.inputFiles())
    assert input_bytes(df) == _visible_bytes(str(root)) > 0


def test_eager_barrier_gates_and_releases_both_kinds(spark, sf_dir) -> None:
    """Below the limit eager_barrier is a checkpoint (LogicalRDD);
    above it an eagerly-populated persist (InMemoryRelation with loaded
    buffers). The barriers() scope must release EITHER kind without
    touching the already-materialized result."""
    import os

    from maxscale_cdc_connector_spark.operators.cache import (
        CKPT_MAX_INPUT_BYTES_ENV,
        barriers,
        eager_barrier,
        input_bytes,
    )
    from maxscale_cdc_connector_spark.session import load_table

    df = load_table(spark, "documents", sf_dir).select("doc_id")
    ib = input_bytes(df)
    assert ib is not None and ib == _visible_bytes(f"{sf_dir}/documents.parquet")

    small = eager_barrier(df, ib)
    assert small._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
    with barriers() as hold:
        out = hold(small).limit(3).localCheckpoint(eager=True)
    assert out.count() == 3  # result survives the release

    old = os.environ.get(CKPT_MAX_INPUT_BYTES_ENV)
    os.environ[CKPT_MAX_INPUT_BYTES_ENV] = "1"
    try:
        big = eager_barrier(df, ib)
        assert big.storageLevel.useMemory  # persisted fallback
        with barriers() as hold:
            out = hold(big).limit(3).localCheckpoint(eager=True)
        assert out.count() == 3
        assert not big.storageLevel.useMemory  # released
    finally:
        if old is None:
            del os.environ[CKPT_MAX_INPUT_BYTES_ENV]
        else:
            os.environ[CKPT_MAX_INPUT_BYTES_ENV] = old


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_event_logs(), st.data())
def test_merge_upsert_equals_replay_for_any_split(spark, events, data) -> None:
    """For ANY GTID-ordered split of a random change log into (prefix,
    suffix): merge_upsert(snapshot(prefix), suffix) == snapshot(full) —
    the incremental path may never diverge from replay, including
    delete-then-reinsert, keys born in the suffix, and keys whose last
    prefix event was a delete. Arrival order within each side is
    permuted independently (only GTID order is semantic)."""
    from maxscale_cdc_connector_spark.operators.cdc import merge_upsert

    ordered = sorted(events, key=lambda e: (e[2], e[3]))
    s = data.draw(st.integers(min_value=0, max_value=len(ordered)))
    prefix = data.draw(st.permutations(ordered[:s])) if s else []
    suffix = data.draw(st.permutations(ordered[s:])) if s < len(ordered) else []

    base_rows = [
        (e[5], e[6]) for e in _expected_snapshot(list(prefix)).values()
    ]
    want = {k: e[6] for k, e in _expected_snapshot(list(ordered)).items()}

    base = spark.createDataFrame(base_rows or [], "k int, v string")
    if suffix:
        delta = spark.createDataFrame(list(suffix), _EVENT_FIELDS)
        merged = merge_upsert(base, delta, ["k"], ["k", "v"])
        got = {r["k"]: r["v"] for r in merged.collect()}
    else:
        got = {r["k"]: r["v"] for r in base.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# Wire framing: read_raw_block must be chunking-invariant (r7 — the block
# framing replaced the per-line list API on the partitioned-ingest hot path).
# ---------------------------------------------------------------------------


class _ScriptedSocket:
    """recv() plays back a fixed byte stream in scripted chunk sizes on a
    fake clock (``now``): chunk i arrives ``gaps[i]`` seconds after the
    one before it (default 0). When the socket timeout runs out first,
    recv advances the clock by that timeout and raises socket.timeout
    (the protocol's legal idle state); after the last chunk the stream
    stays silent."""

    def __init__(self, stream: bytes, cuts, gaps=()) -> None:
        self._chunks: list[bytes] = []
        pos = 0
        for c in sorted(set(cuts)):
            if 0 < c < len(stream):
                self._chunks.append(stream[pos:c])
                pos = c
        self._chunks.append(stream[pos:])
        self._chunks = [c for c in self._chunks if c]
        self._gaps = list(gaps)[: len(self._chunks)]
        self._gaps += [0.0] * (len(self._chunks) - len(self._gaps))
        self.now = 0.0
        self.timeout: float | None = None
        self.recvs = 0
        self.timeouts = 0

    def settimeout(self, timeout: float) -> None:
        self.timeout = timeout

    def recv(self, _n: int) -> bytes:
        import socket as _socket

        self.recvs += 1
        gap = self._gaps[0] if self._chunks else float("inf")
        if gap > self.timeout:
            self.now += self.timeout
            if self._chunks:
                self._gaps[0] -= self.timeout
            self.timeouts += 1
            raise _socket.timeout()
        self.now += gap
        self._gaps.pop(0)
        return self._chunks.pop(0)


@contextlib.contextmanager
def _scripted_client(stream: bytes, cuts=(), gaps=(), timeout: float = 10.0):
    """A streaming CDCClient on a _ScriptedSocket whose clock stands in
    for ``protocol.time``; yields ``(client, sock)``."""
    from maxscale_cdc_connector_spark.sources import protocol

    client = protocol.CDCClient("h", 1, "u", "p", "db.t", timeout=timeout)
    sock = _ScriptedSocket(stream, cuts, gaps)
    sock.settimeout(timeout)  # as connect() leaves it
    client._sock = sock  # type: ignore[assignment]
    client._streaming = True
    clock = types.SimpleNamespace(monotonic=lambda: sock.now)
    with mock.patch.object(protocol, "time", clock):
        yield client, sock


@settings(max_examples=60, deadline=None)
@given(
    lines=st.lists(
        # min_size=0: BLANK lines are injected into the wire stream too
        # (ADVICE r7 — a blank line at the END of a framed region, wire
        # b"abc\n\n", evaded normalization and re-entered the block).
        # They are not avrorouter output, but framing must filter them
        # at any chunk boundary without miscounting.
        st.binary(min_size=0, max_size=40).filter(lambda b: b"\n" not in b),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(min_value=1, max_value=1200), max_size=12),
    cap=st.integers(min_value=1, max_value=8),
)
def test_read_raw_block_is_chunking_invariant(lines, cuts, cap) -> None:
    """However the TCP stream is cut into recv() chunks, wherever blank
    lines appear, and whatever the per-call line cap, read_raw_block
    must reassemble EXACTLY the sent non-blank lines, report exact line
    counts, and end with a clean idle None — after exactly one timeout
    of silence, however the blocks fell."""
    stream = b"".join(ln + b"\n" for ln in lines)
    lines = [ln for ln in lines if ln]  # blank lines must be filtered out

    got: list[bytes] = []
    with _scripted_client(stream, cuts) as (client, sock):
        while True:
            blk = client.read_raw_block(cap)
            if blk is None:
                break
            block, n = blk
            part = block.split(b"\n")
            assert len(part) == n, "reported line count must match the block"
            assert all(p for p in part), "no empty lines may be emitted"
            got.extend(part)
    assert got == lines
    assert sock.timeouts == 1 and sock.now == client.timeout


def test_read_raw_block_idle_spans_calls() -> None:
    """A block that ended on a full timeout of silence leaves nothing to
    wait for: the next call is idle at once, without a recv."""
    with _scripted_client(b"a\nb\n", timeout=1.0) as (client, sock):
        assert client.read_raw_block(100) == (b"a\nb", 2)
        assert sock.now == 1.0
        recvs = sock.recvs
        assert client.read_raw_block(100) is None
        assert sock.recvs == recvs and sock.now == 1.0


def test_read_raw_block_returns_by_its_budget() -> None:
    """Lines 0.375 s apart never make a timeout of silence, so only
    ``max_seconds`` ends a block — at the budget, not one recv later —
    and silence seen before that counts toward the idle end."""
    stream = b"0\n1\n2\n3\n"
    with _scripted_client(stream, [2, 4, 6], [0.375] * 4, 1.0) as (client, sock):
        assert client.read_raw_block(100, max_seconds=1.0) == (b"0\n1", 2)
        assert sock.now == 1.0
        assert client.read_raw_block(100, max_seconds=1.0) == (b"2\n3", 2)
        assert sock.now == 2.0
        assert client.read_raw_block(100, max_seconds=1.0) is None
        assert sock.now == 2.5  # one timeout after the last byte (1.5 s)


def test_read_raw_block_time_between_calls_is_not_silence() -> None:
    """A caller busy between calls (a full prefetch queue) has not
    watched the socket: lines that arrived meanwhile are read, not
    taken for idle."""
    with _scripted_client(b"a\nb\n", [2], timeout=1.0) as (client, sock):
        assert client.read_raw_block(1) == (b"a", 1)
        sock.now += 5.0
        assert client.read_raw_block(1) == (b"b", 1)
