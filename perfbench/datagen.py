"""Seeded inputs for every workload.

``write_tables`` writes the ten relational tables the query board reads,
at sf0.1 sizes and with the value ranges and schemas documented in
FIXTURES.md (one parquet file per table, single row group).

``customer_log`` builds a CDC change log over the customer schema of
``queries.cdc_queries.CUSTOMER_SCHEMA_RECORD``: inserts, update
before/after pairs and deletes, with key popularity skewed (Zipf-like),
serialized once as newline-delimited JSON so the CDC server only moves
bytes.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    d0 = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - d0).astype(int))
    days = d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary, with a few exact copies
    and ~5% near-copies (one word appended), so the dedup queries find
    both kinds of duplicate."""
    vocab = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 100 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 100 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten board tables at sf0.1 under ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = SF01_ROWS
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(n["customer"])),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
                "c_nationkey": i32(rng.integers(0, 25, n["customer"])),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(n["supplier"])),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
                "s_nationkey": i32(rng.integers(0, 25, n["supplier"])),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(np.arange(n["part"])),
                "p_name": pa.array(
                    [f"{c} {w}" for c, w in zip(
                        rng.choice(COLORS, n["part"]), rng.choice(NOUNS, n["part"])
                    )]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
                "p_type": _pick(rng, PART_TYPES, n["part"]),
                "p_size": i32(rng.integers(1, 51, n["part"])),
                "p_retailprice": 900.0 + (np.arange(n["part"]) % 1000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(np.arange(n["orders"])),
                "o_custkey": i64(rng.integers(0, n["customer"], n["orders"])),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
                "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n["orders"], n["lineitem"])),
                "l_partkey": i64(rng.integers(0, n["part"], n["lineitem"])),
                "l_suppkey": i64(rng.integers(0, n["supplier"], n["lineitem"])),
                "l_linenumber": i32(rng.integers(1, 8, n["lineitem"])),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
                "l_discount": np.round(rng.uniform(0.0, 0.1, n["lineitem"]), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, n["lineitem"]), 2),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
                "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n["lineitem"]),
            }
        ),
    }
    ne = n["events"]
    gaps_us = rng.exponential(26e6, ne).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": i64(np.arange(ne)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": i64(rng.integers(0, 1500, ne)),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    ne = n["embeddings"]
    vec = rng.standard_normal((ne, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": i64(np.arange(ne)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": i32(rng.integers(0, 10, ne)),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- CDC change logs --------------------------------------------------------

EVENT_TS_BASE_MS = 1_700_000_000_000


@dataclass
class ChangeLog:
    """One stream's change log, serialized once.

    ``blob[offsets[i]:offsets[i + 1]]`` is event ``i``'s JSON line;
    ``sequence`` is its GTID sequence (non-decreasing; both halves of an
    update share one) and ``columns`` holds every field for the
    correctness checks."""

    blob: bytes
    offsets: np.ndarray
    sequence: np.ndarray
    columns: dict[str, np.ndarray]

    def __len__(self) -> int:
        return len(self.sequence)


def skewed_keys(rng: np.random.Generator, n: int, n_keys: int, s: float = 1.1) -> np.ndarray:
    """``n`` draws from ``[0, n_keys)`` with Zipf-like popularity: key
    rank ``r`` has weight ``1 / (r + 1) ** s``, ranks shuffled over ids."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    perm = rng.permutation(n_keys)
    return perm[rng.choice(n_keys, n, p=w / w.sum())].astype(np.int64)


def customer_log(
    rng: np.random.Generator,
    n_ops: int,
    n_keys: int,
    first_sequence: int,
    server_id: int,
    mix: tuple[float, float, float],
    insert_all_first: bool = False,
    event_ts_ms: np.ndarray | None = None,
    key_stride: int = 1,
    key_offset: int = 0,
) -> ChangeLog:
    """A change log of ``n_ops`` operations over ``n_keys`` keys; key
    ``j`` is customer ``j * key_stride + key_offset``, so the shards of
    one table own disjoint keys.

    ``mix`` is the (insert, update, delete) share of operations; an
    update emits an ``update_before``/``update_after`` pair under one
    GTID. With ``insert_all_first`` the log opens with one insert per
    key (the snapshot a live stream starts from) and ``n_ops`` more
    operations follow. ``event_ts_ms`` (one value per operation, after
    the opening inserts) stamps each event with its due time; by default
    event_ts is the sequence number."""
    keys = skewed_keys(rng, n_ops, n_keys)
    op = rng.choice(3, n_ops, p=np.asarray(mix) / sum(mix))
    if insert_all_first:
        keys = np.concatenate([np.arange(n_keys, dtype=np.int64), keys])
        op = np.concatenate([np.zeros(n_keys, dtype=np.int64), op])
    keys = keys * key_stride + key_offset
    n_total = len(op)
    seq = first_sequence + np.arange(n_total, dtype=np.int64)
    if event_ts_ms is None:
        ts = seq
    else:
        ts = np.concatenate([np.full(n_total - n_ops, EVENT_TS_BASE_MS), event_ts_ms])
    bal = np.round(rng.uniform(-999.99, 9999.99, n_total), 2)
    nation = rng.integers(0, 25, n_total)
    seg = rng.integers(0, len(SEGMENTS), n_total)
    # An update expands to two events (before, after) sharing a GTID.
    reps = np.where(op == 1, 2, 1)
    idx = np.repeat(np.arange(n_total), reps)
    evn = np.ones(len(idx), dtype=np.int64)
    first = np.r_[True, idx[1:] != idx[:-1]]
    evn[~first] = 2
    kind = np.where(op[idx] == 0, 0, np.where(op[idx] == 2, 3, evn))  # 1=before 2=after
    names = np.asarray(["insert", "update_before", "update_after", "delete"], dtype=object)
    cols = {
        "sequence": seq[idx],
        "event_number": evn,
        "event_ts": ts[idx],
        "event_type": names[kind],
        "c_custkey": keys[idx],
        "c_nationkey": nation[idx],
        "c_acctbal": bal[idx],
        "c_mktsegment": np.asarray(SEGMENTS, dtype=object)[seg[idx]],
    }
    lines = [
        f'{{"domain":0,"server_id":{server_id},"sequence":{s},"event_number":{e},'
        f'"event_ts":{t},"event_type":"{ty}","c_custkey":{k},'
        f'"c_name":"Customer#{k:09d}","c_nationkey":{n},"c_acctbal":{b!r},'
        f'"c_mktsegment":"{m}"}}\n'.encode()
        for s, e, t, ty, k, n, b, m in zip(
            cols["sequence"].tolist(), evn.tolist(), cols["event_ts"].tolist(),
            cols["event_type"].tolist(), cols["c_custkey"].tolist(),
            cols["c_nationkey"].tolist(), cols["c_acctbal"].tolist(),
            cols["c_mktsegment"].tolist(),
        )
    ]
    offsets = np.zeros(len(lines) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in lines], out=offsets[1:])
    return ChangeLog(b"".join(lines), offsets, cols["sequence"], cols)


def schema_line(schema_record: str) -> bytes:
    return (json.dumps(json.loads(schema_record)) + "\n").encode()


def latest_per_key(logs: list[ChangeLog]) -> dict[int, tuple]:
    """Expected current state: for each key its greatest
    (sequence, event_number) event, with deleted keys dropped.
    Value tuple: (event_type, c_nationkey, c_acctbal, c_mktsegment)."""
    state: dict[int, tuple] = {}
    order: dict[int, tuple[int, int]] = {}
    for log in logs:
        c = log.columns
        for s, e, k, ty, n, b, m in zip(
            c["sequence"].tolist(), c["event_number"].tolist(), c["c_custkey"].tolist(),
            c["event_type"].tolist(), c["c_nationkey"].tolist(), c["c_acctbal"].tolist(),
            c["c_mktsegment"].tolist(),
        ):
            if (s, e) > order.get(k, (-1, -1)):
                order[k] = (s, e)
                state[k] = (ty, n, b, m)
    return {k: v for k, v in state.items() if v[0] != "delete"}

