"""``session.load_table``: Spark's schema inference runs once per file
version. A later load of the same version passes the stored schema and
launches no Spark job; any change to the files or to a conf that
changes the inferred types makes the next load infer again."""

from __future__ import annotations

import os
import uuid
from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import BinaryType, LongType, StringType

from maxscale_cdc_connector_spark.session import load_table


def _counting_jobs(spark, call):
    """(``call()``, the number of Spark jobs it launched), counted in a
    fresh job group after draining the listener bus."""
    sc = spark.sparkContext
    group = f"test-session-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def test_load_table_infers_once_per_file(spark, tmp_path) -> None:
    """The first load of a file runs exactly one job, the footer
    inference; a second load of the same file runs none and reads the
    same schema and rows."""
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")

    load = partial(load_table, spark, "t", str(tmp_path))
    first, first_jobs = _counting_jobs(spark, load)
    second, second_jobs = _counting_jobs(spark, load)

    assert (first_jobs, second_jobs) == (1, 0)
    assert second.schema == first.schema
    assert _rows(second) == _rows(first) == [(1, "a"), (2, "b"), (3, "c")]


@pytest.mark.parametrize(
    "rewritten",
    [
        pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"], "extra": [0.5, 1.5, 2.5]}),
        pa.table({"k": [1.0, 2.0, 3.0], "v": ["a", "b", "c"]}),
    ],
    ids=["added-column", "retyped-column"],
)
def test_load_table_sees_a_rewritten_file(spark, tmp_path, rewritten) -> None:
    """Rewriting the file in place, with an added column or with a
    retyped column at the same row count, makes the next load see the
    new schema and rows."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), path)
    load_table(spark, "t", str(tmp_path))
    load_table(spark, "t", str(tmp_path))

    pq.write_table(rewritten, path)
    df = load_table(spark, "t", str(tmp_path))

    assert df.schema == spark.read.parquet(str(path)).schema
    assert df.columns == rewritten.column_names
    assert _rows(df) == sorted(zip(*rewritten.to_pydict().values()))


def test_load_table_sees_a_replaced_part_file_of_a_table_dir(spark, tmp_path) -> None:
    """A table stored as a dir: replacing its only part file, as an
    overwrite does, makes the next load see the new file's schema."""
    table = tmp_path / "t.parquet"
    table.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), table / "part-00000-a.parquet")
    assert load_table(spark, "t", str(tmp_path)).columns == ["k"]
    assert load_table(spark, "t", str(tmp_path)).columns == ["k"]

    pq.write_table(pa.table({"k": [3], "name": ["x"]}), table / "part-00000-b.parquet")
    os.remove(table / "part-00000-a.parquet")
    df = load_table(spark, "t", str(tmp_path))

    assert df.schema == spark.read.parquet(str(table)).schema
    assert _rows(df) == [(3, "x")]


def test_load_table_schema_follows_binary_as_string(spark, tmp_path) -> None:
    """``spark.sql.parquet.binaryAsString`` is part of the signature:
    toggling it between two loads of the same binary column gives
    BinaryType, then StringType, each equal to a cold inference."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf)
    try:
        seen = []
        for value in ("false", "true"):
            spark.conf.set(conf, value)
            df = load_table(spark, "t", str(tmp_path))
            assert df.schema == spark.read.parquet(str(path)).schema
            seen.append(df.schema["b"].dataType)
    finally:
        spark.conf.set(conf, before)

    assert seen == [BinaryType(), StringType()]


def test_load_table_keeps_nanos_timestamps_as_long(spark, tmp_path) -> None:
    """An ``events.ts`` stored as TIMESTAMP(NANOS) loads as epoch-nanos
    LongType on the inferring load and on the stored-schema load."""
    nanos = [1_700_000_000_123_456_789, 1_700_000_001_000_000_001]
    ts = pa.array(nanos, pa.int64()).cast(pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), tmp_path / "events.parquet")

    load = partial(load_table, spark, "events", str(tmp_path))
    first, first_jobs = _counting_jobs(spark, load)
    second, second_jobs = _counting_jobs(spark, load)

    assert (first_jobs, second_jobs) == (1, 0)
    assert first.schema["ts"].dataType == second.schema["ts"].dataType == LongType()
    assert _rows(second) == _rows(first) == [(1, nanos[0]), (2, nanos[1])]


# Four of the board's headline queries whose only build-time Spark jobs
# were the footer inferences of their table loads.
WARM_BUILD_KEYS = ("tpch_q5_local_supplier", "cdc_snapshot_join_agg", "agg_hash", "fn_json_props")


@pytest.mark.parametrize("key", WARM_BUILD_KEYS)
def test_warm_build_of_a_lazy_board_query_runs_no_jobs(spark, sf_dir, key) -> None:
    """Building the query a second time, once its tables' schemas are
    stored, launches no Spark job. This fails when every load re-infers
    its schema: the warm builds then launch 6, 2, 1 and 1 jobs, one per
    table loaded."""
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all

    load_all()
    REGISTRY[key].fn(spark, sf_dir)
    _, jobs = _counting_jobs(spark, partial(REGISTRY[key].fn, spark, sf_dir))
    assert jobs == 0, f"{jobs} jobs in a warm build of {key}"
