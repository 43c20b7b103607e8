"""`maxscale_cdc` — a Structured Streaming source for the CDC protocol.

Usage::

    spark.dataSource.register(MaxScaleCDCDataSource)
    df = (spark.readStream.format("maxscale_cdc")
          .option("host", "127.0.0.1").option("port", 4001)
          .option("user", "cdcuser").option("password", "cdc")
          .option("table", "db.t")
          .option("gtid", "0-3000-41")        # optional resume position
          .load())

The stream delivers typed columns (envelope + payload) whose schema is
built from the server's leading schema record via the typemap — the
engine's replacement for the reference's string-valued rows
(cdc_connector.cpp:80-115; SURVEY.md §1.4).

Architecture: one CDC session is one socket streaming one table in GTID
order (cdc_connector.h:62-69). Every query runs through ONE reader,
``CDCPartitionedStreamReader`` (sources/cdc_partitioned.py), which opens
one executor-side socket per stream per micro-batch and decodes to
Arrow. ``table=`` is shorthand for ``streams=[{"table": ...}]`` — the
one-stream case — and the global ``host``/``port``/``gtid``/``sourceId``
options are per-stream defaults. Offsets are GTID cursors
(``domain-server_id-sequence`` plus event_number), the same resume token
the reference asks callers to keep (cdc_connector.h:62-69); Spark's
checkpoint persists them, which the reference delegated to the
application.

Delivery is at-least-once: resuming from a GTID replays that GTID's
events (reference semantics, cdc_connector.cpp:199-206), and a replayed
batch may be a superset of the original, so snapshots downstream dedup
on the envelope key first (streaming/ops.py).
"""

from __future__ import annotations

import json

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource

from maxscale_cdc_connector_spark.sources.cdc_partitioned import (
    DEFAULT_POLL_SECONDS,
    CDCPartitionedStreamReader,
)
from maxscale_cdc_connector_spark.sources.protocol import CDCClient
from maxscale_cdc_connector_spark.streaming.ops import SOURCE_ID_COL
from maxscale_cdc_connector_spark.typemap import schema_record_to_struct


def _reader_options(options) -> dict[str, str]:
    """The one place options are normalized: ``table=`` becomes a
    one-element ``streams`` array. The reader applies the global
    ``host``/``port``/``gtid``/``sourceId`` as per-stream defaults, so
    nothing else needs rewriting."""
    opts = dict(options)
    if "streams" not in opts:
        if "table" not in opts:
            raise ValueError(
                "maxscale_cdc needs option 'table' (one stream) or "
                "'streams' (a JSON array of per-stream configs like "
                '[{"table": "db.t1"}, ...])'
            )
        opts["streams"] = json.dumps([{"table": opts.pop("table")}])
    return opts


def _source_id_active(options: dict[str, str]) -> bool:
    """True when the reader will stamp ``_source_id``: the global
    ``sourceId`` option is set, or any per-stream config carries a
    ``sourceId`` key (VERDICT r8 item 5 — multi-server ingest)."""
    if options.get("sourceid"):
        return True
    try:
        streams = json.loads(options["streams"])
    except ValueError:
        return False
    return any(isinstance(s, dict) and s.get("sourceId") for s in streams)


class MaxScaleCDCDataSource(DataSource):
    """Python DataSource wiring: name, schema inference, stream reader."""

    @classmethod
    def name(cls) -> str:
        return "maxscale_cdc"

    def schema(self) -> T.StructType:
        """Infer the stream schema from the server's schema record.

        A short-lived connection to the first stream performs the
        handshake and reads the leading schema record (the server always
        sends it first, cdc_connector.cpp:214,237-248); all streams share
        one schema (shards of one logical table). Callers can skip the
        extra round-trip by passing the record JSON as option
        ``schemaRecord``.
        """
        opts = _reader_options(self.options)
        record = opts.get("schemarecord")
        if record is None:
            first = json.loads(opts["streams"])[0]
            with CDCClient(
                host=first.get("host", opts.get("host", "127.0.0.1")),
                port=int(first.get("port", opts.get("port", 4001))),
                user=opts.get("user", ""),
                password=opts.get("password", ""),
                table=first["table"],
                # The probe is pure handshake — connect() consumes the
                # leading schema record and exits.
                timeout=float(opts.get("pollseconds", DEFAULT_POLL_SECONDS)),
                handshake_timeout=(
                    float(opts["handshakeseconds"])
                    if "handshakeseconds" in opts
                    else None
                ),
            ) as client:
                assert client.schema_record is not None
                record = client.schema_record
        struct = schema_record_to_struct(record)
        # Multi-server discriminator (VERDICT r8 item 5): when any stream
        # carries ``sourceId`` (or the global option is set), the reader
        # stamps a ``_source_id`` column, so the declared schema must
        # carry it too.
        if _source_id_active(opts):
            return T.StructType(
                [*struct.fields, T.StructField(SOURCE_ID_COL, T.StringType())]
            )
        return struct

    def streamReader(self, schema: T.StructType) -> CDCPartitionedStreamReader:
        return CDCPartitionedStreamReader(schema, _reader_options(self.options))
