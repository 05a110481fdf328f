"""Unbounded Arrow Flight source for Structured Streaming.

Reference analog: Flight scans may be unbounded (`unbounded_streams` →
``Boundedness::Unbounded``, crates/flightsql/src/exec.rs:85-90) — the
reference just streams them through. Spark's native home for an unbounded
source is Structured Streaming, so this maps the Flight poll loop onto a
``SimpleDataSourceStreamReader``:

- the offset is an opaque JSON dict (``{"pos": n}``);
- each microbatch issues one DoGet whose ticket embeds the current offset
  (servers expose this as a cursor/resume token; FlightSQL servers can use a
  monotonically increasing column);
- ``commit`` is a no-op — the server-side cursor is re-requested from the
  last committed offset on recovery, giving at-least-once delivery which
  Spark's exactly-once sinks deduplicate by offset range.
"""

from __future__ import annotations

import json
from typing import Iterator, Tuple

from pyspark.sql.datasource import (
    DataSource,
    SimpleDataSourceStreamReader,
)

from datafusion_table_providers_spark.core.types import arrow_to_spark_schema


class FlightStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.options = options
        self.location = options["location"]

    def initialOffset(self) -> dict:
        return {"pos": int(self.options.get("startPos", 0))}

    def _fetch(self, pos: int):
        import pyarrow.flight as flight

        client = flight.connect(self.location)
        try:
            ticket = flight.Ticket(
                json.dumps({"pos": pos, "max_rows": int(self.options.get("maxRowsPerBatch", 10000))}).encode()
            )
            reader = client.do_get(ticket)
            table = reader.read_all()
            return table
        finally:
            client.close()

    def read(self, start: dict) -> Tuple[Iterator[tuple], dict]:
        pos = int(start["pos"])
        table = self._fetch(pos)
        rows = [tuple(r.values()) for r in table.to_pylist()]
        return iter(rows), {"pos": pos + len(rows)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # replay for recovery: re-request the server cursor range
        pos = int(start["pos"])
        want = int(end["pos"]) - pos
        table = self._fetch(pos)
        rows = [tuple(r.values()) for r in table.to_pylist()][:want]
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # server cursor is stateless; offsets carry recovery state


class FlightStreamDataSource(DataSource):
    """``spark.readStream.format("flight_stream")`` — options:

    - ``location``: grpc://host:port
    - ``schemaQueryTicket`` (optional): ticket JSON used to probe schema;
      defaults to ``{"pos": 0, "max_rows": 0}``
    - ``startPos``, ``maxRowsPerBatch``
    """

    @classmethod
    def name(cls) -> str:
        return "flight_stream"

    def schema(self):
        import pyarrow.flight as flight

        client = flight.connect(self.options["location"])
        try:
            ticket = flight.Ticket(
                self.options.get(
                    "schemaQueryTicket", json.dumps({"pos": 0, "max_rows": 0})
                ).encode()
            )
            reader = client.do_get(ticket)
            return arrow_to_spark_schema(reader.schema)
        finally:
            client.close()

    def simpleStreamReader(self, schema) -> FlightStreamReader:
        return FlightStreamReader(self.options)
