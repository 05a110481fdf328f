"""Arrow Flight (SQL) connector.

Reference analog: crates/flightsql — the only reference scan with real
parallelism: one partition per FlightEndpoint, a ticket per partition
(exec.rs:54-130), gRPC headers forwarded, and every batch cast to the
declared schema (`enforce_schema`, exec.rs:226-265).

Spark mapping is exact: ``partitions()`` returns one ``InputPartition`` per
endpoint; each executor opens its own FlightClient and streams DoGet —
scan parallelism == endpoint count, no driver involvement. Unbounded Flight
streams (exec.rs:85-90 Boundedness::Unbounded) map to the streaming reader in
``streaming/flight_stream.py``.
"""

from __future__ import annotations

import json
from typing import Iterator, List

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from datafusion_table_providers_spark.core.types import arrow_to_spark_schema
from datafusion_table_providers_spark.sources import register


class FlightEndpointPartition(InputPartition):
    def __init__(self, index: int, ticket: bytes, locations: List[str]):
        self.index = index
        self.ticket = ticket
        self.locations = locations


def _headers(options) -> list:
    return [
        (k.encode(), v.encode())
        for k, v in json.loads(options.get("headers", "{}")).items()
    ]


def _client(location: str, options):
    import pyarrow.flight as flight

    return flight.connect(location)


def _flight_info(options):
    import pyarrow.flight as flight

    location = options["location"]
    client = _client(location, options)
    opts = flight.FlightCallOptions(headers=_headers(options))
    if "query" in options:
        descriptor = flight.FlightDescriptor.for_command(options["query"])
    else:
        descriptor = flight.FlightDescriptor.for_path(options["path"])
    return client, client.get_flight_info(descriptor, opts)


def enforce_schema(batch: pa.RecordBatch, target: pa.Schema) -> pa.RecordBatch:
    """Cast a transport batch to the declared schema (exec.rs:226-265):
    servers may legally send compatible-but-different types (e.g. a
    dictionary-encoded or wider variant)."""
    if batch.schema == target:
        return batch
    return batch.cast(target)


class FlightReader(DataSourceReader):
    def __init__(self, schema, options):
        self.spark_schema = schema
        self.options = options
        # the DECLARED schema every batch must be cast to (exec.rs:226-265):
        # captured driver-side at construction and pickled to executors with
        # the reader (mutations made later, e.g. in partitions(), are not
        # guaranteed to reach read()). Casting to the first batch's schema
        # instead (the round-1 bug) breaks when endpoints serve
        # different-but-compatible encodings (dictionary, large_utf8, ...).
        client, info = _flight_info(options)
        self.declared_schema: pa.Schema = info.schema
        client.close()

    def partitions(self):
        client, info = _flight_info(self.options)
        parts = [
            FlightEndpointPartition(
                i,
                ep.ticket.ticket,
                [loc.uri.decode() for loc in ep.locations],
            )
            for i, ep in enumerate(info.endpoints)
        ]
        client.close()
        return parts or [FlightEndpointPartition(0, b"", [])]

    def read(self, partition) -> Iterator[pa.RecordBatch]:
        import pyarrow.flight as flight

        # endpoint may name its own location(s); fall back to the main one
        location = (
            partition.locations[0]
            if partition.locations
            else self.options["location"]
        )
        client = _client(location, self.options)
        opts = flight.FlightCallOptions(headers=_headers(self.options))
        reader = client.do_get(flight.Ticket(partition.ticket), opts)
        target = self.declared_schema
        for chunk in reader:
            batch = chunk.data
            if batch is None:
                continue
            if target is None:  # defensive: partitions() always sets it
                target = batch.schema
            yield enforce_schema(batch, target)
        client.close()


class FlightDataSource(DataSource):
    """``spark.read.format("flight_engine")`` — options:

    - ``location``: grpc://host:port
    - ``query`` (FlightSQL command) or ``path`` (dataset descriptor)
    - ``headers``: JSON map of gRPC headers (auth etc.)
    """

    @classmethod
    def name(cls) -> str:
        return "flight_engine"

    def schema(self):
        client, info = _flight_info(self.options)
        try:
            return arrow_to_spark_schema(info.schema)
        finally:
            client.close()

    def reader(self, schema) -> DataSourceReader:
        return FlightReader(schema, self.options)


def flight_reader_df(
    spark: SparkSession, location: str, query: str = None, path: str = None,
    headers: dict = None,
) -> DataFrame:
    register(spark, FlightDataSource)
    r = spark.read.format("flight_engine").option("location", location)
    if query is not None:
        r = r.option("query", query)
    if path is not None:
        r = r.option("path", path)
    if headers:
        r = r.option("headers", json.dumps(headers))
    return r.load()
