"""User-facing table factories — the reference's public Python API, on Spark.

Mirrors python/python/datafusion_table_providers/*.py (duckdb.py:30-62,
sqlite.py, postgres.py, mysql.py, clickhouse.py, odbc.py, mongodb.py,
flight.py): each backend has a
``XTableFactory`` with ``tables()`` and ``get_table(name)``. There, the
factory returns an FFI TableProvider capsule registered into a DataFusion
``SessionContext``; here it returns a **Spark DataFrame** backed by the
corresponding connector, and ``register_all`` wires every table into an
``Engine`` (the SessionContext analog) so ``engine.sql`` can federate.

Usage (reference example python/examples/duckdb_demo.py, translated):

    factory = DuckDBTableFactory("/data/wh.duckdb", AccessMode.ReadOnly)
    eng = Engine(spark)
    for name in factory.tables():
        eng.register_backend_table(name, factory.backend, name)
    eng.sql("SELECT ... FROM t1 JOIN t2 ON ...")   # pushed as one SQL
"""

from __future__ import annotations

from enum import Enum
from typing import Any, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession

from datafusion_table_providers_spark.engine import Engine
from datafusion_table_providers_spark.sources.backends import (
    DuckDBBackend,
    SQLiteBackend,
)


class AccessMode(Enum):
    """Python equivalent of the reference's duckdb AccessMode enum."""

    Automatic = "AUTOMATIC"
    ReadOnly = "READ_ONLY"
    ReadWrite = "READ_WRITE"


class _SparkFactory:
    """Shared: factories hold a SparkSession lazily; get_table returns a
    DataFrame (the Spark analog of a TableProvider)."""

    def __init__(self):
        self._spark: Optional[SparkSession] = None

    def _session(self) -> SparkSession:
        if self._spark is None:
            from datafusion_table_providers_spark.session import get_spark

            self._spark = get_spark()
        return self._spark

    def with_session(self, spark: SparkSession):
        self._spark = spark
        return self


class DuckDBTableFactory(_SparkFactory):
    """DuckDB table factory (reference duckdb.py:30-62)."""

    def __init__(self, path: str = ":memory:",
                 access_mode: AccessMode = AccessMode.Automatic):
        super().__init__()
        self.path = path or ":memory:"
        self.backend = DuckDBBackend(
            self.path, read_only=access_mode == AccessMode.ReadOnly
        )

    def tables(self) -> List[str]:
        return self.backend.table_names()

    def get_table(self, table_reference: str) -> DataFrame:
        from datafusion_table_providers_spark.sources.duckdb_source import (
            duckdb_reader_df,
        )

        if self.path == ":memory:":
            return self._session().createDataFrame(
                self.backend.query_arrow(f'SELECT * FROM "{table_reference}"')
            )
        self.backend.close()
        return duckdb_reader_df(self._session(), self.backend, table_reference)

    def register_all(self, engine: Engine) -> List[str]:
        names = self.tables()
        for n in names:
            engine.register_backend_table(n, self.backend, n)
        return names


class SqliteTableFactory(_SparkFactory):
    """SQLite table factory (reference sqlite.py — path, mode,
    busy_timeout_s, attach_databases)."""

    def __init__(self, path: str, mode: str = "file",
                 busy_timeout_s: float = 5.0,
                 attach_databases: Optional[List[str]] = None):
        super().__init__()
        self.backend = SQLiteBackend(
            path if mode != "memory" else ":memory:",
            attach=tuple(attach_databases or ()),
        )
        self.busy_timeout_s = busy_timeout_s

    def tables(self) -> List[str]:
        return self.backend.table_names()

    def get_table(self, table_reference: str) -> DataFrame:
        from datafusion_table_providers_spark.sources.sqlite_source import (
            sqlite_reader_df,
        )

        return sqlite_reader_df(self._session(), self.backend, table_reference)

    def register_all(self, engine: Engine) -> List[str]:
        names = self.tables()
        for n in names:
            engine.register_backend_table(n, self.backend, n)
        return names


def _dbapi_table_names(module: str, connect_args, connect_kwargs, sql: str,
                       context: str) -> List[str]:
    """Shared live ``tables()`` implementation (reference postgres.py:29,
    mysql.py:29 — each factory lists over its live connection). Raises a
    clear ConnectionError when no server/driver is reachable."""
    import importlib

    try:
        mod = importlib.import_module(module)
        con = mod.connect(*list(connect_args), **dict(connect_kwargs))
    except Exception as e:  # noqa: BLE001 — surfaced with connection context
        raise ConnectionError(
            f"listing tables requires a live server ({context}): {e}"
        ) from e
    try:
        cur = con.cursor()
        cur.execute(sql)
        return [r[0] for r in cur.fetchall()]
    finally:
        con.close()


class PostgresTableFactory(_SparkFactory):
    """Postgres table factory (reference postgres.py — params dict with
    host/user/db/pass/port/sslmode). Scans go through Spark's JDBC source."""

    _TABLES_SQL = (
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_schema NOT IN ('pg_catalog', 'information_schema') "
        "AND table_type = 'BASE TABLE' ORDER BY table_name"
    )

    def tables(self) -> List[str]:
        mod, args, kwargs = self.backend.dbapi_spec()
        return _dbapi_table_names(
            mod, args, kwargs, self._TABLES_SQL, self.backend.compute_context()
        )

    def __init__(self, params: Dict[str, str]):
        super().__init__()
        from datafusion_table_providers_spark.sources.remote_sql import (
            RemoteSqlBackend,
        )

        self.backend = RemoteSqlBackend(
            "postgres",
            params.get("host", "localhost"),
            int(params.get("port", 5432)),
            params.get("db", params.get("database", "postgres")),
            params.get("user", "postgres"),
            password_provider=(lambda: params["pass"]) if "pass" in params else None,
        )

    def get_table(self, table_reference: str, **partitioning) -> DataFrame:
        return self.backend.reader_df(self._session(), table_reference, **partitioning)


class MySQLTableFactory(PostgresTableFactory):
    """MySQL table factory (reference mysql.py)."""

    _TABLES_SQL = (
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_schema = DATABASE() ORDER BY table_name"
    )

    def __init__(self, params: Dict[str, str]):
        _SparkFactory.__init__(self)
        from datafusion_table_providers_spark.sources.remote_sql import (
            RemoteSqlBackend,
        )

        self.backend = RemoteSqlBackend(
            "mysql",
            params.get("host", "localhost"),
            int(params.get("port", 3306)),
            params.get("db", params.get("database", "mysql")),
            params.get("user", "root"),
            password_provider=(lambda: params["pass"]) if "pass" in params else None,
        )


class ClickHouseTableFactory(PostgresTableFactory):
    """ClickHouse table factory (reference clickhouse.py —
    ``ClickHouseTableFactory(params)`` with ``tables()`` and
    ``get_table(table_reference, args)``). Read path only, like the
    reference's clickhouse crate (no write.rs). ``args`` mirrors the
    reference's parameterized-view argument tuples: rendered into a
    ``name(k1=v1, ...)`` table-function relation in the pushed query."""

    def __init__(self, params: Dict[str, str]):
        _SparkFactory.__init__(self)
        from datafusion_table_providers_spark.sources.remote_sql import (
            RemoteSqlBackend,
        )

        self.backend = RemoteSqlBackend(
            "clickhouse",
            params.get("host", "localhost"),
            int(params.get("port", 8123)),
            params.get("db", params.get("database", "default")),
            params.get("user", "default"),
            password_provider=(lambda: params["pass"]) if "pass" in params else None,
        )

    def tables(self) -> List[str]:
        raise ConnectionError(
            "listing ClickHouse tables requires a live server "
            f"({self.backend.compute_context()}); none is available here"
        )

    def get_table(self, table_reference: str, args=None, **partitioning) -> DataFrame:
        rel = table_reference
        if args:
            import re as _re

            pairs = args.items() if isinstance(args, dict) else list(args)
            for p in pairs if isinstance(pairs, list) else []:
                if not (isinstance(p, (tuple, list)) and len(p) == 2):
                    raise ValueError(
                        "args must be a dict or a sequence of (name, value) "
                        f"pairs; got element {p!r}"
                    )
            lit = self.backend.dialect.literal
            # argument VALUES are escaped by dialect.literal; NAMES are
            # interpolated verbatim into name(k=v, ...) syntax, so they must
            # be plain identifiers or they're an injection path
            for k, _v in pairs:
                if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", str(k)):
                    raise ValueError(
                        f"parameterized-view argument name {k!r} is not a "
                        "valid identifier"
                    )
            rendered = ", ".join(f"{k} = {lit(v)}" for k, v in pairs)
            rel = f"(SELECT * FROM {table_reference}({rendered})) AS t"
        return self.backend.reader_df(self._session(), rel, **partitioning)


class ODBCTableFactory(_SparkFactory):
    """ODBC table factory (reference odbc.py — ``ODBCTableFactory(params)``
    with ``get_table(table_reference)``; params carry ``connection_string``).
    Generates ANSI-only SQL because the engine behind the DSN is unknown."""

    def __init__(self, params: Dict[str, str]):
        super().__init__()
        from datafusion_table_providers_spark.sources.remote_sql import (
            RemoteSqlBackend,
        )

        self.connection_string = params.get("connection_string", "")
        self.backend = RemoteSqlBackend(
            "odbc", "", 0, self.connection_string, params.get("user", "")
        )

    def get_table(self, table_reference: str, **partitioning) -> DataFrame:
        return self.backend.reader_df(self._session(), table_reference, **partitioning)


class ADBCTableFactory(_SparkFactory):
    """ADBC table factory (reference crates/adbc/src/lib.rs — the
    Arrow-native transport backend; its Rust factory wraps an ADBC driver
    and serves TableProviders whose scans stream Arrow record batches).

    ``params``:
    - ``driver``: DB-API module exposing ADBC's Arrow-native cursor —
      ``adbc_driver_sqlite.dbapi``, ``adbc_driver_postgresql.dbapi``,
      ``adbc_driver_manager.dbapi`` … DuckDB's own DB-API module is
      ADBC-shaped (``cursor.fetch_arrow_table``) and is the in-environment
      certification target (no adbc_driver_* wheels ship here).
    - ``connect_args`` / ``connect_kwargs``: passed to ``module.connect``
      (or ``uri`` as a single positional shorthand).
    - ``dialect``: SQL dialect for generated statements (default ``adbc`` =
      conservative ANSI, double-quoted identifiers).

    Scans route through ``dbapi_source.DBAPIReader.read``, which prefers
    the zero-copy ``cursor.fetch_arrow_table()`` path over row-at-a-time
    conversion, and through the ADBC authoritative-Arrow-schema
    introspection in ``DBAPIDataSource.schema`` — the two behaviors that
    distinguish ADBC from generic ODBC in the reference.
    """

    def __init__(self, params: Dict[str, Any]):
        super().__init__()
        self.module = params.get(
            "driver", params.get("module", "adbc_driver_manager.dbapi")
        )
        args = params.get("connect_args")
        if args is None and "uri" in params:
            args = [params["uri"]]
        self.connect_args = list(args or [])
        self.connect_kwargs = dict(params.get("connect_kwargs", {}) or {})
        self.dialect = params.get("dialect", "adbc")

    def get_table(
        self,
        table_reference: str,
        columns: Optional[List[str]] = None,
        schema_ddl: Optional[str] = None,
        **partitioning,
    ) -> DataFrame:
        from datafusion_table_providers_spark.sources.dbapi_source import (
            dbapi_reader_df,
        )

        return dbapi_reader_df(
            self._session(),
            self.module,
            table_reference,
            connect_args=self.connect_args,
            connect_kwargs=self.connect_kwargs,
            dialect=self.dialect,
            columns=columns,
            schema_ddl=schema_ddl,
            **partitioning,
        )

    def tables(self) -> List[str]:
        """Live listing over the ADBC driver's information_schema (works
        against the in-env DuckDB certification target too)."""
        return _dbapi_table_names(
            self.module,
            self.connect_args,
            self.connect_kwargs,
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_schema NOT IN ('pg_catalog', 'information_schema') "
            "ORDER BY table_name",
            f"adbc:{self.module}",
        )


class MongoDBTableFactory(_SparkFactory):
    """MongoDB table factory (reference mongodb.py) — requires pymongo."""

    def __init__(self, params: Dict[str, str]):
        super().__init__()
        self.uri = params.get(
            "connection_string",
            f"mongodb://{params.get('host', 'localhost')}:{params.get('port', 27017)}",
        )
        self.database = params.get("db", params.get("database", "test"))

    def tables(self) -> List[str]:
        """Live collection listing (reference mongodb.py:29)."""
        from datafusion_table_providers_spark.sources.mongodb_source import (
            HAS_PYMONGO,
        )

        if not HAS_PYMONGO:
            raise ConnectionError(
                f"listing collections requires pymongo ({self.uri})"
            )
        import pymongo

        return sorted(
            pymongo.MongoClient(self.uri)[self.database].list_collection_names()
        )

    def get_table(self, table_reference: str) -> DataFrame:
        from datafusion_table_providers_spark.sources.mongodb_source import (
            mongo_reader_df,
        )

        return mongo_reader_df(
            self._session(), self.uri, self.database, table_reference
        )


class FlightTableFactory(_SparkFactory):
    """Flight table factory (reference flight.py — get_table(entry_point,
    options))."""

    def get_table(self, entry_point: str, options: Optional[Dict[str, Any]] = None) -> DataFrame:
        from datafusion_table_providers_spark.sources.flight_source import (
            flight_reader_df,
        )

        options = options or {}
        return flight_reader_df(
            self._session(),
            entry_point,
            query=options.get("flight.sql.query") or options.get("query"),
            path=options.get("path"),
            headers=options.get("headers"),
        )
