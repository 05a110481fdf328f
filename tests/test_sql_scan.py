"""The one SQL scan path (sources/sql_scan.py): DuckDB, SQLite and DB-API
scans share the pushdown, slicing and broadcast rule, so the same request
gives the same rows and the same SQL up to identifier quoting."""

from __future__ import annotations

import json
import sqlite3

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_table_providers_spark.core.expr import DIALECTS
from datafusion_table_providers_spark.sources.backends import (
    DuckDBBackend,
    SQLiteBackend,
)
from datafusion_table_providers_spark.sources.dbapi_source import (
    DBAPIReader,
    dbapi_reader_df,
)
from datafusion_table_providers_spark.sources.duckdb_source import (
    DuckDBReader,
    duckdb_reader_df,
)
from datafusion_table_providers_spark.sources.sql_scan import (
    AUTO_BROADCAST_ROWS,
    hint_if_small,
    range_slices,
)
from datafusion_table_providers_spark.sources.sqlite_source import (
    sqlite_reader_df,
)

ROWS = [
    (i, f"g{i % 4}", None if i % 7 == 0 else i * 0.5, f"pad{i}")
    for i in range(1, 41)
]
COLUMNS = ["id", "grp", "v"]


def _extra_where(dialect):
    return [f"{DIALECTS[dialect].quote_ident('grp')} <> 'g0'"]


def _expected():
    return sorted(
        (i, g, v) for i, g, v, _ in ROWS if i >= 10 and g != "g0"
    )


def _collect(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan, plan  # id >= 10 pushed Exact
    return sorted(tuple(r) for r in df.collect())


def test_same_rows_through_duckdb_sqlite_and_dbapi(spark, tmp_path):
    ddb = str(tmp_path / "p.duckdb")
    con = duckdb.connect(ddb)
    con.execute("CREATE TABLE t (id BIGINT, grp VARCHAR, v DOUBLE, pad VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", ROWS)
    con.close()
    sdb = str(tmp_path / "p.db")
    con = sqlite3.connect(sdb)
    con.execute("CREATE TABLE t (id INTEGER, grp TEXT, v REAL, pad TEXT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", ROWS)
    con.commit()
    con.close()

    duck = duckdb_reader_df(
        spark, DuckDBBackend(ddb), "t", partition_column="id",
        num_partitions=4, columns=COLUMNS, extra_where=_extra_where("duckdb"),
    )
    lite = sqlite_reader_df(
        spark, SQLiteBackend(sdb), "t", columns=COLUMNS,
        extra_where=_extra_where("sqlite"),
    )
    dbapi = dbapi_reader_df(
        spark, "sqlite3", "t", connect_args=[sdb], dialect="sqlite",
        columns=COLUMNS, schema_ddl="id BIGINT, grp STRING, v DOUBLE, pad STRING",
        partition_column="id", num_partitions=4,
        extra_where=_extra_where("sqlite"),
    )
    assert duck.rdd.getNumPartitions() == dbapi.rdd.getNumPartitions() == 4
    assert [df.columns for df in (duck, lite, dbapi)] == [COLUMNS] * 3
    want = _expected()
    for df in (duck, lite, dbapi):
        assert _collect(df.filter(F.col("id") >= 10)) == want


def test_scan_sql_differs_only_in_quoting():
    from pyspark.sql.datasource import GreaterThanOrEqual

    def scan(cls, dialect):
        q = DIALECTS[dialect].quote_ident
        opts = {
            "relation": "t",
            "columns": json.dumps(COLUMNS),
            "extra_where": json.dumps(_extra_where(dialect)),
            "partition_clauses": json.dumps(range_slices(q("id"), 1, 40, 4)),
        }
        if cls is DBAPIReader:
            opts["dialect"] = dialect
        r = cls(None, opts)
        assert list(r.pushFilters([GreaterThanOrEqual(("id",), 10)])) == []
        sqls = [r.scan_sql(p) for p in r.partitions()]
        for c in COLUMNS:
            sqls = [s.replace(q(c), c) for s in sqls]
        return sqls

    duck = scan(DuckDBReader, "duckdb")
    assert len(duck) == 4
    assert duck[1] == (
        "SELECT id, grp, v FROM t WHERE (grp <> 'g0') AND ((id >= 10)) "
        "AND (id >= 10.75 AND id < 20.5)"
    )
    # sqlite_reader_df and dbapi_reader_df("sqlite3") both scan with the
    # DB-API reader in the sqlite dialect; MySQL quotes with backticks
    for dialect in ("sqlite", "odbc", "mysql"):
        assert scan(DBAPIReader, dialect) == duck, dialect


def test_sqlite_boolean_columns_read(spark, tmp_path):
    path = str(tmp_path / "b.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE flags (id INTEGER, flag BOOLEAN)")
    con.executemany(
        "INSERT INTO flags VALUES (?, ?)", [(1, True), (2, False), (3, None)]
    )
    con.commit()
    con.close()
    for df in (
        sqlite_reader_df(spark, SQLiteBackend(path), "flags"),
        dbapi_reader_df(
            spark, "sqlite3", "flags", connect_args=[path],
            schema_ddl="id BIGINT, flag BOOLEAN",
        ),
    ):
        assert df.schema["flag"].dataType == T.BooleanType()
        assert sorted(tuple(r) for r in df.collect()) == [
            (1, True), (2, False), (3, None)
        ]
    # SQLite stores any value in a BOOLEAN column; text such as 'false'
    # (a CSV import) is not a boolean and must fail, not read as True
    con = sqlite3.connect(path)
    con.execute("INSERT INTO flags VALUES (4, 'false')")
    con.commit()
    con.close()
    with pytest.raises(Exception, match="not a boolean value"):
        sqlite_reader_df(spark, SQLiteBackend(path), "flags").collect()


@pytest.mark.parametrize("bad", ["false", "no", 2, 0.5])
def test_boolean_column_rejects_non_boolean_values(bad):
    import pyarrow as pa

    from datafusion_table_providers_spark.sources.dbapi_source import _column

    assert _column([1, 0, None, True], pa.bool_()).to_pylist() == [
        True, False, None, True
    ]
    with pytest.raises(ValueError, match="not a boolean value"):
        _column([1, bad], pa.bool_())


def test_options_the_readers_do_not_take():
    # DuckDB's dialect is fixed; the DB-API reader takes no sort/limit
    opts = {"relation": "t", "dialect": "mysql", "order_by": '["v"]', "limit": "5"}
    assert DuckDBReader(None, opts).scan_sql() == (
        'SELECT * FROM t ORDER BY v LIMIT 5'
    )
    assert DBAPIReader(None, opts).scan_sql() == "SELECT * FROM t"


def test_duckdb_reader_counts_rows_once(spark, tmp_path):
    b = DuckDBBackend(str(tmp_path / "n.duckdb"))
    b.execute("CREATE TABLE t AS SELECT range AS id FROM range(100)")
    b.close()
    seen, query_arrow = [], b.query_arrow

    def spy(sql):
        seen.append(sql)
        return query_arrow(sql)

    b.query_arrow = spy
    df = duckdb_reader_df(
        spark, b, "t", partition_column="id", num_partitions=None,
        auto_broadcast=True,
    )
    assert sum("COUNT(*)" in s.upper() for s in seen) == 1, seen
    assert "broadcast" in df._jdf.queryExecution().analyzed().toString()
    assert df.count() == 100


def test_worker_connect_caps_threads_only_for_partitioned_scans():
    from datafusion_table_providers_spark.sources.duckdb_source import (
        _WORKER_CON_CACHE,
        _worker_connect,
    )

    def threads(**opts):
        con, cached = _worker_connect({k: json.dumps(v) for k, v in opts.items()})
        try:
            return con.execute("SELECT current_setting('threads')").fetchone()[0]
        finally:
            if not cached:
                con.close()

    default = duckdb.connect().execute(
        "SELECT current_setting('threads')"
    ).fetchone()[0]
    sliced = ["a < 1", "a >= 1"]
    for con in _WORKER_CON_CACHE.values():
        con.close()
    _WORKER_CON_CACHE.clear()
    try:
        assert threads(partition_clauses=sliced) == 2
        assert threads(partition_clauses=["TRUE"]) == default
        assert threads() == default
        assert threads(partition_clauses=sliced, settings={"threads": "3"}) == 3
    finally:
        for con in _WORKER_CON_CACHE.values():
            con.close()
        _WORKER_CON_CACHE.clear()


def test_range_slices_and_broadcast_rule(spark):
    assert range_slices('"x"', 0, 100, 4) == [
        '"x" < 25.0',
        '"x" >= 25.0 AND "x" < 50.0',
        '"x" >= 50.0 AND "x" < 75.0',
        '"x" >= 75.0',
    ]
    assert range_slices('"x"', 5, 5, 4) == []
    assert range_slices('"x"', None, 9, 4) == []
    df = spark.range(3)

    def hinted(d):
        return "broadcast" in d._jdf.queryExecution().analyzed().toString()

    assert hinted(hint_if_small(df, AUTO_BROADCAST_ROWS))
    assert not hinted(hint_if_small(df, AUTO_BROADCAST_ROWS + 1))
    assert not hinted(hint_if_small(df, None))


@pytest.mark.parametrize("bad", ["nope", "t"])
def test_sqlite_schema_errors_raise_on_the_driver(spark, tmp_path, bad):
    path = str(tmp_path / "e.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE t (id INTEGER)")
    con.close()
    match = "no such sqlite table" if bad == "nope" else "unknown columns"
    with pytest.raises(ValueError, match=match):
        sqlite_reader_df(spark, SQLiteBackend(path), bad, columns=["zz"])
