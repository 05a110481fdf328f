"""SQLite connector: a DB-API scan of the stdlib ``sqlite3`` module with a
declared schema.

Reference analog: crates/sqlite — a sync driver bridged to the async engine
(db_connection_pool/runtime.rs) on the generic ``SqlTable``/``SqlExec``. In
Python the stdlib ``sqlite3`` driver runs directly inside the executor task,
so a SQLite scan is ``dbapi_reader_df(spark, "sqlite3", ...)`` in the
``sqlite`` dialect: the shared SQL scan path (``sources/sql_scan.py``) and
the DB-API reader's rows→Arrow loop (crates/sqlite/src/arrow_sql_gen.rs).

What this module adds is the schema: ``PRAGMA table_info`` type affinities,
read once on the driver (declared-DDL mode, reference
crates/sqlite/src/lib.rs:260-417).
"""

from __future__ import annotations

import sqlite3

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datafusion_table_providers_spark.sources.dbapi_source import dbapi_reader_df

_AFFINITY = {
    "INT": T.LongType(),
    "INTEGER": T.LongType(),
    "BIGINT": T.LongType(),
    "REAL": T.DoubleType(),
    "FLOAT": T.DoubleType(),
    "DOUBLE": T.DoubleType(),
    "TEXT": T.StringType(),
    "VARCHAR": T.StringType(),
    "BLOB": T.BinaryType(),
    "BOOLEAN": T.BooleanType(),
}


def _decl_to_spark(decl: str) -> T.DataType:
    decl = (decl or "").upper()
    for key, t in _AFFINITY.items():
        if key in decl:
            return t
    return T.StringType()  # SQLite's dynamic typing fallback


def sqlite_reader_df(
    spark: SparkSession, backend, relation: str, columns=None,
    auto_broadcast: bool = False,
    extra_where=None,
) -> DataFrame:
    """``auto_broadcast=True``: consult the row-count statistic and attach
    a broadcast join hint when small (A15 — Python-DS scans report no
    stats, so Catalyst would otherwise shuffle-join every connector dim;
    same contract as ``duckdb_reader_df``)."""
    if backend.path == ":memory:":
        raise ValueError(
            "in-memory SQLite is process-local; use a file-mode backend "
            "or Engine.sql federation"
        )
    con = sqlite3.connect(backend.path)
    try:
        info = con.execute(f"PRAGMA table_info({relation})").fetchall()
    finally:
        con.close()
    if not info:
        raise ValueError(f"no such sqlite table: {relation}")
    fields = {
        name: T.StructField(name, _decl_to_spark(decl), notnull == 0)
        for (_, name, decl, notnull, _, _) in info
    }
    missing = [c for c in columns or () if c not in fields]
    if missing:
        raise ValueError(f"unknown columns {missing} in {relation}")
    return dbapi_reader_df(
        spark,
        "sqlite3",
        relation,
        connect_args=[backend.path],
        dialect="sqlite",
        columns=columns,
        schema_ddl=T.StructType(list(fields.values())),
        auto_broadcast=auto_broadcast,
        extra_where=extra_where,
    )
