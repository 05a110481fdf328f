"""The benchmark's workloads: named operations against the package's public
functions, each with the DuckDB oracle its result is checked against.

An operation runs its build call (the registry builder, or a layer function
called directly) and then the action that executes the plan. Both run under
``ctx.phase``, which opens a span and, in a traced pass, a Spark job group,
so build jobs and execution jobs are counted apart.
"""

from __future__ import annotations

import hashlib
import os
import sys
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional

#: Each workload: the scale of its inputs, the tables it reads, its
#: operations, and the declared per-layer metrics (``fnmatch`` patterns) of
#: layers it does not use, which its runs do not measure and report as 0.
#:
#: ``connectors`` reads through the connector layer (pushdown scan, whole-plan
#: federation, runtime-filter join, a 600k-row partitioned scan — all from
#: ``:memory:`` parquet-view configs that hit the per-worker connection cache)
#: and writes through it (a bulk insert, upsert + DML, overwrite, and SQLite
#: DML — file databases the cache never holds), so a read-path gain that
#: costs writes shows in the same pass. ``dedup_build`` never touches a
#: connector; its cost is the driver-side build jobs of the dedup family,
#: with the session memo shared across one pass.
WORKLOADS: Dict[str, dict] = {
    "connectors": {
        "sf": 0.1,
        "tables": ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"],
        "ops": ["scan_pushdown", "federated_sql", "runtime_filter_join", "scan_rows",
                "insert_rows", "upsert", "overwrite", "sqlite_dml"],
        "unmeasured": ["op.minhash_pairs_s", "op.ensemble_neardup_s", "self.llm_s"],
    },
    "dedup_build": {
        "sf": 0.01,
        "tables": ["documents"],
        # d26 (fuzzy decontamination) is left out to keep a run inside the
        # time budget of a benchmark run; d35 runs the d02b builder too
        "ops": ["minhash_pairs", "ensemble_neardup"],
        "unmeasured": [
            "op.scan_*", "op.federated_sql_s", "op.runtime_filter_join_s",
            "op.insert_rows_per_s", "op.upsert_s", "op.overwrite_s", "op.sqlite_dml_s",
            "sources.*", "pyboundary.*", "engine.*", "transport.*", "dynamic_filter.*",
            "write.*", "self.sources_s", "self.engine_s", "self.write_s",
        ],
    },
}


@dataclass(frozen=True)
class Op:
    name: str
    #: layer whose public function the build call enters
    layer: str
    #: registry entry the operation runs, or None for a direct layer call
    case: Optional[str]
    #: SQL over the input tables whose result the operation must reproduce
    oracle: str
    #: ``ctx, tracer -> rows`` for operations that are not a registry entry
    run: Optional[Callable] = None
    #: ``ctx, con -> mismatching rows`` full-value check for operations whose
    #: output is too large to canonicalise row by row in Python
    check: Optional[Callable] = None
    #: the operation's latency is reported as rows per second
    per_row: bool = False


def _lineitem_backend(ctx):
    from datafusion_table_providers_spark.sources.backends import DuckDBBackend

    return DuckDBBackend(parquet_tables={"lineitem": ctx.pq("lineitem")})


def scan_rows_df(ctx):
    """Full-width range-partitioned connector scan of lineitem."""
    from datafusion_table_providers_spark.sources.duckdb_source import duckdb_reader_df

    return duckdb_reader_df(
        ctx.spark,
        ctx.fixtures["lineitem_backend"],
        "lineitem",
        partition_column="l_orderkey",
        num_partitions=ctx.cores,
    )


def _scan_rows(ctx, tr):
    with ctx.phase(tr, "build", "sources.duckdb_reader_df"):
        df = scan_rows_df(ctx)
    with ctx.phase(tr, "exec", "spark.count"):
        n = df.count()
    ctx.last_df = df
    return n


def _scan_rows_check(ctx, con):
    got = scan_rows_df(ctx).toArrow()
    return _except_all(con, got, "SELECT * FROM lineitem")


def _insert_rows(ctx, tr):
    """Bulk insert of lineitem, primary-key validated, into a fresh DuckDB
    file; the action is the insert itself."""
    from datafusion_table_providers_spark.sources.backends import DuckDBBackend
    from datafusion_table_providers_spark.write import writer

    prev = ctx.fixtures.get("insert_path")
    if prev and os.path.exists(prev):
        os.remove(prev)
    path = os.path.join(ctx.tmp, f"ingest_{ctx.op_id}.duckdb")
    ctx.fixtures["insert_path"] = path
    backend = DuckDBBackend(path)
    with ctx.phase(tr, "build", "spark.read_parquet"):
        df = ctx.spark.read.parquet(ctx.pq("lineitem"))
    try:
        with ctx.phase(tr, "exec", "write.insert_into"):
            n = writer.insert_into(
                backend, "lineitem", df, mode="append", primary_keys=INSERT_KEYS
            )
    finally:
        backend.close()
    ctx.last_df = None
    return n


INSERT_KEYS = ["l_orderkey", "l_linenumber"]


def _insert_rows_check(ctx, con):
    con.execute(f"ATTACH '{ctx.fixtures['insert_path']}' AS ing (READ_ONLY)")
    try:
        return sum(
            con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
            for q in (
                "SELECT * FROM ing.lineitem EXCEPT ALL SELECT * FROM lineitem",
                "SELECT * FROM lineitem EXCEPT ALL SELECT * FROM ing.lineitem",
            )
        )
    finally:
        con.execute("DETACH ing")


def _except_all(con, table, oracle_sql: str) -> int:
    """Rows in either side and not the other (multiset), after mapping
    Spark's UTC-zoned timestamps back to the naive values stored."""
    import pyarrow as pa

    cols = []
    for f, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            col = col.cast(pa.timestamp(f.type.unit))
        cols.append(col)
    got = pa.table(cols, names=table.column_names)
    con.register("_got", got)
    try:
        names = ", ".join(f'"{c}"' for c in got.column_names)
        o = f"SELECT {names} FROM ({oracle_sql})"
        return sum(
            con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
            for q in (
                f"SELECT {names} FROM _got EXCEPT ALL {o}",
                f"{o} EXCEPT ALL SELECT {names} FROM _got",
            )
        )
    finally:
        con.unregister("_got")


def _ops() -> Dict[str, Op]:
    from datafusion_table_providers_spark.suite import FULL_SUITE

    def case(name, layer, key):
        return Op(name, layer, key, FULL_SUITE[key].oracle)

    return {
        o.name: o
        for o in [
            case("scan_pushdown", "sources", "c01_duckdb_scan_pushdown"),
            case("federated_sql", "engine", "c03_federation_pushdown"),
            case("runtime_filter_join", "sources", "c15_runtime_filter_scan"),
            Op("scan_rows", "sources", None, "SELECT * FROM lineitem",
               run=_scan_rows, check=_scan_rows_check, per_row=True),
            Op("insert_rows", "write", None, "SELECT * FROM lineitem",
               run=_insert_rows, check=_insert_rows_check, per_row=True),
            case("upsert", "write", "c05b_upsert_dml"),
            case("overwrite", "write", "c08_duckdb_overwrite"),
            case("sqlite_dml", "write", "c13_sqlite_dml"),
            case("minhash_pairs", "llm", "d02b_minhash_lsh_pairs"),
            case("ensemble_neardup", "llm", "d35_ensemble_neardup"),
        ]
    }


def ops_of(workload: str) -> List[Op]:
    table = _ops()
    return [table[n] for n in WORKLOADS[workload]["ops"]]


def digest(cols, rows) -> str:
    """SHA-256 of a result's column set and of its rows canonicalised as
    ``tools/verify_local.py`` does in strict mode (bit-exact floats,
    order-insensitive)."""
    tools = os.path.join(os.getcwd(), "tools")
    if tools not in sys.path:
        sys.path.append(tools)
    import verify_local

    verify_local.STRICT = True
    key = (sorted(cols), verify_local.rows_key(list(cols), rows))
    return hashlib.sha256(repr(key).encode()).hexdigest()


def run_op(ctx, op: Op, tr, con=None) -> int:
    """Build and execute one operation; returns its row count.

    With ``con``, a DuckDB connection over the inputs, a registry
    operation's action instead brings back the whole result and compares
    every value with the oracle's, raising on a difference. (Operations with
    a ``check`` function are compared by calling it.)"""
    if op.run is not None:
        return op.run(ctx, tr)
    from datafusion_table_providers_spark.suite import FULL_SUITE

    fn = FULL_SUITE[op.case].fn
    with ctx.phase(tr, "build", f"{op.layer}.{op.case}"):
        df = fn(ctx.spark, ctx.sf_dir)
    ctx.last_df = df
    if con is None:
        with ctx.phase(tr, "exec", "spark.count"):
            return df.count()
    cols = df.columns
    rows = [[r[c] for c in cols] for r in df.collect()]
    if digest(cols, rows) != ctx.expected[op.name]["digest"]:
        raise AssertionError(f"{op.name}: values differ from the oracle")
    return len(rows)


def setup_fixtures(ctx, workload: str) -> None:
    """Workload fixtures, created once per session set-up."""
    if workload == "connectors":
        ctx.fixtures["lineitem_backend"] = _lineitem_backend(ctx)
