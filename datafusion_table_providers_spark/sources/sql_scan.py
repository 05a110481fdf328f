"""The one scan path of the SQL connectors (DuckDB, DB-API and, through
DB-API, SQLite).

Reference analog: the generic ``SqlTable``/``SqlExec`` (crates/common/src/
sql/sql_provider_datafusion/mod.rs:70-247) that owns pushdown, projection and
SQL generation for every SQL backend; each backend adds only its connection
and its rows→Arrow step. Here ``SqlScanReader`` owns the same part and each
connector's reader subclass keeps only ``read``:

- generated ``SELECT <proj> FROM rel WHERE <filters> ORDER BY .. LIMIT n``
  (scan_to_sql, mod.rs:122-134), with pushed filters split Exact/unsupported
  (mod.rs:231-247);
- one partition per disjoint ``WHERE`` slice from ``range_slices`` — the
  JDBC-style parallel read, beyond the reference's UnknownPartitioning(1);
- one auto-broadcast rule fed by the row-count statistic (A15).
"""

from __future__ import annotations

import json
from typing import List, Optional

from pyspark.sql.datasource import DataSourceReader, InputPartition

from datafusion_table_providers_spark.core.expr import (
    DIALECTS,
    build_select,
    translate_filters,
)

#: below this row-count statistic an ``auto_broadcast`` scan attaches a
#: broadcast join hint. Python DataSource scans report only the session's
#: default sizeInBytes to Catalyst (no stats hook — A15), so without the
#: hint Spark NEVER auto-broadcasts a connector table and every
#: connector-dim join pays a full shuffle. 500k rows of a typical dim is
#: well under the ~8 GB broadcast-table ceiling.
AUTO_BROADCAST_ROWS = 500_000


def hint_if_small(df, rows: Optional[int]):
    """``df`` with a broadcast hint when the row count ``rows`` is known
    and at most ``AUTO_BROADCAST_ROWS``; ``rows=None`` means no count was
    taken (``auto_broadcast=False``)."""
    if rows is not None and rows <= AUTO_BROADCAST_ROWS:
        return df.hint("broadcast")
    return df


def range_slices(quoted_col: str, lo, hi, n: int) -> List[str]:
    """``n`` equal-width disjoint WHERE fragments over ``[lo, hi]``, the
    outer two open-ended so every non-NULL value falls in exactly one.
    Empty when the bounds give nothing to split (NULL or ``hi <= lo``)."""
    if lo is None or hi is None or not hi > lo:
        return []
    step = (hi - lo) / n
    edges = [None] + [lo + step * i for i in range(1, n)] + [None]
    out = []
    for a, b in zip(edges, edges[1:]):
        c = [f"{quoted_col} >= {a}"] if a is not None else []
        c += [f"{quoted_col} < {b}"] if b is not None else []
        out.append(" AND ".join(c) or "TRUE")
    return out


class SqlSlice(InputPartition):
    """One scan task: the partition's extra WHERE fragment, or ``None``."""

    def __init__(self, index: int, clause: Optional[str]):
        super().__init__(index)
        self.clause = clause


class SqlScanReader(DataSourceReader):
    """Options: ``relation`` and the JSON-encoded ``extra_where``,
    ``columns`` and ``partition_clauses``. Subclasses set ``DIALECT``
    (``None``: the ``dialect`` option picks it) and implement ``read``."""

    DIALECT: Optional[str] = None
    #: sort/limit pushdown (reference mod.rs:505-607), set by a subclass
    #: that takes them; ``None`` sends neither
    order_by: Optional[List[str]] = None
    limit: Optional[str] = None

    def __init__(self, schema, options):
        self.spark_schema = schema
        self.options = options
        self.relation = options.get("relation")
        self.dialect = DIALECTS[self.DIALECT or options.get("dialect", "odbc")]
        # caller-supplied SQL fragments ANDed into every partition's WHERE —
        # the runtime semi-join reduction path (sources/dynamic_filter.py)
        # injects its IN-list / range clause here
        self.where: List[str] = json.loads(options.get("extra_where", "[]"))
        # Projection pushdown (reference mod.rs:258-276): the Python DS API
        # has no pruning hook, so required columns are threaded through the
        # ``columns`` option and the generated SELECT names exactly those.
        self.columns = json.loads(options.get("columns", "null"))
        self.clauses = json.loads(options.get("partition_clauses", "[]"))

    def pushFilters(self, filters):
        """Exact/unsupported split (reference mod.rs:231-247): clauses we
        translate are evaluated remotely and dropped from Spark's plan."""
        clauses, unsupported = translate_filters(filters, self.dialect)
        self.where.extend(clauses)
        return iter(unsupported)

    def partitions(self):
        return [SqlSlice(i, c) for i, c in enumerate(self.clauses or [None])]

    def scan_sql(self, partition=None) -> str:
        """The exact SQL one partition sends to the engine (test surface)."""
        where = list(self.where)
        if partition is not None and partition.clause:
            where.append(partition.clause)
        return build_select(
            self.dialect,
            self.relation,
            columns=self.columns,
            where=where,
            order_by=self.order_by or (),
            limit=int(self.limit) if self.limit is not None else None,
        )
