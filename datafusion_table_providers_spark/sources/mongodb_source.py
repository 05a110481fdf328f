"""MongoDB connector: expression→BSON pushdown + schema inference + unnest.

Reference analog: crates/mongodb — the one non-SQL backend. Three parity
pieces, all implemented as pure logic (unit-testable without a server; the
live DataSource is gated on pymongo being importable):

- **Filter → find-document translation** (utils/expression.rs:43-380):
  And/Or/Eq/NotEq/Lt/LtEq/Gt/GtEq/Not/IsNull/IsNotNull/In and
  LIKE→anchored-regex (sql_like_to_regex :202). Filters we can't translate
  are returned to Spark for post-scan evaluation — the reference marks the
  whole pushdown 'Inexact' for the same reason (table.rs:266).
- **Schema inference by sampling** (utils/schema.rs:9-131): BSON types are
  unified across sampled documents with numeric promotion
  (int32→int64→double) and string fallback on conflicts.
- **Unnest / flatten** (utils/unnest.rs): depth-bounded recursive document
  flattening with dotted names; first-wins on duplicate keys.
"""

from __future__ import annotations

import datetime as dt
import re
from typing import Any, Dict, Iterator, List, Optional, Tuple

from pyspark.sql import types as T

from datafusion_table_providers_spark.sources import register

# ---------------------------------------------------------------------------
# Filter → BSON find document (expression.rs:43-380)


def sql_like_to_regex(pattern: str) -> str:
    """LIKE pattern → anchored regex (expression.rs:202).

    % → .*, _ → ., everything else escaped; backslash escapes preserved."""
    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\" and i + 1 < len(pattern):
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        else:
            out.append(re.escape(c))
        i += 1
    return "^" + "".join(out) + "$"


def translate_filters_bson(filters) -> Tuple[Dict[str, Any], List]:
    """Split pushed DSv2 filters into (find-doc, unsupported)."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        Not,
        StringContains,
        StringEndsWith,
        StringStartsWith,
    )

    clauses: List[Dict[str, Any]] = []
    unsupported: List = []

    def field(attr) -> str:
        return ".".join(attr)

    def one(f) -> Optional[Dict[str, Any]]:
        if isinstance(f, EqualTo):
            return {field(f.attribute): {"$eq": f.value}}
        if isinstance(f, GreaterThan):
            return {field(f.attribute): {"$gt": f.value}}
        if isinstance(f, GreaterThanOrEqual):
            return {field(f.attribute): {"$gte": f.value}}
        if isinstance(f, LessThan):
            return {field(f.attribute): {"$lt": f.value}}
        if isinstance(f, LessThanOrEqual):
            return {field(f.attribute): {"$lte": f.value}}
        if isinstance(f, In):
            return {field(f.attribute): {"$in": list(f.value)}}
        if isinstance(f, IsNull):
            return {field(f.attribute): {"$eq": None}}
        if isinstance(f, IsNotNull):
            return {field(f.attribute): {"$ne": None}}
        if isinstance(f, StringContains):
            return {field(f.attribute): {"$regex": sql_like_to_regex(f"%{f.value}%")}}
        if isinstance(f, StringStartsWith):
            return {field(f.attribute): {"$regex": sql_like_to_regex(f"{f.value}%")}}
        if isinstance(f, StringEndsWith):
            return {field(f.attribute): {"$regex": sql_like_to_regex(f"%{f.value}")}}
        if isinstance(f, Not):
            inner = one(f.child)
            if inner is not None and len(inner) == 1:
                k, v = next(iter(inner.items()))
                return {k: {"$not": v}}
            return None
        return None

    for f in filters:
        doc = one(f)
        if doc is None:
            unsupported.append(f)
        else:
            clauses.append(doc)
    if not clauses:
        return {}, unsupported
    if len(clauses) == 1:
        return clauses[0], unsupported
    return {"$and": clauses}, unsupported


# ---------------------------------------------------------------------------
# Schema inference by sampling (schema.rs:9-131)

_NUMERIC_RANK = {T.IntegerType: 1, T.LongType: 2, T.DoubleType: 3}


def _bson_value_type(v) -> Optional[T.DataType]:
    if v is None:
        return None
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        return T.IntegerType() if -(2**31) <= v < 2**31 else T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, str):
        return T.StringType()
    if isinstance(v, bytes):
        return T.BinaryType()
    if isinstance(v, dt.datetime):
        return T.TimestampType()
    if isinstance(v, dict):
        fields = []
        for k, sub in v.items():
            sub_t = _bson_value_type(sub)
            if sub_t is not None:
                fields.append(T.StructField(k, sub_t, True))
        return T.StructType(fields)
    if isinstance(v, list):
        elem: Optional[T.DataType] = None
        for item in v:
            it = _bson_value_type(item)
            elem = it if elem is None else unify_types(elem, it)
        return T.ArrayType(elem or T.StringType(), True)
    return T.StringType()


def unify_types(a: Optional[T.DataType], b: Optional[T.DataType]) -> T.DataType:
    """Unify two observed types: numeric promotion, struct field union,
    string fallback on conflict (schema.rs numeric promotion + fallback)."""
    if a is None:
        return b
    if b is None or a == b:
        return a
    ra, rb = _NUMERIC_RANK.get(type(a)), _NUMERIC_RANK.get(type(b))
    if ra and rb:
        return a if ra >= rb else b
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        names = list(dict.fromkeys([f.name for f in a.fields] + [f.name for f in b.fields]))
        am = {f.name: f.dataType for f in a.fields}
        bm = {f.name: f.dataType for f in b.fields}
        return T.StructType(
            [
                T.StructField(n, unify_types(am.get(n), bm.get(n)), True)
                for n in names
            ]
        )
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(unify_types(a.elementType, b.elementType), True)
    return T.StringType()


def infer_schema_from_documents(docs: List[Dict[str, Any]]) -> T.StructType:
    merged: Dict[str, Optional[T.DataType]] = {}
    order: List[str] = []
    for doc in docs:
        for k, v in doc.items():
            if k not in merged:
                merged[k] = None
                order.append(k)
            merged[k] = unify_types(merged[k], _bson_value_type(v))
    return T.StructType(
        [T.StructField(k, merged[k] or T.StringType(), True) for k in order]
    )


# ---------------------------------------------------------------------------
# Unnest / flatten (utils/unnest.rs:1-120)


def flatten_document(
    doc: Dict[str, Any], max_depth: int = 2, _prefix: str = ""
) -> Dict[str, Any]:
    """Depth-bounded recursive flattening with dotted names; on duplicate
    flattened keys the first value wins (reference duplicate-key behavior,
    core/tests/mongodb/mod.rs:695)."""
    out: Dict[str, Any] = {}
    for k, v in doc.items():
        name = f"{_prefix}{k}"
        if isinstance(v, dict) and max_depth > 0:
            nested = flatten_document(v, max_depth - 1, f"{name}.")
            for nk, nv in nested.items():
                out.setdefault(nk, nv)
        else:
            out.setdefault(name, v)
    return out


# ---------------------------------------------------------------------------
# Live DataSource (requires pymongo — gated)

try:  # pragma: no cover - environment-dependent
    import pymongo  # noqa: F401

    HAS_PYMONGO = True
except ImportError:
    HAS_PYMONGO = False


if HAS_PYMONGO:  # pragma: no cover
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class MongoReader(DataSourceReader):
        def __init__(self, schema, options):
            self.spark_schema = schema
            self.options = options
            self.find_doc: Dict[str, Any] = {}

        def pushFilters(self, filters):
            self.find_doc, unsupported = translate_filters_bson(filters)
            return iter(unsupported)

        def partitions(self):
            return [InputPartition(0)]

        def read(self, partition) -> Iterator:
            import pymongo

            client = pymongo.MongoClient(self.options["uri"])
            coll = client[self.options["database"]][self.options["collection"]]
            proj = {f.name: 1 for f in self.spark_schema.fields}
            proj.setdefault("_id", 0)
            names = [f.name for f in self.spark_schema.fields]
            limit = int(self.options.get("limit", 0))
            cursor = coll.find(self.find_doc, proj)
            if limit:
                cursor = cursor.limit(limit)
            for doc in cursor:
                flat = flatten_document(doc)
                yield tuple(flat.get(n) for n in names)

    class MongoDataSource(DataSource):
        """``spark.read.format("mongodb_engine")`` — options: uri, database,
        collection, samplingSize (schema inference)."""

        @classmethod
        def name(cls) -> str:
            return "mongodb_engine"

        def schema(self):
            import pymongo

            client = pymongo.MongoClient(self.options["uri"])
            coll = client[self.options["database"]][self.options["collection"]]
            n = int(self.options.get("samplingSize", 100))
            docs = [flatten_document(d) for d in coll.find({}, {"_id": 0}).limit(n)]
            return infer_schema_from_documents(docs)

        def reader(self, schema) -> DataSourceReader:
            return MongoReader(schema, self.options)


def mongo_reader_df(
    spark,
    uri: str,
    database: str,
    collection: str,
    schema_projection=None,
    sampling_size: int = 100,
    limit: int = 0,
):
    """Live Mongo scan DataFrame with an optional declarative
    SchemaProjection (reference crates/mongodb/src/projection.rs:1-40
    applies the spec inside the provider; here the spec compiles to ONE
    Catalyst ``select`` over the sampled-inference scan —
    core/schema_projection.py — so reshaping costs one projection node, no
    per-row Python)."""
    if not HAS_PYMONGO:  # pragma: no cover - environment-dependent
        raise ImportError("mongo_reader_df requires pymongo")
    register(spark, MongoDataSource)
    df = (
        spark.read.format("mongodb_engine")
        .option("uri", uri)
        .option("database", database)
        .option("collection", collection)
        .option("samplingSize", str(sampling_size))
        .option("limit", str(limit))
        .load()
    )
    if schema_projection is not None:
        from datafusion_table_providers_spark.core.schema_projection import (
            apply_projection,
        )

        df = apply_projection(df, schema_projection)
    return df
