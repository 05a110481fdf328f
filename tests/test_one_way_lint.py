"""One way to cut lineage, memoize and gate a broadcast: a static scan of
the operator modules (in the style of core.dialect_lint) that fails on a
hand-written ``localCheckpoint(`` call or a module-level memo dict — both
go through ``core.memo.materialize`` / ``core.memo.memoized`` — and on an
``F.broadcast(`` in ``llm/dedup.py`` outside its one gate,
``_bounded_broadcast``, unless the line notes why the table stays small.

One path for the connectors: data sources are registered only by
``sources.register``, SQL filters are translated only by the shared scan
reader (``sources/sql_scan.py``), and only that module compares a row count
with ``AUTO_BROADCAST_ROWS``."""

from __future__ import annotations

import io
import os
import re
import tokenize

import pytest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "datafusion_table_providers_spark",
)
SCANNED = ("llm", "operators")

#: a top-level name bound to an empty mutable dict (``X = {}``,
#: ``X: dict = dict()``, ``X = register(...({}))``) — the memo-dict shape
_MEMO_DICT = re.compile(
    r"^[A-Za-z_]\w*\s*(?::[^=]+)?=\s*(?:[\w.]+\()?\s*(?:\{\s*\}|dict\(\s*\))"
)


def _modules():
    return [
        f"{sub}/{f}"
        for sub in SCANNED
        for f in sorted(os.listdir(os.path.join(PKG, sub)))
        if f.endswith(".py")
    ]


def _code(src: str) -> str:
    """``src`` with comments and string bodies blanked, lines kept."""
    lines = src.splitlines(keepends=True)
    for tok in reversed(list(tokenize.generate_tokens(io.StringIO(src).readline))):
        if tok.type not in (tokenize.COMMENT, tokenize.STRING):
            continue
        (r0, c0), (r1, c1) = tok.start, tok.end
        for r in range(r0, r1 + 1):
            line = lines[r - 1]
            a = c0 if r == r0 else 0
            b = c1 if r == r1 else len(line.rstrip("\n"))
            lines[r - 1] = line[:a] + " " * (b - a) + line[b:]
    return "".join(lines)


def violations(src: str):
    out = []
    for n, line in enumerate(_code(src).splitlines(), 1):
        if "localCheckpoint(" in line:
            out.append((n, "localCheckpoint( call"))
        if _MEMO_DICT.match(line):
            out.append((n, "module-level memo dict"))
    return out


@pytest.mark.parametrize("rel", _modules())
def test_operators_use_core_memo(rel):
    with open(os.path.join(PKG, rel), encoding="utf-8") as f:
        found = violations(f.read())
    assert not found, f"{rel}: {found} — use core.memo.materialize/memoized"


def test_linter_catches_both_shapes():
    src = (
        "_X_CACHE: dict = register_cache({})\n"
        "_Y = {}\n"
        "_Z = dict()\n"
        "TAGS = {'a': 1}\n"
        "def f(df):\n"
        "    # df.localCheckpoint(eager=True) in a comment is fine\n"
        "    s = 'localCheckpoint( in a string is fine'\n"
        "    return df.localCheckpoint(eager=True)\n"
    )
    assert violations(src) == [
        (1, "module-level memo dict"),
        (2, "module-level memo dict"),
        (3, "module-level memo dict"),
        (8, "localCheckpoint( call"),
    ]


#: module whose broadcasts all go through its one gate
GATED = "llm/dedup.py"
GATE = "_bounded_broadcast"


def broadcast_violations(src: str):
    """``F.broadcast(`` calls outside ``GATE`` whose line carries no
    ``# bound:`` comment giving the reason the table is small."""
    notes = {
        tok.start[0]
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type == tokenize.COMMENT and tok.string.startswith("# bound:")
    }
    out, fn = [], None
    for n, line in enumerate(_code(src).splitlines(), 1):
        if line[:1].strip():  # a top-level statement ends the previous def
            d = re.match(r"def\s+(\w+)", line)
            fn = d.group(1) if d else None
        if "F.broadcast(" in line and fn != GATE and n not in notes:
            out.append((n, "ungated F.broadcast("))
    return out


def test_dedup_broadcasts_go_through_the_gate():
    with open(os.path.join(PKG, GATED), encoding="utf-8") as f:
        found = broadcast_violations(f.read())
    assert not found, f"{GATED}: {found} — use {GATE}(df, rows) or add a # bound: note"


def test_broadcast_rule_flags_ungated_calls():
    src = (
        "def _bounded_broadcast(df, rows):\n"
        "    return F.broadcast(df) if rows <= CAP else df\n"
        "def d(df, n):\n"
        "    a = F.broadcast(df)\n"
        "    b = F.broadcast(df)  # bound: one row per month\n"
        "    # F.broadcast(df) in a comment is fine\n"
        "    c = F.broadcast(df) if n <= CAP else df\n"
        "    s = 'F.broadcast( in a string is fine'\n"
        "    return F.broadcast(df), '# bound: in a string is no note'\n"
        "X = F.broadcast\n"
        "def e(df):\n"
        "    return F.broadcast(df)\n"
    )
    assert broadcast_violations(src) == [
        (4, "ungated F.broadcast("),
        (7, "ungated F.broadcast("),
        (9, "ungated F.broadcast("),
        (12, "ungated F.broadcast("),
    ]


_CMP = r"(?:[<>]=?|[!=]=)"

#: connector mechanisms with one home each: (pattern, rule, modules allowed)
ONE_HOME = (
    (
        re.compile(r"dataSource\.register\("),
        "data source registration",
        ("sources/__init__.py",),
    ),
    (
        re.compile(r"\btranslate_filters\("),
        "SQL filter translation",
        ("sources/sql_scan.py", "core/expr.py"),
    ),
    (
        re.compile(rf"AUTO_BROADCAST_ROWS\s*{_CMP}|{_CMP}\s*AUTO_BROADCAST_ROWS"),
        "auto-broadcast comparison",
        ("sources/sql_scan.py",),
    ),
)


def one_home_violations(rel: str, src: str):
    out = []
    for n, line in enumerate(_code(src).splitlines(), 1):
        for pattern, rule, homes in ONE_HOME:
            if rel not in homes and pattern.search(line):
                out.append((n, rule))
    return out


def test_connector_mechanisms_have_one_home():
    found = {}
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                hits = one_home_violations(rel, fh.read())
            if hits:
                found[rel] = hits
    assert not found, found


def test_one_home_rule_flags_copies():
    # the shapes of the per-connector copies this rule replaced
    src = (
        "def register(spark):\n"
        "    if id(spark) not in _REGISTERED:\n"
        "        spark.dataSource.register(DuckDBDataSource)\n"
        "def pushFilters(self, filters):\n"
        "    clauses, unsupported = translate_filters(filters, self.dialect)\n"
        "    # translate_filters(filters, d) in a comment is fine\n"
        "    s = 'dataSource.register( in a string is fine'\n"
        "    doc, rest = translate_filters_bson(filters)\n"
        "    from x import AUTO_BROADCAST_ROWS\n"
        "    hint = table_row_count(b, r) <= AUTO_BROADCAST_ROWS\n"
        "    big = AUTO_BROADCAST_ROWS < rows\n"
    )
    reg, tr, cmp_ = (rule for _, rule, _ in ONE_HOME)
    assert one_home_violations("sources/duckdb_source.py", src) == [
        (3, reg), (5, tr), (10, cmp_), (11, cmp_)
    ]
    assert one_home_violations("sources/sql_scan.py", src) == [(3, reg)]
