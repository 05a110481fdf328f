"""One way to cut lineage and memoize: a static scan of the operator
modules (in the style of core.dialect_lint) that fails on a hand-written
``localCheckpoint(`` call or a module-level memo dict. Both go through
``core.memo.materialize`` / ``core.memo.memoized``."""

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
