"""One table-driven gate over the ENTIRE battery history (VERDICT r14
item 8): every statement any probe battery ever exercised runs through
translate() — a new rewrite pass cannot ship unless the whole corpus
still translates cleanly.

Three invariants per statement (value-level parity stays in the
original battery tests, which still run):

- TOTALITY: translate() returns a string or raises ValueError (the
  documented loud-refusal contract) — never any other exception;
- LITERAL PRESERVATION: every single-quoted string literal of the
  input survives byte-identical (the round-14 verdict found three
  passes corrupting keyword-bearing literals in place);
- BALANCE: parentheses outside literals stay balanced (a broken
  clause splice typically unbalances the statement).

Runtime: pure text, no Spark session — the whole corpus in <5 s.
"""

from __future__ import annotations

import re

import pytest

from clickhub_spark.sql_compat import translate
from tests.dialect_corpus import STATEMENTS


def _split_quoted(sql: str) -> list[tuple[bool, str]]:
    """(is_literal, text) segments — written out here, independent of
    the engine's own scanner, so the invariants below check it rather
    than trust it.  Literals include their quotes; backslash escapes
    and doubled ``''`` stay inside; an unterminated literal runs to the
    end."""
    segs: list[tuple[bool, str]] = []
    i, n, start = 0, len(sql), 0
    while i < n:
        if sql[i] != "'":
            i += 1
            continue
        if i > start:
            segs.append((False, sql[start:i]))
        j = i + 1
        while j < n:
            if sql[j] == "\\" or sql[j : j + 2] == "''":
                j += 2
            elif sql[j] == "'":
                break
            else:
                j += 1
        segs.append((True, sql[i : j + 1]))
        start = i = j + 1
    if start < n:
        segs.append((False, sql[start:]))
    return segs

# renders that legitimately CONSUME a literal argument (JSON paths
# become '$.k', format strings become Java patterns, sequence
# patterns compile away, dictGet names become identifiers, ::Type
# parameters vanish into the cast) — literal preservation is only
# asserted for statements with none of these; keyword-bearing DATA
# literals are separately pinned by
# tests/test_property.py::test_translate_preserves_string_literals
_CONSUMES_LITERALS = re.compile(
    r"(?i)\b(JSONExtract\w*|JSONHas|JSON_VALUE|dictGet\w*|formatDateTime"
    r"|parseDateTime\w*|sequenceMatch\w*|sequenceCount\w*|toDateTime"
    r"|toTimezone|windowFunnel|retention|sequenceNextNode)\s*\("
    r"|::\s*DateTime\s*\("
)


def _paren_depth_ok(sql: str) -> bool:
    d = 0
    for is_lit, seg in _split_quoted(sql):
        if is_lit:
            continue
        for c in seg:
            if c == "(":
                d += 1
            elif c == ")":
                d -= 1
            if d < 0:
                return False
    return d == 0


@pytest.mark.parametrize(
    "stmt", STATEMENTS, ids=[f"c{i:03d}" for i in range(len(STATEMENTS))]
)
def test_corpus_statement_translates(stmt):
    try:
        out = translate(stmt)
    except ValueError:
        return  # documented refusal — loud, named, acceptable
    assert isinstance(out, str) and out.strip()
    if not _CONSUMES_LITERALS.search(stmt):
        in_lits = [seg for is_lit, seg in _split_quoted(stmt) if is_lit]
        for lit in in_lits:
            assert lit in out, (
                f"literal {lit!r} corrupted:\n in: {stmt!r}\nout: {out!r}"
            )
    if _paren_depth_ok(stmt):
        assert _paren_depth_ok(out), (
            f"translate unbalanced the statement:\n in: {stmt!r}\n"
            f"out: {out!r}"
        )
