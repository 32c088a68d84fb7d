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

A fourth check pins the OUTPUT: every statement's translation (or
ValueError text) must match tests/fixtures/translate_snapshot.json
byte for byte.  After a deliberate output change, regenerate it with
``python -c "from tests.test_dialect_corpus import write_snapshot;
write_snapshot()"`` and review the diff.

Runtime: pure text, no Spark session — the whole corpus in <5 s.
"""

from __future__ import annotations

import json
import re
from pathlib import Path
from unittest import mock

import pytest

from clickhub_spark import sql_compat
from clickhub_spark.sql_compat import translate
from clickhub_spark.sqltext import iter_code
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
# parameters vanish into the cast, accurateCast type names become SQL
# types, arrayReduce aggregate names and dateDiff units become code,
# file() paths become table names) — literal preservation is only
# asserted for statements with none of these; keyword-bearing DATA
# literals are separately pinned by
# tests/test_property.py::test_translate_preserves_string_literals
_CONSUMES_LITERALS = re.compile(
    r"(?i)\b(JSONExtract\w*|JSONHas|JSON_VALUE|dictGet\w*|formatDateTime"
    r"|parseDateTime\w*|sequenceMatch\w*|sequenceCount\w*|toDateTime"
    r"|toTimezone|windowFunnel|retention|sequenceNextNode|accurateCast\w*"
    r"|arrayReduce|date_?diff|file|format)\s*\("
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


_SNAPSHOT = Path(__file__).parent / "fixtures" / "translate_snapshot.json"


def _translations() -> list[dict[str, str]]:
    """Each distinct corpus statement with its translation or error,
    with no sampling keys declared (other tests declare some, and
    SAMPLE … OFFSET output depends on them)."""
    entries = []
    with mock.patch.dict(sql_compat._SAMPLE_KEYS, clear=True):
        for stmt in dict.fromkeys(STATEMENTS):
            try:
                entries.append({"in": stmt, "out": translate(stmt)})
            except ValueError as exc:
                entries.append({"in": stmt, "error": str(exc)})
    return entries


def write_snapshot() -> None:
    """Rewrite the snapshot from the current translate()."""
    _SNAPSHOT.write_text(
        json.dumps(_translations(), indent=1, ensure_ascii=False) + "\n"
    )


def test_translations_match_snapshot():
    snap = {e["in"]: e for e in json.loads(_SNAPSHOT.read_text())}
    assert set(snap) == set(STATEMENTS), (
        "corpus and snapshot list different statements — regenerate "
        "the snapshot (see the module docstring)"
    )
    diffs = [
        (got["in"], snap[got["in"]], got)
        for got in _translations()
        if got != snap[got["in"]]
    ]
    assert not diffs, f"{len(diffs)} translations changed, first: {diffs[0]}"


def _called(sql: str) -> set[str]:
    """Names called outside string literals."""
    return {m.group(1) for m in iter_code(sql, r"\b([A-Za-z_]\w*)\s*\(")}


def test_corpus_calls_every_table_name():
    called = set().union(*map(_called, STATEMENTS))
    uncalled = sorted(sql_compat._FNS.keys() - called)
    assert not uncalled, f"no corpus statement calls {uncalled}"


#: entries whose own render emits the same name (rand() inside the
#: UInt32 form; the SQL forms of extract/transform/trunc pass through)
_SELF_EMITTING = {"rand", "extract", "transform", "trunc"}


def test_no_table_entry_survives_translation():
    fns = sql_compat._FNS
    allowed = _SELF_EMITTING.union(*(fn.emits for fn in fns.values()))
    survivors = [
        (name, e["in"])
        for e in _translations()
        # a call that never closes is left as written
        if "out" in e and _paren_depth_ok(e["in"])
        for name in (_called(e["out"]) & fns.keys()) - allowed
    ]
    assert not survivors, f"{len(survivors)} calls left untranslated: {survivors[:5]}"
