"""Lexical rules of ClickHouse SQL text, defined once for the dialect
shim (sql_compat.py), the DDL/DML front-end (ddl.py) and the CLI's
statement splitter.

- A string literal is single-quoted.  A backslash escapes the next
  character, a doubled ``''`` stays inside the literal, and an
  unterminated literal runs to the end of the text.
- Depth counts ``(`` and ``[`` as openers and ``)`` and ``]`` as
  closers, outside literals.  ``depth(sql, i)`` is the depth before
  character ``i``; it goes negative past an unmatched closer.

Each primitive works on a view of the string (literal spans and the
bracket positions with their running depth) that is built once per
distinct string and cached, so a pass probing many positions of one
statement scans it once.
"""

from __future__ import annotations

import bisect
import functools
import re
from collections.abc import Callable, Iterator

#: one literal: possessive, so the match is exactly the left-to-right
#: scan (an escape or a doubled quote is consumed before a close quote
#: is tried)
_LITERAL = re.compile(r"'(?:[^'\\]|\\.?|'')*+(?:'|\Z)", re.DOTALL)
_BRACKET = re.compile(r"[][()]")


class _View:
    """Literal spans and bracket depths of one string."""

    __slots__ = ("lit_starts", "lit_ends", "brackets", "after")

    def __init__(self, sql: str):
        self.lit_starts: list[int] = []
        self.lit_ends: list[int] = []
        self.brackets: list[int] = []  # positions of brackets outside literals
        self.after: list[int] = []  # depth after each of those brackets
        level = code = 0
        for m in _LITERAL.finditer(sql):
            level = self._brackets(sql, code, m.start(), level)
            self.lit_starts.append(m.start())
            self.lit_ends.append(m.end())
            code = m.end()
        self._brackets(sql, code, len(sql), level)

    def _brackets(self, sql: str, start: int, end: int, level: int) -> int:
        for m in _BRACKET.finditer(sql, start, end):
            level += 1 if m.group() in "([" else -1
            self.brackets.append(m.start())
            self.after.append(level)
        return level

    def in_literal(self, i: int) -> bool:
        k = bisect.bisect_right(self.lit_starts, i) - 1
        return k >= 0 and i < self.lit_ends[k]

    def depth(self, i: int) -> int:
        k = bisect.bisect_left(self.brackets, i) - 1
        return self.after[k] if k >= 0 else 0


@functools.lru_cache(maxsize=256)
def _view(sql: str) -> _View:
    return _View(sql)


def split_quoted(sql: str) -> list[tuple[bool, str]]:
    """Split ``sql`` into ``(is_literal, text)`` segments; literal
    segments include their quotes."""
    view, segs, pos = _view(sql), [], 0
    for s, e in zip(view.lit_starts, view.lit_ends):
        if s > pos:
            segs.append((False, sql[pos:s]))
        segs.append((True, sql[s:e]))
        pos = e
    if pos < len(sql):
        segs.append((False, sql[pos:]))
    return segs


def in_literal(sql: str, i: int) -> bool:
    """Whether position ``i`` lies inside a string literal (its quotes
    included)."""
    return _view(sql).in_literal(i)


def depth(sql: str, i: int) -> int:
    """Bracket depth before position ``i``."""
    return _view(sql).depth(i)


def iter_code(
    sql: str,
    pattern: str | re.Pattern,
    start: int = 0,
    end: int | None = None,
    top: bool = False,
) -> Iterator[re.Match]:
    """Matches of ``pattern`` in ``sql[start:end]`` that start outside
    string literals — with ``top``, only those at the depth of
    ``start``.  Every start position is tried, so a rejected match
    never hides one that overlaps it.  ``end`` bounds the search the
    way slicing would."""
    view, rx = _view(sql), re.compile(pattern)
    level = view.depth(start) if top else 0
    end = len(sql) if end is None else end
    pos = start
    while (m := rx.search(sql, pos, end)) is not None:
        i = m.start()
        if view.in_literal(i) or (top and view.depth(i) != level):
            pos = i + 1
            continue
        yield m
        pos = max(m.end(), i + 1)


def find_code(
    sql: str, pattern: str | re.Pattern, start: int = 0
) -> re.Match | None:
    """First match of ``pattern`` at or after ``start`` outside string
    literals, at any depth."""
    return next(iter_code(sql, pattern, start), None)


def find_top(
    sql: str,
    pattern: str | re.Pattern,
    start: int = 0,
    end: int | None = None,
) -> re.Match | None:
    """First match of ``pattern`` at or after ``start`` outside string
    literals and at the depth of ``start`` (a clause keyword of the
    statement ``start`` is in, not of a nested subquery or call)."""
    return next(iter_code(sql, pattern, start, end, top=True), None)


def matching_close(sql: str, i: int) -> int | None:
    """Index of the bracket closing the opener at ``i``; None when the
    text ends first."""
    view = _view(sql)
    level = view.depth(i)
    for k in range(bisect.bisect_right(view.brackets, i), len(view.brackets)):
        if view.after[k] == level:
            return view.brackets[k]
    return None


def split_top(text: str, sep: str = ",", keep_empty: bool = False) -> list[str]:
    """Split ``text`` at the ``sep`` characters outside literals and
    brackets.  Pieces come back stripped; empty ones are dropped unless
    ``keep_empty`` (an argument list, where ``f(a, )`` has two)."""
    parts, pos = [], 0
    for m in iter_code(text, re.escape(sep), top=True):
        parts.append(text[pos : m.start()].strip())
        pos = m.end()
    parts.append(text[pos:].strip())
    return parts if keep_empty else [p for p in parts if p]


def splice_enclosing(sql: str, pos: int, rewrite: Callable[[str], str]) -> str:
    """Run ``rewrite`` over the text inside the innermost bracket pair
    enclosing ``pos`` (the derived table holding a clause), splice the
    result back and run ``rewrite`` over the whole again, since a later
    clause may now be in reach.  ``sql`` comes back unchanged when no
    pair encloses ``pos``, the pair never closes, or the inner text
    does not change."""
    view = _view(sql)
    level = view.depth(pos)
    k = bisect.bisect_left(view.brackets, pos) - 1
    # the innermost opener left unclosed: the last one raising the
    # depth to the depth at pos
    while k >= 0 and not (
        sql[view.brackets[k]] in "([" and view.after[k] == level
    ):
        k -= 1
    if k < 0:
        return sql
    open_ = view.brackets[k]
    close = matching_close(sql, open_)
    if close is None:
        return sql
    inner = sql[open_ + 1 : close]
    new_inner = rewrite(inner)
    if new_inner == inner:
        return sql
    return rewrite(sql[: open_ + 1] + new_inner + sql[close:])
