"""ClickHouse-SQL compatibility shim — lets the reference app's
literal SQL strings run on the Spark engine unchanged.

The reference issues a small, well-defined SQL dialect (every
statement it ever runs is cited below); ``translate`` rewrites the
ClickHouse-isms to Spark SQL and ``run`` executes against registered
views.  This is a conservative, pattern-scoped translator for the
app-surface dialect + the common ClickHouse function names — not a
general SQL transpiler.

Function calls are rewritten from one table, ``_FNS``: each ClickHouse
name maps to a plain rename, a call render (with a minimum argument
count and, optionally, the text after the call), a parametric render
for ``name(params)(args)``, or a render that refuses with a pointer to
the operator to use instead.  One driver (``_translate_calls``) finds
the call sites in a single left-to-right pass, rewrites each call's
arguments before the call itself, and never scans a render's output
again, so no rewrite depends on the order of the entries.  The
statement-level passes (system tables, db prefixes, ``::`` casts,
tuple dot access, ``any(``, PREWHERE, QUALIFY, SAMPLE, WITH TOTALS,
FINAL, array literals, FORMAT/SETTINGS, scalar WITH, GLOBAL, ANY
JOIN, ``LIMIT a, b``, REPLACE and the clause rewrites) run in a fixed
order around it.  What counts as a string literal, a bracket depth, a
matching close paren, a top-level comma and the derived table around
a clause is defined once in sqltext.py; every pass finds its targets
through those primitives, so quoted text stays inert and a clause
inside a subquery is rewritten in that subquery.

Reference statements covered (all of them):
- SELECT max(time) as max_time FROM git.commits WHERE repo_name='x'
  (repo/importer.py:95)
- SELECT count() as count FROM git.work_queue (repo/schedule.py:31)
- SELECT COUNT(repo_name) FROM git.commits WHERE repo_name='x'
  (app.py:49)
- SELECT repo_name, min(updated_at) as last_updated FROM git.commits
  GROUP BY repo_name ORDER BY last_updated ASC LIMIT 50000
  (repo/schedule.py:81-83)
- SELECT repo_name FROM queue WHERE worker_id='' ORDER BY priority
  DESC, started_time ASC LIMIT 2 (repo/importer.py:138-139)
- SELECT repo_name, count() FROM github_events WHERE event_type =
  'WatchEvent' GROUP BY repo_name (README.md:258-262)
- countIf(...) (README.md:265); IN-list probes (repo/schedule.py:94)

The reference's remaining statement classes — CREATE DATABASE/TABLE
(create_db.py, types.json), INSERT … VALUES (test.py:35), ALTER,
OPTIMIZE — execute through the DDL/DML front-end (ddl.py); ``run``
handles SELECT-shaped statements only.  Statement-level delegations
(``ORDER BY … WITH FILL``, ``ASOF JOIN … USING``) execute the inner
query and apply the registered DataFrame operator.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from clickhub_spark.operators.seqmatch import check_next_node_combo
from clickhub_spark.sqltext import (
    depth,
    find_code,
    find_top,
    in_literal,
    iter_code,
    matching_close,
    splice_enclosing,
    split_quoted,
    split_top,
)

#: accurateCast('Type') targets — ANSI CAST already throws on overflow,
#: which IS the "accurate" contract (unsigned types widen: Spark has no
#: unsigned integers, the engine's documented trade)
_CH_CAST_TYPES = {
    "Int8": "TINYINT", "Int16": "SMALLINT", "Int32": "INT",
    "Int64": "BIGINT", "UInt8": "SMALLINT", "UInt16": "INT",
    "UInt32": "BIGINT", "UInt64": "BIGINT", "Float32": "FLOAT",
    "Float64": "DOUBLE", "String": "STRING", "Date": "DATE",
    "DateTime": "TIMESTAMP", "Bool": "BOOLEAN",
}

#: ClickHouse formatDateTime %-tokens → Spark datetime pattern letters
#: (the subset both dialects define identically).
_FMT_TOKENS = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%M": "mm", "%S": "ss", "%F": "yyyy-MM-dd", "%T": "HH:mm:ss",
    "%e": "d", "%j": "DDD", "%a": "EEE", "%b": "MMM",
}


def _rewrite_array_literals(sql: str) -> str:
    """ClickHouse ``[1, 2, 3]`` array literals → Spark ``array(1, 2, 3)``.
    A ``[`` is a subscript opener (left unchanged — Spark accepts
    ``x[1]``) only when it DIRECTLY follows an expression-ending char
    (identifier char, ``)``, ``]``, a closing backquote or double
    quote from a quoted identifier) with no whitespace, the way
    subscripts are written; after a space, comma, operator, or at
    start it is an array literal.  Nesting works; brackets inside
    string literals pass through untouched.

    Known unsupported form: a subscript separated from its base by
    whitespace (``x [1]``) is classified as an array literal — the
    whitespace rule cannot be relaxed without misreading ``SELECT
    [1, 2]`` (keyword then literal), so write subscripts unspaced."""
    out = list(sql)
    stack = []  # replacement for each open bracket's closer: ")" or "]"
    for m in iter_code(sql, r"[][]"):
        i = m.start()
        if sql[i] == "[":
            prev = sql[i - 1] if i else ""
            literal = not (prev.isalnum() or prev in '_)]`"')
            stack.append(")" if literal else "]")
            if literal:
                out[i] = "array("
        elif stack:
            out[i] = stack.pop()
    return "".join(out)


# table → sampling-key expression for SAMPLE … OFFSET (ClickHouse
# reads this from the table's SAMPLE BY clause; here it is declared
# per table name, case-insensitive).  ddl.py's CREATE TABLE parser
# and user code both register through set_sample_key.
_SAMPLE_KEYS: dict[str, str] = {}


def set_sample_key(table: str, key_expr: str) -> None:
    """Declare ``table``'s sampling key (the SAMPLE BY analog) so
    ``SAMPLE k OFFSET m`` can render its deterministic md5 hash-range
    slice over it."""
    _SAMPLE_KEYS[table.lower()] = key_expr


def _sequence_sql(params: list[str], args: list[str], count: bool) -> str:
    """Render sequenceMatch/sequenceCount('pat')(ts, c1, …) as pure
    aggregate SQL: per-row condition bitset → one alphabet char per
    MATCHING row (CASE yields NULL otherwise; collect_list drops
    NULLs — the engine's events-matching-nothing-are-skipped insert
    rule), array_sort by (ts, char), concat, then regexp_like /
    regexp_count against the compiled pattern (lazy stars, see
    operators/seqmatch._regex_of)."""
    from clickhub_spark.operators.seqmatch import (
        _ALPHA,
        _has_time,
        _regex_of,
        parse_pattern,
    )

    pattern = params[0].strip()
    if pattern and pattern[0] in "'\"":
        pattern = pattern[1:-1]
    tokens = parse_pattern(pattern)
    if _has_time(tokens):
        raise ValueError(
            "sequenceMatch/sequenceCount with (?t…) time conditions "
            "is not expressible as string-aggregate SQL — use "
            "clickhub_spark.operators.seqmatch (the automaton path)"
        )
    ts, conds = args[0], args[1:]
    if not 1 <= len(conds) <= 6:
        raise ValueError("sequenceMatch supports 1..6 conditions")
    rx = _regex_of(tokens, len(conds))
    bitset = " + ".join(
        f"(CAST(COALESCE(CAST(({c}) AS BOOLEAN), false) AS INT) * {1 << k})"
        for k, c in enumerate(conds)
    )
    alpha = _ALPHA[: (1 << len(conds)) - 1]
    entry = (
        f"CASE WHEN ({bitset}) > 0 THEN "
        f"named_struct('o', {ts}, 'c', substring('{alpha}', {bitset}, 1)) END"
    )
    seq = (
        "concat_ws('', transform(array_sort("
        f"collect_list({entry})), e -> e.c))"
    )
    if count:
        return f"CAST(regexp_count({seq}, '{rx}') AS INT)"
    return f"regexp_like({seq}, '{rx}')"


#: ClickHouse mode spellings → operator names ('strict_deduplication'
#: is the engine's documented spelling; the operator shortens it).
_FUNNEL_MODES = {
    "strict_order": "strict_order",
    "strict_dedup": "strict_dedup",
    "strict_deduplication": "strict_dedup",
    "strict_increase": "strict_increase",
}


def _window_funnel_sql(params: list[str], args: list[str]) -> str:
    """Render ``windowFunnel(w[, mode, …])(ts, c1, …)`` — ALL four
    ClickHouse modes — as one pure aggregate() sequential fold that
    transcribes the engine scan (the getEventLevel loop, pinned by
    tests/test_funnel_differential.py's reference): the entry list
    holds one (t, step) struct per MATCHED CONDITION of each event
    (the engine inserts per condition, so overlapping step conditions
    advance several pending levels — one entry per event would
    silently under-count, ADVICE r11), plus a -1 sentinel per
    non-matching event when strict_order needs its intervening-event
    abort.  The fold state carries per level the (chain-start,
    achieved-at) pair, the strict_order first-event flag, and a
    frozen early-return level (completion / strict_dedup stop /
    strict_order abort).  Cross-event timestamp ties order by (t,
    step) — the engine's own tie order is merge-nondeterministic, and
    the DataFrame operator documents the same determinism pin via its
    caller tiebreaker.  This is the dialect-parity path; the 100 TB
    shape is operators/funnel.window_funnel (running-max windows, no
    per-user arrays)."""
    w = params[0].strip()
    modes: set[str] = set()
    for p in params[1:]:
        name = p.strip().strip("'\"")
        if name not in _FUNNEL_MODES:
            raise ValueError(f"unknown windowFunnel mode {name!r}")
        modes.add(_FUNNEL_MODES[name])
    strict_order = "strict_order" in modes
    dedup = "strict_dedup" in modes
    inc = "strict_increase" in modes
    ts, conds = args[0], args[1:]
    k_top = len(conds)
    if not 1 <= k_top <= 8:
        raise ValueError("windowFunnel supports 1..8 steps")

    tsd = f"CAST({ts} AS DOUBLE)"
    per_cond = [
        f"CASE WHEN ({c}) THEN named_struct('t', {tsd}, 's', {k}) END"
        for k, c in enumerate(conds)
    ]
    if strict_order:
        any_c = " OR ".join(f"({c})" for c in conds)
        per_cond.append(
            f"CASE WHEN NOT COALESCE({any_c}, false) THEN "
            f"named_struct('t', {tsd}, 's', -1) END"
        )
    entries = (
        "array_sort(flatten(collect_list(filter(array("
        + ", ".join(per_cond)
        + "), x -> x IS NOT NULL))))"
    )

    def st_with(**over: str) -> str:
        fields = []
        for k in range(k_top):
            fields.append(f"'f{k}', " + over.get(f"f{k}", f"st.f{k}"))
            fields.append(f"'l{k}', " + over.get(f"l{k}", f"st.l{k}"))
        fields.append("'fe', " + over.get("fe", "st.fe"))
        fields.append("'dn', " + over.get("dn", "st.dn"))
        return "named_struct(" + ", ".join(fields) + ")"

    init = st_with(
        **{f"f{k}": "CAST(NULL AS DOUBLE)" for k in range(k_top)},
        **{f"l{k}": "CAST(NULL AS DOUBLE)" for k in range(k_top)},
        fe="false",
        dn="CAST(NULL AS INT)",
    ).replace("st.", "")  # init has no prior state to copy from
    level_now = (
        "CASE "
        + " ".join(
            f"WHEN st.f{k} IS NOT NULL THEN {k + 1}"
            for k in range(k_top - 1, -1, -1)
        )
        + " ELSE 0 END"
    )

    branches = ["WHEN st.dn IS NOT NULL THEN st"]  # frozen (early return)
    if strict_order:
        # intervening non-matching event after the first cond1: abort
        branches.append(
            "WHEN e.s = -1 THEN CASE WHEN st.fe THEN "
            + st_with(dn=level_now)
            + " ELSE st END"
        )
    branches.append(
        f"WHEN e.s = 0 THEN {st_with(f0='e.t', l0='e.t', fe='true')}"
    )
    for k in range(1, k_top):
        inner = []
        if dedup:
            # duplicate of an achieved level stops at ITS level
            inner.append(
                f"WHEN st.f{k} IS NOT NULL THEN {st_with(dn=str(k + 1))}"
            )
        if strict_order:
            # out-of-order step event (previous level unachieved)
            inner.append(
                f"WHEN st.fe AND st.f{k - 1} IS NULL THEN "
                + st_with(dn=level_now)
            )
        ok = f"st.f{k - 1} IS NOT NULL AND e.t <= st.f{k - 1} + {w}"
        if inc:
            ok += f" AND st.l{k - 1} < e.t"
        adv = {f"f{k}": f"st.f{k - 1}", f"l{k}": "e.t"}
        if k == k_top - 1:
            adv["dn"] = str(k_top)  # completion early return
        inner.append(f"WHEN {ok} THEN {st_with(**adv)}")
        branches.append(
            f"WHEN e.s = {k} THEN CASE {' '.join(inner)} ELSE st END"
        )
    merge = f"(st, e) -> CASE {' '.join(branches)} ELSE st END"
    finish = (
        "st -> CASE WHEN st.dn IS NOT NULL THEN st.dn "
        + " ".join(
            f"WHEN st.f{k} IS NOT NULL THEN {k + 1}"
            for k in range(k_top - 1, -1, -1)
        )
        + " ELSE 0 END"
    )
    return f"CAST(aggregate({entries}, {init}, {merge}, {finish}) AS INT)"


def _sequence_match_events_sql(params: list[str], args: list[str]) -> str:
    """Render ``sequenceMatchEvents('(?1).*(?2)…')(ts, c1, …)`` — the
    timestamps of the entries matched by each ``(?N)`` atom of the
    FIRST match — for STRICT SUBSEQUENCE patterns
    ``(?1).*(?2).*….*(?N)``, where the engine's earliest-anchor
    minimal-star trail IS the greedy chain (level k matches the first
    qualifying entry after level k-1's match; the independent
    correlated-min construction q_seq_match_events' oracle uses).
    One aggregate() fold over the sorted entry array; each update
    reads the PRE-ENTRY state, so one entry never advances two
    levels.  Other pattern shapes (adjacency, time constraints,
    arbitrary atom order) need the backtracking automaton — they
    raise with a pointer to operators/seqmatch.sequence_match_events.
    Returns array<double> of epoch seconds, empty when unmatched."""
    pattern = params[0].strip().strip("'\"")
    from clickhub_spark.operators.seqmatch import parse_pattern

    tokens = parse_pattern(pattern)
    shape_ok = (
        len(tokens) % 2 == 1
        and all(t[0] == "cond" for t in tokens[0::2])
        and all(t == ("star",) for t in tokens[1::2])
    )
    if not shape_ok:
        raise ValueError(
            "sequenceMatchEvents in SQL supports only subsequence "
            "patterns '(?i).*(?j).*….*(?k)'; use "
            "clickhub_spark.operators.seqmatch.sequence_match_events "
            "for adjacency / time-constrained patterns"
        )
    atom_idx = [t[1] for t in tokens[0::2]]
    ts, conds = args[0], args[1:]
    n = len(atom_idx)
    if max(atom_idx) >= len(conds):
        raise ValueError(
            f"pattern references (?{max(atom_idx) + 1}) but only "
            f"{len(conds)} conditions were given"
        )
    entry = (
        f"CASE WHEN ({' OR '.join(f'COALESCE(({c}), false)' for c in conds)})"
        f" THEN named_struct('t', CAST({ts} AS DOUBLE), "
        + ", ".join(
            f"'c{k}', COALESCE(({c}), false)" for k, c in enumerate(conds)
        )
        + ") END"
    )
    entries = f"array_sort(collect_list({entry}))"
    init = (
        "named_struct("
        + ", ".join(f"'t{k}', CAST(NULL AS DOUBLE)" for k in range(n))
        + ")"
    )
    fields = [
        f"'t0', CASE WHEN st.t0 IS NULL AND e.c{atom_idx[0]} "
        "THEN e.t ELSE st.t0 END"
    ]
    for k in range(1, n):
        fields.append(
            f"'t{k}', CASE WHEN st.t{k} IS NULL AND st.t{k - 1} IS NOT "
            f"NULL AND e.c{atom_idx[k]} THEN e.t ELSE st.t{k} END"
        )
    merge = f"(st, e) -> named_struct({', '.join(fields)})"
    trail = ", ".join(f"st.t{k}" for k in range(n))
    finish = (
        f"st -> CASE WHEN st.t{n - 1} IS NOT NULL THEN array({trail}) "
        "ELSE CAST(array() AS ARRAY<DOUBLE>) END"
    )
    return f"aggregate({entries}, {init}, {merge}, {finish})"


def _retention_sql(args: list[str]) -> str:
    """Render ``retention(cond1, …, condN)`` — the engine's cohort
    aggregate returning an array of 0/1 flags per group: r[1] = cond1
    held on some event; r[i] = cond1 AND cond_i each held on some
    (possibly different) event.  Pure max-flags:
    ``array(m1, m1*m2, …)`` with ``m_k = max(IF(cond_k, 1, 0))``.
    NOTE for consumers: index the result with ``element_at(r, i)``
    (1-based, matching ClickHouse's r[i]) — Spark's bracket subscript
    on arrays is 0-based and is NOT rewritten by the shim."""
    if not args or not any(a.strip() for a in args):
        # a zero-argument call reaches here as args == [''] (one
        # empty argument)
        raise ValueError("retention() needs at least one condition")
    ms = [
        f"MAX(IF(COALESCE(({c}), false), 1, 0))" for c in args
    ]
    cells = [f"CAST({ms[0]} AS INT)"] + [
        f"CAST({ms[0]} * {m} AS INT)" for m in ms[1:]
    ]
    return f"array({', '.join(cells)})"


def _sequence_next_node_sql(params: list[str], args: list[str]) -> str:
    """Render ``sequenceNextNode(direction, base)(ts, event_col,
    base_cond, event1, …)`` as one sorted-entry-array aggregate: build
    the per-group entry array sorted by timestamp (reversed for
    backward traversal), find the base chain's position (1 for
    head/tail; first/last chain match otherwise, base_cond checked on
    the base point), and return the value of the NEXT entry in
    traversal order — NULL when the chain fails or closes the stream.
    Mirrors operators/seqmatch.sequence_next_node, which carries the
    oracle-checked window construction (the q_seq_next_node* family);
    this form exists for dialect parity, trading the one-exchange
    window plan for a per-group array (fine at SQL-shim scale, not the
    100 TB path).  Cross-event timestamp ties order by (t, value,
    conds) — the operator uses the caller's unique tiebreaker instead;
    the engine's own tie order is merge-nondeterministic, so any
    pinned order is a determinism improvement."""
    if len(params) != 2:
        raise ValueError(
            "sequenceNextNode takes exactly (direction, base) params"
        )
    direction = params[0].strip().strip("'\"")
    base = params[1].strip().strip("'\"")
    check_next_node_combo(direction, base)
    if len(args) < 4:
        raise ValueError(
            "sequenceNextNode needs (ts, event_col, base_cond, "
            "event1, …) — at least four arguments"
        )
    ts, ev, base_cond, chain = args[0], args[1], args[2], args[3:]
    n = len(chain)
    fields = [f"'t', {ts}", f"'v', {ev}", f"'b', ({base_cond})"]
    fields += [f"'c{k}', ({c})" for k, c in enumerate(chain)]
    arr = f"array_sort(collect_list(named_struct({', '.join(fields)})))"
    if direction == "backward":
        arr = f"reverse({arr})"
    # chain_ok(p): base_cond AND event1 at p, event2 at p+1, …
    chain_ok = " AND ".join(
        ["COALESCE(element_at(a, p).b, false)"]
        + [
            f"COALESCE(element_at(a, p + {k}).c{k}, false)"
            for k in range(n)
        ]
    )
    if base in ("head", "tail"):
        pos = "1"
    else:
        # sequence(1, 0) generates DESCENDING [1, 0] and p = 0 would
        # hit element_at's 1-based index error — empty-guard it
        flags = (
            f"transform(IF(size(a) >= {n}, "
            f"sequence(1, size(a) - {n} + 1), "
            f"CAST(array() AS ARRAY<INT>)), p -> {chain_ok})"
        )
        if base == "first_match":
            pos = f"array_position({flags}, true)"
        else:  # last_match — bind the reversed position once (the
            # flags transform re-runs the whole chain scan otherwise)
            pos = (
                f"element_at(transform(array(array_position("
                f"reverse({flags}), true)), rp -> "
                f"IF(rp = 0, rp, size(a) - {n} + 2 - rp)), 1)"
            )
    # p > 0 = chain matched (match bases) / always for head-tail;
    # p + n <= size(a) = a next node exists (implies the chain fits)
    pos_ok = (
        f"p > 0 AND p + {n} <= size(a)"
        + (f" AND {chain_ok}" if base in ("head", "tail") else "")
    )
    # bind the computed position to ``p`` with a single-element
    # transform (Spark SQL has no scalar LET in expression position)
    body = (
        f"element_at(transform(array(CAST({pos} AS INT)), p -> "
        f"CASE WHEN {pos_ok} THEN element_at(a, p + {n}).v END), 1)"
    )
    return f"element_at(transform(array({arr}), a -> {body}), 1)"


_LIMIT_BY = r"LIMIT\s+\d+\s*(?:,\s*\d+\s+|OFFSET\s+\d+\s+)?\s*BY\b"


def _rewrite_limit_by(sql: str) -> str:
    """ClickHouse ``ORDER BY o LIMIT n BY g [LIMIT m]`` (first n rows
    per group, then an optional overall limit) → a row_number window
    subquery.  Spark has no LIMIT BY; the window PARTITION BY the BY
    columns ordered by the statement's ORDER BY reproduces the
    per-group cut exactly.  The offset forms ``LIMIT m, n BY g`` and
    ``LIMIT n OFFSET m BY g`` (skip the first m rows per group, keep
    the next n — probe battery 7) filter ``m < rn <= m + n`` instead.
    Scoped to a single top-level ORDER BY/LIMIT BY tail — the dialect
    subset the shim supports."""
    limit_by = rf"(?i)\b{_LIMIT_BY}"
    if not re.search(limit_by, sql):
        return sql
    # the statement's own ORDER BY and LIMIT n BY are the depth-0 ones
    # (an ORDER BY inside OVER(...) is not the statement's)
    order_m = limit_start = None
    scan = rf"(?i)\b(?:(?P<order>ORDER\s+BY\b)|{_LIMIT_BY})"
    for m in iter_code(sql, scan, top=True):
        if m.group("order"):
            order_m = m
            continue
        limit_start = m.start()
        break
    if limit_start is None:
        # LIMIT n BY inside a derived-table subquery
        m_lb = find_code(sql, limit_by)
        if m_lb is None:
            return sql
        return splice_enclosing(sql, m_lb.start(), _rewrite_limit_by)
    head_m = re.match(
        r"(?is)LIMIT\s+(?P<a>\d+)\s*"
        r"(?:,\s*(?P<b>\d+)\s+|OFFSET\s+(?P<off>\d+)\s+)?"
        r"\s*BY\s+",
        sql[limit_start:],
    )
    if not head_m:
        return sql
    # the BY list may contain EXPRESSIONS (lower(g), id % 2): it runs
    # to a depth-0 trailing `LIMIT n` or the statement end
    by_start = limit_start + head_m.end()
    by_end, outer_n = len(sql), None
    m_outer = find_top(sql, r"(?i)\bLIMIT\s+(\d+)\s*;?\s*$", by_start)
    if m_outer:
        by_end, outer_n = m_outer.start(), m_outer.group(1)
    by_text = sql[by_start:by_end].strip().rstrip(";").strip()
    if not by_text:
        return sql
    # any depth-0 clause keyword left in the BY text means the tail
    # is a form this rewrite does not support (LIMIT n OFFSET m,
    # SETTINGS, FORMAT after the BY list): pass the SQL through
    # unchanged rather than swallowing the clause into PARTITION BY
    if find_top(
        by_text, r"(?i)\b(LIMIT|OFFSET|SETTINGS|FORMAT|UNION|INTERSECT|EXCEPT)\b"
    ):
        return sql
    # ClickHouse offset forms: LIMIT off, n BY g  /  LIMIT n OFFSET
    # off BY g — skip the first `off` rows of each group
    if head_m.group("b") is not None:
        skip, keep = int(head_m.group("a")), int(head_m.group("b"))
    elif head_m.group("off") is not None:
        skip, keep = int(head_m.group("off")), int(head_m.group("a"))
    else:
        skip, keep = 0, int(head_m.group("a"))
    if order_m is not None:
        body = sql[: order_m.start()].strip()
        order = sql[order_m.end() : limit_start].strip()
    else:
        body = sql[:limit_start].strip()
        # with no ORDER BY, ClickHouse keeps an arbitrary n per group;
        # the BY columns as window order make that deterministic here
        order = by_text
    outer = f" LIMIT {outer_n}" if outer_n else ""
    body = _rewrite_limit_by(body)  # a second LIMIT BY in a subquery
    # the window evaluates OVER the wrapped body (__lb), whose output
    # columns are unqualified — table qualifiers from the original
    # scope (t.g) would not resolve there, so strip them
    def _strip_quals(text: str) -> str:
        return "".join(
            t
            if lit
            else re.sub(r"\b[A-Za-z_]\w*\.(\w+)\b", r"\1", t)
            for lit, t in split_quoted(text)
        )

    by = _strip_quals(by_text)
    order = _strip_quals(order)
    return (
        f"SELECT * EXCEPT (__rn) FROM (SELECT __lb.*, row_number() OVER "
        f"(PARTITION BY {by} ORDER BY {order}) AS __rn "
        f"FROM ({body}) __lb) WHERE "
        + (f"__rn > {skip} AND " if skip else "")
        + f"__rn <= {skip + keep}{outer}"
    )


def _rewrite_limit_with_ties(sql: str) -> str:
    """ClickHouse ``ORDER BY o LIMIT n WITH TIES`` — keep every row
    tied with the n-th on the ORDER BY key — as a rank() window (rank
    ≤ n IS the with-ties cut); table qualifiers stripped from the
    ORDER list for the wrapped scope.  The bare text "WITH TIES" in a
    string literal or a CTE/identifier named ``ties`` is NOT a match
    (ADVICE r13): only a depth-0, non-literal ``LIMIT n WITH TIES`` token
    triggers a rewrite (or, at depth > 0, a recursion into the
    enclosing paren); with no real match the SQL passes through, and
    the ValueError is reserved for a real match lacking ORDER BY."""
    with_ties = r"(?i)\bLIMIT\s+\d+\s+WITH\s+TIES\b"
    if not re.search(with_ties, sql):
        return sql
    order_m = limit_m = None
    for m in iter_code(
        sql,
        r"(?i)\b(?:(?P<order>ORDER\s+BY\b)|LIMIT\s+(\d+)\s+WITH\s+TIES\s*;?\s*$)",
        top=True,
    ):
        if m.group("order"):
            order_m = m
            continue
        limit_m = m
        break
    if limit_m is None:
        # LIMIT n WITH TIES inside a derived-table subquery, or only
        # in literals (then it passes through)
        m_wt = find_code(sql, with_ties)
        if m_wt is None:
            return sql
        return splice_enclosing(sql, m_wt.start(), _rewrite_limit_with_ties)
    if order_m is None:
        raise ValueError(
            "unsupported LIMIT WITH TIES form: a top-level ORDER BY "
            "followed by LIMIT n WITH TIES at statement end is the "
            "supported dialect subset"
        )
    order = "".join(
        t
        if lit
        else re.sub(r"\b[A-Za-z_]\w*\.(\w+)\b", r"\1", t)
        for lit, t in split_quoted(sql[order_m.end() : limit_m.start()].strip())
    )
    body = sql[: order_m.start()].strip()
    return (
        f"SELECT * EXCEPT (__rk) FROM (SELECT __wt.*, rank() OVER "
        f"(ORDER BY {order}) AS __rk FROM ({body}) __wt) "
        f"WHERE __rk <= {limit_m.group(2)} ORDER BY {order}"
    )


#: Spark aggregate-function names as they appear in RENDERED SQL (the
#: GROUP BY ALL expansion runs after the dialect renames, so only the
#: Spark spellings matter here)
_SPARK_AGG_NAMES = frozenset(
    {
        "sum", "count", "avg", "mean", "min", "max", "any_value",
        "first", "last", "first_value", "last_value", "collect_list",
        "collect_set", "stddev", "stddev_pop", "stddev_samp",
        "variance", "var_pop", "var_samp", "covar_pop", "covar_samp",
        "corr", "percentile", "percentile_approx", "median", "mode",
        "approx_count_distinct", "count_if", "bool_and", "bool_or",
        "max_by", "min_by", "skewness", "kurtosis", "sum_distinct",
        "bit_and", "bit_or", "bit_xor", "grouping", "grouping_id",
        "count_min_sketch", "hll_sketch_agg", "hll_union_agg",
        "regr_avgx", "regr_avgy", "regr_count", "regr_r2",
        "regr_slope", "regr_intercept", "regr_sxx", "regr_sxy",
        "regr_syy", "try_sum", "try_avg", "listagg", "array_agg",
    }
)


def _non_aggregate_select_items(sql: str) -> list[str]:
    """The select-list items of the OUTERMOST statement that contain
    no aggregate-function call, aliases stripped — ClickHouse's (and
    Spark's own) ``GROUP BY ALL`` expansion rule.  Used to spell the
    grouping columns out when a construct needs them textually
    (GROUP BY ALL WITH TOTALS).  A leading WITH clause is skipped up
    to the depth-0 SELECT, so CTE-prefixed statements expand instead
    of raising (ADVICE r14)."""
    if re.match(r"(?is)\s*WITH\b", sql):
        sel = find_top(sql, r"(?i)\bSELECT\b")
        return [] if sel is None else _non_aggregate_select_items(sql[sel.start() :])
    m_sel = re.match(r"(?is)\s*SELECT\s+(DISTINCT\s+)?", sql)
    if not m_sel:
        return []
    # depth-0 FROM ends the select list
    from_m = find_top(sql, r"(?i)\bFROM\b", m_sel.end())
    if from_m is None:
        return []
    items = split_top(sql[m_sel.end() : from_m.start()], keep_empty=True)
    out: list[str] = []
    for it in items:
        has_agg = any(
            re.search(rf"(?i)\b{re.escape(fn)}\s*\(", t)
            for lit, t in split_quoted(it)
            if not lit
            for fn in _SPARK_AGG_NAMES
        ) or re.search(r"(?i)\bcount\s*\(\s*\*", it)
        # WINDOW expressions are excluded from GROUP BY ALL too (both
        # ClickHouse's and Spark's own rule) — a window fn inside
        # GROUP BY is illegal SQL
        has_window = any(
            re.search(r"(?i)\bOVER\b", t)
            for lit, t in split_quoted(it)
            if not lit
        )
        if has_agg or has_window:
            continue
        expr = re.sub(r"(?is)\s+AS\s+`?\w+`?\s*$", "", it.strip()).strip()
        expr = _strip_implicit_alias(expr)
        if expr:
            out.append(expr)
    return out


# tokens after which a trailing bare identifier is a CONTINUATION of
# the expression, not an implicit alias (`x IS NULL`, `a OR b`,
# `INTERVAL 1 day`, `CASE … END`), plus words that cannot BE an alias
_ALIAS_STOP = frozenset(
    "and or not in is like ilike between case when then else end "
    "null true false distinct interval cast exists all any "
    "div mod xor regexp rlike glob escape collate from to at "
    "year years quarter quarters month months week weeks day days "
    "hour hours minute minutes second seconds".split()
)


def _strip_implicit_alias(expr: str) -> str:
    """Strip a trailing IMPLICIT column alias (``upper(g) gg`` — no
    AS keyword), mirroring the AS-form strip: ClickHouse and Spark
    both exclude the alias from GROUP BY ALL expansion (ADVICE r14:
    the AS-only strip rendered ``GROUP BY GROUPING SETS ((upper(g)
    gg), ())``).  A bare identifier is an alias only when the token
    BEFORE it ends an expression (identifier, ``)``, ``]``, literal,
    or number) — after an operator or connective keyword it is part
    of the expression (``a + b``, ``x IS NULL``, ``INTERVAL 1
    day``)."""
    m = re.search(r"(?is)\s+(`?)([A-Za-z_]\w*)\1\s*$", expr)
    if not m:
        return expr
    ident = m.group(2).lower()
    if ident in _ALIAS_STOP:
        return expr
    head = expr[: m.start()].rstrip()
    # the identifier must sit at depth 0 of the item, outside literals
    if not head or in_literal(expr, m.start()) or depth(expr, m.start()):
        return expr
    last = head[-1]
    if last in ")]'\"`" or last.isalnum() or last == "_":
        tail_word = re.search(r"([A-Za-z_]\w*)$", head)
        if tail_word and tail_word.group(1).lower() in _ALIAS_STOP:
            return expr
        return head
    return expr


def _expand_group_by_all_totals(sql: str) -> str:
    """``GROUP BY ALL WITH TOTALS`` → ``GROUP BY <non-agg select
    items> WITH TOTALS`` (the TOTALS pass then turns that into
    GROUPING SETS).  ALL must expand against the select list of the
    statement that CONTAINS the clause: a depth-0 match uses the
    outermost list; a match inside a derived table recurses into the
    enclosing paren.  Plain GROUP BY
    ALL without TOTALS stays Spark-native and untouched."""
    m = find_code(sql, r"(?is)\bGROUP BY\s+ALL\s+WITH TOTALS\b")
    if m is None:
        return sql
    if depth(sql, m.start()):
        return splice_enclosing(sql, m.start(), _expand_group_by_all_totals)
    cols = _non_aggregate_select_items(sql)
    if not cols:
        raise ValueError(
            "GROUP BY ALL WITH TOTALS: no non-aggregate select "
            "items to group by — spell the grouping columns"
        )
    return _expand_group_by_all_totals(
        sql[: m.start()]
        + f"GROUP BY {', '.join(cols)} WITH TOTALS"
        + sql[m.end() :]
    )


def _rewrite_distinct_on(sql: str) -> str:
    """ClickHouse/Postgres ``SELECT DISTINCT ON (cols) …`` — one row
    per distinct ``cols`` tuple (probe battery 7).  Spark has no
    DISTINCT ON; rewrite as a row_number() window PARTITION BY the ON
    columns keeping rank 1.  Row choice: the statement's trailing
    ORDER BY picks the winner (Postgres/DuckDB semantics — ClickHouse
    keeps an arbitrary first-seen row, so any deterministic choice is
    a valid transcription; DuckDB's makes the oracle agree); with no
    ORDER BY the ON columns order the window (deterministic
    arbitrary).  Depth-0 statements rewrite in place; a DISTINCT ON
    inside a derived table recurses into the enclosing paren.  ORDER
    BY terms must be FROM-scope
    columns (not projection aliases) — the supported subset."""
    m = find_code(sql, r"(?i)\bDISTINCT\s+ON\s*\(")
    if m is None:
        return sql
    if depth(sql, m.start()):
        return splice_enclosing(sql, m.start(), _rewrite_distinct_on)
    close = matching_close(sql, m.end() - 1)
    if close is None:
        return sql  # unbalanced — leave for Spark's parser
    on_cols = sql[m.end() : close].strip()
    head = sql[: m.start()]  # "SELECT " (DISTINCT ON consumed)
    rest = sql[close + 1 :]  # select list + FROM … [ORDER BY …] [LIMIT n]
    from_pos = order_pos = order_kw_end = limit_pos = None
    for mk in iter_code(
        rest, r"(?i)\b(?:(?P<from>FROM\b)|(?P<order>ORDER\s+BY\b)|LIMIT\b)", top=True
    ):
        if mk.group("order"):
            order_pos, order_kw_end = mk.span()
        elif mk.group("from"):
            from_pos = mk.start() if from_pos is None else from_pos
        elif limit_pos is None:
            limit_pos = mk.start()
    if from_pos is None:
        raise ValueError("DISTINCT ON needs a SELECT … FROM statement")
    tail_start = order_pos if order_pos is not None else limit_pos
    body_end = tail_start if tail_start is not None else len(rest)
    if order_pos is not None:
        wend = (
            limit_pos
            if limit_pos is not None and limit_pos > order_pos
            else len(rest)
        )
        worder = rest[order_kw_end:wend].strip().rstrip(";").strip()
    else:
        worder = on_cols
    # outer tail: keep LIMIT verbatim, but keep only the ON-column
    # ORDER BY terms — non-projected sort columns (the Postgres-
    # canonical `ORDER BY u, ts DESC`) are unresolvable OUTSIDE the
    # wrapper, and the window has already enforced the winner
    # (ADVICE r14)
    tail_parts = []
    if order_pos is not None:
        on_set = {
            re.sub(r"\s+", " ", c.strip().strip("`")).lower()
            for c in on_cols.split(",")
        }
        kept = []
        for term in worder.split(","):
            bare = re.sub(
                r"(?is)\s+(ASC|DESC)\b(\s+NULLS\s+(FIRST|LAST))?\s*$",
                "",
                term.strip(),
            )
            bare = re.sub(
                r"(?is)\s+NULLS\s+(FIRST|LAST)\s*$", "", bare
            ).strip()
            if re.sub(r"\s+", " ", bare.strip("`")).lower() in on_set:
                kept.append(term.strip())
        if kept:
            tail_parts.append("ORDER BY " + ", ".join(kept))
    if limit_pos is not None:
        tail_parts.append(rest[limit_pos:].strip().rstrip(";").strip())
    tail = " ".join(tail_parts)
    select_list = rest[:from_pos].strip().rstrip(",")
    inner = (
        f"{head}{select_list}, row_number() OVER "
        f"(PARTITION BY {on_cols} ORDER BY {worder}) AS __don "
        f"{rest[from_pos:body_end].strip().rstrip(';').strip()}"
    )
    out = (
        f"SELECT * EXCEPT (__don) FROM ({inner.strip()}) __don_q "
        f"WHERE __don = 1"
    )
    return f"{out} {tail}" if tail else out


def _rewrite_with_totals(sql: str) -> str:
    """``GROUP BY <cols> WITH TOTALS`` → ``GROUP BY GROUPING SETS
    ((<cols>), ())``: the totals row is the empty grouping set (its
    group columns read NULL, like ClickHouse's zero-value row).

    Literal-guarded (VERDICT r14 finding 2: the old raw re.sub
    corrupted ``SELECT 'GROUP BY g WITH TOTALS' AS s`` in place) and
    paired with the NEAREST preceding GROUP BY at the same paren
    depth (the old non-greedy match could absorb an intervening
    subquery's GROUP BY).

    A trailing HAVING is exempted for the totals row: ClickHouse
    ALWAYS emits the totals row when WITH TOTALS is specified — under
    the default ``totals_mode = 'before_having'`` its contents
    aggregate ALL source rows, which is exactly what the empty
    grouping set computes — so the predicate becomes ``(<pred>) OR
    grouping_id() = 2^n - 1`` (the all-bits id only the totals row
    carries).  Pinned against a hand-built UNION ALL oracle in probe
    battery 9."""
    m = find_code(sql, r"(?is)\bWITH\s+TOTALS\b")
    if m is None:
        return sql
    level = depth(sql, m.start())
    gb = None
    for g in iter_code(sql, r"(?is)\bGROUP\s+BY\b", end=m.start()):
        if depth(sql, g.start()) == level:
            gb = g
    if gb is None:
        return sql  # stray WITH TOTALS — leave for Spark's parser
    cols = sql[gb.end() : m.start()].strip()
    # column count → the totals row's grouping_id() (all bits set)
    n = len(split_top(cols, keep_empty=True))
    tail = sql[m.end() :]
    # the HAVING must belong to THIS select: stop looking at the
    # first depth-0 set-operation boundary (a later UNION branch's
    # HAVING must not inherit the totals exemption — review r15)
    scope_end = len(tail)
    for b in iter_code(tail, r"(?is)\b(UNION|INTERSECT|EXCEPT)\b", top=True):
        if not tail[: b.start()].rstrip().endswith("*"):
            scope_end = b.start()
            break
    mh = find_code(tail, r"(?is)\bHAVING\b")
    if mh is not None and (mh.start() >= scope_end or depth(tail, mh.start())):
        mh = None
    if mh is not None:
        # predicate runs to the next depth-0 trailing clause, or the
        # paren closing the enclosing subquery
        end_m = find_top(
            tail,
            r"(?is)[);]|\b(ORDER\s+BY|LIMIT|WINDOW|QUALIFY|SETTINGS|FORMAT"
            r"|UNION|INTERSECT|EXCEPT)\b",
            mh.end(),
        )
        pred_end = end_m.start() if end_m else len(tail)
        pred = tail[mh.end() : pred_end].strip()
        tail = (
            tail[: mh.end()]
            + f" ({pred}) OR grouping_id() = {2 ** n - 1} "
            + tail[pred_end:]
        )
    out = (
        sql[: gb.start()]
        + f"GROUP BY GROUPING SETS (({cols}), ())"
        + tail
    )
    return _rewrite_with_totals(out)


#: what ends an ARRAY JOIN item list: ';' or the next clause keyword
_AJ_ITEM_END = re.compile(
    r"(?is);|\b(WHERE|PREWHERE|GROUP\s+BY|HAVING|WINDOW|QUALIFY|ORDER\s+BY"
    r"|LIMIT|SETTINGS|FORMAT|UNION|INTERSECT|EXCEPT"
    r"|(?:LEFT\s+)?ARRAY\s+JOIN"
    r"|(?:INNER|CROSS)\s+JOIN|(?:FULL|RIGHT|LEFT)\s+(?:OUTER\s+)?JOIN"
    r"|LEFT\s+(?:SEMI|ANTI)\s+JOIN|JOIN)\b"
)


def _rewrite_array_join_clause(sql: str) -> str:
    """ClickHouse's ``[LEFT] ARRAY JOIN <items>`` CLAUSE (unnest one
    row per array element; distinct from the arrayJoin() function) →
    Spark ``LATERAL VIEW [OUTER] explode``.  LEFT keeps rows whose
    array is empty/NULL (elements read NULL) — exactly LATERAL VIEW
    OUTER.

    Three forms (VERDICT r14 item 2 — the old single-regex render
    mangled two of them and rewrote string literals):

    - ``ARRAY JOIN arr AS a`` — in-place
      ``LATERAL VIEW explode(arr) __aj_a AS a`` (original array stays
      addressable, matching CH).
    - ``ARRAY JOIN arr`` (bare: the element REPLACES the column in
      scope, CH's most common spelling) — the relation is wrapped in
      a subquery projecting ``* EXCEPT (arr, __aj_e0), __aj_e0 AS
      arr`` because a LATERAL VIEW output column that shadows a base
      column is AMBIGUOUS_REFERENCE in Spark.
    - ``ARRAY JOIN arr1 AS a, arr2 AS b, …`` (multi: CH zips
      POSITIONALLY and errors when lengths differ) — posexplode the
      first array behind a CASE that ``raise_error``s on any length
      mismatch (evaluated per input row, so unequal lengths fail even
      when the anchor array is empty), then chain
      ``LATERAL VIEW explode(array(element_at(arrK, __aj_pos + 1)))``
      for the rest; the wrap hides ``__aj_pos`` from ``SELECT *``.

    Matches inside string literals are skipped; a clause inside a
    derived table recurses into the enclosing paren.  Bare non-column
    expressions raise, as
    ClickHouse itself does ("No alias for non-trivial ARRAY JOIN").
    Caveat (documented, loud): the wrapped forms hide base-relation
    ALIASES from outer clauses — qualified references like ``t.col``
    around a bare/multi ARRAY JOIN fail analysis; use plain column
    names (CH queries conventionally do)."""
    m = find_code(sql, r"(?is)\b(?P<left>LEFT\s+)?ARRAY\s+JOIN\b")
    if m is None:
        return sql
    if depth(sql, m.start()):
        return splice_enclosing(sql, m.start(), _rewrite_array_join_clause)
    outer = "OUTER " if m.group("left") else ""
    # the item list runs to the next depth-0 clause keyword / ';' / end
    end_m = find_top(sql, _AJ_ITEM_END, m.end())
    items_end = end_m.start() if end_m else len(sql)
    parsed: list[tuple[str, str | None]] = []  # (expr, alias|None)
    for it in split_top(sql[m.end() : items_end], keep_empty=True):
        if not it:
            raise ValueError("ARRAY JOIN: empty item in the array list")
        # the depth-0 `AS <ident>` tail (CAST(x AS T) sits at depth>0)
        alias = None
        ma = find_top(it, r"(?is)\bAS\s+(`?)(\w+)\1\s*$")
        if ma:
            alias = ma.group(2)
            it = it[: ma.start()].strip()
        parsed.append((it, alias))
    aliased_ok = all(a is not None for _, a in parsed)
    if len(parsed) == 1 and aliased_ok:
        expr, alias = parsed[0]
        rendered = (
            f"LATERAL VIEW {outer}explode({expr}) __aj_{alias} AS {alias}"
        )
        return _rewrite_array_join_clause(
            sql[: m.start()] + rendered + " " + sql[items_end:]
        )
    # bare and/or multi items: wrap the FROM relation in a subquery so
    # bare elements can shadow their source column and __aj_pos stays
    # hidden.  Bare items must be simple (possibly qualified) columns.
    for expr, alias in parsed:
        if alias is None and not re.fullmatch(r"[\w.`]+", expr):
            raise ValueError(
                f"ARRAY JOIN: no alias for non-trivial expression "
                f"{expr!r} — add AS <alias> (ClickHouse requires this "
                f"too)"
            )
    # the FROM that owns the clause: the last depth-0 one before it
    froms = list(iter_code(sql, r"(?is)\bFROM\b", end=m.start(), top=True))
    if not froms:
        raise ValueError("ARRAY JOIN: no FROM clause to attach to")
    from_m = froms[-1]
    rel = sql[from_m.end() : m.start()].strip()
    gen_names = [
        a if a is not None else f"__aj_e{i}"
        for i, (_, a) in enumerate(parsed)
    ]
    lvs = []
    if len(parsed) == 1:
        lvs.append(
            f"LATERAL VIEW {outer}explode({parsed[0][0]}) __aj0 "
            f"AS {gen_names[0]}"
        )
        hidden = []
    else:
        checks = " OR ".join(
            f"size({e}) <> size({parsed[0][0]})" for e, _ in parsed[1:]
        )
        anchor = (
            f"CASE WHEN {checks} THEN raise_error('ARRAY JOIN: arrays "
            f"must have identical sizes') ELSE {parsed[0][0]} END"
        )
        lvs.append(
            f"LATERAL VIEW {outer}posexplode({anchor}) __aj0 "
            f"AS __aj_pos, {gen_names[0]}"
        )
        for i, (e, _) in enumerate(parsed[1:], start=1):
            # try_element_at, not element_at: under LEFT (OUTER) the
            # empty-anchor row reaches this chained generator with an
            # internal pos of -1 before Spark's null-out projection
            # (verified live — element_at throws
            # INVALID_ARRAY_INDEX_IN_ELEMENT_AT); sizes are already
            # enforced by the anchor's raise_error CASE, so try_ can
            # only ever surface the correct LEFT-join NULL
            lvs.append(
                f"LATERAL VIEW explode(array(try_element_at({e}, "
                f"__aj_pos + 1))) __aj{i} AS {gen_names[i]}"
            )
        hidden = ["__aj_pos"]
    except_cols = list(hidden)
    reproj = []
    for i, (e, a) in enumerate(parsed):
        if a is None:
            col = e.split(".")[-1].strip("`")
            except_cols.extend([col, gen_names[i]])
            reproj.append(f"{gen_names[i]} AS {col}")
    proj = "*"
    if except_cols:
        proj = f"* EXCEPT ({', '.join(except_cols)})"
    if reproj:
        proj += ", " + ", ".join(reproj)
    subq = f"(SELECT {proj} FROM {rel} {' '.join(lvs)}) __aj_sq"
    return _rewrite_array_join_clause(
        sql[: from_m.start()] + f"FROM {subq} " + sql[items_end:]
    )


_CLAUSE_AFTER_WHERE = (
    r"\b(GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|WINDOW|UNION|INTERSECT|EXCEPT"
    r"|SETTINGS|FORMAT|QUALIFY)\b"
)


def _rewrite_qualify(sql: str) -> str:
    """``SELECT … FROM … QUALIFY <pred>`` — ClickHouse's post-window
    filter (Spark has no QUALIFY).  Rewrite: append ``(<pred>) AS
    __qualify`` to the inner projection (windows are legal there),
    wrap, filter, and drop the helper column; trailing ORDER BY /
    LIMIT move OUTSIDE the wrapper, where they ran in the original.
    Top-level set operations with QUALIFY are out of scope (raise)."""
    m = find_code(sql, r"(?i)\bQUALIFY\b")
    if m is None:
        return sql
    if depth(sql, m.start()):
        # inside a derived-table subquery: inline subqueries never pass
        # through translate() on their own
        return splice_enclosing(sql, m.start(), _rewrite_qualify)
    # set-op guard: only a DEPTH-0 set operation outside string
    # literals conflicts with the wrap-in-subquery rewrite.  A UNION
    # inside a derived table, an EXCEPT in a string constant, or the
    # `SELECT * EXCEPT (col)` projection modifier must NOT trip it
    # (ADVICE r12).
    for m_set in iter_code(sql, r"(?i)\b(UNION|INTERSECT|EXCEPT)\b", top=True):
        if (
            m_set.group(1).upper() == "EXCEPT"
            and sql[: m_set.start()].rstrip().endswith("*")
        ):
            continue  # `SELECT * EXCEPT (col)` projection form
        raise ValueError(
            "QUALIFY with a top-level set operation is not supported — "
            "apply QUALIFY inside a subquery per branch"
        )
    # predicate runs to the next depth-0 trailing clause
    end_m = find_top(sql, r"(?i)\b(ORDER\s+BY|LIMIT|SETTINGS|FORMAT)\b", m.end())
    pred_end = end_m.start() if end_m else len(sql)
    pred = sql[m.end() : pred_end].strip()
    tail = sql[pred_end:]
    inner = sql[: m.start()].rstrip()
    # insert the predicate at the end of the SELECT list: before the
    # first depth-0 FROM
    from_m = find_top(inner, r"(?i)\bFROM\b")
    if from_m is None:
        raise ValueError("QUALIFY needs a SELECT … FROM statement")
    pos = from_m.start()
    # ClickHouse lets QUALIFY reference SELECT-list ALIASES (it
    # substitutes the aliased expression textually); Spark rejects a
    # lateral column alias inside a window expression, so inline the
    # alias expressions into the predicate the same way ClickHouse
    # does (probe battery 6).  Iterate for alias-on-alias chains.
    sel_m = re.match(r"\s*SELECT\s+(DISTINCT\s+)?", inner, re.IGNORECASE)
    if sel_m:
        items = split_top(inner[sel_m.end() : pos], keep_empty=True)
        aliases = {}
        for it in items:
            ma = re.match(r"(?is)^\s*(.*\S)\s+AS\s+`?(\w+)`?\s*$", it)
            if ma and ma.group(1).strip() != ma.group(2):
                aliases[ma.group(2)] = ma.group(1).strip()
        for _ in range(10):
            new_pred = pred
            for al, expr in aliases.items():
                new_pred = "".join(
                    t
                    if lit
                    else re.sub(rf"(?<![.\w`]){al}\b", f"({expr})", t)
                    for lit, t in split_quoted(new_pred)
                )
            if new_pred == pred:
                break
            pred = new_pred
    inner = (
        inner[:pos].rstrip() + f", ({pred}) AS __qualify " + inner[pos:]
    )
    return (
        f"SELECT * EXCEPT (__qualify) FROM ({inner}) __q "
        f"WHERE __qualify" + (f" {tail.strip()}" if tail.strip() else "")
    )


def _merge_prewhere(sql: str) -> str:
    """``PREWHERE p1 WHERE p2`` → ``WHERE (p1) AND (p2)`` (ClickHouse
    applies the conjunction; PREWHERE is only a scan-order hint).
    Clause boundaries are found at paren-depth 0 outside string
    literals, so subqueries inside either predicate are inert.  A
    PREWHERE with no following WHERE is left for the plain keyword
    rename."""
    m = find_code(sql, r"(?i)\bPREWHERE\b")
    if m is None:
        return sql
    where = find_top(sql, rf"(?i)\bWHERE\b|{_CLAUSE_AFTER_WHERE}", m.end())
    if where is None or where.group().upper() != "WHERE":
        return sql  # no WHERE to merge with; plain rename handles it
    pre_end = where.start()
    p1 = sql[m.end() : pre_end].strip()
    body_end_m = find_top(sql, rf"(?i){_CLAUSE_AFTER_WHERE}", where.end())
    body_end = body_end_m.start() if body_end_m else len(sql)
    p2 = sql[where.end() : body_end].strip()
    return (
        sql[: m.start()]
        + f"WHERE ({p1}) AND ({p2}) "
        + sql[body_end:]
    )


# --- call renders ---------------------------------------------------------
# Each render receives the top-level arguments of one call, already
# rewritten (innermost calls first), and returns final Spark SQL: the
# driver never re-scans a render's output.


def _topk(ps: list[str], args: list[str]) -> str:
    """topK(N)(x) → the N most frequent values as an array, most
    frequent first, value ASC as the deterministic tiebreak (the
    engine's Space-Saving order on ties is insertion-dependent).  Exact
    counting over the group's collected values — O(distinct x rows)
    per group in interpreted HOFs, the dialect-parity shape; the
    100 TB path is the Misra-Gries operator (operators/topk.py)."""
    if len(ps) > 1:
        raise ValueError(
            "topK(N, load_factor, 'counts') variants are not "
            "supported — the 'counts' mode changes the result "
            "shape to (value, count) tuples; use topK(N)(x) or "
            "the Misra-Gries operator (operators/topk.py)"
        )
    x, n = args[0], int(ps[0])
    lst = f"collect_list({x})"
    ranked = (
        f"array_sort(transform(array_distinct({lst}), v -> "
        f"named_struct('neg', -size(filter({lst}, e -> e = v)), "
        f"'v', v)))"
    )
    return f"transform(slice({ranked}, 1, {n}), s -> s.v)"


def _topk_weighted(ps: list[str], a: list[str]) -> str:
    n = int(ps[0])
    lst = f"collect_list(named_struct('x', {a[0]}, 'w', {a[1]}))"
    ranked = (
        f"array_sort(transform(array_distinct(transform({lst}, "
        f"__s -> __s.x)), __v -> named_struct('neg', "
        f"-aggregate(filter({lst}, __s -> __s.x <=> __v), "
        f"CAST(0 AS DOUBLE), (__a2, __s) -> __a2 + __s.w), 'v', __v)))"
    )
    return f"transform(slice({ranked}, 1, {n}), __s -> __s.v)"


def _if_agg(spark_agg: str, default: str | None = None):
    """<agg>If(col, cond) → <agg>(CASE WHEN cond THEN col END); Spark
    only has count_if.  ClickHouse's non-OrNull aggregates return the
    TYPE DEFAULT when the condition matches nothing (probe battery 6):
    sumIf → 0, avgIf → nan (0/0) — Spark's NULL would silently
    diverge, so those two coalesce to ``default``.  minIf/maxIf keep
    NULL: their CH default is type-dependent (0 / '' / 1970-01-01),
    which a text render can't know; NULL is the -OrNull behavior users
    reach for anyway.  In WINDOW position (a trailing OVER) the
    coalesce wrapper is illegal — coalesce is not a window function —
    so the render keeps the bare sum(CASE …) there; an OVER window
    never produces the empty-group row anyway (ADVICE r13)."""

    def render(a: list[str], tail: str = "") -> str:
        bare = f"{spark_agg}(CASE WHEN {a[1]} THEN {a[0]} END)"
        if default is None or re.match(r"(?is)\s*OVER\b", tail):
            return bare
        return f"coalesce({bare}, {default})"

    return render


def _multi_if(args: list[str]) -> str:
    """multiIf(c1, v1, …, else) → CASE chain."""
    whens = "".join(
        f" WHEN {args[i]} THEN {args[i + 1]}" for i in range(0, len(args) - 1, 2)
    )
    return f"CASE{whens} ELSE {args[-1]} END"


def _array_string_concat(args: list[str]) -> str:
    sep = args[1] if len(args) > 1 else "''"
    return f"array_join({args[0]}, {sep})"


def _fmt_datetime(args: list[str]) -> str:
    """formatDateTime(x, '%Y-%m-%d') → date_format with translated
    tokens."""
    fmt = args[1]
    for ch_tok, spark_tok in _FMT_TOKENS.items():
        fmt = fmt.replace(ch_tok, spark_tok)
    return f"date_format({args[0]}, {fmt})"


def _date_diff(a: list[str]) -> str:
    """dateDiff('unit', a, b) counts crossed UNIT BOUNDARIES in
    ClickHouse (dateDiff('hour', 22:58, 23:05) = 1), while Spark's
    timestampdiff counts COMPLETE elapsed units (= 0 there) — so the
    operands are date_trunc'ed to the unit first.  age('unit', a, b)
    is ClickHouse's complete-units form: plain timestampdiff."""
    unit = a[0].strip().strip("'\"").upper()
    if unit not in (
        "SECOND", "MINUTE", "HOUR", "DAY", "WEEK",
        "MONTH", "QUARTER", "YEAR",
    ):
        raise ValueError(f"dateDiff: unsupported unit {unit!r}")
    return (
        f"timestampdiff({unit}, date_trunc('{unit}', {a[1]}), "
        f"date_trunc('{unit}', {a[2]}))"
    )


def _grid(w: int):
    """Floor a timestamp to a ``w``-second grid."""
    return lambda a: (
        f"timestamp_seconds(CAST(floor(unix_timestamp({a[0]}) / {w}) "
        f"* {w} AS BIGINT))"
    )


def _ch_divide(a: list[str]) -> str:
    """divide() is ALWAYS Float64 division in ClickHouse, with IEEE
    zero-divisor results (x/0 → ±Inf, 0/0 → NaN).  Spark 4's ANSI
    mode throws DIVIDE_BY_ZERO for EVERY numeric type incl. double,
    so the zero-divisor branches are spelled out (a -0.0 divisor loses
    its sign — documented delta)."""
    num, den = f"CAST({a[0]} AS DOUBLE)", f"CAST({a[1]} AS DOUBLE)"
    return (
        f"(CASE WHEN {num} IS NULL OR {den} IS NULL "
        f"THEN CAST(NULL AS DOUBLE) "
        f"WHEN {den} = 0.0 THEN "
        f"CASE WHEN isnan({num}) OR {num} = 0.0 THEN CAST('NaN' AS DOUBLE) "
        f"WHEN {num} > 0 THEN CAST('Infinity' AS DOUBLE) "
        f"ELSE CAST('-Infinity' AS DOUBLE) END "
        f"ELSE {num} / {den} END)"
    )


def _gcd_expr(x: str, y: str) -> str:
    """gcd/lcm: Euclid unrolled as an aggregate() fold — 92 iterations
    bound the worst case for 64-bit inputs (consecutive Fibonacci
    numbers), each step a no-op once the remainder hits 0."""
    return (
        f"aggregate(sequence(1, 92), "
        f"named_struct('a', abs(CAST({x} AS BIGINT)), "
        f"'b', abs(CAST({y} AS BIGINT))), "
        f"(__s, __i) -> IF(__s.b = 0, __s, "
        f"named_struct('a', __s.b, 'b', __s.a % __s.b)), __s -> __s.a)"
    )


def _erf_expr(x: str) -> str:
    """erf via Abramowitz-Stegun 7.1.26 (|error| <= 1.5e-7): Spark has
    no gamma/error functions; the rational approximation is pure
    arithmetic and stays inside whole-stage codegen."""
    t = f"(1 / (1 + 0.3275911 * abs({x})))"
    poly = (
        f"({t} * (0.254829592 + {t} * (-0.284496736 + {t} * "
        f"(1.421413741 + {t} * (-1.453152027 + {t} * 1.061405429)))))"
    )
    return f"(sign({x}) * (1 - {poly} * exp(-(({x}) * ({x})))))"


def _ch_extract(a: list[str]) -> str:
    """CH extract(s, re) returns the first match (first capture group
    if the pattern has one).  Only the 2-arg COMMA form is rewritten,
    so SQL's EXTRACT(field FROM ts) passes through."""
    if len(a) != 2:
        return f"extract({', '.join(a)})"
    idx = 0
    lit = re.fullmatch(r"'((?:[^']|'')*)'", a[1].strip())
    if lit and re.compile(lit.group(1).replace("''", "'")).groups > 0:
        idx = 1
    return f"regexp_extract({a[0]}, {a[1]}, {idx})"


def _ch_format(a: list[str]) -> str:
    """format('{} and {}', …) → format_string('%s and %s', …); {N} is
    0-based positional in ClickHouse, %N$s is 1-based in Java."""
    lit = re.fullmatch(r"'((?:[^']|'')*)'", a[0].strip())
    if not lit:
        raise ValueError("format(): the format string must be a literal")
    s = lit.group(1).replace("%", "%%")
    s = re.sub(r"\{(\d+)\}", lambda m2: f"%{int(m2.group(1)) + 1}$s", s)
    s = s.replace("{}", "%s")
    return f"format_string('{s}', {', '.join(a[1:])})"


def _ch_transform(a: list[str]) -> str:
    """CH transform(x, [from…], [to…][, default]) is the lookup-table
    form; Spark's 2-arg transform(arr, lambda) HOF passes through."""
    if len(a) < 3:
        return f"transform({', '.join(a)})"
    mapped = f"try_element_at(map_from_arrays({a[1]}, {a[2]}), {a[0]})"
    return f"coalesce({mapped}, {a[3] if len(a) == 4 else a[0]})"


def _tuple_element(a: list[str]) -> str:
    """tupleElement reads the tuple() render's positional ``_N``
    fields back (literal index only)."""
    if not re.fullmatch(r"\d+", a[1].strip()):
        raise ValueError(
            "tupleElement: literal positional index only (the tuple() "
            "render names fields _1, _2, …)"
        )
    return f"({a[0]})._{a[1].strip()}"


def _array_intersect_fold(a: list[str]) -> str:
    expr = a[0]
    for nxt in a[1:]:
        expr = f"array_intersect({expr}, {nxt})"
    return expr


def _array_resize(a: list[str]) -> str:
    """arrayResize pads with the element type's NULL (ClickHouse pads
    with the type DEFAULT — documented delta) unless a pad is given;
    try_element_at past the end is a TYPED null of the element type."""
    pad = a[2] if len(a) == 3 else f"try_element_at({a[0]}, size({a[0]}) + 1)"
    return (
        f"CASE WHEN ({a[1]}) <= size({a[0]}) THEN slice({a[0]}, 1, ({a[1]})) "
        f"ELSE concat({a[0]}, array_repeat({pad}, ({a[1]}) - size({a[0]}))) END"
    )


def _lambda_parts(text: str) -> tuple[str, str]:
    m2 = re.match(r"^\(?\s*(\w+)\s*\)?\s*->\s*(.+)$", text.strip(), re.DOTALL)
    if not m2:
        raise ValueError(f"expected a 1-arg lambda, got {text!r}")
    return m2.group(1), m2.group(2)


def _array_sort_by(a: list[str], desc: bool) -> str:
    """arraySort/arrayReverseSort by-key lambda forms → array_sort with
    a three-way comparator over the key expression."""
    if len(a) == 1:
        return (
            f"reverse(sort_array({a[0]}))" if desc else f"sort_array({a[0]})"
        )
    p, body = _lambda_parts(a[0])
    fl = re.sub(rf"\b{p}\b", "__l", body)
    fr = re.sub(rf"\b{p}\b", "__r", body)
    lo, hi = ("1", "-1") if desc else ("-1", "1")
    return (
        f"array_sort({a[1]}, (__l, __r) -> CASE WHEN ({fl}) < ({fr}) "
        f"THEN {lo} WHEN ({fl}) > ({fr}) THEN {hi} ELSE 0 END)"
    )


def _array_index_of_match(a: list[str], last: bool) -> str:
    p, body = _lambda_parts(a[0])
    return (
        f"coalesce(try_element_at(filter(transform({a[1]}, "
        f"({p}, __ci) -> IF({body}, __ci + 1, CAST(NULL AS INT))), "
        f"__v -> __v IS NOT NULL), {-1 if last else 1}), 0)"
    )


def _array_reduce(a: list[str]) -> str:
    """arrayReduce('agg', arr) for the aggregate names with a pure
    array-expression equivalent; others raise (a string cannot carry
    an arbitrary aggregate through one rewrite)."""
    nm = a[0].strip().strip("'\"").lower()
    arr = a[1]
    fold_sum = f"aggregate({arr}, CAST(0 AS DOUBLE), (__a, __e) -> __a + __e)"
    renders = {
        "sum": fold_sum,
        "min": f"array_min({arr})",
        "max": f"array_max({arr})",
        "avg": f"({fold_sum} / nullif(size({arr}), 0))",
        "count": f"size({arr})",
        "any": f"try_element_at({arr}, 1)",
        "anylast": f"try_element_at({arr}, -1)",
        "uniq": f"size(array_distinct({arr}))",
        "uniqexact": f"size(array_distinct({arr}))",
        "grouparray": arr,
    }
    if nm not in renders:
        raise ValueError(
            f"arrayReduce: unsupported aggregate {nm!r} (supported: "
            f"{sorted(renders)})"
        )
    return renders[nm]


def _empty_array(sql_type: str):
    """emptyArray<T>() → a typed empty array; a call with arguments is
    left as written."""
    return lambda a: f"CAST(array() AS ARRAY<{sql_type}>)" if a == [""] else None


#: -Array combinators: aggregate over every element of every row's
#: array (sums widen to DOUBLE, same trade as arraySum)
_FOLD_SUM = "aggregate({e}, CAST(0 AS DOUBLE), (__a, __e) -> __a + __e)"


def _readable_size(a: list[str]) -> str:
    """Human-readable formatters: CASE ladders over the unit
    thresholds (binary KiB/MiB/… for sizes, decimal thousand/million/…
    for quantities — the engine's exact unit names and 2-dp
    rendering)."""
    b = f"CAST({a[0]} AS DOUBLE)"
    whens = " ".join(
        f"WHEN abs({b}) < {float(1024 ** (i + 1))} THEN "
        f"format_string('%.2f {u}', {b} / {float(1024 ** i)})"
        for i, u in enumerate(["B", "KiB", "MiB", "GiB", "TiB"])
    )
    return (
        f"(CASE {whens} ELSE format_string('%.2f PiB', "
        f"{b} / {float(1024 ** 5)}) END)"
    )


def _readable_qty(a: list[str]) -> str:
    b = f"CAST({a[0]} AS DOUBLE)"
    whens = " ".join(
        f"WHEN abs({b}) < {hi} THEN format_string('%.2f{u}', {b} / {dv})"
        for hi, u, dv in [
            ("1000.0", "", "1.0"),
            ("1000000.0", " thousand", "1000.0"),
            ("1.0E9", " million", "1000000.0"),
            ("1.0E12", " billion", "1.0E9"),
        ]
    )
    return (
        f"(CASE {whens} ELSE format_string('%.2f trillion', "
        f"{b} / 1.0E12) END)"
    )


def _file_fn(a: list[str]) -> str:
    """file(path, format) table function → Spark's path-based table
    (format.`path`) for on-disk formats."""
    pm = re.fullmatch(r"'([^']+)'", a[0].strip())
    fm = re.fullmatch(r"'(\w+)'", a[1].strip())
    if not pm or not fm:
        raise ValueError("file(): literal path and format required")
    fmt = {
        "parquet": "parquet", "orc": "orc", "json": "json",
        "jsoneachrow": "json", "csv": "csv",
    }.get(fm.group(1).lower())
    if fmt is None:
        raise ValueError(
            f"file(): unsupported format {fm.group(1)!r} "
            f"(Parquet/ORC/JSONEachRow/CSV)"
        )
    return f"{fmt}.`{pm.group(1)}`"


def _week0_expr(d: str) -> str:
    """toWeek/toYearWeek: ClickHouse default mode 0 = Sunday-start
    weeks numbered 0-53 from the year's first Sunday; mode 3 = ISO.
    The year-week rolls back into the PREVIOUS year's last week for
    days before the first Sunday (MySQL YEARWEEK semantics)."""
    dd = f"CAST({d} AS DATE)"
    fs = f"next_day(date_sub(trunc({dd}, 'YEAR'), 1), 'SU')"
    return (
        f"CASE WHEN datediff({dd}, {fs}) < 0 THEN 0 "
        f"ELSE CAST(floor(datediff({dd}, {fs}) / 7) AS INT) + 1 END"
    )


def _to_week(a: list[str]) -> str:
    mode = a[1].strip() if len(a) > 1 else "0"
    if mode == "3":
        return f"weekofyear({a[0]})"
    if mode != "0":
        raise ValueError("toWeek: modes 0 (Sunday, 0-53) and 3 (ISO) only")
    return f"({_week0_expr(a[0])})"


def _to_year_week(a: list[str]) -> str:
    mode = a[1].strip() if len(a) > 1 else "0"
    if mode == "3":
        return (
            f"(extract(YEAROFWEEK FROM {a[0]}) * 100 "
            f"+ weekofyear({a[0]}))"
        )
    if mode != "0":
        raise ValueError(
            "toYearWeek: modes 0 (Sunday, 0-53) and 3 (ISO) only"
        )
    d31 = f"date_sub(trunc(CAST({a[0]} AS DATE), 'YEAR'), 1)"
    return (
        f"(CASE WHEN ({_week0_expr(a[0])}) = 0 "
        f"THEN (year({a[0]}) - 1) * 100 + ({_week0_expr(d31)}) "
        f"ELSE year({a[0]}) * 100 + ({_week0_expr(a[0])}) END)"
    )


def _parse_datetime(a: list[str]) -> str:
    lit = re.fullmatch(r"'((?:[^']|'')*)'", a[1].strip())
    if not lit:
        raise ValueError("parseDateTime: literal format string only")
    fmt = lit.group(1)
    for ch_tok, sp_tok in _FMT_TOKENS.items():
        fmt = fmt.replace(ch_tok, sp_tok)
    return f"to_timestamp({a[0]}, '{fmt}')"


def _trunc_num(a: list[str]) -> str:
    """Numeric trunc/truncate toward zero with optional precision; the
    2-arg STRING form stays Spark's date trunc(date, fmt)."""
    if len(a) == 2 and not re.fullmatch(r"-?\d+", a[1].strip()):
        return f"trunc({', '.join(a)})"
    n = int(a[1]) if len(a) == 2 else 0
    p = 10 ** n
    return f"(CAST(CAST(({a[0]}) * {p} AS BIGINT) AS DOUBLE) / {p})"


def _round_down(a: list[str]) -> str:
    """roundDown picks the greatest element <= x (falling back to the
    smallest element); roundDuration is roundDown over the engine's
    fixed duration ladder."""
    return (
        f"coalesce(array_max(filter({a[1]}, __e -> __e <= ({a[0]}))), "
        f"array_min({a[1]}))"
    )


def _array_rotate(a: list[str], right: bool) -> str:
    n = f"-({a[1]})" if right else a[1]
    k = f"pmod({n}, greatest(size({a[0]}), 1))"
    return (
        f"(CASE WHEN size({a[0]}) = 0 THEN {a[0]} ELSE "
        f"concat(slice({a[0]}, {k} + 1, size({a[0]}) - {k}), "
        f"slice({a[0]}, 1, {k})) END)"
    )


def _array_shift(a: list[str], right: bool) -> str:
    arr = a[0]
    n = f"(-({a[1]}))" if right else f"({a[1]})"
    pad = a[2] if len(a) == 3 else f"try_element_at({arr}, size({arr}) + 1)"
    k = f"least(greatest({n}, -size({arr})), size({arr}))"
    return (
        f"(CASE WHEN {k} >= 0 THEN "
        f"concat(slice({arr}, {k} + 1, size({arr}) - {k}), "
        f"array_repeat({pad}, {k})) "
        f"ELSE concat(array_repeat({pad}, -{k}), "
        f"slice({arr}, 1, size({arr}) + {k})) END)"
    )


def _accurate_cast(a: list[str], try_: bool) -> str:
    t = a[1].strip().strip("'\"")
    sqlt = _CH_CAST_TYPES.get(t)
    if not sqlt:
        raise ValueError(f"accurateCast: unsupported type {t!r}")
    return f"{'TRY_CAST' if try_ else 'CAST'}({a[0]} AS {sqlt})"


def _entropy(a: list[str]) -> str:
    lst = f"collect_list({a[0]})"
    cnt = f"size(filter({lst}, __e -> __e <=> __v))"
    return (
        f"(log2(size({lst})) - aggregate(transform("
        f"array_distinct({lst}), __v -> CAST({cnt} AS DOUBLE) "
        f"* log2({cnt})), CAST(0 AS DOUBLE), "
        f"(__a2, __e2) -> __a2 + __e2) / size({lst}))"
    )


def _array_fold(a: list[str]) -> str:
    """arrayFold(lambda, arr, init) → aggregate(arr, init, lambda)
    (same (acc, x) lambda shape; CH's multi-array form has no
    single-HOF Spark analog and raises with the zip shape named)."""
    if len(a) != 3:
        raise ValueError(
            "arrayFold over multiple arrays is not supported — "
            "arrays_zip them first and fold the struct array"
        )
    return f"aggregate({a[1]}, {a[2]}, {a[0]})"


def _map_merge(what: str, combine: str):
    """Map-merging aggregates over a MAP column: collect the group's
    maps and fold with map_zip_with (key union; NULL side = absent
    key).  One expression — no explode/re-aggregate stage.  Key ORDER
    in the result map is engine-arbitrary (ClickHouse returns
    key-sorted maps; Spark maps are unordered — documented
    divergence).  The two-parallel-ARRAYS ClickHouse form raises with
    the registered query named."""
    combine = (
        f"CASE WHEN __a IS NULL THEN __b WHEN __b IS NULL THEN __a "
        f"ELSE {combine} END"
    )

    def render(a: list[str]) -> str:
        if len(a) != 1:
            raise ValueError(
                f"{what}(keys, values) over parallel arrays needs an "
                "explode + re-aggregate — use the registered DataFrame "
                "query q_agg_summap (plans/queries_agg.py); the Map-"
                f"column form {what}(m) is supported directly"
            )
        cl = f"collect_list({a[0]})"
        return (
            f"aggregate(slice({cl}, 2, size({cl}) - 1), "
            f"element_at({cl}, 1), "
            f"(__acc, __mm) -> map_zip_with(__acc, __mm, "
            f"(__k, __a, __b) -> {combine}))"
        )

    return render


def _dict_get(args: list[str]) -> str:
    """dictGet('d', 'attr', k) → correlated scalar subquery against the
    registered dict view (functions/dicts.register_dict); Catalyst
    decorrelates it into a (broadcast-able) left join — per-row lookup
    semantics, no UDF.  dictHas('d', k) → EXISTS."""
    d, attr, key = args[0].strip("'\""), args[1].strip("'\""), args[2]
    return f"(SELECT `{attr}` FROM `{d}` WHERE `{d}`.`key` = {key})"


def _json_extract(args: list[str]) -> str:
    """JSONExtractString(j, 'k') → get_json_object(j, '$.k'): ClickHouse
    takes a bare key, Spark needs a JSONPath — a pure rename would
    silently return NULL for every call.  Non-literal or already-
    JSONPath keys pass through unprefixed."""
    m = re.fullmatch(r"'([^'$][^']*)'", args[1])
    key = f"'$.{m.group(1)}'" if m else args[1]
    return f"get_json_object({args[0]}, {key})"


def _json_typed(sql_type: str):
    """Typed JSONExtract variants: extract, then TRY_CAST — two
    documented deltas vs ClickHouse, both degrading to NULL rather
    than 0/0.0/false: (1) missing key → NULL (ClickHouse: zero-value);
    (2) malformed / non-numeric value → NULL (ClickHouse: 0).
    TRY_CAST, not CAST: under Spark 4's default ANSI mode a plain CAST
    on a non-numeric JSON string throws at runtime and kills the query
    — a crash-on-data failure a compat shim must not add."""
    return lambda args: f"TRY_CAST({_json_extract(args)} AS {sql_type})"


def _json_has(args: list[str]) -> str:
    """JSONHas: key PRESENCE, not value non-nullness.  For the literal
    bare-key form we probe json_object_keys so {"k": null} counts as
    present (ClickHouse returns 1 there; get_json_object returns NULL
    and would read as absent).  coalesce(…, false): invalid JSON
    yields NULL keys → absent, matching ClickHouse's 0.  Non-literal /
    JSONPath keys keep the IS NOT NULL probe — a documented JSON-null
    delta for nested paths only."""
    m = re.fullmatch(r"'([^'$][^']*)'", args[1])
    if m:
        return (
            f"coalesce(array_contains(json_object_keys({args[0]}),"
            f" '{m.group(1)}'), false)"
        )
    return f"({_json_extract(args)} IS NOT NULL)"


def _json_array_raw(args: list[str]) -> str:
    if len(args) == 1:
        j, base = args[0], "$"
    else:
        m2 = re.fullmatch(r"'([^'$][^']*)'", args[1])
        if not m2:
            raise ValueError("JSONExtractArrayRaw: literal bare key only")
        j, base = args[0], f"$.{m2.group(1)}"
    ln = f"json_array_length(get_json_object({j}, '{base}'))"
    return (
        f"(CASE WHEN coalesce({ln}, 0) = 0 "
        f"THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(0, {ln} - 1), __i -> "
        f"get_json_object({j}, concat('{base}[', __i, ']'))) END)"
    )


def _json_length(args: list[str]) -> str:
    target = args[0] if len(args) == 1 else _json_extract(args)
    return (
        f"coalesce(json_array_length({target}), "
        f"size(json_object_keys({target})))"
    )


def _first_sig_subdomain(a: list[str]) -> str:
    parts = f"split(parse_url({a[0]}, 'HOST'), '\\\\.')"
    return (
        f"(CASE WHEN size({parts}) <= 1 THEN try_element_at({parts}, 1) "
        f"WHEN size({parts}) >= 3 AND try_element_at({parts}, -2) IN "
        f"('com', 'net', 'org', 'co') THEN try_element_at({parts}, -3) "
        f"ELSE try_element_at({parts}, -2) END)"
    )


def _to_start_of_interval(a: list[str]) -> str:
    """toStartOfInterval(t, INTERVAL n unit) — second-based units only
    (month/quarter/year grids are not fixed-width; those raise)."""
    m2 = re.fullmatch(
        r"INTERVAL\s+(\d+)\s+(\w+?)S?", a[1].strip(), re.IGNORECASE
    )
    mult = (
        {"SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400}.get(
            m2.group(2).upper()
        )
        if m2
        else None
    )
    if m2 is None or mult is None:
        raise ValueError(
            "toStartOfInterval: INTERVAL n SECOND/MINUTE/HOUR/DAY only"
        )
    return _grid(int(m2.group(1)) * mult)(a)


def _refuse(message: str):
    """Render for a name with no Spark expression: raise ``message``,
    which points at the registered DataFrame query or operator, rather
    than let Spark fail with an opaque UNRESOLVED_ROUTINE."""

    def render(a: list[str]) -> str:
        raise ValueError(message)

    return render


#: names that need operators, and data-order scans → why, and what to
#: use instead
_UNSUPPORTED = {
    # data-ORDER-dependent scans — an aggregate rewrite has no row
    # order to scan; use a window over an explicit sort
    "deltaSum": "is a data-order scan — use a sum over a lag() "
                "window with an explicit ORDER BY (q_win_running shape)",
    "deltaSumTimestamp": "is a data-order scan — use a sum over a "
                         "lag() window ordered by the timestamp",
    "runningDifference": "is a data-order scan — use lag() over an "
                         "explicit ORDER BY window",
    "neighbor": "is a data-order scan — use lag()/lead() over an "
                "explicit ORDER BY window",
    "maxIntersections": "needs an interval sweep — use the "
                        "range-join operator (operators/rangejoin.py)",
    "lgamma": "has no Spark builtin — precompute or use a pandas_udf",
    "tgamma": "has no Spark builtin — precompute or use a pandas_udf",
    "ngramDistance": "needs shingle sets — use the n-gram Jaccard "
                     "dedup operator (operators/dedup.py)",
    "arrayAUC": "needs tie-averaged ranks over a sort — use a "
                "rank() window over exploded scores",
    "proportionsZTest": "confidence bounds need the normal inverse "
                        "CDF — compute z from counts and use erf()",
    "studentTTest": "p-values need the t CDF (incomplete beta) — "
                    "compute the t statistic from moment aggregates",
    "welchTTest": "p-values need the t CDF (incomplete beta) — "
                  "compute the t statistic from moment aggregates",
    "mannWhitneyUTest": "needs global ranks — use a rank() window "
                        "then the U statistic as plain aggregates",
    "cramersV": "needs pair counts (a two-level GROUP BY), not one "
                "aggregate expression",
    "contingency": "needs pair counts (a two-level GROUP BY), not "
                   "one aggregate expression",
    "theilsU": "needs pair counts (a two-level GROUP BY), not one "
               "aggregate expression",
    "groupArrayMovingSum": "is a data-order scan — use sum() over "
                           "a sliding window with an explicit sort",
    "groupArrayMovingAvg": "is a data-order scan — use avg() over "
                           "a sliding window with an explicit sort",
    "JSONType": "has no single-expression analog — probe with "
                "json_array_length / json_object_keys instead",
}


class _Fn(NamedTuple):
    """How one ClickHouse name is rewritten; an entry may carry several
    forms.  ``param`` renders the parametric call ``name(params)(args)``
    from both argument lists.  Otherwise ``call`` renders ``name(args)``
    from its top-level arguments once at least ``nargs`` are given
    (``with_tail`` also passes the text after the close paren) and may
    return None to leave the call as written.  ``rename`` replaces the
    head ``name(`` and keeps the arguments verbatim; it also covers
    the calls ``call`` leaves alone.  ``emits`` names the other table
    entries whose Spark namesake the render's output calls on purpose
    (the driver never rewrites a render's output)."""

    rename: str | None = None
    call: Callable[..., str | None] | None = None
    nargs: int = 1
    with_tail: bool = False
    param: Callable[[list[str], list[str]], str] | None = None
    emits: tuple[str, ...] = ()


def _r(head: str) -> _Fn:
    """A plain rename to the call head ``head``."""
    return _Fn(rename=head)


def _c(render: Callable[..., str | None], nargs: int = 1, **kw) -> _Fn:
    """A call render needing at least ``nargs`` arguments."""
    return _Fn(call=render, nargs=nargs, **kw)


def _p(render: Callable[[list[str], list[str]], str]) -> _Fn:
    """A parametric render."""
    return _Fn(param=render)


_INT_TYPES = [f"{u}Int{b}" for u in ("", "U") for b in (8, 16, 32, 64)]
_UNITS = [
    ("Hours", "HOUR"), ("Minutes", "MINUTE"), ("Seconds", "SECOND"),
    ("Weeks", "WEEK"), ("Quarters", "QUARTER"), ("Years", "YEAR"),
]

#: ClickHouse name → its rewrite.  Every render emits final Spark SQL.
#: Rendered calls that are table names too: rand(), extract(),
#: transform() and trunc(), which their own entries also pass through
#: unchanged, and the range() table that numbers() emits.
_FNS: dict[str, _Fn] = {
    # --- 1:1 renames (same argument order and meaning).  Names whose
    # semantics diverge between the dialects (toDayOfWeek's weekday
    # origin, splitByChar's reversed args, …) have renders below.
    # ClickHouse's bare `any` is not here: it collides with SQL's
    # `= ANY(subquery)` and has its own statement pass.
    **{
        ch: _r(f"{sp}(")
        for ch, sp in {
            "toYear": "year", "toMonth": "month", "toDayOfMonth": "dayofmonth",
            "toHour": "hour", "toDate": "to_date", "lowerUTF8": "lower",
            "upperUTF8": "upper", "countIf": "count_if",
            "uniq": "approx_count_distinct", "arrayJoin": "explode",
            "has": "array_contains", "groupUniqArray": "collect_set",
            "argMax": "max_by", "argMin": "min_by", "intDiv": "div",
            "cityHash64": "xxhash64", "startsWith": "startswith",
            "endsWith": "endswith", "match": "regexp_like",
            "replaceRegexpAll": "regexp_replace", "replaceAll": "replace",
            "indexOf": "array_position", "arrayDistinct": "array_distinct",
            "arrayReverse": "reverse", "lengthUTF8": "length",
            "substringUTF8": "substring",
            "position": "instr",  # CH position(haystack, needle) = instr order
            "ifNull": "coalesce", "today": "current_date",
            "stddevPop": "stddev_pop", "stddevSamp": "stddev_samp",
            "varPop": "var_pop", "varSamp": "var_samp",
            "covarPop": "covar_pop", "covarSamp": "covar_samp",
            "leftPad": "lpad", "rightPad": "rpad", "modulo": "mod",
            "bitCount": "bit_count", "base64Encode": "base64",
            "generateUUIDv4": "uuid", "currentDatabase": "current_database",
            "currentUser": "current_user",
            "toTypeName": "typeof",  # Spark type names, not ClickHouse's
            "toISOWeek": "weekofyear",  # Spark weekofyear is the ISO week
            "mapKeys": "map_keys", "mapValues": "map_values",
            "mapContains": "map_contains_key",
            "substringIndex": "substring_index",
            "toLastDayOfMonth": "last_day", "makeDate": "make_date",
            "makeDateTime": "make_timestamp",
            "toUnixTimestamp64Milli": "unix_millis",
            "fromUnixTimestamp64Milli": "timestamp_millis",
            "positionUTF8": "instr",  # CH (haystack, needle) = instr order
            "uniqTheta": "approx_count_distinct",
            "now64": "now",  # µs vs the engine's configurable sub-second scale
            "JSONExtractKeys": "json_object_keys",
            # 64-bit hash families: deterministic xxhash64 stands in for
            # the engine's sip/farm/wy/halfMD5 (different algorithm,
            # same bucketing/sampling contract — the cityHash64 precedent)
            "sipHash64": "xxhash64", "farmHash64": "xxhash64",
            "wyHash64": "xxhash64", "halfMD5": "xxhash64",
            "toMinute": "minute", "toSecond": "second",
            "toQuarter": "quarter", "toDayOfYear": "dayofyear",
            "trimBoth": "trim", "trimLeft": "ltrim", "trimRight": "rtrim",
            "arrayMin": "array_min", "arrayMax": "array_max",
            "arrayFlatten": "flatten", "arrayConcat": "concat",
            "bitShiftLeft": "shiftleft", "bitShiftRight": "shiftright",
            "roundBankers": "bround",  # HALF_EVEN
            "concatWithSeparator": "concat_ws", "hasAny": "arrays_overlap",
            # moment statistics: Spark's skewness is the POPULATION form
            "skewPop": "skewness",
            "uniqCombined": "approx_count_distinct",
            "uniqCombined64": "approx_count_distinct",
            "uniqHLL12": "approx_count_distinct",
            # anyHeavy is ClickHouse's approximate majority element;
            # mode() is the deterministic heavy-hitter analog
            "anyHeavy": "mode",
            "groupArrayDistinct": "collect_set", "groupBitAnd": "bit_and",
            "groupBitOr": "bit_or", "groupBitXor": "bit_xor",
            "arrayZip": "arrays_zip",
            "toUnixTimestamp": "unix_timestamp",
            "fromUnixTimestamp": "from_unixtime",
            "randCanonical": "rand",
        }.items()
    },
    # count_distinct is not a SQL name
    "uniqExact": _r("count(DISTINCT "),
    "countDistinct": _r("count(DISTINCT "),
    "sumDistinct": _r("sum(DISTINCT "),
    "avgDistinct": _r("avg(DISTINCT "),
    # --- casts
    **{f"to{t}": _c(lambda a: f"CAST({a[0]} AS BIGINT)") for t in _INT_TYPES},
    "toFloat32": _c(lambda a: f"CAST({a[0]} AS DOUBLE)"),
    "toFloat64": _c(lambda a: f"CAST({a[0]} AS DOUBLE)"),
    "toDateTime": _c(lambda a: f"CAST({a[0]} AS TIMESTAMP)"),
    **{
        f"to{t}OrNull": _c(lambda a: f"TRY_CAST({a[0]} AS BIGINT)")
        for t in _INT_TYPES
    },
    **{
        f"to{t}OrZero": _c(lambda a: f"coalesce(try_cast({a[0]} AS BIGINT), 0)")
        for t in _INT_TYPES
    },
    **{
        f"toFloat{b}OrZero": _c(
            lambda a: f"coalesce(TRY_CAST({a[0]} AS DOUBLE), CAST(0 AS DOUBLE))"
        )
        for b in (32, 64)
    },
    **{
        f"toFloat{b}OrNull": _c(lambda a: f"TRY_CAST({a[0]} AS DOUBLE)")
        for b in (32, 64)
    },
    "toDateOrNull": _c(lambda a: f"TRY_CAST({a[0]} AS DATE)"),
    "toDateOrZero": _c(
        lambda a: f"coalesce(TRY_CAST({a[0]} AS DATE), DATE'1970-01-01')"
    ),
    "toDateTimeOrNull": _c(lambda a: f"TRY_CAST({a[0]} AS TIMESTAMP)"),
    "toDateTimeOrZero": _c(
        lambda a: (
            f"coalesce(TRY_CAST({a[0]} AS TIMESTAMP), "
            f"TIMESTAMP'1970-01-01 00:00:00')"
        )
    ),
    "accurateCastOrNull": _c(lambda a: _accurate_cast(a, True), 2),
    "accurateCast": _c(lambda a: _accurate_cast(a, False), 2),
    **{
        f"toDecimal{bits}": _c(
            lambda a, p=prec: f"CAST({a[0]} AS DECIMAL({p}, {int(a[1])}))", 2
        )
        for bits, prec in ((32, 9), (64, 18), (128, 38))
    },
    "toBool": _c(lambda a: f"CAST({a[0]} AS BOOLEAN)"),
    "toNullable": _c(lambda a: f"({a[0]})"),
    "toString": _c(lambda a: f"CAST({a[0]} AS STRING)"),
    "reinterpretAsString": _c(lambda a: f"CAST({a[0]} AS STRING)"),
    "assumeNotNull": _c(lambda a: f"({a[0]})"),
    **{f"emptyArray{t}": _c(_empty_array("BIGINT"), 0) for t in _INT_TYPES},
    "emptyArrayFloat32": _c(_empty_array("DOUBLE"), 0),
    "emptyArrayFloat64": _c(_empty_array("DOUBLE"), 0),
    "emptyArrayString": _c(_empty_array("STRING"), 0),
    "emptyArrayDateTime": _c(_empty_array("TIMESTAMP"), 0),
    "emptyArrayDate": _c(_empty_array("DATE"), 0),
    # --- aggregates
    # uniqUpTo(N)(x) → LEAST(count(DISTINCT x), N+1) — ClickHouse's
    # capped distinct saturates at N+1 ("more than N?" predicate)
    "uniqUpTo": _p(
        lambda ps, a: f"LEAST(count(DISTINCT {a[0]}), {int(ps[0]) + 1})"
    ),
    "topK": _p(_topk),
    "topKWeighted": _p(_topk_weighted),
    "sumIf": _c(_if_agg("sum", "0"), 2, with_tail=True),
    "avgIf": _c(_if_agg("avg", "CAST('NaN' AS DOUBLE)"), 2, with_tail=True),
    "minIf": _c(_if_agg("min"), 2),
    "maxIf": _c(_if_agg("max"), 2),
    # any_value and last need ignoreNulls=true or the NULL from a
    # non-matching row wins; uniq keeps the approx/exact split
    "anyIf": _c(lambda a: f"any_value(CASE WHEN {a[1]} THEN {a[0]} END, true)", 2),
    "anyLastIf": _c(lambda a: f"last(CASE WHEN {a[1]} THEN {a[0]} END, true)", 2),
    "uniqIf": _c(
        lambda a: f"approx_count_distinct(CASE WHEN {a[1]} THEN {a[0]} END)", 2
    ),
    "uniqExactIf": _c(
        lambda a: f"count(DISTINCT CASE WHEN {a[1]} THEN {a[0]} END)", 2
    ),
    "argMaxIf": _c(lambda a: f"max_by({a[0]}, CASE WHEN {a[2]} THEN {a[1]} END)", 3),
    "argMinIf": _c(lambda a: f"min_by({a[0]}, CASE WHEN {a[2]} THEN {a[1]} END)", 3),
    # anyLast(x): last NON-NULL value in ClickHouse
    "anyLast": _c(lambda a: f"last_value({a[0]}, true)"),
    # quantileExact(p)(x) is exact percentile, quantile(p)(x) the
    # sketch form, quantiles(p…)(x) the array form
    "quantileExact": _p(lambda ps, a: f"percentile({a[0]}, {ps[0]})"),
    "quantiles": _p(
        lambda ps, a: f"percentile_approx({a[0]}, array({', '.join(ps)}))"
    ),
    "quantile": _p(lambda ps, a: f"percentile_approx({a[0]}, {ps[0]})"),
    "quantilesExact": _p(
        lambda ps, a: f"percentile({a[0]}, array({', '.join(ps)}))"
    ),
    "quantilesTDigest": _p(
        lambda ps, a: f"percentile_approx({a[0]}, array({', '.join(ps)}))"
    ),
    "quantileTDigest": _p(lambda ps, a: f"percentile_approx({a[0]}, {ps[0]})"),
    "quantileDeterministic": _p(
        lambda ps, a: f"percentile_approx({a[0]}, {ps[0]})"
    ),
    # quantileExactWeighted(p)(x, w) → percentile's 3-arg frequency form
    "quantileExactWeighted": _p(
        lambda ps, a: f"percentile({a[0]}, {ps[0]}, {a[1]})"
    ),
    "median": _c(lambda a: f"percentile_approx({a[0]}, 0.5)"),
    "medianExact": _c(lambda a: f"percentile({a[0]}, 0.5)"),
    # sequenceMatch('pattern')(ts, cond1, …) / sequenceCount — the
    # general pattern aggregates (operators/seqmatch.py is the
    # DataFrame form; this is the same bitset-string + regex
    # compilation rendered as pure aggregate SQL)
    "sequenceMatch": _p(lambda ps, a: _sequence_sql(ps, a, False)),
    "sequenceCount": _p(lambda ps, a: _sequence_sql(ps, a, True)),
    "windowFunnel": _p(_window_funnel_sql),
    "sequenceNextNode": _p(_sequence_next_node_sql),
    "sequenceMatchEvents": _p(_sequence_match_events_sql),
    "retention": _c(_retention_sql),
    # parametric groupArray(N)(x) caps the collected list; the Sample
    # form keeps a deterministic prefix (ClickHouse samples randomly —
    # documented delta, same cardinality contract)
    "groupArray": _Fn(
        rename="collect_list(",
        param=lambda ps, a: f"slice(collect_list({a[0]}), 1, {ps[0]})",
    ),
    "groupArraySample": _p(
        lambda ps, a: f"slice(collect_list({a[0]}), 1, {ps[0]})"
    ),
    "groupConcat": _Fn(
        call=lambda a: f"array_join(collect_list({a[0]}), '')",
        param=lambda ps, a: f"array_join(collect_list({a[0]}), {ps[0]})",
    ),
    "sumArray": _c(lambda a: f"sum({_FOLD_SUM.format(e=a[0])})"),
    "minArray": _c(lambda a: f"min(array_min({a[0]}))"),
    "maxArray": _c(lambda a: f"max(array_max({a[0]}))"),
    "avgArray": _c(
        lambda a: f"(sum({_FOLD_SUM.format(e=a[0])}) / sum(size({a[0]})))"
    ),
    "countArray": _c(lambda a: f"sum(size({a[0]}))"),
    # boundingRatio(x, y) = slope between the min-x and max-x points
    "boundingRatio": _c(
        lambda a: (
            f"((max_by({a[1]}, {a[0]}) - min_by({a[1]}, {a[0]})) "
            f"/ CAST(max({a[0]}) - min({a[0]}) AS DOUBLE))"
        ),
        2,
    ),
    "entropy": _c(_entropy),
    # simpleLinearRegression(x, y) → Tuple(k, b), named _1/_2 to
    # compose with tupleElement.  try_divide: a single-point /
    # constant-x group has var_pop = 0, which ANSI division would turn
    # into a query-killing error (ClickHouse yields nan there; NULL is
    # the documented analog)
    "simpleLinearRegression": _c(
        lambda a: (
            f"named_struct('_1', try_divide(covar_pop({a[0]}, {a[1]}), "
            f"var_pop({a[0]})), '_2', avg({a[1]}) "
            f"- try_divide(covar_pop({a[0]}, {a[1]}), var_pop({a[0]})) "
            f"* avg({a[0]}))"
        ),
        2,
    ),
    # kurtosis is EXCESS population kurtosis (ClickHouse kurtPop − 3);
    # the Samp forms divide by the SAMPLE stddev instead, i.e. scale
    # by (σ/s)^k
    "skewSamp": _c(
        lambda a: (
            f"(skewness({a[0]}) * pow(stddev_pop({a[0]}) "
            f"/ stddev_samp({a[0]}), 3))"
        )
    ),
    "kurtPop": _c(lambda a: f"(kurtosis({a[0]}) + 3)"),
    "kurtSamp": _c(
        lambda a: (
            f"((kurtosis({a[0]}) + 3) * pow(stddev_pop({a[0]}) "
            f"/ stddev_samp({a[0]}), 4))"
        )
    ),
    "avgWeighted": _c(lambda a: f"(sum(({a[0]}) * ({a[1]})) / sum({a[1]}))", 2),
    "sumCount": _c(lambda a: f"struct(sum({a[0]}) AS sum, count({a[0]}) AS count)"),
    "singleValueOrNull": _c(
        lambda a: f"(CASE WHEN count(DISTINCT {a[0]}) = 1 THEN max({a[0]}) END)"
    ),
    "sumMap": _c(_map_merge("sumMap", "__a + __b")),
    "minMap": _c(_map_merge("minMap", "least(__a, __b)")),
    "maxMap": _c(_map_merge("maxMap", "greatest(__a, __b)")),
    # uniqState / uniqMerge — the partial-aggregation pair, mapped to
    # Spark's Datasketches HLL: the STATE is a real mergeable sketch
    # (binary column, storable in a SummingMergeTree-style partial
    # table), uniqMerge unions and estimates.  Same ±2% class as
    # ClickHouse's uniq sketch.
    "uniqState": _c(
        lambda a: (
            f"hll_sketch_agg({a[0]})"
            if len(a) == 1
            else f"hll_sketch_agg(xxhash64({', '.join(a)}))"
        )
    ),
    "uniqMerge": _c(lambda a: f"hll_sketch_estimate(hll_union_agg({a[0]}))"),
    # --- conditionals and arithmetic
    "multiIf": _c(_multi_if, 3),
    # named arithmetic → operators
    "plus": _c(lambda a: f"(({a[0]}) + ({a[1]}))", 2),
    "minus": _c(lambda a: f"(({a[0]}) - ({a[1]}))", 2),
    "multiply": _c(lambda a: f"(({a[0]}) * ({a[1]}))", 2),
    "divide": _c(_ch_divide, 2),
    "negate": _c(lambda a: f"(-({a[0]}))"),
    "intDivOrZero": _c(
        lambda a: f"CASE WHEN ({a[1]}) = 0 THEN 0 ELSE div({a[0]}, {a[1]}) END", 2
    ),
    "moduloOrZero": _c(
        lambda a: f"CASE WHEN ({a[1]}) = 0 THEN 0 ELSE ({a[0]}) % ({a[1]}) END", 2
    ),
    "gcd": _c(lambda a: f"({_gcd_expr(a[0], a[1])})", 2),
    "lcm": _c(
        lambda a: (
            f"div(abs(CAST({a[0]} AS BIGINT) * CAST({a[1]} AS BIGINT)), "
            f"{_gcd_expr(a[0], a[1])})"
        ),
        2,
    ),
    "exp2": _c(lambda a: f"pow(2, {a[0]})"),
    "exp10": _c(lambda a: f"pow(10, {a[0]})"),
    "intExp2": _c(lambda a: f"shiftleft(CAST(1 AS BIGINT), CAST({a[0]} AS INT))"),
    "intExp10": _c(lambda a: f"CAST(round(pow(10, {a[0]})) AS BIGINT)"),
    "erfc": _c(lambda a: f"(1 - {_erf_expr(a[0])})"),
    "erf": _c(lambda a: _erf_expr(a[0])),
    "isFinite": _c(
        lambda a: (
            f"(NOT isnan({a[0]}) AND abs({a[0]}) <> CAST('Infinity' AS DOUBLE))"
        )
    ),
    "isInfinite": _c(lambda a: f"(abs({a[0]}) = CAST('Infinity' AS DOUBLE))"),
    "ifNotFinite": _c(
        lambda a: (
            f"(CASE WHEN isnan({a[0]}) OR abs({a[0]}) = "
            f"CAST('Infinity' AS DOUBLE) THEN {a[1]} ELSE {a[0]} END)"
        ),
        2,
    ),
    "max2": _c(lambda a: f"greatest({a[0]}, {a[1]})", 2),
    "min2": _c(lambda a: f"least({a[0]}, {a[1]})", 2),
    "clamp": _c(lambda a: f"least(greatest({a[0]}, {a[1]}), {a[2]})", 3),
    "xor": _c(lambda a: f"(({a[0]}) <> ({a[1]}))", 2),
    "truncate": _c(_trunc_num),
    "trunc": _c(_trunc_num),
    # rounding ladders: roundAge uses the engine's age bands,
    # roundToExp2 the floor power of two
    "roundDown": _c(_round_down, 2),
    "roundDuration": _c(
        lambda a: _round_down(
            [a[0], "[0, 1, 10, 30, 60, 120, 180, 240, 300, 600, "
                   "1200, 1800, 3600, 7200, 18000, 36000]"]
        )
    ),
    "roundAge": _c(
        lambda a: (
            f"(CASE WHEN ({a[0]}) < 1 THEN 0 WHEN ({a[0]}) < 18 THEN 17 "
            f"WHEN ({a[0]}) < 25 THEN 18 WHEN ({a[0]}) < 35 THEN 25 "
            f"WHEN ({a[0]}) < 45 THEN 35 WHEN ({a[0]}) < 55 THEN 45 "
            f"ELSE 55 END)"
        )
    ),
    "roundToExp2": _c(
        lambda a: (
            f"(CASE WHEN ({a[0]}) < 1 THEN 0 ELSE "
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST(floor(log2({a[0]})) AS INT)) END)"
        )
    ),
    # bit scalar functions → operators (Spark's bit_and/bit_or/bit_xor
    # are AGGREGATES; the scalar forms are &, |, ^, ~)
    "bitAnd": _c(lambda a: f"({a[0]} & {a[1]})", 2),
    "bitOr": _c(lambda a: f"({a[0]} | {a[1]})", 2),
    "bitXor": _c(lambda a: f"({a[0]} ^ {a[1]})", 2),
    "bitNot": _c(lambda a: f"(~({a[0]}))"),
    "bitTest": _c(
        lambda a: (
            f"CAST(shiftright(CAST({a[0]} AS BIGINT), CAST({a[1]} AS INT)) "
            f"& 1 AS INT)"
        ),
        2,
    ),
    "bitmaskToList": _c(
        lambda a: (
            f"array_join(filter(transform(sequence(0, 62), __i -> "
            f"IF((shiftright(CAST({a[0]} AS BIGINT), __i) & 1) = 1, "
            f"CAST(shiftleft(CAST(1 AS BIGINT), __i) AS STRING), NULL)), "
            f"__v -> __v IS NOT NULL), ',')"
        )
    ),
    # ClickHouse rand() is uniform UInt32, not [0,1) — a bare rename
    # would silently change every derived distribution
    "rand": _c(lambda a: "CAST(floor(rand() * 4294967296) AS BIGINT)", 0),
    # sleep() is an engine-side throttle; rendered as its return value
    "sleepEachRow": _c(lambda a: "0"),
    "sleep": _c(lambda a: "0"),
    # binary hash digests: Spark's md5/sha1/sha2 return HEX STRINGS;
    # unhex restores ClickHouse's FixedString binary so hex(MD5(x))
    # round-trips identically
    "MD5": _c(lambda a: f"unhex(md5({a[0]}))"),
    "SHA1": _c(lambda a: f"unhex(sha1({a[0]}))"),
    **{
        f"SHA{bits}": _c(lambda a, b=bits: f"unhex(sha2({a[0]}, {b}))")
        for bits in (224, 256, 384, 512)
    },
    # --- dates and times
    "formatDateTime": _c(_fmt_datetime, 2),
    "parseDateTime": _c(_parse_datetime, 2),
    "parseDateTimeBestEffortOrNull": _c(lambda a: f"TRY_CAST({a[0]} AS TIMESTAMP)"),
    "parseDateTimeBestEffort": _c(lambda a: f"CAST({a[0]} AS TIMESTAMP)"),
    "dateDiff": _c(_date_diff, 3),
    "date_diff": _c(_date_diff, 3),
    "age": _c(
        lambda a: f"timestampdiff({a[0].strip(chr(39)).upper()}, {a[1]}, {a[2]})",
        3,
    ),
    "addDays": _c(lambda a: f"date_add({a[0]}, {a[1]})", 2),
    "subtractDays": _c(lambda a: f"date_sub({a[0]}, {a[1]})", 2),
    "addMonths": _c(lambda a: f"add_months({a[0]}, {a[1]})", 2),
    "subtractMonths": _c(lambda a: f"add_months({a[0]}, -({a[1]}))", 2),
    # the other units render as timestampadd (n may be any expression,
    # so the INTERVAL literal form doesn't apply)
    **{
        f"add{unit}": _c(lambda a, u=sp: f"timestampadd({u}, {a[1]}, {a[0]})", 2)
        for unit, sp in _UNITS
    },
    **{
        f"subtract{unit}": _c(
            lambda a, u=sp: f"timestampadd({u}, -({a[1]}), {a[0]})", 2
        )
        for unit, sp in _UNITS
    },
    "toMonday": _c(lambda a: f"to_date(date_trunc('week', {a[0]}))"),
    # toStartOfWeek default mode 0 starts weeks on SUNDAY; Spark's
    # date_trunc('week') is Monday-based, so shift by one day around it
    "toStartOfWeek": _c(
        lambda a: f"date_sub(date_trunc('week', date_add({a[0]}, 1)), 1)"
    ),
    **{
        ch: _c(lambda a, u=unit: f"date_trunc('{u}', {a[0]})")
        for ch, unit in {
            "toStartOfHour": "hour", "toStartOfDay": "day",
            "toStartOfMonth": "month", "toStartOfQuarter": "quarter",
            "toStartOfYear": "year", "toStartOfMinute": "minute",
            "toStartOfSecond": "second",
        }.items()
    },
    # timeSlot = toStartOfInterval(t, 30 MINUTE)
    "timeSlot": _c(_grid(1800)),
    "toStartOfFiveMinutes": _c(_grid(300)),
    "toStartOfTenMinutes": _c(_grid(600)),
    "toStartOfFifteenMinutes": _c(_grid(900)),
    "toStartOfInterval": _c(_to_start_of_interval, 2),
    # toRelative*Num is the epoch count in the unit (ClickHouse counts
    # from 1970 in server TZ; the engine session pins UTC so
    # unix_timestamp matches)
    **{
        f"toRelative{unit}Num": _c(
            lambda a, dv=div: f"CAST(floor(unix_timestamp({a[0]}) / {dv}) AS BIGINT)"
        )
        for unit, div in [
            ("Second", 1), ("Minute", 60), ("Hour", 3600), ("Day", 86400),
        ]
    },
    "toISOYear": _c(lambda a: f"extract(YEAROFWEEK FROM {a[0]})"),
    "toYearWeek": _c(_to_year_week),
    "toWeek": _c(_to_week),
    # toTime: keep the time of day, pin the date to 1970-01-02 (the
    # engine's convention)
    "toTime": _c(
        lambda a: f"timestamp_seconds(86400 + pmod(unix_timestamp({a[0]}), 86400))"
    ),
    "YYYYMMDDToDate": _c(lambda a: f"to_date(CAST({a[0]} AS STRING), 'yyyyMMdd')"),
    # toDayOfWeek default mode 0: Monday=1 … Sunday=7 (Spark dayofweek
    # is Sunday=1 — a bare rename would shift every weekday)
    "toDayOfWeek": _c(lambda a: f"(pmod(dayofweek({a[0]}) + 5, 7) + 1)"),
    "toYYYYMMDD": _c(lambda a: f"CAST(date_format({a[0]}, 'yyyyMMdd') AS INT)"),
    "toYYYYMM": _c(lambda a: f"CAST(date_format({a[0]}, 'yyyyMM') AS INT)"),
    "yesterday": _c(lambda a: "date_sub(current_date(), 1)" if a == [""] else None, 0),
    # --- strings
    "splitByChar": _c(lambda a: f"split({a[1]}, {a[0]})", 2),
    "splitByRegexp": _c(lambda a: f"split({a[1]}, {a[0]})", 2),
    # splitByString(sep, s): args reversed vs split(), and the
    # separator is a PLAIN string, so it is regex-quoted with \Q…\E
    "splitByString": _c(
        lambda a: f"split({a[1]}, concat('\\\\Q', {a[0]}, '\\\\E'))", 2
    ),
    "extractAll": _c(lambda a: f"regexp_extract_all({a[0]}, {a[1]}, 0)", 2),
    "extract": _c(_ch_extract, 2),
    "format": _c(_ch_format, 2),
    "alphaTokens": _c(lambda a: f"regexp_extract_all({a[0]}, '[a-zA-Z]+', 0)"),
    "countMatches": _c(lambda a: f"size(regexp_extract_all({a[0]}, {a[1]}, 0))", 2),
    "countSubstrings": _c(
        lambda a: (
            f"CAST((length({a[0]}) - length(replace({a[0]}, {a[1]}, ''))) "
            f"/ length({a[1]}) AS INT)"
        ),
        2,
    ),
    "positionCaseInsensitive": _c(
        lambda a: f"instr(lower({a[0]}), lower({a[1]}))", 2
    ),
    "multiSearchFirstIndex": _c(
        lambda a: (
            f"coalesce(try_element_at(filter(transform({a[1]}, "
            f"(__n, __i) -> IF(contains({a[0]}, __n), __i + 1, "
            f"CAST(NULL AS INT))), __v -> __v IS NOT NULL), 1), 0)"
        ),
        2,
    ),
    "multiSearchAllPositions": _c(
        lambda a: f"transform({a[1]}, __n -> instr({a[0]}, __n))", 2
    ),
    "multiSearchAny": _c(lambda a: f"exists({a[1]}, __n -> contains({a[0]}, __n))", 2),
    # empty/notEmpty: the STRING forms (s = '' / s != ''); ClickHouse
    # also defines them on arrays — use arrayUniq/size for those
    "notEmpty": _c(lambda a: f"(length({a[0]}) > 0)"),
    "empty": _c(lambda a: f"(length({a[0]}) = 0)"),
    "base64Decode": _c(lambda a: f"CAST(unbase64({a[0]}) AS STRING)"),
    "formatReadableSize": _c(_readable_size),
    "formatReadableQuantity": _c(_readable_qty),
    "IPv4NumToString": _c(
        lambda a: (
            f"concat(CAST(shiftright(CAST({a[0]} AS BIGINT), 24) & 255 AS STRING), "
            f"'.', CAST(shiftright(CAST({a[0]} AS BIGINT), 16) & 255 AS STRING), "
            f"'.', CAST(shiftright(CAST({a[0]} AS BIGINT), 8) & 255 AS STRING), "
            f"'.', CAST(CAST({a[0]} AS BIGINT) & 255 AS STRING))"
        )
    ),
    "IPv4StringToNum": _c(
        lambda a: (
            f"aggregate(transform(split({a[0]}, '\\\\.'), "
            f"__o -> CAST(__o AS BIGINT)), CAST(0 AS BIGINT), "
            f"(__a, __o) -> __a * 256 + __o)"
        )
    ),
    # greatCircleDistance(lon1, lat1, lon2, lat2) → meters, haversine
    # on ClickHouse's sphere radius 6372797.560856 m
    "greatCircleDistance": _c(
        lambda a: (
            f"(2 * 6372797.560856 * asin(sqrt("
            f"pow(sin(radians(({a[3]}) - ({a[1]})) / 2), 2) "
            f"+ cos(radians({a[1]})) * cos(radians({a[3]})) "
            f"* pow(sin(radians(({a[2]}) - ({a[0]})) / 2), 2))))"
        ),
        4,
    ),
    # --- arrays (argument order / shape differences)
    "arrayMap": _c(lambda a: f"transform({a[1]}, {a[0]})", 2),
    "arrayFilter": _c(lambda a: f"filter({a[1]}, {a[0]})", 2),
    "arrayExists": _c(lambda a: f"exists({a[1]}, {a[0]})", 2),
    "arrayAll": _c(lambda a: f"forall({a[1]}, {a[0]})", 2),
    "arrayUniq": _c(lambda a: f"size(array_distinct({a[0]}))"),
    "arrayStringConcat": _c(_array_string_concat),
    # arraySlice: ClickHouse's 2-arg form means "offset to end"
    # (Spark's slice requires exactly 3 args); non-negative lengths
    # map 1:1.  ClickHouse NEGATIVE lengths ("all but the last |n|")
    # have no Spark equivalent and pass through for a loud analysis
    # error.
    "arraySlice": _c(
        lambda a: (
            f"slice({a[0]}, {a[1]}, {a[2]})"
            if len(a) == 3
            else f"slice({a[0]}, {a[1]}, 2147483647)"
        ),
        2,
    ),
    "arrayElement": _c(lambda a: f"try_element_at({a[0]}, {a[1]})", 2),
    "arrayIntersect": _c(_array_intersect_fold, 2),
    "arrayPushBack": _c(lambda a: f"concat({a[0]}, array({a[1]}))", 2),
    "arrayPushFront": _c(lambda a: f"concat(array({a[1]}), {a[0]})", 2),
    "arrayPopBack": _c(lambda a: f"slice({a[0]}, 1, greatest(size({a[0]}) - 1, 0))"),
    "arrayPopFront": _c(lambda a: f"slice({a[0]}, 2, greatest(size({a[0]}) - 1, 0))"),
    "arrayWithConstant": _c(lambda a: f"array_repeat({a[1]}, CAST({a[0]} AS INT))", 2),
    "arrayResize": _c(_array_resize, 2),
    # arrayCompact: keep element i iff it differs from element i-1
    # (consecutive-dup collapse, null-safe <=>)
    "arrayCompact": _c(
        lambda a: (
            f"filter({a[0]}, (__x, __i) -> __i = 0 "
            f"OR NOT (__x <=> try_element_at({a[0]}, __i)))"
        )
    ),
    "arrayReverseSort": _c(lambda a: _array_sort_by(a, True)),
    "arraySort": _c(
        lambda a: _array_sort_by(a, False) if len(a) == 2 else f"sort_array({a[0]})"
    ),
    "arrayFirstIndex": _c(lambda a: _array_index_of_match(a, False), 2),
    "arrayLastIndex": _c(lambda a: _array_index_of_match(a, True), 2),
    "arrayFirst": _c(lambda a: f"try_element_at(filter({a[1]}, {a[0]}), 1)", 2),
    "arrayLast": _c(lambda a: f"try_element_at(filter({a[1]}, {a[0]}), -1)", 2),
    "arrayReduce": _c(_array_reduce, 2),
    # arraySum/arrayAvg/arrayCumSum/arrayDifference: aggregate() folds
    # whose results widen to DOUBLE (one render can't preserve
    # ClickHouse's Int64-for-int return without type introspection)
    "arraySum": _c(lambda a: _FOLD_SUM.format(e=a[0])),
    "arrayAvg": _c(
        lambda a: f"({_FOLD_SUM.format(e=a[0])} / nullif(size({a[0]}), 0))"
    ),
    "arrayCumSum": _c(
        lambda a: (
            f"aggregate({a[0]}, CAST(array() AS ARRAY<DOUBLE>), "
            f"(__acc, __e) -> array_append(__acc, "
            f"coalesce(try_element_at(__acc, -1), CAST(0 AS DOUBLE)) + __e))"
        )
    ),
    "arrayDifference": _c(
        lambda a: (
            f"transform({a[0]}, (__x, __i) -> CASE WHEN __i = 0 "
            f"THEN __x - __x ELSE __x - element_at({a[0]}, __i) END)"
        )
    ),
    "arrayEnumerate": _c(
        lambda a: (
            f"CASE WHEN size({a[0]}) = 0 THEN array() "
            f"ELSE sequence(1, size({a[0]})) END"
        )
    ),
    "arrayEnumerateUniq": _c(
        lambda a: (
            f"transform({a[0]}, (__x, __i) -> "
            f"size(filter(slice({a[0]}, 1, __i + 1), __e -> __e <=> __x)))"
        )
    ),
    "arrayCount": _c(
        lambda a: (
            f"size(filter({a[1]}, {a[0]}))"
            if len(a) == 2
            else f"size(filter({a[0]}, __e -> __e <> 0))"
        )
    ),
    "countEqual": _c(lambda a: f"size(filter({a[0]}, __e -> __e <=> {a[1]}))", 2),
    "arrayFold": _c(_array_fold, 3),
    "arrayDotProduct": _c(
        lambda a: (
            f"aggregate(zip_with({a[0]}, {a[1]}, "
            f"(__x, __y) -> CAST(__x AS DOUBLE) * __y), "
            f"CAST(0 AS DOUBLE), (__a, __e) -> __a + __e)"
        ),
        2,
    ),
    "arrayJaccardIndex": _c(
        lambda a: (
            f"(CAST(size(array_intersect({a[0]}, {a[1]})) AS DOUBLE) "
            f"/ size(array_union({a[0]}, {a[1]})))"
        ),
        2,
    ),
    "arrayRotateLeft": _c(lambda a: _array_rotate(a, False), 2),
    "arrayRotateRight": _c(lambda a: _array_rotate(a, True), 2),
    "arrayShiftLeft": _c(lambda a: _array_shift(a, False), 2),
    "arrayShiftRight": _c(lambda a: _array_shift(a, True), 2),
    "hasAll": _c(lambda a: f"forall({a[1]}, __e -> array_contains({a[0]}, __e))", 2),
    "hasSubstr": _c(
        lambda a: (
            f"(CASE WHEN size({a[1]}) = 0 THEN true "
            f"WHEN size({a[0]}) < size({a[1]}) THEN false "
            f"ELSE exists(sequence(1, size({a[0]}) - size({a[1]}) + 1), "
            f"__i -> slice({a[0]}, __i, size({a[1]})) = {a[1]}) END)"
        ),
        2,
    ),
    "transform": _c(_ch_transform, 2),
    # range(n) → [0 … n-1]; ClickHouse range(0) is []
    "range": _c(
        lambda a: (
            f"CASE WHEN ({a[0]}) <= 0 THEN array() "
            f"ELSE sequence(0, ({a[0]}) - 1) END"
        )
    ),
    # --- tuples: tuple(…) → named_struct with positional _N names
    "tuple": _c(
        lambda a: (
            "named_struct("
            + ", ".join(f"'_{i + 1}', {arg}" for i, arg in enumerate(a))
            + ")"
        )
    ),
    "tupleElement": _c(_tuple_element, 2),
    # untuple(t) expands a tuple into its element columns (select-list
    # only in CH too).  inline(array(t)) is the Spark generator that
    # expands ANY struct expression — `t.*` only resolves for column
    # references (probe battery 9).  Spark allows one generator per
    # select list; a second untuple fails loudly at analysis.
    "untuple": _c(lambda a: f"inline(array({a[0]}))"),
    # --- table functions
    "file": _c(_file_fn, 2),
    # numbers(N) / numbers(start, count) → Spark's range() table with
    # the engine's `number` column name
    "numbers": _c(
        lambda a: (
            f"(SELECT id AS number FROM range({a[0]}))"
            if len(a) == 1
            else f"(SELECT id AS number FROM range({a[0]}, ({a[0]}) + ({a[1]})))"
        ),
        emits=("range",),
    ),
    "dictGetOrDefault": _c(lambda a: f"coalesce({_dict_get(a)}, {a[3]})", 4),
    "dictGet": _c(_dict_get, 3),
    "dictHas": _c(
        lambda a: (
            f"EXISTS (SELECT 1 FROM `{a[0].strip(chr(39))}` WHERE "
            f"`{a[0].strip(chr(39))}`.`key` = {a[1]})"
        ),
        2,
    ),
    # --- JSON
    "JSONExtractString": _c(_json_extract, 2),
    # JSONExtractRaw: get_json_object returns raw JSON for objects and
    # arrays but UNQUOTED scalars (ClickHouse keeps string quotes) —
    # documented delta on scalar values
    "JSONExtractRaw": _c(_json_extract, 2),
    "JSONExtractInt": _c(_json_typed("BIGINT"), 2),
    "JSONExtractUInt": _c(_json_typed("BIGINT"), 2),
    "JSONExtractFloat": _c(_json_typed("DOUBLE"), 2),
    "JSONExtractBool": _c(_json_typed("BOOLEAN"), 2),
    "JSONHas": _c(_json_has, 2),
    "JSONExtractArrayRaw": _c(_json_array_raw),
    "JSONLength": _c(_json_length),
    # '$'-probe: invalid JSON → NULL (valid scalar/object returns its
    # text).  ClickHouse's isValidJSON('null') = 1 is a delta (NULL
    # probe reads as invalid here).
    "isValidJSON": _c(lambda a: f"(get_json_object({a[0]}, '$') IS NOT NULL)"),
    # --- URLs → parse_url
    "protocol": _c(lambda a: f"lower(parse_url({a[0]}, 'PROTOCOL'))"),
    "domain": _c(lambda a: f"parse_url({a[0]}, 'HOST')"),
    "path": _c(lambda a: f"parse_url({a[0]}, 'PATH')"),
    "extractURLParameter": _c(lambda a: f"parse_url({a[0]}, 'QUERY', {a[1]})", 2),
    "queryString": _c(lambda a: f"parse_url({a[0]}, 'QUERY')"),
    "fragment": _c(lambda a: f"parse_url({a[0]}, 'REF')"),
    "netloc": _c(lambda a: f"parse_url({a[0]}, 'AUTHORITY')"),
    "topLevelDomain": _c(
        lambda a: (
            f"regexp_extract(parse_url({a[0]}, 'HOST'), "
            f"'\\\\.([^.]+)$', 1)"
        )
    ),
    "cutQueryString": _c(lambda a: f"regexp_replace({a[0]}, '\\\\?[^#]*', '')"),
    "pathFull": _c(
        lambda a: (
            f"regexp_replace({a[0]}, "
            f"'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '')"
        )
    ),
    "firstSignificantSubdomain": _c(_first_sig_subdomain),
    # --- names with no single-expression analog: raise with a pointer
    **{n: _c(_refuse(f"{n} {why}"), 0) for n, why in _UNSUPPORTED.items()},
}

#: a call head: an identifier, then its open paren
_CALL_HEAD = re.compile(r"\b([A-Za-z_]\w*)\s*\(")


def _translate_calls(sql: str) -> str:
    """Rewrite every call of a ``_FNS`` name outside string literals in
    one left-to-right pass.  A call's arguments are rewritten first
    (innermost calls first), so each render sees translated arguments;
    a render's output is never scanned again.  A call that never
    closes is not rendered: a rename still applies to its head, and
    the calls inside it are rewritten as usual."""
    out, i = [], 0
    for m in iter_code(sql, _CALL_HEAD):
        if m.start() < i:
            continue  # inside a call already rewritten
        fn = _FNS.get(m.group(1))
        if fn is None:
            continue
        close = matching_close(sql, m.end() - 1)
        out.append(sql[i : m.start()])
        if close is None:
            out.append(fn.rename or m.group())
            i = m.end()
            continue
        inner = _translate_calls(sql[m.end() : close])
        i = close + 1
        if fn.param and sql.startswith("(", i):
            args_close = matching_close(sql, i)
            if args_close is not None:
                out.append(
                    fn.param(
                        split_top(inner, keep_empty=True),
                        split_top(
                            _translate_calls(sql[i + 1 : args_close]),
                            keep_empty=True,
                        ),
                    )
                )
                i = args_close + 1
                continue
        rendered = None
        if fn.call:
            args = split_top(inner, keep_empty=True)
            if len(args) >= fn.nargs:
                rendered = (
                    fn.call(args, sql[i:]) if fn.with_tail else fn.call(args)
                )
        if rendered is None:
            rendered = f"{fn.rename or m.group()}{inner})"
        out.append(rendered)
    out.append(sql[i:])
    return "".join(out)


def _sub_code(sql: str, pattern: str, repl: str | Callable) -> str:
    """``re.sub`` over the matches of ``pattern`` that start outside
    string literals."""
    out, pos = [], 0
    for m in iter_code(sql, pattern):
        out.append(sql[pos : m.start()])
        out.append(repl(m) if callable(repl) else m.expand(repl))
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_any_aggregate(sql: str) -> str:
    """ClickHouse's bare ``any(x)`` aggregate (first NON-NULL value) →
    ``any_value(x, true)`` — lowercase call position only, and never
    after a comparison operator, so SQL's quantified ``= ANY(subquery)``
    is untouched.  Left alone, Spark would parse any(bool_col) as
    bool_or — silently wrong; ClickHouse any() SKIPS NULLs, Spark's
    default does not (ADVICE r12).  Edits apply ONE at a time with a
    re-scan of the mutated string: a pre-computed edit list went stale
    when one any() nested inside another — the inner insert shifted
    the outer's cached close paren (ADVICE r13)."""
    pos = 0
    while (m := find_code(sql, r"\bany\s*\(", pos)) is not None:
        prev = sql[: m.start()].rstrip()
        close = matching_close(sql, m.end() - 1)
        if (prev and prev[-1] in "=<>!") or close is None:
            # a quantified comparison, not the aggregate — or
            # unbalanced, left for Spark's parser
            pos = m.end()
            continue
        sql = sql[:close] + ", true" + sql[close:]
        sql = sql[: m.start()] + "any_value(" + sql[m.end() :]
        pos = m.start()  # re-scan: a nested any( may still be inside
    return sql


def _frac(text: str) -> float:
    # ClickHouse spells both 0.1 and 1/10
    num, _, den = text.partition("/")
    return float(num) / float(den) if den else float(num)


def _rewrite_sample(sql: str) -> str:
    """SAMPLE k (fraction or n/m) → TABLESAMPLE (… PERCENT); SAMPLE n
    (n > 1, approximate row target) → TABLESAMPLE (n ROWS).  SAMPLE k
    OFFSET m (both fractions) → a deterministic md5 hash-range
    predicate over the table's REGISTERED sampling key (set_sample_key
    — ClickHouse's own model: SAMPLE BY is table metadata, and OFFSET
    selects the [m, m+k) slice of the key-hash space, repeatable and
    disjoint across workers).  The first 8 md5 hex chars compare as a
    monotone proxy for the 32-bit hash value, so any engine computes
    the identical row set (probe battery 9)."""
    m = find_code(sql, r"\bSAMPLE\s+(\d+(?:\.\d+)?)(\s*/\s*(\d+))?(\s+OFFSET\b)?")
    if m is None:
        return sql
    if not m.group(4):
        if m.group(3):
            frac = float(m.group(1)) / float(m.group(3))
            repl = f"TABLESAMPLE ({frac * 100:g} PERCENT)"
        else:
            # k in [0, 1] is a FRACTION in ClickHouse (SAMPLE 1 = the
            # whole table); only k > 1 is an approximate row target
            v = float(m.group(1))
            repl = (
                f"TABLESAMPLE ({v * 100:g} PERCENT)"
                if v <= 1
                else f"TABLESAMPLE ({int(v)} ROWS)"
            )
        return sql[: m.start()] + repl + sql[m.end() :]
    m_off = find_code(
        sql,
        r"(?is)\b(?P<tbl>\w+(?:\.\w+)?)\s+SAMPLE\s+"
        r"(?P<k>\d+(?:\.\d+)?(?:\s*/\s*\d+(?:\.\d+)?)?)"
        r"\s+OFFSET\s+"
        r"(?P<m>\d+(?:\.\d+)?(?:\s*/\s*\d+(?:\.\d+)?)?)",
    )
    if m_off is None:
        raise ValueError("SAMPLE … OFFSET: could not locate the sampled table")
    tbl = m_off.group("tbl")
    k, m_frac = _frac(m_off.group("k")), _frac(m_off.group("m"))
    if not (0 < k <= 1 and 0 <= m_frac < 1):
        raise ValueError(
            "SAMPLE k OFFSET m supports fractional k, m in [0, 1] "
            "(ClickHouse's relative-sample form)"
        )
    # qualified names look up db.table first, then the bare table; the
    # subquery alias is the LAST segment so later references to the
    # table name keep resolving
    alias = tbl.split(".")[-1]
    key = _SAMPLE_KEYS.get(tbl.lower()) or _SAMPLE_KEYS.get(alias.lower())
    if key is None:
        raise ValueError(
            f"SAMPLE … OFFSET needs a sampling key for {tbl!r} — "
            f"declare one with sql_compat.set_sample_key"
            f"('{tbl}', '<column>') (ClickHouse reads it from the "
            f"table's SAMPLE BY clause)"
        )
    h = f"substr(md5(CAST({key} AS STRING)), 1, 8)"
    lo = format(int(m_frac * 16**8), "08x")
    preds = [f"{h} >= '{lo}'"]
    if m_frac + k < 1:
        hi = format(int((m_frac + k) * 16**8), "08x")
        preds.append(f"{h} < '{hi}'")
    sub = f"(SELECT * FROM {tbl} WHERE {' AND '.join(preds)}) {alias}"
    return sql[: m_off.start()] + sub + sql[m_off.end() :]


def _replace_modifier(m: re.Match) -> str:
    """SELECT * [EXCEPT (cols)] REPLACE (expr AS col, …) → * EXCEPT
    (excepted + replaced), exprs (Spark has EXCEPT natively but no
    REPLACE; the replaced columns move to the end of the projection —
    documented divergence, and immaterial to the driver's name-sorted
    compare).  The CH canonical modifier order EXCEPT → REPLACE folds
    both into one EXCEPT (probe battery 6 s2)."""
    entries = split_top(m.group(2))
    cols = [
        c.strip().strip("`") for c in (m.group(1) or "").split(",") if c.strip()
    ]
    for e in entries:
        rm = re.match(r"(?s)(.+)\s+AS\s+(\w+)\s*$", e.strip(), re.IGNORECASE)
        if not rm:
            # `v * replace(s, 'a', 'b')` is ARITHMETIC times the
            # renamed replace() function, not the modifier — only
            # all-`expr AS col` entry lists are the REPLACE form
            return m.group(0)
        cols.append(rm.group(2))
    return f"* EXCEPT ({', '.join(cols)}), " + ", ".join(e.strip() for e in entries)


def _system_view(m: re.Match) -> str:
    return "(SELECT 1 AS dummy)" if m.group(1) == "one" else f"system_{m.group(1)}"


def _dot_chain(m: re.Match) -> str:
    return m.group(1) + re.sub(r"\.\s*(\d+)", r"._\1", m.group(2))


def translate(sql: str) -> str:
    """Rewrite ClickHouse SQL to Spark SQL."""
    # system tables: system.one is the engine's 1-row dummy relation;
    # the rest map to the system_* views the Warehouse registers
    # (register_system_views) — system.tables/columns/parts/databases
    out = _sub_code(sql, r"\bsystem\.(\w+)", _system_view)
    # system.columns/parts use the engine's real column names `table`
    # and `rows`, which Spark's ANSI parser reserves — backtick the
    # bare identifiers, but only in statements touching those views.
    # A lowercase window frame (`rows between …`, `rows 3 preceding`,
    # `rows unbounded/current …`) in the same statement is frame
    # SYNTAX, not the system-view column — quoting it is a parse error
    # (ADVICE r12)
    if re.search(r"\bsystem_(columns|parts)\b", out):
        out = _sub_code(
            out,
            r"(?<!`)\b(table|rows)\b(?!`)"
            r"(?!\s+(?i:between|unbounded|current)\b)(?!\s+\d)",
            r"`\1`",
        )
    # db-qualified tables: git.commits → commits (our views are flat)
    out = _sub_code(out, r"\b(?:git|default)\.(\w+)", r"\1")
    # bare count() → count(*)
    out = _sub_code(out, r"(?i)\bcount\(\s*\)", "count(*)")
    # x::Type positional casts → CAST(x AS type); a cast literal is
    # already a string
    for pat, repl in (
        (r"(\w+)::DateTime\('UTC'\)", r"CAST(\1 AS TIMESTAMP)"),
        (r"(\w+)::DateTime\b", r"CAST(\1 AS TIMESTAMP)"),
        (r"(\w+)::String\b", r"CAST(\1 AS STRING)"),
        (r"(\w+)::U?Int\d+\b", r"CAST(\1 AS BIGINT)"),
        (r"(?<=')::String\b", ""),
    ):
        out = _sub_code(out, pat, repl)
    # tuple positional access `t.1` → the tuple() render's `_N` struct
    # fields, including chains (`t.1.2` reads a nested tuple).  The
    # token before the first dot must be an identifier or a
    # close-paren — a digit stays a decimal literal (1.5; the
    # digit-lookbehind guards only the identifier head, so
    # `tuple(a, 3).1` still rewrites) — and string literals are inert
    # (probe battery 9).
    out = _sub_code(
        out, r"((?<!\d)\b[A-Za-z_]\w*|\))((?:\s*\.\s*\d+)+)(?!\w)", _dot_chain
    )
    out = _translate_calls(out)
    out = _rewrite_any_aggregate(out)
    # PREWHERE is ClickHouse's manual predicate-pushdown hint; Catalyst
    # pushes predicates itself, so it is plain WHERE here.  When BOTH
    # clauses appear, ClickHouse applies their conjunction — merge the
    # PREWHERE predicate into the WHERE clause; a PREWHERE with no
    # WHERE to merge into is renamed, in any case (ADVICE r12)
    out = _merge_prewhere(out)
    out = _sub_code(out, r"(?i)\bPREWHERE\b", "WHERE")
    out = _rewrite_qualify(out)
    out = _rewrite_sample(out)
    # GROUP BY ALL WITH TOTALS first expands ALL to the non-aggregate
    # select items — GROUPING SETS ((ALL), ()) is not a thing
    out = _expand_group_by_all_totals(out)
    out = _rewrite_with_totals(out)
    # FINAL: route `<table> FINAL` to the registered `<table>_final`
    # dedup view (catalog.register_final_views) so the
    # ReplacingMergeTree read semantics survive translation; a bare
    # trailing FINAL with no preceding table name is dropped
    out = _sub_code(out, r"(?i)\b(\w+)\s+FINAL\b", r"\1_final")
    out = _sub_code(out, r"(?i)\bFINAL\b", "")
    out = _rewrite_array_literals(out)
    # trailing FORMAT <name> (output format is a transport concern —
    # the CLI's --format flag) and SETTINGS k = v, … (engine knobs;
    # Catalyst plans without hints) are stripped
    for pat in (r"(?i)\sFORMAT\s+\w+\s*$", r"(?i)\sSETTINGS\s+\w+\s*=[^;]*$"):
        m = find_code(out, pat)
        if m is not None:
            out = out[: m.start()]
    out = _rewrite_scalar_with(out)
    # GLOBAL IN / GLOBAL JOIN: a distributed-execution hint (ship the
    # set to every shard); Catalyst chooses broadcast vs shuffle
    # itself, so the keyword is dropped
    out = _sub_code(out, r"\bGLOBAL\s+", "")
    out = _rewrite_any_join(out)
    # ClickHouse `LIMIT offset, n` comma form → LIMIT n OFFSET offset
    # (LIMIT n BY has its own keyword, so the lookahead to a bare
    # number is unambiguous)
    out = _sub_code(out, r"(?i)\bLIMIT\s+(\d+)\s*,\s*(\d+)", r"LIMIT \2 OFFSET \1")
    out = _sub_code(
        out,
        r"(?i)\*\s+(?:EXCEPT\s*\(([^)]*)\)\s*)?"
        r"REPLACE\s*\(([^()]*(?:\([^()]*\)[^()]*)*)\)",
        _replace_modifier,
    )
    # structural clauses last, over the function-translated text
    out = _rewrite_array_join_clause(out)
    out = _rewrite_limit_by(out)
    out = _rewrite_limit_with_ties(out)
    return _rewrite_distinct_on(out)


def _rewrite_scalar_with(sql: str) -> str:
    """ClickHouse's expression-WITH: ``WITH <expr> AS <ident>, …``
    binds an expression (literal, scalar subquery, or a column
    expression like ``sum(v)``) to a name, substituted at every use —
    CH's documented alias-substitution model.  Entries of the CTE
    form ``ident AS (subquery)`` are left in place (a WITH list may
    mix both).  Only a top-level WITH prefix is handled; nested ones
    pass through to Spark's own CTE support."""
    m = re.match(r"(\s*)WITH\b", sql, re.IGNORECASE)
    if not m:
        return sql
    # the entry list runs to the first depth-0 SELECT keyword
    sel = find_top(sql, r"(?i)\bSELECT\b", m.end())
    if sel is None:
        return sql
    body_start = sel.start()
    entries = split_top(sql[m.end() : body_start])
    body = sql[body_start:]
    kept: list[str] = []
    for entry in entries:
        e = entry.strip()
        if re.match(r"^`?\w+`?\s+AS\s*\(", e, re.IGNORECASE):
            kept.append(e)  # standard CTE
            continue
        em = re.fullmatch(r"(?s)(.+)\s+AS\s+`?(\w+)`?", e, re.IGNORECASE)
        if not em:
            kept.append(e)
            continue
        expr, ident = em.group(1).strip(), em.group(2)
        segs = split_quoted(body)
        body = "".join(
            t if is_lit else re.sub(rf"(?<![.\w`]){ident}\b", f"({expr})", t)
            for is_lit, t in segs
        )
    if kept:
        return m.group(1) + "WITH " + ", ".join(kept) + " " + body
    return m.group(1) + body


def _rewrite_any_join(sql: str) -> str:
    """``a ANY {LEFT|INNER} JOIN b [AS x] ON <equalities>`` — dedupe
    the right side to one row per ON-key before joining.  Supported
    subset: a named right TABLE and AND-ed `l.k = r.k` equalities
    (subquery right sides: dedupe them yourself)."""
    m = find_code(
        sql,
        r"(?is)\bANY\s+(LEFT|INNER)?\s*JOIN\s+(`?\w+`?)(?:\s+(?:AS\s+)?(\w+))?"
        r"\s+ON\s+(.*?)(?=\s+(?:WHERE|GROUP|ORDER|LIMIT|HAVING|UNION)\b|\s*$)",
    )
    if m is None:
        if find_code(sql, r"(?i)\bANY\s+(LEFT|INNER|RIGHT)?\s*JOIN\b"):
            raise ValueError(
                "unsupported ANY JOIN form: named right table with ON "
                "equality conditions is the supported dialect subset"
            )
        return sql
    strict, table, alias, conds = (
        m.group(1) or "INNER",
        m.group(2),
        m.group(3) or m.group(2).strip("`"),
        m.group(4).strip(),
    )
    right_keys = []
    for cm in re.finditer(r"(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)", conds):
        if cm.group(1) == alias:
            right_keys.append(cm.group(2))
        elif cm.group(3) == alias:
            right_keys.append(cm.group(4))
    if not right_keys:
        raise ValueError(
            f"ANY JOIN: no ON equality references the right alias {alias!r}"
        )
    keys = ", ".join(dict.fromkeys(right_keys))
    sub = (
        f"(SELECT * EXCEPT (__any_rn) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {keys} ORDER BY {keys}) AS __any_rn FROM {table}) "
        f"WHERE __any_rn = 1) AS {alias}"
    )
    return (
        sql[: m.start()]
        + f"{strict} JOIN {sub} ON {conds}"
        + sql[m.end() :]
    )


#: FROM/TO literal: int, toDate('…'), toDateTime('…'); STEP literal:
#: int or INTERVAL n UNIT.
_FILL_LIT = r"(?:toDate(?:Time)?\('[^']*'\)|INTERVAL\s+\d+\s+\w+|-?\d+(?:\.\d+)?)"

_WITH_FILL_RE = re.compile(
    r"ORDER\s+BY\s+`?(\w+)`?\s*(ASC|DESC)?\s+WITH\s+FILL"
    rf"(\s+FROM\s+(?P<from>{_FILL_LIT}))?"
    rf"(\s+TO\s+(?P<to>{_FILL_LIT}))?"
    rf"(\s+STEP\s+(?P<step>{_FILL_LIT}))?"
    r"(\s+INTERPOLATE\s*\(\s*(?P<interp>[\w`,\s]+)\))?"
    r"\s*$",
    re.IGNORECASE,
)


def _fill_literal(text: str):
    """WITH FILL bound/step literal → a Column expression."""
    from pyspark.sql import functions as F

    text = text.strip()
    m = re.fullmatch(r"toDate\('([^']*)'\)", text, re.IGNORECASE)
    if m:
        return F.to_date(F.lit(m.group(1)))
    m = re.fullmatch(r"toDateTime\('([^']*)'\)", text, re.IGNORECASE)
    if m:
        return F.to_timestamp(F.lit(m.group(1)))
    if re.fullmatch(r"INTERVAL\s+\d+\s+\w+", text, re.IGNORECASE):
        return F.expr(text)
    if re.fullmatch(r"-?\d+\.\d+", text):
        return F.lit(float(text))
    return F.lit(int(text))


def parse_with_fill(sql: str):
    """``ORDER BY col [DESC] WITH FILL [FROM …] [TO …] [STEP …]
    [INTERPOLATE (…)]`` at the end of a statement → (inner_sql,
    kwargs for operators.fill.with_fill) or None.  The clause can't
    render to one Spark SQL string (inserted-row defaults depend on
    the result's column TYPES), so ``run`` executes the inner query
    and applies the DataFrame fill operator — the same delegation the
    windowFunnel strict modes use."""
    m = find_code(sql, _WITH_FILL_RE)
    if m is None:
        if find_code(sql, r"(?i)\bWITH\s+FILL\b"):
            raise ValueError(
                "unsupported WITH FILL form: single-column ORDER BY with "
                "optional FROM/TO/STEP/INTERPOLATE at statement end"
            )
        return None
    kwargs = {
        "col": m.group(1),
        "desc": (m.group(2) or "").upper() == "DESC",
        "from_": _fill_literal(m.group("from")) if m.group("from") else None,
        "to": _fill_literal(m.group("to")) if m.group("to") else None,
        "step": _fill_literal(m.group("step")) if m.group("step") else None,
        "interpolate": tuple(
            c.strip().strip("`")
            for c in (m.group("interp") or "").split(",")
            if c.strip()
        ),
    }
    return sql[: m.start()], kwargs


#: ``FROM t1 ASOF [LEFT] JOIN t2 USING (k…, ts)`` — ClickHouse's USING
#: form: every listed column except the LAST is an equality key; the
#: last is the as-of inequality (left.ts >= right.ts, backward).
_ASOF_USING_RE = re.compile(
    r"FROM\s+`?(\w+)`?\s+ASOF\s+(LEFT\s+)?JOIN\s+`?(\w+)`?\s+"
    r"USING\s*\(([^)]*)\)",
    re.IGNORECASE,
)


def _rewrite_asof_join(spark: SparkSession, sql: str) -> str:
    """Substitute one ``ASOF [LEFT] JOIN … USING`` fragment with a
    temp view computed by operators/asof.asof_join (union+window —
    no candidate-pair materialization; the reason this is a run()-
    level delegation and not a SQL rewrite, which would need a range
    join + row_number and explode at scale).

    Matched right columns keep their own names (the USING form's
    unqualified access); unmatched left rows keep NULLs — ClickHouse
    with ``join_use_nulls = 1`` (the default fills type defaults
    instead; documented divergence).  Plain ASOF JOIN (no LEFT) drops
    unmatched left rows, per ClickHouse.
    """
    m = find_code(sql, _ASOF_USING_RE)
    if m is None:
        if find_code(sql, r"(?i)\bASOF\b"):
            raise ValueError(
                "unsupported ASOF JOIN form: FROM t1 ASOF [LEFT] JOIN "
                "t2 USING (keys…, ts) is the supported dialect subset"
            )
        return sql
    from clickhub_spark.operators.asof import asof_join

    left_name, keep_left, right_name = m.group(1), bool(m.group(2)), m.group(3)
    using = [c.strip().strip("`") for c in m.group(4).split(",") if c.strip()]
    if len(using) < 2:
        raise ValueError("ASOF JOIN USING needs at least (key, ts)")
    keys, ts = using[:-1], using[-1]
    left = spark.table(left_name)
    right = spark.table(right_name)
    values = [c for c in right.columns if c not in keys and c != ts]
    clash = [c for c in values if c in left.columns]
    if clash:
        raise ValueError(
            f"ASOF JOIN USING: right columns {clash} collide with left; "
            "alias them apart in a view first"
        )
    joined = asof_join(
        left, right, on=keys, left_ts=ts, right_ts=ts, right_values=values
    )
    if not keep_left:
        joined = joined.where(joined["asof_ts"].isNotNull())
    out = joined.select(
        *left.columns, *[joined[f"asof_{c}"].alias(c) for c in values]
    )
    view = "__asof_join"
    out.createOrReplaceTempView(view)
    return sql[: m.start()] + f"FROM {view}" + sql[m.end() :]


def _rewrite_star_apply(spark: SparkSession, sql: str) -> str:
    """ClickHouse's ``SELECT * [EXCEPT (…)] [REPLACE (…)] APPLY(fn)
    FROM <table>`` column-transformer chain: apply ``fn`` to every
    column the asterisk resolves to (CH names the outputs
    ``fn(col)``).  Expanding the star needs the SCHEMA, so this is a
    run()-level, session-aware rewrite (the asof-join pattern) —
    supported for a plain registered view/table FROM; other shapes
    raise with the supported form named."""
    m = find_code(
        sql,
        r"(?i)SELECT\s+\*\s*(?:EXCEPT\s*\(([^)]*)\)\s*)?"
        r"(?:REPLACE\s*\(([^()]*(?:\([^()]*\)[^()]*)*)\)\s*)?"
        r"APPLY\s*\(\s*(\w+)\s*\)\s+FROM\s+`?(\w+)`?",
    )
    if m is None:
        if find_code(sql, r"(?i)\bAPPLY\s*\("):
            raise ValueError(
                "unsupported APPLY form: SELECT * [EXCEPT (…)] "
                "[REPLACE (…)] APPLY(fn) FROM <registered table> is "
                "the supported dialect subset"
            )
        return sql
    exc = {
        c.strip().strip("`") for c in (m.group(1) or "").split(",") if c.strip()
    }
    rep: dict[str, str] = {}
    for e in split_top(m.group(2) or ""):
        rm = re.match(r"(?s)(.+)\s+AS\s+`?(\w+)`?\s*$", e.strip(), re.IGNORECASE)
        if rm:
            rep[rm.group(2)] = rm.group(1).strip()
    fn, view = m.group(3), m.group(4)
    cols = spark.table(view).columns
    items = [
        f"{fn}({rep.get(c, f'`{c}`')}) AS `{fn}({c})`"
        for c in cols
        if c not in exc
    ]
    return (
        sql[: m.start()]
        + "SELECT "
        + ", ".join(items)
        + f" FROM {view}"
        + sql[m.end() :]
    )


def _rewrite_columns_selector(spark: SparkSession, sql: str) -> str:
    """ClickHouse's dynamic column selector ``COLUMNS('regex')``
    [+ ``APPLY(fn)``]: expands to the FROM table's columns whose NAME
    matches the re2 pattern (partial match, like CH).  Star-expansion
    needs the SCHEMA, so this is a run()-level, session-aware rewrite
    (the _rewrite_star_apply pattern).  The statement's first depth-0
    FROM names the registered view; other shapes raise with the
    supported form named.  CH errors on an empty match — so do we."""
    m = find_code(
        sql,
        r"(?is)\bCOLUMNS\s*\(\s*'([^']*)'\s*\)(\s*APPLY\s*\(\s*(\w+)\s*\))?",
    )
    if m is None:
        return sql
    fm = find_top(sql, r"(?is)\bFROM\s+`?(\w+)`?")
    if fm is None:
        raise ValueError(
            "COLUMNS('regex') needs a depth-0 FROM <registered table> "
            "to expand against"
        )
    view = fm.group(1)
    try:
        cols = spark.table(view).columns
    except Exception as exc:
        raise ValueError(
            f"COLUMNS('regex'): FROM table {view!r} is not a "
            f"registered view"
        ) from exc
    rx = re.compile(m.group(1))
    hit = [c for c in cols if rx.search(c)]
    if not hit:
        raise ValueError(
            f"COLUMNS({m.group(1)!r}) matches no column of {view!r} "
            f"(ClickHouse errors on an empty selector too)"
        )
    if m.group(3):
        fn = m.group(3)
        items = [f"{fn}(`{c}`) AS `{fn}({c})`" for c in hit]
    else:
        items = [f"`{c}`" for c in hit]
    return _rewrite_columns_selector(
        spark, sql[: m.start()] + ", ".join(items) + sql[m.end() :]
    )


def run(spark: SparkSession, sql: str) -> DataFrame:
    """Translate and execute a ClickHouse-dialect statement against
    the session's registered views.  ``ORDER BY … WITH FILL`` and
    ``ASOF JOIN … USING`` are executed by delegating to the
    registered DataFrame operators (see parse_with_fill /
    _rewrite_asof_join).  ``EXPLAIN [AST|SYNTAX|PLAN|PIPELINE]
    SELECT …`` returns Catalyst's plan text as a one-column relation
    (AST/SYNTAX show the analyzed/translated form, PLAN/PIPELINE the
    physical plan — the engine's four views collapse onto Spark's
    two)."""
    m_exp = re.match(
        r"\s*EXPLAIN(\s+(?:AST|SYNTAX|PLAN|PIPELINE|ESTIMATE))?\s+(.*)$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if m_exp:
        mode = (m_exp.group(1) or "").strip().upper()
        inner = translate(m_exp.group(2))
        spark_mode = "EXTENDED" if mode in ("AST", "SYNTAX") else "FORMATTED"
        return spark.sql(f"EXPLAIN {spark_mode} {inner}")
    sql = _rewrite_asof_join(spark, sql)
    # COLUMNS first: its APPLY composition would otherwise trip the
    # star-APPLY guard before the selector expands
    sql = _rewrite_columns_selector(spark, sql)
    sql = _rewrite_star_apply(spark, sql)
    filled = parse_with_fill(sql)
    if filled is not None:
        from clickhub_spark.operators.fill import with_fill

        inner, kwargs = filled
        return with_fill(spark.sql(translate(inner)), **kwargs)
    return spark.sql(translate(sql))
