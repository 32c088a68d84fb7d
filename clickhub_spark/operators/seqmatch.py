"""General sequenceMatch / sequenceCount — ClickHouse
``sequenceMatch('(?1).*(?2)')(ts, cond1, cond2, ...)`` for ARBITRARY
patterns, not just the fixed shapes the registered q_seq_* queries
pin (SURVEY §2.D sequence family; engine semantics documented in
tests/test_sequence_differential.py's automaton transcription).

Engine model: the aggregate stores one ENTRY per event matching at
least one condition (events matching none are skipped at insert; an
event matching several conditions is one entry carrying the bitset);
the pattern matches over that entry list.  Atoms:

- ``(?N)``  — one entry whose bitset contains condition N (1-based);
- ``.``     — exactly one entry (any);
- ``.*``    — any number of entries;
- ``(?t OP n)`` — time constraint between the two NEIGHBORING matched
  event atoms (OP in < <= > >= ==), seconds.

Two execution paths, chosen by the pattern:

1. **No time conditions** (the common case): per-user entries collapse
   to a STRING — each entry becomes one character indexed by its
   condition bitset — and the pattern compiles to a Java regex whose
   ``(?N)`` atoms become character classes of the bitsets containing
   N.  Everything stays JVM-side whole-stage codegen: one user_id
   shuffle, an array_sort + transform + concat_ws, one rlike /
   regexp_count.  (Entry strings are per-user event counts — the same
   documented memory posture as the registered q_seq_match.)

2. **Time conditions present**: regex cannot see timestamps, so the
   per-user entry list runs through the SAME backtracking automaton
   the differential test transcribes, via applyInPandas — parallel
   across users, per-user state = that user's entries (the engine's
   own aggregate buffers exactly this).

``sequence_count`` counts NON-OVERLAPPING matches, resuming after
each complete match (the engine's scan-restart), which for the regex
path is exactly Java's left-to-right non-overlapping find semantics.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: entry alphabet: bitset value 1..63 → one letter (6 conditions max;
#: letters only, so no regex metacharacter ever appears in a string)
_ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789?"
_MAX_CONDS = 6

_TOKEN = re.compile(
    r"\(\?(\d+)\)|\(\?t\s*(<=|>=|==|<|>)\s*(\d+(?:\.\d+)?)\)|\.\*|\."
)


def parse_pattern(pattern: str) -> list[tuple]:
    """ClickHouse pattern string → token list: ("cond", idx0) |
    ("star",) | ("any",) | ("time", op, seconds)."""
    out: list[tuple] = []
    pos = 0
    while pos < len(pattern):
        m = _TOKEN.match(pattern, pos)
        if not m:
            raise ValueError(f"bad pattern at {pattern[pos:]!r}")
        if m.group(1) is not None:
            out.append(("cond", int(m.group(1)) - 1))
        elif m.group(2) is not None:
            out.append(("time", m.group(2), float(m.group(3))))
        elif m.group(0) == ".*":
            out.append(("star",))
        else:
            out.append(("any",))
        pos = m.end()
    for i, tok in enumerate(out):
        if tok[0] == "time" and (
            i == 0
            or i == len(out) - 1
            or out[i - 1][0] not in ("cond", "any")
            or out[i + 1][0] not in ("cond", "any")
        ):
            # The engine's parser rejects a temporal condition unless it
            # DIRECTLY follows an event atom — '.*(?t>5)(?2)' and
            # '(?1).*(?t>5)(?2)' are parse errors there, so raising here
            # (instead of silently dropping or reinterpreting the
            # constraint across the star) keeps dialect parity.
            raise ValueError(
                "(?t…) must sit directly between two event atoms "
                "((?N) or .); a '.*' may not precede or follow it"
            )
    return out


def _has_time(tokens: list[tuple]) -> bool:
    return any(t[0] == "time" for t in tokens)


def _regex_of(tokens: list[tuple], n_conds: int) -> str:
    """Tokens → Java regex.  ``.*`` compiles LAZY (``.*?``): the
    engine's scan completes each match at the EARLIEST possible entry
    and restarts there, so non-overlapping counting must end matches
    minimally — a greedy star would swallow later matches (v,p,v,p
    counts 2 in the engine, 1 under a greedy star).  For the boolean
    match the laziness is irrelevant."""
    parts = []
    for tok in tokens:
        if tok[0] == "cond":
            chars = "".join(
                _ALPHA[b - 1]
                for b in range(1, 2**n_conds)
                if b >> tok[1] & 1
            )
            parts.append(f"[{chars}]")
        elif tok[0] == "star":
            parts.append(".*?")
        elif tok[0] == "any":
            parts.append(".")
    return "".join(parts)


def _entry_string(
    df: DataFrame,
    user_col: str,
    order: Sequence[str],
    conds: Sequence[Column],
) -> DataFrame:
    """Per-user (seq) string: one char per entry, bitset-indexed;
    no-match events vanish (engine insert rule)."""
    bitset = None
    for k, c in enumerate(conds):
        term = F.coalesce(c.cast("boolean"), F.lit(False)).cast("int") * (
            2**k
        )
        bitset = term if bitset is None else bitset + term
    rows = df.select(
        F.col(user_col),
        F.struct(*[F.col(c) for c in order]).alias("__o"),
        bitset.alias("__b"),
    ).where(F.col("__b") > 0)
    # char per entry via 1-based substring: bitset 1 → _ALPHA[0]
    return rows.groupBy(user_col).agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__o", "__b"))),
                lambda e: F.substring(F.lit(_ALPHA), e["__b"], 1),
            ),
        ).alias("__seq")
    )


def _match_entries(entries, tokens, k_top, start=0, want_events=False):
    """Backtracking automaton over [(ts, bitset)]; returns end index
    (one past the last consumed entry, minimal for stars) or None.
    With ``want_events`` returns (end, [ts of each matched ``(?N)``
    atom]) — the sequenceMatchEvents trail of the FIRST (earliest-
    anchor, minimal-star) match."""

    def go(pi, ei, last_ts, time_cond):
        if pi == len(tokens):
            return ei, []
        tok = tokens[pi]
        if tok[0] == "time":
            return go(pi + 1, ei, last_ts, tok)
        if tok[0] == "star":
            for skip in range(len(entries) - ei + 1):
                r = go(pi + 1, ei + skip, last_ts, time_cond)
                if r is not None:
                    return r
            return None
        if ei >= len(entries):
            return None
        ts, b = entries[ei]
        if tok[0] == "cond" and not (b >> tok[1] & 1):
            return None
        if time_cond is not None and last_ts is not None:
            op, bound = time_cond[1], time_cond[2]
            dt = ts - last_ts
            ok = {
                "<": dt < bound,
                "<=": dt <= bound,
                ">": dt > bound,
                ">=": dt >= bound,
                "==": dt == bound,
            }[op]
            if not ok:
                return None
        r = go(pi + 1, ei + 1, ts, None)
        if r is None:
            return None
        end, trail = r
        if tok[0] == "cond":
            trail = [ts, *trail]
        return end, trail

    anchors = (
        [start] if tokens and tokens[0][0] == "star" else range(start, len(entries) + 1)
    )
    for a in anchors:
        r = go(0, a, None, None)
        if r is not None:
            return r if want_events else r[0]
    return None


def _automaton_over_users(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    order: Sequence[str],
    conds: Sequence[Column],
    per_user,
    out_field: str,
    out_name: str,
    user_type: str,
) -> DataFrame:
    """Shared executor for the automaton paths: one user_id
    repartition + within-partition sort, then ONE mapInPandas over
    each partition's Arrow batches with a boundary-carry buffer (a
    user whose rows straddle two batches is deferred to the next) —
    the per-user Python work runs without per-group UDF dispatch or
    per-group DataFrame construction, which dominates
    groupBy().applyInPandas at hundreds of thousands of tiny groups
    (measured 73 s → single-digit seconds at 1M events / 300k users,
    ``tools/scale seqmatch_scale``).  ``per_user(entries)`` maps the
    entry list [(ts, bitset)] to the output value."""
    import pandas as pd

    k_top = len(conds)
    bit_cols = [f"__c{k}" for k in range(k_top)]
    prep = (
        df.select(
            F.col(user_col).alias("__u"),
            F.col(ts_col).cast("double").alias("__ts"),
            *[F.col(c) for c in order if c not in (user_col, ts_col)],
            *[
                F.coalesce(c.cast("boolean"), F.lit(False)).alias(f"__c{k}")
                for k, c in enumerate(conds)
            ],
        )
        .repartition(F.col("__u"))
        .sortWithinPartitions(
            "__u", *["__ts" if c == ts_col else c for c in order]
        )
    )

    def process(pdf: pd.DataFrame) -> pd.DataFrame:
        users, vals = [], []
        ts = pdf["__ts"].to_numpy()
        bits = [pdf[c].to_numpy() for c in bit_cols]
        uvals = pdf["__u"].to_numpy()
        i, n = 0, len(pdf)
        while i < n:
            j = i
            uid = uvals[i]
            entries = []
            while j < n and uvals[j] == uid:
                b = 0
                for k in range(k_top):
                    if bits[k][j]:
                        b |= 1 << k
                if b:
                    entries.append((float(ts[j]), b))
                j += 1
            users.append(uid)
            vals.append(per_user(entries))
            i = j
        return pd.DataFrame({"user_id": users, out_name: vals})

    def gen(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last = pdf["__u"].iloc[-1]
            mask = pdf["__u"] == last
            carry = pdf[mask]
            rest = pdf[~mask]
            if len(rest):
                yield process(rest)
        if carry is not None and len(carry):
            yield process(carry)

    return prep.mapInPandas(gen, f"user_id {user_type}, {out_field}")


def _automaton_apply(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    order: Sequence[str],
    conds: Sequence[Column],
    tokens: list[tuple],
    count: bool,
    user_type: str,
) -> DataFrame:
    k_top = len(conds)
    if count:

        def per_user(entries):
            n, pos = 0, 0
            while True:
                r = _match_entries(entries, tokens, k_top, pos)
                if r is None:
                    break
                n += 1
                pos = max(r, pos + 1)
            return n

        return _automaton_over_users(
            df, user_col, ts_col, order, conds, per_user,
            "n_matches int", "n_matches", user_type,
        )

    def per_user(entries):
        return _match_entries(entries, tokens, k_top) is not None

    return _automaton_over_users(
        df, user_col, ts_col, order, conds, per_user,
        "matched boolean", "matched", user_type,
    )


def sequence_match(
    df: DataFrame,
    user_col: str,
    order: Sequence[str],
    conds: Sequence[Column],
    pattern: str,
    ts_col: str | None = None,
    user_type: str = "bigint",
) -> DataFrame:
    """Per-user boolean: does the entry stream match ``pattern``?
    ``order`` must be a per-user total order (unique tiebreaker);
    ``ts_col`` is required when the pattern has (?t…) conditions.
    Returns (user_id, matched)."""
    tokens = parse_pattern(pattern)
    if len(conds) > _MAX_CONDS:
        raise ValueError(f"max {_MAX_CONDS} conditions")
    if _has_time(tokens):
        if ts_col is None:
            raise ValueError("pattern has (?t…): ts_col required")
        return _automaton_apply(
            df, user_col, ts_col, order, conds, tokens, False, user_type
        )
    seqs = _entry_string(df, user_col, order, conds)
    rx = _regex_of(tokens, len(conds))
    return seqs.select(
        F.col(user_col).alias("user_id"),
        F.col("__seq").rlike(rx).alias("matched"),
    )


def sequence_count(
    df: DataFrame,
    user_col: str,
    order: Sequence[str],
    conds: Sequence[Column],
    pattern: str,
    ts_col: str | None = None,
    user_type: str = "bigint",
) -> DataFrame:
    """Per-user count of NON-OVERLAPPING pattern matches (the engine's
    scan-restart semantics ≡ Java's left-to-right non-overlapping
    find for the regex path).  Returns (user_id, n_matches)."""
    tokens = parse_pattern(pattern)
    if len(conds) > _MAX_CONDS:
        raise ValueError(f"max {_MAX_CONDS} conditions")
    if _has_time(tokens):
        if ts_col is None:
            raise ValueError("pattern has (?t…): ts_col required")
        return _automaton_apply(
            df, user_col, ts_col, order, conds, tokens, True, user_type
        )
    seqs = _entry_string(df, user_col, order, conds)
    rx = _regex_of(tokens, len(conds))
    return seqs.select(
        F.col(user_col).alias("user_id"),
        F.regexp_count("__seq", F.lit(rx)).cast("int").alias("n_matches"),
    )


def sequence_match_events(
    df: DataFrame,
    user_col: str,
    order: Sequence[str],
    conds: Sequence[Column],
    pattern: str,
    ts_col: str,
    user_type: str = "bigint",
) -> DataFrame:
    """sequenceMatchEvents analog: per user, the timestamps of the
    entries matched by each ``(?N)`` atom of the FIRST match
    (earliest anchor, minimal stars — the engine's scan order), or an
    empty array when the pattern does not match.  Always runs the
    automaton path (the trail needs positions, which the regex fast
    path discards).  Returns (user_id, event_times array<double>)."""
    tokens = parse_pattern(pattern)
    if len(conds) > _MAX_CONDS:
        raise ValueError(f"max {_MAX_CONDS} conditions")
    k_top = len(conds)

    def per_user(entries):
        r = _match_entries(entries, tokens, k_top, want_events=True)
        return [float(t) for t in r[1]] if r is not None else []

    return _automaton_over_users(
        df, user_col, ts_col, order, conds, per_user,
        "event_times array<double>", "event_times", user_type,
    )
