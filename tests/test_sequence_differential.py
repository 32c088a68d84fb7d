"""Differential tests: the registered sequenceMatch / sequenceCount
family vs a direct transcription of ClickHouse's pattern automaton
(VERDICT r10 #3 — the test_funnel_differential.py pattern).

The registered queries' DuckDB oracles collapse each user's stream to
a string and run the SAME regex the Spark side runs, so oracle parity
cannot catch a semantics error made identically in both places.  The
reference here transcribes the ENGINE's matcher instead:

- the aggregate stores one entry per event matching AT LEAST ONE
  condition (events matching none are skipped at insert);
- ``(?N)`` consumes exactly one entry matching condition N; ``.``
  consumes exactly one entry (any); ``.*`` consumes any number;
  ``(?t OP n)`` constrains the timestamps of the two neighbouring
  matched pattern events;
- consecutive event atoms with nothing (or only a time condition)
  between them must match ADJACENT entries;
- sequenceCount counts non-overlapping matches, resuming the scan
  after each complete match.

The transcription is a backtracking matcher over that entry list; the
fuzz drives the REGISTERED query builders (via a synthetic
events.parquet written in the real table schema) so the pin covers
the exact shipped constructions, not reimplementations.
"""

from __future__ import annotations

import datetime
import random

import pytest

# pattern atoms: ("cond", k) | ("any",) | ("star",) | ("time", op, n)
_T0 = datetime.datetime(2024, 1, 1)


def _ch_seq_match_from(entries, pattern, start):
    """Backtracking matcher: does ``pattern`` match ``entries[start:]``
    anchored ANYWHERE at-or-after start?  Returns the entry index one
    past the last consumed event atom (for sequenceCount resumption)
    or None.  ``entries``: [(ts, conds frozenset)]."""

    def match(pi, ei, last_ts, time_cond):
        # returns end index (one past last consumed entry) or None
        if pi == len(pattern):
            return ei
        atom = pattern[pi]
        if atom[0] == "time":
            return match(pi + 1, ei, last_ts, atom)
        if atom[0] == "star":
            # try consuming 0..all remaining entries; a star clears
            # adjacency but any time condition still binds the next
            # matched event to last_ts
            for skip in range(len(entries) - ei + 1):
                r = match(pi + 1, ei + skip, last_ts, time_cond)
                if r is not None:
                    return r
            return None
        if ei >= len(entries):
            return None
        ts, conds = entries[ei]
        if atom[0] == "cond" and atom[1] not in conds:
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
        return match(pi + 1, ei + 1, ts, None)

    first_is_star = pattern and pattern[0][0] == "star"
    anchors = (
        [start]
        if first_is_star
        else range(start, len(entries) + 1)
    )
    for a in anchors:
        r = match(0, a, None, None)
        if r is not None:
            return r
    return None


def _ch_seq_match(evts, conds, pattern):
    entries = [
        (ts, m)
        for ts, letter in evts
        for m in [frozenset(k for k, c in enumerate(conds) if letter in c)]
        if m
    ]
    return _ch_seq_match_from(entries, pattern, 0) is not None


def _ch_seq_count(evts, conds, pattern):
    entries = [
        (ts, m)
        for ts, letter in evts
        for m in [frozenset(k for k, c in enumerate(conds) if letter in c)]
        if m
    ]
    n = 0
    pos = 0
    while True:
        r = _ch_seq_match_from(entries, pattern, pos)
        if r is None:
            break
        n += 1
        pos = max(r, pos + 1)  # never loop on an empty-width match
    return n


def _random_event_streams(n_users, seed):
    """Streams over the real event_type alphabet with common ts ties;
    integer-second timestamps (both sides compare epoch seconds)."""
    rng = random.Random(seed)
    types = ["view", "click", "purchase", "signup", "refund"]
    streams = {}
    for uid in range(1, n_users + 1):
        length = rng.randint(1, 14)
        t = rng.randint(0, 50)
        evts = []
        for _ in range(length):
            t += rng.choice([0, 0, 600, 1800, 3599, 3600, 7200])
            evts.append((t, rng.choice(types)))
        streams[uid] = evts
    return streams


@pytest.fixture(scope="module")
def seq_fixture(spark, tmp_path_factory):
    """Synthetic events.parquet in the real table schema + builders
    run once; the three tests compare different columns."""
    streams = _random_event_streams(150, seed=7011)
    rows = [
        (
            uid * 1000 + i,
            _T0 + datetime.timedelta(seconds=ts),
            uid,
            letter,
            float(i),
            "{}",
        )
        for uid, evts in streams.items()
        for i, (ts, letter) in enumerate(evts)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf_dir = str(tmp_path_factory.mktemp("seqdiff"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")
    return streams, sf_dir


def test_differential_seq_match(spark, seq_fixture):
    """q_seq_match ≙ sequenceMatch('(?1).*(?2).*(?3)') with conds
    view/click/purchase."""
    from clickhub_spark.plans.queries_seq import q_seq_match

    streams, sf_dir = seq_fixture
    got = {
        int(r.user_id): bool(r.matched)
        for r in q_seq_match(spark, sf_dir).collect()
    }
    conds = [{"view"}, {"click"}, {"purchase"}]
    pattern = [
        ("cond", 0), ("star",), ("cond", 1), ("star",), ("cond", 2),
    ]
    for uid, evts in streams.items():
        want = _ch_seq_match(evts, conds, pattern)
        assert got[uid] == want, (
            f"user={uid}: got {got[uid]}, engine automaton says {want}; "
            f"stream={evts}"
        )


def test_differential_seq_count(spark, seq_fixture):
    """q_seq_count ≙ sequenceCount('(?1).*(?2)') — non-overlapping
    view→…→purchase chains."""
    from clickhub_spark.plans.queries_seq import q_seq_count

    streams, sf_dir = seq_fixture
    got = {
        int(r.user_id): r.n_seq
        for r in q_seq_count(spark, sf_dir).collect()
    }
    conds = [{"view"}, {"purchase"}]
    pattern = [("cond", 0), ("star",), ("cond", 1)]
    for uid, evts in streams.items():
        want = _ch_seq_count(evts, conds, pattern)
        assert got[uid] == want, (
            f"user={uid}: got {got[uid]}, engine automaton says {want}; "
            f"stream={evts}"
        )


def test_differential_seq_match_time(spark, seq_fixture):
    """q_seq_match_time ≙ sequenceMatch('(?1)(?t<3600)(?2)') over
    (view, purchase) — DIRECT adjacency in the stored entry list plus
    the time bound.  Compares the per-user match AND the matched-user
    count the registered aggregate publishes."""
    from clickhub_spark.plans.queries_seq import q_seq_match_time

    streams, sf_dir = seq_fixture
    row = q_seq_match_time(spark, sf_dir).collect()[0]
    conds = [{"view"}, {"purchase"}]
    pattern = [("cond", 0), ("time", "<", 3600), ("cond", 1)]
    want_users = sum(
        1
        for evts in streams.values()
        # the engine's same-second order is undefined; the registered
        # query pins (ts, event_type) — walk the same total order
        if _ch_seq_match(
            sorted(evts, key=lambda e: (e[0], e[1])), conds, pattern
        )
    )
    assert row.n_users_matched == want_users
