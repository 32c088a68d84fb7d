"""Differential fuzz: operators/seqmatch.sequence_next_node and the
``sequenceNextNode`` SQL render vs a plain-Python transcription of
ClickHouse's sequenceNextNode (the test_sequence_differential.py
pattern).

The transcription: order each user's events by the unique (ts,
event_id) key, reversed for ``backward``; the chain matches at
position p when the base condition and chain[0] hold at p and
chain[k] holds at p + k (a NULL condition does not hold); ``head`` /
``tail`` test position 0 only, ``first_match`` / ``last_match`` take
the first / last matching position; the answer is the event value at
p + len(chain), NULL when the chain closes the stream.

Streams are short over a three-letter alphabet with NULL event types
and NULL values, so conditions go NULL, ts ties are common (event_id
breaks them), and chains often close the stream.
"""

from __future__ import annotations

import random
from functools import reduce

import pytest

from clickhub_spark.operators.seqmatch import _NEXT_NODE_COMBOS

#: condition specs: ("eq", letter) | ("lt", n) | ("or", letter, n)
_CONDS = [("eq", "a"), ("eq", "b"), ("eq", "c"), ("lt", 5), ("or", "c", 3)]


def _holds(cond, ev) -> bool | None:
    """Three-valued condition over one event (ty, value)."""
    ty, val = ev
    eq = lambda x: None if ty is None else ty == x  # noqa: E731
    lt = lambda n: None if val is None else val < n  # noqa: E731
    if cond[0] == "eq":
        return eq(cond[1])
    if cond[0] == "lt":
        return lt(cond[1])
    parts = (eq(cond[1]), lt(cond[2]))
    return True if True in parts else (None if None in parts else False)


def _sql(cond) -> str:
    if cond[0] == "eq":
        return f"event_type = '{cond[1]}'"
    if cond[0] == "lt":
        return f"value < {cond[1]}"
    return f"(event_type = '{cond[1]}' OR value < {cond[2]})"


def _col(cond):
    from pyspark.sql import functions as F

    ty, val = F.col("event_type"), F.col("value")
    if cond[0] == "eq":
        return ty == cond[1]
    if cond[0] == "lt":
        return val < cond[1]
    return (ty == cond[1]) | (val < cond[2])


def _ch_next_node(evts, direction, base, base_cond, chain):
    """(matched, next event_type) for one user's [(ts, event_id, ty,
    value)] stream."""
    seq = [(ty, val) for _, _, ty, val in sorted(evts)]
    if direction == "backward":
        seq.reverse()
    n = len(chain)

    def ok(p):
        return (
            p + n <= len(seq)
            and _holds(base_cond, seq[p]) is True
            and all(_holds(c, seq[p + k]) is True for k, c in enumerate(chain))
        )

    if base in ("head", "tail"):
        hits = [0] if ok(0) else []
    else:
        hits = [p for p in range(len(seq)) if ok(p)]
    if not hits:
        return False, None
    p = hits[0] if base != "last_match" else hits[-1]
    return True, seq[p + n][0] if p + n < len(seq) else None


def _streams(n_users, seed):
    rng = random.Random(seed)
    out = {}
    for uid in range(1, n_users + 1):
        length = rng.randint(1, 8)
        ids = rng.sample(range(1000), length)
        out[uid] = [
            (
                rng.randint(0, 4),
                uid * 1000 + ids[i],
                rng.choice(["a", "b", "c", "a", "b", None]),
                rng.choice([1, 4, 7, 9, None]),
            )
            for i in range(length)
        ]
    return out


@pytest.fixture(scope="module")
def next_node_cases(spark):
    """Events DataFrame + one random (base_cond, chain) per combo and
    chain length 1–3, with the transcription's answer per user."""
    rng = random.Random(4242)
    streams = _streams(160, seed=9011)
    df = spark.createDataFrame(
        [(uid, *ev) for uid, evts in streams.items() for ev in evts],
        "user_id long, tk long, event_id long, event_type string, "
        "value long",
    )
    cases = []
    for direction, base in sorted(_NEXT_NODE_COMBOS):
        for n in (1, 2, 3):
            base_cond = rng.choice(_CONDS)
            # chain[0] usually repeats the base condition, as in the
            # engine's documented calls
            chain = [base_cond if rng.random() < 0.7 else rng.choice(_CONDS)]
            chain += [rng.choice(_CONDS) for _ in range(n - 1)]
            want = {
                uid: _ch_next_node(evts, direction, base, base_cond, chain)
                for uid, evts in streams.items()
            }
            cases.append((direction, base, base_cond, chain, want))
    return df, cases


def test_cases_cover_closing_chains_and_null_conditions(next_node_cases):
    """The fuzz is only worth something if chains match, close the
    stream, and meet NULL conditions."""
    _, cases = next_node_cases
    matched, closing = {}, {}
    for direction, base, _, chain, want in cases:
        for ok, v in want.values():
            for key in ((direction, base), len(chain)):
                matched[key] = matched.get(key, 0) + ok
                closing[key] = closing.get(key, 0) + (ok and v is None)
    for key in [*_NEXT_NODE_COMBOS, 1, 2, 3]:
        assert matched[key] and closing[key], key
    assert any(c[0] != "eq" for case in cases for c in case[3])


def test_operator_matches_transcription(next_node_cases):
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from clickhub_spark.operators.seqmatch import sequence_next_node

    df, cases = next_node_cases
    outs = [
        sequence_next_node(
            df, "user_id", ["tk", "event_id"], "event_type", direction,
            base, _col(base_cond), [_col(c) for c in chain],
        ).withColumn("case", F.lit(i))
        for i, (direction, base, base_cond, chain, _) in enumerate(cases)
    ]
    got = {}
    for r in reduce(DataFrame.unionByName, outs).collect():
        got.setdefault(r.case, {})[r.user_id] = r.next_node
    for i, (direction, base, base_cond, chain, want) in enumerate(cases):
        expect = {uid: v for uid, (ok, v) in want.items() if ok}
        assert got.get(i, {}) == expect, (direction, base, base_cond, chain)


def test_sql_render_matches_transcription(spark, next_node_cases):
    from clickhub_spark.sql_compat import run

    df, cases = next_node_cases
    df.createOrReplaceTempView("next_node_fuzz")
    # the render breaks ts ties by value, not by event_id, so its ts is
    # the (tk, event_id) order as one key (event_id < 10**6)
    cols = ",\n".join(
        f"sequenceNextNode('{direction}', '{base}')("
        f"tk * 1000000 + event_id, event_type, {_sql(base_cond)}, "
        f"{', '.join(_sql(c) for c in chain)}) AS n{i}"
        for i, (direction, base, base_cond, chain, _) in enumerate(cases)
    )
    rows = run(
        spark, f"SELECT user_id, {cols} FROM next_node_fuzz GROUP BY user_id"
    ).collect()
    assert len(rows) == 160
    for i, (direction, base, base_cond, chain, want) in enumerate(cases):
        got = {r.user_id: r[f"n{i}"] for r in rows}
        expect = {uid: v for uid, (_, v) in want.items()}
        assert got == expect, (direction, base, base_cond, chain)
