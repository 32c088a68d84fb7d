"""operators/topk — Misra-Gries heavy-hitter sketch.

Two regimes:
- exact (capacity ≥ per-partition distinct): the sketch must equal
  the exact group-count answer bit-for-bit — this is the regime the
  oracle-checked query (q_agg_topk_sketch) runs in;
- eviction (adversarially small capacity): the classic
  frequent-elements guarantees must hold — every reported key's true
  count lies inside the certified [lo, hi] interval, and any key
  whose true frequency exceeds N/capacity is reported.
"""

import numpy as np
from pyspark.sql import functions as F

from clickhub_spark.operators.topk import topk_sketch
from tests.conftest import cached_entries, final_plan


def _zipf_df(spark, n=20_000, n_keys=500, seed=7, parts=6):
    rng = np.random.default_rng(seed)
    # zipf-ish skew: key 0 dominates, long uniform tail
    ranks = rng.zipf(1.3, size=n) % n_keys
    df = spark.createDataFrame(
        [(f"k{int(r)}",) for r in ranks], "key string"
    ).repartition(parts)
    truth = {}
    for r in ranks:
        truth[f"k{int(r)}"] = truth.get(f"k{int(r)}", 0) + 1
    return df, truth


def test_exact_regime_equals_groupby(spark):
    df, truth = _zipf_df(spark)
    got = topk_sketch(df, "key", 10, capacity=4096).collect()
    exact = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r.key, r.est) for r in got] == exact
    # no eviction anywhere -> intervals collapse to the point
    assert all(r.lo == r.est == r.hi for r in got)


def test_eviction_regime_certified_intervals(spark):
    df, truth = _zipf_df(spark, n=30_000, n_keys=2_000, parts=8)
    got = topk_sketch(df, "key", 25, capacity=16).collect()
    # the decrement form drops the tail aggressively, so fewer than k
    # keys may survive — but every REPORTED interval must be valid,
    # and the true head (far above N/capacity) must all be reported
    assert got
    for r in got:
        t = truth.get(r.key, 0)
        assert r.lo <= t <= r.hi, (r.key, r.lo, t, r.hi)
    head = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    reported = {r.key for r in got}
    assert all(k in reported for k, _ in head), (head, reported)


def test_heavy_hitter_always_reported(spark):
    # one key holds 40% of a stream; capacity 8 over 4 partitions
    # -> true freq 12000 >> N/capacity = 3750, must be reported and
    # must rank first by est
    n = 30_000
    rows = [("hot",)] * 12_000 + [(f"t{i % 5_000}",) for i in range(n - 12_000)]
    df = spark.createDataFrame(rows, "key string").repartition(4)
    got = topk_sketch(df, "key", 5, capacity=8).collect()
    assert got[0].key == "hot"
    assert got[0].lo <= 12_000 <= got[0].hi


def test_single_partition_decrement_semantics(spark):
    # 1 partition, capacity 2, stream aaa bb c: the overflow subtracts
    # the excess-th-smallest counter (d=1), leaving a:2, b:1, dec=1 ->
    # certified intervals [est, est+dec] contain the truth
    df = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",), ("b",), ("c",)], "key string"
    ).coalesce(1)
    got = {r.key: r for r in topk_sketch(df, "key", 2, capacity=2).collect()}
    assert got["a"].lo <= 3 <= got["a"].hi
    other = [k for k in got if k != "a"][0]
    truth = {"b": 2, "c": 1}[other]
    assert got[other].lo <= truth <= got[other].hi


def test_capacity_validation(spark):
    df = spark.createDataFrame([("a",)], "key string")
    try:
        topk_sketch(df, "key", 1, capacity=0)
        raise AssertionError("capacity=0 must raise")
    except ValueError:
        pass


def test_weighted_exact_regime_and_validation(spark):
    # weighted form: ranks by summed weight, not row count — key "b"
    # has fewer rows but more mass
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 1), ("b", 10), ("c", None)],
        "key string, w long",
    )
    got = topk_sketch(df, "key", 3, capacity=16, weight_col="w").collect()
    assert [(r.key, r.est) for r in got] == [("b", 10), ("a", 3)]
    assert all(r.lo == r.est == r.hi for r in got)  # no overflow
    # negative weights must fail loudly (monotone-mass invariant)
    bad = spark.createDataFrame([("a", -1)], "key string, w long")
    try:
        topk_sketch(bad, "key", 1, capacity=4, weight_col="w").collect()
        raise AssertionError("negative weight must raise")
    except Exception as e:
        assert "non-negative" in str(e)


def test_weighted_eviction_intervals(spark):
    rng = np.random.default_rng(11)
    rows = [(f"k{int(i)}", int(w)) for i, w in
            zip(rng.integers(0, 400, 8_000), rng.integers(1, 9, 8_000))]
    truth = {}
    for k, w in rows:
        truth[k] = truth.get(k, 0) + w
    df = spark.createDataFrame(rows, "key string, w long").repartition(5)
    got = topk_sketch(df, "key", 10, capacity=12, weight_col="w").collect()
    assert got
    for r in got:
        assert r.lo <= truth.get(r.key, 0) <= r.hi, (r.key, r.lo, r.hi)


def test_sketch_runs_once_and_caches_nothing(spark):
    """The per-key counters and the decrement total share ONE sketch
    pass through exchange reuse — the executed plan runs a single
    MapInPandas — and no CacheManager entry outlives the query."""
    before = cached_entries(spark)
    df = spark.range(2000).select((F.col("id") % 50).cast("string").alias("key"))
    out = topk_sketch(df, "key", 5, capacity=8)
    out.collect()
    plan = final_plan(out)
    assert plan.count("MapInPandas") == 1 and "ReusedExchange" in plan
    assert cached_entries(spark) == before
