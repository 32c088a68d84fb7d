"""Approximate heavy hitters — the frequent-elements sketch behind
ClickHouse ``topK``/``topKWeighted`` (reference surface: the exact
group-count form lives in q_topk_freq; THIS is the bounded-memory
form for when the key space itself is too big to group — URLs,
shingles, n-grams at 100 TB).

Spark-first shape: one ``mapInPandas`` pass keeps a ``capacity``-entry
Misra-Gries summary PER PARTITION (the decrement form of the
Space-Saving/frequent-elements family; Misra & Gries 1982, mergeable
per Agarwal et al. PODS'12), so the shuffle carries at most
``capacity`` rows per partition instead of one row per distinct key.
The per-partition fold is batch-vectorized: each Arrow batch is
pre-aggregated with ``value_counts`` (or per-key weight sums in the
``topKWeighted`` form) and merged into the summary with
ONE pandas index-aligned add; when the summary overflows, the
excess-th-smallest counter ``d`` is subtracted from every counter in
one vectorized op (dropping all counters ≤ d — at least ``excess``
of them) and ``d`` accrues to the partition's decrement total.  No
per-key Python loop anywhere.

Misra-Gries invariants give certified bounds.  Within a partition p
with total decrement D_p: a kept counter c satisfies
c ≤ true_p ≤ c + D_p, and an absent key has true_p ≤ D_p.  Summing
over partitions, for every reported key:

- ``est`` = Σ counters  — a provable LOWER bound on the true count,
- ``lo``  = est,
- ``hi``  = est + Σ_p D_p — a provable UPPER bound (present
  partitions contribute ≤ D_p of undercount, absent ones ≤ D_p).

When no partition ever overflows (capacity ≥ per-partition distinct
keys) every D_p is zero, so est = lo = hi = the exact count — the
regime the oracle-checked query (q_agg_topk_sketch) runs in; the
eviction regime's invariants (lo ≤ true ≤ hi, heavy hitters with
frequency > N/capacity always reported) are pinned by
tests/test_topk_sketch.py and the 20M-row / 2M-key scale smoke
(``tools/scale topk_scale``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["topk_sketch"]


def _misra_gries_rows(key_col: str, capacity: int, weight_col: str = None):
    """Partition worker: fold all Arrow batches into one Misra-Gries
    summary, emit its counters plus ONE sentinel row (key NULL)
    carrying the partition's total decrement.  With ``weight_col``
    each batch contributes its per-key WEIGHT sums instead of row
    counts (the topKWeighted form) — the decrement logic and all
    invariants are unchanged, since MG never assumes unit increments."""

    def run(batches):
        import pandas as pd

        s = pd.Series(dtype="int64")
        dec = 0
        for pdf in batches:
            if weight_col is None:
                b = pdf[key_col].value_counts()
            else:
                if (pdf[weight_col] < 0).any():
                    raise ValueError(
                        f"{weight_col} must be non-negative for topk_sketch"
                    )
                b = pdf.groupby(key_col, sort=False)[weight_col].sum().astype(
                    "int64"
                )
            if b.empty:
                continue
            s = s.add(b, fill_value=0).astype("int64") if len(s) else b
            excess = len(s) - capacity
            if excess > 0:
                # d = excess-th smallest counter: subtracting it zeroes
                # (at least) the excess smallest entries in one shot
                d = int(s.nsmallest(excess).iloc[-1])
                s = s - d
                s = s[s > 0]
                dec += d
        yield pd.DataFrame(
            {
                "key": list(s.index) + [None],
                "cnt": list(s.values) + [0],
                "dec": [dec] * (len(s) + 1),
            }
        )

    return run


def topk_sketch(
    df: DataFrame,
    key_col: str,
    k: int,
    capacity: int = 4096,
    weight_col: str = None,
) -> DataFrame:
    """Top-``k`` keys of ``df[key_col]`` by approximate frequency.

    ``weight_col`` switches to the ClickHouse ``topKWeighted`` form:
    keys ranked by their summed NON-NEGATIVE integer weight instead
    of row count (NULL-weight rows are dropped; negative weights
    raise, since a decrement-based summary's bounds assume monotone
    mass).  All certified-bound semantics below are unchanged — MG
    never assumes unit increments.

    Returns (key, est, lo, hi) ordered by (est DESC, key) — ``key``
    the tiebreaker so the selected row SET is deterministic.  est is
    the summed Misra-Gries counter (a certified lower bound); hi adds
    the summed per-partition decrements (a certified upper bound), so
    the true count always lies in [lo, hi] and the interval collapses
    to the exact count whenever no partition overflowed.  Memory is
    O(capacity) per task and the shuffle carries ≤ capacity·P rows —
    independent of key cardinality, the property that matters when
    the keys are URLs/shingles at 100 TB and exact groupBy state is
    itself the bottleneck.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    if weight_col is None:
        src = df.select(F.col(key_col).cast("string").alias(key_col))
    else:
        # NULL weights carry no mass and are dropped JVM-side (keeps
        # the Arrow transfer int64-exact); negative weights raise
        # inside the fold (per-batch vectorized check, no extra scan)
        # because a decrement summary's bounds assume monotone mass
        src = df.where(F.col(weight_col).isNotNull()).select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(weight_col).cast("long").alias(weight_col),
        )
    rows = src.mapInPandas(
        _misra_gries_rows(key_col, capacity, weight_col),
        schema="key string, cnt long, dec long",
    )
    # per-key counters and the decrement total come from ONE
    # aggregation of the summary (≤ (capacity+1)·P rows): a keyed
    # group sums its counters, the sentinel rows (key NULL, one per
    # partition) sum their D_p.  Both branches below read the same
    # aggregate columns and split on n_keyed (0 only for the sentinel
    # group), which the optimizer cannot push beneath the grouping, so
    # they sit on ONE shuffle exchange and Spark's exchange reuse runs
    # the corpus scan + sketch once.  Nothing is cached, and the
    # builder stays plan-only (explain/plan-dump consumers never
    # trigger the scan)
    per_key = rows.groupBy("key").agg(
        F.sum(
            F.when(F.col("key").isNull(), F.col("dec")).otherwise(F.col("cnt"))
        ).alias("c"),
        F.count("key").alias("n_keyed"),
    )
    # Σ_p D_p rides a single-row broadcast cross join (house pattern:
    # totals meet the grid as a scalar, never a SinglePartition window)
    total_dec = per_key.where(F.col("n_keyed") == 0).agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("total_dec")
    )
    return (
        per_key.where(F.col("n_keyed") > 0)
        .crossJoin(F.broadcast(total_dec))
        .select(
            "key",
            F.col("c").alias("est"),
            F.col("c").alias("lo"),
            (F.col("c") + F.col("total_dec")).alias("hi"),
        )
        .orderBy(F.col("est").desc(), "key")
        .limit(k)
    )
