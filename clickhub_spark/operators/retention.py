"""GraphiteMergeTree-style retention rollup — age-tiered time-bucket
downsampling (the last MergeTree-family engine semantic: Summing ≙
streaming/mv, Replacing ≙ dedup.final_view, Collapsing ≙ collapsing,
Aggregating ≙ aggstate; reference README.md:132-134 DDL family).

ClickHouse's GraphiteMergeTree applies retention rules at merge time:
recent rows keep fine resolution, older rows collapse into coarser
time buckets with a configured aggregate.  This port expresses the
same contract as (a) a read-view transform (``rollup_retention``) and
(b) a physical ``OPTIMIZE``-style rewrite (``optimize_rollup``), like
the other engine FINALs.

The plan is one hash aggregate on (keys, bucket): the tier CASE and
the bucket arithmetic are map-side scalar expressions, partials
combine before the exchange, and the output is bounded by
keys × buckets — at 100 TB the exchange carries the rollup, never the
raw rows.  Bucketing: ``unix_timestamp`` truncates to whole epoch
seconds (oracles must use ``FLOOR(epoch(ts))`` for the same
truncation — see the verify gotchas), then the bucket start is
``FLOOR(epoch / bucket) * bucket`` on BOTH engines — floor, not a
long cast, so negative (pre-1970) epochs round toward -inf
identically.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def rollup_retention(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    value_col: str,
    tiers: Sequence[tuple[str, int]],
    default_bucket_s: int,
) -> DataFrame:
    """Collapse ``df`` into age-tiered time buckets.

    ``tiers``: (cutoff, bucket_seconds) pairs, NEWEST FIRST — a row
    with ``ts >= cutoff`` uses that tier's bucket; rows older than
    every cutoff use ``default_bucket_s`` (the coarsest tier).
    Cutoffs are literal timestamps, not ages: retention is relative
    to a pinned "now", which keeps the rollup deterministic and
    re-runnable (the ClickHouse engine evaluates age at merge time —
    pin "now" when porting a rules file).

    Output per (keys, bucket_start): ``n`` rows and ``total`` of
    ``value_col`` — deliberately the MERGEABLE pair only (avg rules
    derive mean = total/n at read time; carrying a materialized mean
    both breaks re-rollup, means-of-means, and is wire-fragile: a mean
    landing exactly on a decimal half diverges between engines'
    rounding — observed: 1036.62/16 = 64.78875).  ``bucket_s`` is kept
    so downstream can tell tiers apart; ``bucket_start`` is epoch
    seconds (BIGINT) for a cross-engine-stable wire form.
    """
    cutoffs = [c for c, _ in tiers]
    if cutoffs != sorted(cutoffs, reverse=True) or len(set(cutoffs)) != len(
        cutoffs
    ):
        # misordered tiers would silently assign the COARSE bucket to
        # the newest rows — and optimize_rollup would then destroy the
        # fine-grained data irrecoverably; fail loudly instead
        raise ValueError(
            f"tiers must be newest-first with strictly decreasing "
            f"cutoffs, got {cutoffs!r}"
        )
    bucket = F.lit(int(default_bucket_s))
    for cutoff, b in reversed(tiers):
        bucket = F.when(
            F.col(ts_col) >= F.lit(cutoff).cast("timestamp"), int(b)
        ).otherwise(bucket)
    epoch = F.unix_timestamp(F.col(ts_col))
    # FLOOR, not cast: double division + cast("long") truncates toward
    # zero, which diverges from the oracle's FLOOR (round toward -inf)
    # for pre-1970 timestamps (negative epochs) — bucket -3600/86400
    # must land at -86400, not 0
    start = (F.floor(epoch / bucket) * bucket).alias("bucket_start")
    return (
        df.select(
            *keys,
            bucket.cast("long").alias("bucket_s"),
            start,
            F.col(value_col).alias("__v"),
        )
        .groupBy(*keys, "bucket_s", "bucket_start")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("__v"), 2).alias("total"),
        )
    )


def optimize_rollup(
    spark: SparkSession,
    path: str,
    ts_col: str,
    keys: Sequence[str],
    value_col: str,
    tiers: Sequence[tuple[str, int]],
    default_bucket_s: int,
    target_files: int = 8,
) -> int:
    """Physically rewrite the table as its retention rollup (the
    GraphiteMergeTree merge) through sources/writer.compact, the one
    table-rewrite path — same writers-paused / recover contract as the
    other mutations.  TERMINAL: the output schema is
    (keys, bucket_s, bucket_start, n, total) — ``ts_col``/``value_col``
    are gone, so re-running this operator on its own output raises
    (UNRESOLVED_COLUMN), deliberately: there is no silent double
    rollup.  To coarsen an existing rollup, re-aggregate the mergeable
    pair by hand (``sum(n)``, ``sum(total)`` over the coarser bucket —
    sums of sums are exact; that is why the output carries exactly
    that pair and no derived mean).  Periodic retention should roll
    the RAW table with updated cutoffs, not re-roll a rollup.
    Returns the surviving row count."""
    from clickhub_spark.sources.writer import compact

    return compact(
        spark,
        path,
        [*keys, "bucket_start"],
        target_files=target_files,
        transform=lambda df: rollup_retention(
            df, ts_col, keys, value_col, tiers, default_bucket_s
        ),
    )
