"""Streaming queries (``q_stream_*``) in their batch-equivalent form.
These batch queries are the canonical, oracle-checked semantics; the
Structured Streaming implementations live in clickhub_spark/streaming/
and are unit-tested for batch/stream equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickhub_spark.catalog import load
from clickhub_spark.plans.registry import query


@query(
    "q_stream_slide",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '30 minutes', ts)
                - i * INTERVAL '30 minutes' AS TIMESTAMP) AS window_start,
           event_type, COUNT(*) AS n
    FROM events, UNNEST([0, 1]) t(i)
    GROUP BY 1, 2
    """,
)
def q_stream_slide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h width, 30 min slide, SURVEY §2.I3): every
    event lands in two overlapping windows.  Spark's window() handles
    the expansion natively; the oracle unnests the two candidate
    starts — both epoch-aligned to :00/:30."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.window(F.col("ts"), "1 hour", "30 minutes").alias("win"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n")
    )


@query(
    "q_stream_tumble",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate (≙ the stars-MV pattern applied
    per time bucket, SURVEY §2.I3).  Streaming form:
    streaming/mv.py uses window('ts','1 hour') + watermark; hour
    buckets align identically to date_trunc."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "q_stream_session",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, event_id, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_idx
        FROM flagged
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           ROUND(SUM(value), 2) AS session_value
    FROM sessions GROUP BY user_id, session_idx
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap, batch form
    (SURVEY §2.I3): gap-flag via lag, session id via running sum —
    the exact semantics session_window('ts','30 minutes') gives the
    streaming path (streaming/mv.py)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    ev = load(spark, sf_dir, "events")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts").cast("double") - F.lag("ts").over(w).cast("double") > 1800),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_idx", F.sum("is_new").over(run))
    return sessions.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


@query(
    "q_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id AS p_user,
           p.ts AS purchase_ts, c.event_id AS click_id,
           c.ts AS click_ts, ROUND(p.value, 2) AS value
    FROM events p
    JOIN events c ON c.user_id = p.user_id
                 AND c.event_type = 'click'
                 AND c.ts <= p.ts
                 AND c.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase'
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join, batch-equivalent form (SURVEY §2.I):
    purchases matched to same-user clicks in the preceding 30 minutes
    — the identical DataFrame expression streaming/mv.
    stream_stream_join runs with watermarks on both sides (unit-tested
    equal on static inputs).  The time-band predicate rides the
    user_id equi-key, so Catalyst plans a hash join + residual range
    filter, never a cartesian."""
    from clickhub_spark.streaming.mv import stream_stream_join

    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    out = stream_stream_join(clicks, purchases, window_seconds=1800)
    return out.select(
        "purchase_id",
        "p_user",
        "purchase_ts",
        "click_id",
        "click_ts",
        F.round("value", 2).alias("value"),
    )


@query(
    "q_stream_enrich",
    oracle="""
    SELECT CAST(date_trunc('hour', e.ts) AS TIMESTAMP) AS window_start,
           n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e
    JOIN nation n ON n.n_nationkey = e.user_id % 25
    GROUP BY 1, 2
    """,
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join, batch canon (SURVEY §2.I3
    adjunct — the third streaming join shape next to stream-stream
    q_stream_join and the windowed aggregates): tumbling-hour event
    aggregates enriched against a static dimension (user→nation via a
    deterministic FK).  In streaming form the dim is a broadcast
    static DataFrame joined per micro-batch — no stream state, no
    watermark needed on the dim side; tests/test_streaming.py's
    stream-static test pins that readStream shape's stream≡batch
    equivalence.  The batch canon broadcasts the same 25-row dim."""
    ev = load(spark, sf_dir, "events")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ev.join(F.broadcast(nation), ev["user_id"] % 25 == nation["n_nationkey"])
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "q_stream_stateful",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_total,
           ROUND(SUM(value), 2) AS v_total
    FROM events WHERE value IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch canon of the custom stateful streaming operator
    (streaming/stateful.running_user_totals — applyInPandasWithState,
    SURVEY §2.I): after the last micro-batch the per-user state holds
    exactly this groupBy's (count, sum) — the stream ≡ batch
    equivalence is pinned in tests/test_stateful.py, which drives the
    REAL streaming operator over a rate-limited source and compares
    its final emissions to this aggregate.  State is one fixed-width
    tuple per key, so the store is bounded by key cardinality at any
    corpus size."""
    return (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.round(F.sum("value"), 2).alias("v_total"),
        )
        .orderBy("user_id")
    )


@query(
    "q_stream_dedup",
    oracle="""
    SELECT event_id, CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT DISTINCT event_id FROM events WHERE event_id < 5000
    ) GROUP BY event_id HAVING count(*) = 1 ORDER BY event_id
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch canon of streaming exactly-once dedup
    (streaming/mv.stream_dedup — dropDuplicatesWithinWatermark, the
    Spark-native answer to at-least-once upstream delivery, SURVEY
    §2.I4): after the watermark closes, each key appears ONCE; the
    batch equivalent is DISTINCT on the key.  The streaming operator
    itself is exercised in tests/test_streaming (state bounded by the
    watermark delay, not the stream length — the 100 TB property)."""
    return (
        load(spark, sf_dir, "events")
        .where(F.col("event_id") < 5000)
        .select("event_id")
        .distinct()
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") == 1)
        .orderBy("event_id")
    )
