"""windowFunnel queries (``q_funnel*``) over the events table's
view → click → purchase chain.  ClickHouse's ``windowFunnel(window,
mode)`` takes the sliding window as its first argument; each mode is
registered over the same chain so the modes' driver rows are directly
comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhub_spark.catalog import load
from clickhub_spark.plans.registry import query


@query(
    "q_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t2 FROM events e
        JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t3 FROM events e
        JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT v.user_id,
           CAST(1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS INT)
               AS funnel_level
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel analog: per user, how far through the ordered
    chain view → click → purchase did they get (each stage strictly
    after the previous one's first occurrence)?  Three conditional
    min-aggregations chained by time — shuffles only on user_id."""
    ev = load(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.join(c.select("user_id", F.lit(1).alias("_c")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("_p")), "user_id", "left")
        .select(
            "user_id",
            (1 + F.coalesce(F.col("_c"), F.lit(0)) + F.coalesce(F.col("_p"), F.lit(0)))
            .cast("int")
            .alias("funnel_level"),
        )
    )


# --------------------------------------------------------------------------
# §2 funnel: windowFunnel strict_order mode
# --------------------------------------------------------------------------
@query(
    "q_funnel_strict",
    oracle="""
    WITH seqs AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                   AS seq
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), runs AS (
        SELECT user_id, regexp_extract(seq, 'v[vcp]*') AS run FROM seqs
    )
    SELECT level, CAST(COUNT(*) AS BIGINT) AS n_users FROM (
        SELECT CAST(CASE WHEN run = ''                  THEN 0
                         WHEN regexp_matches(run, '^v+p') THEN 1
                         WHEN run LIKE '%c%p%'          THEN 3
                         WHEN run LIKE '%c%'            THEN 2
                         ELSE 1 END AS INT) AS level
        FROM runs
    ) GROUP BY level
    """,
)
def q_funnel_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel strict_order mode, true ClickHouse scan semantics
    (round-10 rewrite, ADVICE r9 #1): the view → click → purchase scan
    aborts at the first event matching NO step once a chain has
    started; within the scanned prefix the chain is a SUBSEQUENCE
    (later-step events don't break it, repeated steps re-match).
    ClickHouse: windowFunnel(w, 'strict_order')(ts, ...) — docs:
    A,B,D,C → 2; v,s,v,c,p → 1; v,c,c,p → 3.

    The abort also fires on an OUT-OF-ORDER step event — one whose
    previous level is unachieved (the engine's strict_order branch
    returns the levels-so-far count): a p before any c stops the scan
    at level 1.

    The Spark side is K chained running-max window columns over one
    per-user sort (operators/funnel.window_funnel_strict — the greedy
    DP's chain starts are non-decreasing, so last ≡ max).  The oracle
    keeps an independent collapse-to-string derivation: the scanned
    prefix is exactly regexp 'v[vcp]*' over the per-user initial
    string; inside it (unbounded window ⇒ any c after the leading v
    achieves level 2) the level is: '^v+p' ⇒ premature-p abort at 1,
    '%c%p%' ⇒ 3, '%c%' ⇒ 2, else 1 — a different construction of the
    same semantics.  The time-bounded sibling is
    q_funnel_strict_window."""
    from clickhub_spark.operators.funnel import window_funnel_strict

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ini = F.substring("event_type", 1, 1)
    levels = window_funnel_strict(
        ev,
        user_col="user_id",
        order=["ts", "event_id"],
        steps=[ini == "v", ini == "c", ini == "p"],
    )
    return levels.groupBy("level").agg(F.count(F.lit(1)).alias("n_users"))


#: windowFunnel window length for every windowed funnel query here and
#: for q_ch_sql_funnel_strict: one day.
#: Chosen against the testdata's inter-event gap distribution (median
#: adjacent view→click gap ≈ 6.5 h) so every SF populates levels 1, 2
#: AND 3 while still gating a measurable share of chains that the
#: unbounded q_funnel_strict admits (sf0.001 under the true
#: strict_order scan: windowed level counts (12,2,1) vs unbounded
#: (10,3,2) users at levels 1/2/3).
FUNNEL_WINDOW_S = 86_400


#: DuckDB transcription of the windowed strict_order scan, shared with
#: q_ch_sql_funnel_strict (same steps and window through the SQL shim).
STRICT_WINDOW_ORACLE = f"""
    WITH e AS (
        SELECT user_id,
               substr(event_type, 1, 1) AS i,
               epoch(ts) AS t,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id IS NOT NULL
    ), b AS (
        SELECT *,
               MIN(CASE WHEN i = 'v' THEN rn END)
                   OVER (PARTITION BY user_id) AS first1
        FROM e
    ), q AS (
        SELECT user_id, i, t, rn, first1,
               (first1 IS NOT NULL AND rn >= first1) AS valid
        FROM b
    ), s0 AS (
        SELECT *,
               MAX(CASE WHEN valid AND i = 'v' THEN t END)
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS a0
        FROM q
    ), s1 AS (
        SELECT *,
               (valid AND i = 'c' AND a0 IS NOT NULL
                AND t <= a0 + {FUNNEL_WINDOW_S}) AS qual2
        FROM s0
    ), s2 AS (
        SELECT *,
               MAX(CASE WHEN qual2 THEN a0 END)
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS a1
        FROM s1
    ), s3 AS (
        SELECT *,
               CASE WHEN valid AND i = 'p' AND a1 IS NOT NULL
                         AND t <= a1 + {FUNNEL_WINDOW_S} THEN 3
                    WHEN qual2 THEN 2
                    WHEN valid AND i = 'v' THEN 1
                    ELSE 0 END AS l,
               (rn > first1
                AND (COALESCE(i NOT IN ('v','c','p'), TRUE)
                     OR (i = 'c' AND a0 IS NULL)
                     OR (i = 'p' AND a1 IS NULL))) AS brk_m
        FROM s2
    ), s4 AS (
        SELECT *,
               MIN(CASE WHEN brk_m THEN rn END)
                   OVER (PARTITION BY user_id) AS brk
        FROM s3
    ), u AS (
        SELECT user_id,
               COALESCE(MAX(CASE WHEN brk IS NULL OR rn < brk
                                 THEN l END), 0) AS level
        FROM s4 GROUP BY user_id
    )
    SELECT CAST(level AS INT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM u GROUP BY level
    """


@query("q_funnel_strict_window", oracle=STRICT_WINDOW_ORACLE)
def q_funnel_strict_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel WITH the window-length bound — ClickHouse
    ``windowFunnel(86400, 'strict_order')(ts, type='view', 'click',
    'purchase')``: true scan semantics (round-10 rewrite, ADVICE r9
    #1) — the scan aborts at the first intervening event after a
    chain starts: one matching NO step, or one matching a step whose
    previous level is unachieved (the engine's out-of-order branch —
    with the window, a 'p' whose chain expired aborts too); within
    the scanned prefix the chain is a subsequence whose step k must
    land within one day of the chain start INHERITED through level
    k-1 (chain starts reset at each new 'view'; ClickHouse
    events_timestamp propagation).

    Plan: per-user row_number + two partition-wide extrema locate the
    abort point; the greedy DP is K−1 chained running-max window
    columns over the SAME sort (chain starts are non-decreasing in
    scan order, so the engine's last-write state ≡ max) — one
    exchange, one sort, K window passes, then two hash aggregates.
    State bounded by K, never a per-user event buffer
    (operators/funnel.window_funnel_strict).  The oracle transcribes
    the identical construction in DuckDB window SQL; epoch comparison
    uses fractional seconds (Spark cast-to-double ≡ DuckDB epoch() at
    microsecond precision)."""
    from clickhub_spark.operators.funnel import window_funnel_strict

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ini = F.substring("event_type", 1, 1)
    levels = window_funnel_strict(
        ev,
        user_col="user_id",
        order=["ts", "event_id"],
        steps=[ini == "v", ini == "c", ini == "p"],
        ts_col="ts",
        window_s=FUNNEL_WINDOW_S,
    )
    return levels.groupBy("level").agg(F.count(F.lit(1)).alias("n_users"))


# --------------------------------------------------------------------------
# windowFunnel mode family: the operator's remaining three
# engine modes — default-with-window, strict_dedup, strict_increase —
# registered over the same view→click→purchase chain as
# q_funnel_strict / q_funnel_strict_window, so the four modes'
# semantics are directly comparable in driver rows.  Oracles
# transcribe the identical window-SQL construction in DuckDB
# (operators/funnel.py module docstring derives why the greedy DP
# collapses to running maxima).
# --------------------------------------------------------------------------

@query(
    "q_funnel_window",
    oracle=f"""
    WITH e AS (
        SELECT user_id,
               substr(event_type, 1, 1) AS i,
               epoch(ts) AS t,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id IS NOT NULL
    ), s0 AS (
        SELECT *,
               MAX(CASE WHEN i = 'v' THEN t END)
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS a0
        FROM e
    ), s1 AS (
        SELECT *,
               (i = 'c' AND a0 IS NOT NULL AND t <= a0 + {FUNNEL_WINDOW_S}) AS qual2
        FROM s0
    ), s2 AS (
        SELECT *,
               MAX(CASE WHEN qual2 THEN a0 END)
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS a1
        FROM s1
    ), lvl AS (
        SELECT user_id,
               CASE WHEN i = 'p' AND a1 IS NOT NULL
                         AND t <= a1 + {FUNNEL_WINDOW_S} THEN 3
                    WHEN qual2 THEN 2
                    WHEN i = 'v' THEN 1
                    ELSE 0 END AS l
        FROM s2
    ), u AS (
        SELECT user_id, MAX(l) AS level FROM lvl GROUP BY user_id
    )
    SELECT CAST(level AS INT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM u GROUP BY level
    """,
)
def q_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel DEFAULT mode with the window bound — ClickHouse
    ``windowFunnel(86400)(ts, type='view', 'click', 'purchase')``:
    non-matching events are ignored (no strict_order abort), the chain
    is a subsequence whose step k lands within one day of the chain
    start inherited through level k-1, chain starts resetting at each
    new 'view'.  The most-used form of the operator; completes the
    mode family next to q_funnel (unbounded chained-min construction,
    an independent derivation of the unbounded case) and
    q_funnel_strict_window.

    Plan: one user_id exchange, one sort, K−1 chained running-max
    window passes, two hash aggregates (operators/funnel.py)."""
    from clickhub_spark.operators.funnel import window_funnel

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ini = F.substring("event_type", 1, 1)
    levels = window_funnel(
        ev,
        user_col="user_id",
        order=["ts", "event_id"],
        steps=[ini == "v", ini == "c", ini == "p"],
        ts_col="ts",
        window_s=FUNNEL_WINDOW_S,
    )
    return levels.groupBy("level").agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "q_funnel_strict_dedup",
    oracle="""
    WITH e AS (
        SELECT user_id,
               substr(event_type, 1, 1) AS i,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id IS NOT NULL
    ), s0 AS (
        SELECT *,
               MAX(CASE WHEN i = 'v' THEN 1 END)
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS ach1
        FROM e
    ), s1 AS (
        SELECT *, (i = 'c' AND ach1 IS NOT NULL) AS qual2 FROM s0
    ), s2 AS (
        SELECT *,
               MAX(CASE WHEN qual2 THEN 1 END)
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS ach2
        FROM s1
    ), s3 AS (
        SELECT *, (i = 'p' AND ach2 IS NOT NULL) AS qual3 FROM s2
    ), s4 AS (
        SELECT *,
               MAX(CASE WHEN qual3 THEN 1 END)
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS ach3
        FROM s3
    ), lvl AS (
        SELECT user_id, rn,
               CASE WHEN qual3 THEN 3 WHEN qual2 THEN 2
                    WHEN i = 'v' THEN 1 ELSE 0 END AS l,
               CASE WHEN qual3 THEN rn END AS comp_rn,
               CASE WHEN i = 'c' AND ach2 IS NOT NULL THEN 2
                    WHEN i = 'p' AND ach3 IS NOT NULL THEN 3
                    END AS dup_l
        FROM s4
    ), u AS (
        SELECT user_id,
               CASE WHEN MIN(comp_rn) IS NOT NULL
                         AND (MIN(CASE WHEN dup_l IS NOT NULL
                                       THEN rn END) IS NULL
                              OR MIN(comp_rn) <
                                 MIN(CASE WHEN dup_l IS NOT NULL
                                          THEN rn END))
                    THEN 3
                    ELSE COALESCE(
                        arg_min(dup_l, rn) FILTER (dup_l IS NOT NULL),
                        MAX(l))
                    END AS level
        FROM lvl GROUP BY user_id
    )
    SELECT CAST(level AS INT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM u GROUP BY level
    """,
)
def q_funnel_strict_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel strict_dedup mode, unbounded — ClickHouse: a
    condition RE-matching an already-achieved level stops the scan at
    that event and returns ITS level (docs: A->B->B->C stops at the
    second B, level 2); repeated first-step events are exempt (they
    reset the chain start), and a COMPLETED funnel returns
    immediately (the engine's events_size early return), so a
    duplicate after the purchase never lowers the result.  Plan: the
    shared running-max DP plus one min_by for the first duplicate and
    one conditional min for the completion shield
    (operators/funnel.py); the oracle transcribes the identical
    construction with arg_min(...) FILTER."""
    from clickhub_spark.operators.funnel import window_funnel

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ini = F.substring("event_type", 1, 1)
    levels = window_funnel(
        ev,
        user_col="user_id",
        order=["ts", "event_id"],
        steps=[ini == "v", ini == "c", ini == "p"],
        modes=("strict_dedup",),
    )
    return levels.groupBy("level").agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "q_funnel_strict_increase",
    oracle=f"""
    WITH e AS (
        SELECT user_id,
               substr(event_type, 1, 1) AS i,
               epoch(ts) AS t,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id IS NOT NULL
    ), s0 AS (
        SELECT *,
               MAX(CASE WHEN i = 'v' THEN t END)
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS a0,
               MAX(CASE WHEN i = 'v' THEN t END)
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS e0
        FROM e
    ), s1 AS (
        SELECT *,
               (i = 'c' AND a0 IS NOT NULL AND t <= a0 + {FUNNEL_WINDOW_S}
                AND t > e0) AS qual2
        FROM s0
    ), s2 AS (
        SELECT *,
               MAX(CASE WHEN qual2 THEN a0 END)
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS a1,
               MAX(CASE WHEN qual2 THEN t END)
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS e1
        FROM s1
    ), lvl AS (
        SELECT user_id,
               CASE WHEN i = 'p' AND a1 IS NOT NULL
                         AND t <= a1 + {FUNNEL_WINDOW_S} AND t > e1 THEN 3
                    WHEN qual2 THEN 2
                    WHEN i = 'v' THEN 1
                    ELSE 0 END AS l
        FROM s2
    ), u AS (
        SELECT user_id, MAX(l) AS level FROM lvl GROUP BY user_id
    )
    SELECT CAST(level AS INT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM u GROUP BY level
    """,
)
def q_funnel_strict_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel strict_increase mode with the 1-day window —
    ClickHouse: step k only advances on a timestamp STRICTLY greater
    than the timestamp of the event that achieved level k-1 (the
    engine's events_timestamp pair's second element), so
    same-timestamp events never chain.  The achieving-event timestamp
    is itself non-decreasing in scan order, so it rides the same
    running-max trick as the chain start — one extra window column
    per level, same single sort (operators/funnel.py)."""
    from clickhub_spark.operators.funnel import window_funnel

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ini = F.substring("event_type", 1, 1)
    levels = window_funnel(
        ev,
        user_col="user_id",
        order=["ts", "event_id"],
        steps=[ini == "v", ini == "c", ini == "p"],
        ts_col="ts",
        window_s=FUNNEL_WINDOW_S,
        modes=("strict_increase",),
    )
    return levels.groupBy("level").agg(F.count(F.lit(1)).alias("n_users"))


# --------------------------------------------------------------------------
# §2.D sequence family: multi-match funnel
# --------------------------------------------------------------------------
@query(
    "q_funnel_multimatch",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, s.step
        FROM events, UNNEST([
            CASE WHEN event_type = 'view' AND value < 8 THEN 0 END,
            CASE WHEN (event_type = 'click' AND value < 12)
                   OR (event_type = 'view' AND value < 4) THEN 1 END,
            CASE WHEN (event_type = 'purchase' AND value < 16)
                   OR value < 2 THEN 2 END
        ]) AS s(step)
        WHERE user_id IS NOT NULL AND s.step IS NOT NULL
    ), o AS (
        SELECT *,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id, step) AS rn
        FROM e
    ), s0 AS (
        SELECT *,
               MAX(CASE WHEN step = 0 THEN rn END)
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS a0
        FROM o
    ), s1 AS (
        SELECT *, (step = 1 AND a0 IS NOT NULL) AS q2 FROM s0
    ), s2 AS (
        SELECT *,
               MAX(CASE WHEN q2 THEN rn END)
                   OVER (PARTITION BY user_id ORDER BY rn
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS a1
        FROM s1
    ), lvl AS (
        SELECT user_id,
               CASE WHEN step = 2 AND a1 IS NOT NULL THEN 3
                    WHEN q2 THEN 2
                    WHEN step = 0 THEN 1 ELSE 0 END AS l
        FROM s2
    ), u AS (
        SELECT user_id, MAX(l) AS level FROM lvl GROUP BY user_id
    )
    SELECT CAST(level AS INT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM u GROUP BY level
    """,
)
def q_funnel_multimatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel with OVERLAPPING step conditions (multi-match,
    NEW round 11 — operators/funnel.py): one event can advance
    several pending levels, exactly as the engine's aggregate inserts
    one (ts, step) entry per matched condition.  Steps here overlap
    on purpose: a 'view' event with value < 2 matches ALL THREE
    conditions (view & value<8; view & value<4; value<2) and climbs
    the whole funnel alone.

    The oracle transcribes the entry-explode + chained running-max
    construction (the family's documented oracle posture); the
    SEMANTICS are pinned independently by
    tests/test_funnel_differential.py::test_differential_multi_match,
    a fuzz against the sequential engine-scan transcription over
    overlapping alphabets.

    Plan: map-side explode (<= 3 entries/event, no shuffle), then the
    single-match DP — one user_id exchange, one sort, K window
    passes."""
    from clickhub_spark.operators.funnel import window_funnel

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ty, val = F.col("event_type"), F.col("value")
    levels = window_funnel(
        ev,
        user_col="user_id",
        order=["ts", "event_id"],
        steps=[
            (ty == "view") & (val < 8),
            ((ty == "click") & (val < 12)) | ((ty == "view") & (val < 4)),
            ((ty == "purchase") & (val < 16)) | (val < 2),
        ],
        multi_match=True,
    )
    return levels.groupBy("level").agg(F.count(F.lit(1)).alias("n_users"))
