"""ClickHouse-dialect queries (``q_ch_sql_*``, ``q_ch_ddl_*``): each runs
literal ClickHouse SQL end to end through ``sql_compat.run`` against the
registered views and is checked against an independent DuckDB oracle.
The unit pins for each construct live in tests/test_sql_compat.py.

Per-user timestamps are unique at every testdata scale factor, so the
shim's (t, step) entry order and the operators' (ts, event_id) order
coincide and the oracles are order-stable.  A ``WITH TOTALS`` totals row
carries NULL group keys on both engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhub_spark.catalog import load
from clickhub_spark.plans.queries_funnel import FUNNEL_WINDOW_S, STRICT_WINDOW_ORACLE
from clickhub_spark.plans.registry import query
from clickhub_spark.sql_compat import run, set_sample_key


def _events_view(spark: SparkSession, sf_dir: str) -> None:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")


@query("q_ch_sql_funnel_strict", oracle=STRICT_WINDOW_ORACLE)
def q_ch_sql_funnel_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``windowFunnel(86400, 'strict_order')`` as a LITERAL
    ClickHouse-dialect statement through sql_compat (the round-12
    all-modes fold), grouped to level counts.  Same steps, window and
    oracle as q_funnel_strict_window (r9), whose DataFrame operator
    carries the engine-scan differential — a shim-fold semantics
    regression flips THIS row red while that one stays green."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        f"""
        SELECT CAST(level AS INT) AS level, count() AS n_users FROM (
            SELECT user_id,
                   windowFunnel({FUNNEL_WINDOW_S}, 'strict_order')(
                       ts,
                       substring(event_type, 1, 1) = 'v',
                       substring(event_type, 1, 1) = 'c',
                       substring(event_type, 1, 1) = 'p') AS level
            FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        ) GROUP BY level
        """,
    )


@query(
    "q_ch_sql_seq_count",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id,
               (CASE WHEN event_type = 'view' THEN 1 ELSE 0 END
                + CASE WHEN event_type = 'click' OR value < 40
                       THEN 2 ELSE 0 END
                + CASE WHEN event_type = 'purchase' THEN 4 ELSE 0 END)
                   AS b
        FROM events WHERE user_id IS NOT NULL
    ), s AS (
        SELECT user_id,
               string_agg(substr('ABCDEFG', b, 1), ''
                          ORDER BY ts, event_id) AS seq
        FROM e WHERE b > 0 GROUP BY user_id
    )
    SELECT u.user_id,
           CAST(COALESCE(len(regexp_extract_all(seq, '[BCFG][DEFG]')),
                         0) AS INT) AS n_matches
    FROM (SELECT DISTINCT user_id FROM events
          WHERE user_id IS NOT NULL) u
    LEFT JOIN s USING (user_id)
    """,
)
def q_ch_sql_seq_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sequenceCount('(?2)(?3)')`` over overlapping conditions as a
    literal dialect statement — the same adjacency count
    q_seq_count_adjacent (r11) pins via the operator, here through
    the shim's bitset-string render.  The SQL GROUP BY emits a 0 row
    for entry-less users (the operator's groupBy drops them), so the
    oracle left-joins the full user set."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT user_id,
               sequenceCount('(?2)(?3)')(
                   ts, event_type = 'view',
                   event_type = 'click' OR value < 40,
                   event_type = 'purchase') AS n_matches
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        """,
    )


@query(
    "q_ch_sql_next_node",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER w AS next_type,
               row_number() OVER w AS rn
        FROM events WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), v AS (
        SELECT user_id, next_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY rn) AS mr
        FROM o WHERE event_type = 'view'
    )
    SELECT u.user_id, v.next_type AS next_node
    FROM (SELECT DISTINCT user_id FROM events
          WHERE user_id IS NOT NULL) u
    LEFT JOIN v ON v.user_id = u.user_id AND v.mr = 1
    """,
)
def q_ch_sql_next_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sequenceNextNode('forward', 'first_match')`` as a literal
    dialect statement (the round-12 sorted-entry-array render): the
    event after each user's first view, NULL when the user has no
    view or the view closes the stream — every user emitted (the
    r7 operator query emits only users WITH a view; the oracle here
    left-joins the full user set)."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT user_id,
               sequenceNextNode('forward', 'first_match')(
                   ts, event_type,
                   event_type = 'view', event_type = 'view') AS next_node
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        """,
    )


@query(
    "q_ch_sql_retention",
    oracle="""
    WITH f AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS m1,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS m2,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS m3
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    )
    SELECT CAST(SUM(m1) AS BIGINT) AS r1,
           CAST(SUM(m1 * m2) AS BIGINT) AS r2,
           CAST(SUM(m1 * m3) AS BIGINT) AS r3
    FROM f
    """,
)
def q_ch_sql_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``retention(view, click, purchase)`` as a literal dialect
    statement, consumed the canonical way (SUM of element_at over
    users — the cohort funnel report).  r[i] = cond1 AND cond_i each
    held on some event of the user."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT SUM(element_at(r, 1)) AS r1,
               SUM(element_at(r, 2)) AS r2,
               SUM(element_at(r, 3)) AS r3
        FROM (
            SELECT user_id,
                   retention(event_type = 'view',
                             event_type = 'click',
                             event_type = 'purchase') AS r
            FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        )
        """,
    )


@query(
    "q_ch_sql_topk",
    oracle="""
    WITH c AS (
        SELECT event_type, COUNT(*) AS n
        FROM events WHERE event_type IS NOT NULL
        GROUP BY event_type
        ORDER BY n DESC, event_type
        LIMIT 3
    )
    SELECT string_agg(event_type, ',' ORDER BY n DESC, event_type)
               AS top3
    FROM c
    """,
)
def q_ch_sql_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``topK(3)(event_type)`` as a literal dialect statement, wired
    as a CSV scalar (the driver canon rejects array cells).  The shim
    pins count-DESC, value-ASC tie order; the oracle recomputes the
    top 3 independently from a plain GROUP BY."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT concat_ws(',', topK(3)(event_type)) AS top3
        FROM events WHERE event_type IS NOT NULL
        """,
    )


@query(
    "q_ch_sql_funnel_multimatch",
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
    ), m AS (
        SELECT user_id, MAX(l) AS level FROM lvl GROUP BY user_id
    ), u AS (
        -- the dialect GROUP BY emits users with ZERO step-matching
        -- entries at level 0; CTE e drops them, so join back the
        -- full user set (the entry-less-user gap, review round 12)
        SELECT au.user_id, COALESCE(m.level, 0) AS level
        FROM (SELECT DISTINCT user_id FROM events
              WHERE user_id IS NOT NULL) au
        LEFT JOIN m USING (user_id)
    )
    SELECT CAST(level AS INT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM u GROUP BY level
    """,
)
def q_ch_sql_funnel_multimatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel with OVERLAPPING step conditions as a literal
    dialect statement — the exact silent-undercount case ADVICE r11
    flagged in the old one-entry-per-event shim fold, now a DRIVER
    row: a 'view' with value < 2 matches all three steps and must
    climb the whole funnel alone.  Same steps and oracle as
    q_funnel_multimatch (r11, the operator form); the dialect's
    mandatory window is set far beyond the data's time span, so the
    unbounded oracle applies.  Per-user timestamps are unique at
    every SF, so the fold's (t, step) entry order equals the
    operator's (ts, event_id, step)."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT CAST(level AS INT) AS level, count() AS n_users FROM (
            SELECT user_id,
                   windowFunnel(1000000000)(
                       ts,
                       event_type = 'view' AND value < 8,
                       (event_type = 'click' AND value < 12)
                           OR (event_type = 'view' AND value < 4),
                       (event_type = 'purchase' AND value < 16)
                           OR value < 2) AS level
            FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        ) GROUP BY level
        """,
    )


@query(
    "q_ch_sql_seq_events",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch(ts) AS t,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               (event_type = 'view') AS c1,
               (event_type = 'click' OR value < 40) AS c2,
               (event_type = 'purchase') AS c3
        FROM events
        WHERE user_id IS NOT NULL
          AND (event_type IN ('view', 'click', 'purchase')
               OR value < 40)
    ), m1 AS (
        SELECT user_id, MIN(rn) AS r1 FROM e WHERE c1 GROUP BY user_id
    ), m2 AS (
        SELECT e.user_id, MIN(rn) AS r2
        FROM e JOIN m1 USING (user_id)
        WHERE c2 AND rn > r1 GROUP BY e.user_id
    ), m3 AS (
        SELECT e.user_id, MIN(rn) AS r3
        FROM e JOIN m2 USING (user_id)
        WHERE c3 AND rn > r2 GROUP BY e.user_id
    ), u AS (SELECT DISTINCT user_id FROM events
             WHERE user_id IS NOT NULL)
    SELECT u.user_id,
           (m3.user_id IS NOT NULL) AS matched,
           ROUND(CASE WHEN m3.user_id IS NOT NULL
                 THEN (SELECT t FROM e WHERE e.user_id = u.user_id
                       AND e.rn = m1.r1) END, 6) AS ts1,
           ROUND(CASE WHEN m3.user_id IS NOT NULL
                 THEN (SELECT t FROM e WHERE e.user_id = u.user_id
                       AND e.rn = m2.r2) END, 6) AS ts2,
           ROUND(CASE WHEN m3.user_id IS NOT NULL
                 THEN (SELECT t FROM e WHERE e.user_id = u.user_id
                       AND e.rn = m3.r3) END, 6) AS ts3
    FROM u
    LEFT JOIN m1 USING (user_id)
    LEFT JOIN m2 USING (user_id)
    LEFT JOIN m3 USING (user_id)
    """,
)
def q_ch_sql_seq_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sequenceMatchEvents('(?1).*(?2).*(?3)')`` as a literal
    dialect statement (the round-12 greedy-trail aggregate fold),
    trail exploded to scalar columns for the driver canon.  The
    oracle is q_seq_match_events' (r11) INDEPENDENT correlated-min
    derivation, extended over the full user set (the dialect GROUP
    BY emits entry-less users with an empty trail)."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT user_id,
               size(trail) = 3 AS matched,
               round(try_element_at(trail, 1), 6) AS ts1,
               round(try_element_at(trail, 2), 6) AS ts2,
               round(try_element_at(trail, 3), 6) AS ts3
        FROM (
            SELECT user_id,
                   sequenceMatchEvents('(?1).*(?2).*(?3)')(
                       ts, event_type = 'view',
                       event_type = 'click' OR value < 40,
                       event_type = 'purchase') AS trail
            FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        )
        """,
    )


@query(
    "q_ch_sql_limit_by",
    oracle="""
    WITH r AS (
        SELECT user_id, event_id, event_type, ts,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT user_id, event_id, event_type, ts
    FROM r WHERE rn <= 2
    """,
)
def q_ch_sql_limit_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``ORDER BY … LIMIT 2 BY event_type`` as a literal
    dialect statement — the first two events of each type in time
    order (globally-unique event_id as the tiebreaker).  The shim
    rewrites LIMIT BY to a row_number window over the statement's
    ORDER BY — which must be projected by the body (the documented
    single-tail scope), so ts rides along in the output.  The oracle
    IS that window, written directly in DuckDB."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT user_id, event_id, event_type, ts
        FROM events WHERE user_id IS NOT NULL
        ORDER BY ts, event_id LIMIT 2 BY event_type
        """,
    )


@query(
    "q_ch_sql_with_fill",
    oracle="""
    WITH hourly AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE event_type = 'purchase' AND value > 99
        GROUP BY 1
    ), b AS (
        SELECT min(h) AS lo, max(h) AS hi FROM hourly
    ), spine AS (
        SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR))
                    AS TIMESTAMP) AS h
        FROM b
    )
    SELECT s.h AS h, COALESCE(d.n, 0) AS n
    FROM spine s LEFT JOIN hourly d USING (h)
    """,
)
def q_ch_sql_with_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ORDER BY h WITH FILL STEP INTERVAL 1 HOUR`` as a LITERAL
    ClickHouse-dialect statement (docs: ORDER BY … WITH FILL).  The
    ``value > 99`` slice leaves real hour gaps at every SF (635 / 512
    / 20 missing hours at sf0.001/0.01/0.1), so the inserted zero
    rows are load-bearing in the hash compare.  run() executes the
    inner aggregate and applies operators/fill.py — a one-row min/max
    bound exploded through sequence(), full-outer joined back; the
    oracle builds the identical spine via generate_series."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT toStartOfHour(ts) AS h, count() AS n
        FROM events WHERE event_type = 'purchase' AND value > 99
        GROUP BY h ORDER BY h WITH FILL STEP INTERVAL 1 HOUR
        """,
    )


@query(
    "q_ch_sql_with_fill_range",
    oracle="""
    WITH agg AS (
        SELECT CAST(FLOOR(value / 8) AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
        FROM events WHERE event_type = 'view' AND value BETWEEN 0 AND 99
        GROUP BY 1
    ), spine AS (
        SELECT UNNEST(generate_series(0, 19)) AS bucket
    )
    SELECT s.bucket AS bucket, COALESCE(a.n, 0) AS n,
           COALESCE(a.users, 0) AS users
    FROM spine s LEFT JOIN agg a USING (bucket)
    """,
)
def q_ch_sql_with_fill_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WITH FILL FROM 0 TO 20`` (TO exclusive) over a numeric
    bucket key: data tops out at bucket 12 (value <= 99, width 8), so
    buckets 13-19 are inserted with column defaults (0 counts) at
    EVERY scale factor — the FROM/TO extension path is always
    exercised, not only when the data happens to have gaps.  Multiple
    non-fill aggregate columns pin the per-column default fill."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT toInt64(value / 8) AS bucket, count() AS n,
               uniqExact(user_id) AS users
        FROM events WHERE event_type = 'view' AND value BETWEEN 0 AND 99
        GROUP BY bucket ORDER BY bucket WITH FILL FROM 0 TO 20
        """,
    )


@query(
    "q_ch_sql_asof",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id, ts, value FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ), v AS (
        SELECT user_id, ts, value AS seen_value FROM events
        WHERE event_type = 'view' AND user_id IS NOT NULL
    )
    SELECT p.user_id AS user_id, p.event_id AS event_id,
           p.ts AS ts, p.value AS value, v.seen_value AS seen_value
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def q_ch_sql_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ASOF LEFT JOIN … USING (user_id, ts)`` as a LITERAL
    ClickHouse-dialect statement: each purchase joined to the user's
    latest prior view.  run() substitutes the fragment with the
    union+window asof operator (operators/asof.py — no candidate-pair
    materialization, ONE shuffle on the key), which is why this is a
    delegation and not a SQL render: the range-join + row_number form
    a pure rewrite would need explodes at 100 TB.  The oracle is
    DuckDB's NATIVE ASOF LEFT JOIN — an independent engine's
    implementation of the same semantics, not a transcription.
    Unmatched rows keep NULL (ClickHouse join_use_nulls = 1)."""
    ev = load(spark, sf_dir, "events")
    ev.where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select("user_id", "event_id", "ts", "value").createOrReplaceTempView(
        "purchases_t"
    )
    ev.where(
        (F.col("event_type") == "view") & F.col("user_id").isNotNull()
    ).select(
        "user_id", "ts", F.col("value").alias("seen_value")
    ).createOrReplaceTempView("views_t")
    return run(
        spark,
        """
        SELECT user_id, event_id, ts, value, seen_value
        FROM purchases_t ASOF LEFT JOIN views_t USING (user_id, ts)
        """,
    )


@query(
    "q_ch_ddl_roundtrip",
    oracle="""
    SELECT * FROM (VALUES
        ('org/alpha', CAST(2 AS BIGINT), CAST(30 AS BIGINT)),
        ('org/beta',  CAST(1 AS BIGINT), CAST(7  AS BIGINT))
    ) AS t(repo_name, n_commits, lines_added)
    """,
)
def q_ch_ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DDL/DML front-end (ddl.py) under driver correctness: the
    reference's LITERAL git.commits CREATE TABLE (types.json:7) plus
    INSERT … VALUES statements build a ReplacingMergeTree table in a
    scratch warehouse; the FINAL view then dedups the re-imported
    row and a ClickHouse-dialect SELECT aggregates it.  Every layer
    is the statement path — no DataFrame shortcuts — so a parser or
    engine-dispatch regression flips this row red.  Content is fixed
    (sf-independent); the oracle is the hand-computed result."""
    import shutil
    import tempfile

    from clickhub_spark.ddl import Warehouse

    # pid-suffixed: concurrent runs (or two users on a shared box)
    # must not rmtree each other's live warehouse (review finding)
    root = tempfile.gettempdir() + f"/chwh_ddl_roundtrip_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    wh = Warehouse(root)
    wh.execute("CREATE DATABASE IF NOT EXISTS git")
    # reference types.json:7 — verbatim
    wh.execute(
        "CREATE TABLE git.commits ( `hash` String, `author` "
        "LowCardinality(String), `time` DateTime, `message` String, "
        "`files_added` UInt32, `files_deleted` UInt32, `files_renamed` "
        "UInt32, `files_modified` UInt32, `lines_added` UInt32, "
        "`lines_deleted` UInt32, `hunks_added` UInt32, `hunks_removed` "
        "UInt32, `hunks_changed` UInt32, `repo_name` "
        "LowCardinality(String), `updated_at` DateTime MATERIALIZED "
        "now() ) ENGINE = ReplacingMergeTree ORDER BY (repo_name, time, "
        "hash)"
    )
    ins = (
        "INSERT INTO git.commits (hash, author, time, message, "
        "files_added, files_deleted, files_renamed, files_modified, "
        "lines_added, lines_deleted, hunks_added, hunks_removed, "
        "hunks_changed, repo_name) VALUES "
    )
    wh.execute(
        ins + "('h1', 'alice', '2024-01-01 10:00:00', 'm1', "
        "1, 0, 0, 0, 10, 2, 1, 0, 0, 'org/alpha'), "
        "('h2', 'bob', '2024-01-02 11:00:00', 'm2', "
        "2, 1, 0, 0, 20, 3, 2, 0, 0, 'org/alpha'), "
        "('h3', 'carol', '2024-01-03 12:00:00', 'm3', "
        "1, 0, 0, 0, 7, 1, 1, 0, 0, 'org/beta')",
        spark=spark,
    )
    # idempotent re-import: the same h2 arrives again (identical
    # payload) — base table holds 4 rows, FINAL must keep 3
    wh.execute(
        ins + "('h2', 'bob', '2024-01-02 11:00:00', 'm2', "
        "2, 1, 0, 0, 20, 3, 2, 0, 0, 'org/alpha')",
        spark=spark,
    )
    wh.register_views(spark)
    return run(
        spark,
        "SELECT repo_name, count() AS n_commits, "
        "sum(lines_added) AS lines_added "
        "FROM git_commits_final GROUP BY repo_name",
    )


@query(
    "q_ch_sql_any_join",
    oracle="""
    WITH first_v AS (
        SELECT user_id,
               CAST(MIN(value) AS DOUBLE) AS first_value
        FROM events WHERE event_type = 'view' AND user_id IS NOT NULL
        GROUP BY user_id
    ), p AS (
        SELECT user_id, event_id, value FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
    )
    SELECT p.user_id AS user_id, p.event_id AS event_id,
           p.value AS value, f.first_value AS first_value
    FROM p LEFT JOIN first_v f USING (user_id)
    """,
)
def q_ch_sql_any_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ANY LEFT JOIN`` strictness as a literal dialect statement:
    each purchase joined to AT MOST ONE row of a per-user quote view.
    The rewrite dedupes the right side with a key-partitioned
    row_number subquery BEFORE the join — one extra window over the
    small side, no fanout on the probe side.  The right view is
    unique-per-key BY CONSTRUCTION (min aggregate), so ClickHouse's
    'arbitrary matching row' is pinned and the oracle is a plain
    LEFT JOIN against the same aggregate."""
    ev = load(spark, sf_dir, "events")
    ev.where(
        (F.col("event_type") == "view") & F.col("user_id").isNotNull()
    ).groupBy("user_id").agg(
        F.min("value").cast("double").alias("first_value")
    ).createOrReplaceTempView("first_view_t")
    ev.where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select("user_id", "event_id", "value").createOrReplaceTempView(
        "purchases_any_t"
    )
    return run(
        spark,
        """
        SELECT a.user_id AS user_id, a.event_id AS event_id,
               a.value AS value, b.first_value AS first_value
        FROM purchases_any_t a ANY LEFT JOIN first_view_t b
        ON a.user_id = b.user_id
        """,
    )


@query(
    "q_ch_sql_totals",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) + 0.0 AS sv,
           CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT)
               AS big,
           ROUND(quantile_cont(value, 0.5), 4) + 0.0 AS med
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY GROUPING SETS ((event_type), ())
    """,
)
def q_ch_sql_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY … WITH TOTALS`` as a literal dialect statement: the
    shim renders the totals row as the empty grouping set (NULL group
    keys — ClickHouse shows the type default in flat formats, but the
    row SET is identical).  countIf and medianExact ride along so the
    battery's -If and exact-quantile renders face the value-hash.
    One exchange: GROUPING SETS shares the shuffle across both sets."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT event_type,
               count() AS n,
               round(sum(value), 4) + 0.0 AS sv,
               countIf(value > 50) AS big,
               round(medianExact(value), 4) + 0.0 AS med
        FROM events
        WHERE event_type IS NOT NULL
        GROUP BY event_type WITH TOTALS
        """,
    )


@query(
    "q_ch_sql_prewhere",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) + 0.0 AS sv
    FROM events
    WHERE (value > 5)
      AND (event_type IN ('view', 'click') OR value > 90)
    GROUP BY event_type
    """,
)
def q_ch_sql_prewhere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``PREWHERE p1 WHERE p2`` — ClickHouse applies the CONJUNCTION
    (PREWHERE is only a scan-order hint); the shim merges the clauses
    with both sides parenthesized so the OR in the WHERE keeps its
    binding.  Catalyst pushes the merged predicate into the parquet
    scan — the hint's purpose is native to the planner here."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT event_type, count() AS n, round(sum(value), 4) + 0.0 AS sv
        FROM events
        PREWHERE value > 5
        WHERE event_type IN ('view', 'click') OR value > 90
        GROUP BY event_type
        """,
    )


@query(
    "q_ch_sql_battery4",
    oracle="""
    SELECT event_id,
           CASE WHEN event_type = 'view' THEN 'V'
                WHEN event_type = 'click' THEN 'C'
                ELSE '?' END AS et_code,
           str_split(event_type, 'e')[1] AS et_head,
           CAST(gcd(event_id, 24) AS BIGINT) AS g,
           CAST(event_id & 1 AS INT) AS low_bit,
           CAST((event_id >> 24) & 255 AS VARCHAR) || '.' ||
           CAST((event_id >> 16) & 255 AS VARCHAR) || '.' ||
           CAST((event_id >> 8) & 255 AS VARCHAR) || '.' ||
           CAST(event_id & 255 AS VARCHAR) AS ip,
           CAST(date_trunc('week', ts) AS DATE) AS monday,
           CAST(CASE WHEN user_id % 5 = 0 THEN 0
                     ELSE event_id % (user_id % 5) END AS BIGINT) AS mz,
           ROUND((value + 1.0) / (abs(value) + 2.0), 4) + 0.0 AS dv
    FROM events
    WHERE event_id < 500
    """,
)
def q_ch_sql_battery4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A literal dialect statement sweeping the battery-4 scalar
    renders that are deterministic and DuckDB-expressible: lookup
    transform(), splitByString + 1-based arrayElement, gcd (the
    92-step Euclid fold), bitTest, IPv4NumToString, toMonday,
    moduloOrZero, and divide()'s always-Float64 division (the IEEE
    zero-divisor branches are pytest-pinned; the driver row keeps a
    strictly positive denominator so both engines hash finite
    values).  All
    expressions stay inside whole-stage codegen (no UDFs); the
    predicate and 4-column read reach the parquet scan."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT event_id,
               transform(event_type, ['view', 'click'], ['V', 'C'], '?')
                   AS et_code,
               arrayElement(splitByString('e', event_type), 1) AS et_head,
               gcd(event_id, 24) AS g,
               bitTest(event_id, 0) AS low_bit,
               IPv4NumToString(event_id) AS ip,
               toMonday(ts) AS monday,
               moduloOrZero(event_id, user_id % 5) AS mz,
               round(divide(value + 1.0, abs(value) + 2.0), 4) + 0.0 AS dv
        FROM events
        WHERE event_id < 500
        """,
    )


@query(
    "q_ch_ddl_ctas",
    oracle="""
    SELECT CAST(ts AS DATE) AS d,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) + 0.0 AS sv
    FROM events WHERE event_type = 'view'
    GROUP BY CAST(ts AS DATE)
    UNION ALL
    SELECT CAST(ts AS DATE) + 1000 AS d,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) + 0.0 AS sv
    FROM events WHERE event_type = 'click'
    GROUP BY CAST(ts AS DATE)
    """,
)
def q_ch_ddl_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse ETL statement surface end to end: CREATE TABLE …
    AS SELECT derives the schema from a dialect aggregate over events
    and writes it sort-clustered; INSERT … SELECT appends a second
    slice (click days shifted +1000 so key sets are disjoint) matching
    columns by position through the shim; RENAME TABLE moves the
    table; the final dialect SELECT reads the renamed view.  Every
    layer is the statement path — a parser, dispatch, or
    insert-alignment regression flips this row red.  The oracle
    recomputes both slices directly from parquet."""
    import shutil
    import tempfile

    from clickhub_spark.ddl import Warehouse

    _events_view(spark, sf_dir)
    # pid-suffixed: concurrent runs (or two users on a shared box)
    # must not rmtree each other's live warehouse (review finding)
    root = tempfile.gettempdir() + f"/chwh_ddl_ctas_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    wh = Warehouse(root)
    wh.execute("CREATE DATABASE IF NOT EXISTS ana")
    wh.execute(
        "CREATE TABLE ana.daily ENGINE = MergeTree() ORDER BY (d) AS "
        "SELECT toDate(ts) AS d, count() AS n, "
        "round(sum(value), 4) + 0.0 AS sv "
        "FROM events WHERE event_type = 'view' GROUP BY toDate(ts)",
        spark=spark,
    )
    wh.execute(
        "INSERT INTO ana.daily "
        "SELECT addDays(toDate(ts), 1000) AS d, count() AS n, "
        "round(sum(value), 4) + 0.0 AS sv "
        "FROM events WHERE event_type = 'click' GROUP BY toDate(ts)",
        spark=spark,
    )
    wh.execute("RENAME TABLE ana.daily TO ana.daily_all")
    wh.register_views(spark)
    return run(spark, "SELECT d, n, sv FROM ana_daily_all")


@query(
    "q_ch_ddl_mv",
    oracle="""
    WITH ev AS (
        SELECT event_type AS et, value AS v, event_id
        FROM events WHERE event_type IS NOT NULL
    ), blocks AS (
        SELECT et, CAST(count(*) AS BIGINT) AS n, ROUND(SUM(v), 4) AS sv
        FROM ev WHERE event_id % 2 = 0 GROUP BY et
        UNION ALL
        SELECT et, CAST(count(*) AS BIGINT) AS n, ROUND(SUM(v), 4) AS sv
        FROM ev WHERE event_id % 2 = 1 GROUP BY et
    )
    SELECT et, CAST(SUM(n) AS BIGINT) AS n,
           ROUND(SUM(sv), 4) + 0.0 AS sv
    FROM blocks GROUP BY et
    """,
)
def q_ch_ddl_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's insert-maintained rollup, every layer a literal
    statement: a MATERIALIZED VIEW ``TO`` a SummingMergeTree target
    fires PER INSERTED BLOCK (the SELECT runs over the block only —
    no global recompute), each block appending one partial-aggregate
    row per key; the SummingMergeTree merges the partials on read.
    Two INSERT … SELECT blocks (even/odd event_id) land two partials
    per key; the oracle reproduces the block-wise rounding exactly.
    At 100 TB this is the pattern that replaces full-table rollup
    jobs: each ingest batch shuffles only itself."""
    import shutil
    import tempfile

    from clickhub_spark.ddl import Warehouse

    _events_view(spark, sf_dir)
    # pid-suffixed: concurrent runs (or two users on a shared box)
    # must not rmtree each other's live warehouse (review finding)
    root = tempfile.gettempdir() + f"/chwh_ddl_mv_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    wh = Warehouse(root)
    wh.execute("CREATE DATABASE IF NOT EXISTS ana")
    wh.execute(
        "CREATE TABLE ana.ev (`et` String, `v` Float64) "
        "ENGINE = MergeTree ORDER BY (et)"
    )
    wh.execute(
        "CREATE TABLE ana.totals (`et` String, `n` Int64, `sv` Float64) "
        "ENGINE = SummingMergeTree ORDER BY (et)"
    )
    wh.execute(
        "CREATE MATERIALIZED VIEW ana.mv TO ana.totals AS "
        "SELECT et, count() AS n, round(sum(v), 4) AS sv "
        "FROM ana.ev GROUP BY et",
        spark=spark,
    )
    for parity in (0, 1):
        wh.execute(
            "INSERT INTO ana.ev SELECT event_type, value FROM events "
            f"WHERE event_id % 2 = {parity} AND event_type IS NOT NULL",
            spark=spark,
        )
    wh.register_views(spark)
    return run(
        spark,
        "SELECT et, n, round(sv, 4) + 0.0 AS sv FROM ana_totals_final",
    )


@query(
    "q_ch_sql_table_fns",
    oracle="""
    SELECT b.range AS bucket,
           CAST(count(l.l_orderkey) AS BIGINT) AS n,
           ROUND(SUM(COALESCE(l.l_extendedprice, 0)), 2) + 0.0 AS rev
    FROM range(0, 8) b
    LEFT JOIN lineitem l
      ON CAST(floor(l.l_quantity / 7) AS BIGINT) = b.range
    GROUP BY b.range
    """,
)
def q_ch_sql_table_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect TABLE FUNCTIONS as a literal statement: ``numbers(8)``
    (the engine's integer generator — rendered as Spark's range()
    table with the `number` column) LEFT JOINed to ``file(path,
    'Parquet')`` (the engine's local-file relation — Spark's
    path-based ``parquet.`…``` table, so the scan gets pushdown and
    pruning like any catalog table).  l_quantity is 1..50 so every
    bucket 0..7 is populated; the oracle uses DuckDB's native range()
    table function against the pre-registered lineitem view (the same
    parquet file() reads)."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        f"""
        SELECT b.number AS bucket,
               count(l.l_orderkey) AS n,
               round(sum(coalesce(l.l_extendedprice, 0)), 2) + 0.0 AS rev
        FROM numbers(8) AS b
        LEFT JOIN file('{sf_dir}/lineitem.parquet', 'Parquet') AS l
          ON toInt64(floor(l.l_quantity / 7)) = b.number
        GROUP BY b.number
        """,
    )


@query(
    "q_ch_sql_battery5",
    oracle="""
    WITH base AS (
        SELECT event_id, ts, value,
               date_trunc('year', ts)::DATE AS jan1
        FROM events WHERE event_id < 400
    ), wk AS (
        SELECT *,
               date_diff('day',
                         jan1 + CAST((7 - dayofweek(jan1)) % 7 AS INTEGER),
                         ts::DATE) AS days_from_fs
        FROM base
    )
    SELECT event_id,
           CAST(CASE WHEN days_from_fs < 0 THEN 0
                     ELSE days_from_fs // 7 + 1 END AS INT) AS wk,
           CAST(CASE WHEN days_from_fs < 0 THEN 202353
                     ELSE year(ts) * 100 + (days_from_fs // 7 + 1)
                END AS INT) AS yw,
           CAST(isodow(ts) AS INT) AS dow,
           CAST(date_diff('day', TIMESTAMP '2024-01-01 00:00:00', ts)
                AS BIGINT) AS dd,
           CAST(floor(epoch(ts - TIMESTAMP '2024-01-01 00:00:00') / 3600)
                AS BIGINT) AS ah,
           ROUND(1.0 * value + 2.0 * 1.0, 4) + 0.0 AS dp,
           ROUND(least(greatest(value, 10.0), 50.0), 4) + 0.0 AS cl
    FROM wk
    """,
)
def q_ch_sql_battery5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Battery-5 renders under the driver's value-hash, as one literal
    statement over events: toWeek/toYearWeek mode 0 (Jan 1-6 2024
    precede the year's first Sunday, so the week-0 branch AND the
    year-week rollback to 202353 are exercised on real rows),
    toDayOfWeek (Monday=1 ≡ DuckDB isodow), dateDiff (BOUNDARY
    crossings ≡ DuckDB date_diff) vs age (complete units ≡ epoch
    floor), arrayDotProduct, and clamp.  The oracle reimplements the
    MySQL week-0 definition from first principles (first-Sunday
    datediff), not via the shim's construction."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT event_id,
               toWeek(ts) AS wk,
               toYearWeek(ts) AS yw,
               toDayOfWeek(ts) AS dow,
               dateDiff('day', toDateTime('2024-01-01 00:00:00'), ts) AS dd,
               age('hour', toDateTime('2024-01-01 00:00:00'), ts) AS ah,
               round(arrayDotProduct([1.0, 2.0], [value, 1.0]), 4) + 0.0 AS dp,
               round(clamp(value, 10.0, 50.0), 4) + 0.0 AS cl
        FROM events WHERE event_id < 400
        """,
    )


@query(
    "q_ch_sql_qualify",
    oracle="""
    SELECT user_id, event_id, ROUND(value, 4) + 0.0 AS v
    FROM events WHERE user_id IS NOT NULL
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY value DESC, event_id) = 1
    """,
)
def q_ch_sql_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``QUALIFY`` — the post-window filter — as a literal statement:
    each user's top event by value (event_id the deterministic
    tiebreak).  The shim wraps the query, filters on a helper
    projection column, and drops it; the oracle is DuckDB's NATIVE
    QUALIFY — an independent engine's implementation of the clause,
    not a transcription.  One exchange (the window's hash partition
    by user_id); the filter runs post-window exactly as the clause
    defines."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT user_id, event_id, round(value, 4) + 0.0 AS v
        FROM events WHERE user_id IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY user_id
                                   ORDER BY value DESC, event_id) = 1
        """,
    )


@query(
    "q_ch_sql_battery6",
    oracle="""
    WITH q AS (
        SELECT user_id, event_id, ROUND(value * 2, 4) + 0.0 AS v2
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY user_id
                                   ORDER BY ROUND(value * 2, 4) + 0.0 DESC,
                                            event_id) <= 3
    )
    SELECT user_id, event_id, v2 FROM q
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY v2 DESC, event_id) <= 2
    ORDER BY user_id, v2 DESC, event_id
    """,
)
def q_ch_sql_battery6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREWHERE + WHERE + alias-referencing QUALIFY + LIMIT BY stacked
    in ONE literal ClickHouse statement: per user, QUALIFY keeps the
    top-3 events by the ALIASED projection v2 (the shim inlines the
    alias into the window, ClickHouse-style), then LIMIT 2 BY cuts to
    2 per user in statement order.  The oracle composes DuckDB's
    NATIVE QUALIFY twice — fully independent of the shim's
    row_number subquery construction."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT user_id, event_id, round(value * 2, 4) + 0.0 AS v2
        FROM events
        PREWHERE user_id IS NOT NULL
        WHERE value IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY user_id
                                   ORDER BY v2 DESC, event_id) <= 3
        ORDER BY user_id, v2 DESC, event_id
        LIMIT 2 BY user_id
        """,
    )


@query(
    "q_ch_sql_battery6b",
    oracle="""
    SELECT user_id,
           ROUND(COALESCE(SUM(CASE WHEN value > 250 THEN value END), 0), 4)
               + 0.0 AS hi_sum,
           CAST(COUNT(CASE WHEN value > 250 THEN 1 END) AS BIGINT) AS hi_n,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE user_id IS NOT NULL AND value IS NOT NULL
    GROUP BY user_id
    QUALIFY rank() OVER (ORDER BY COUNT(*) DESC, user_id) <= 40
    ORDER BY user_id
    """,
)
def q_ch_sql_battery6b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-set -If defaults under the driver hash: sumIf over a
    condition many groups fail must return ClickHouse's 0, not NULL
    (the oracle spells out COALESCE(..., 0) — DuckDB's FILTERed SUM
    is NULL on empty, so a wrong render cannot silently agree), plus
    countIf and a QUALIFY over the aggregate projection alias n."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT user_id,
               round(sumIf(value, value > 250), 4) + 0.0 AS hi_sum,
               countIf(value > 250) AS hi_n,
               count() AS n
        FROM events
        PREWHERE user_id IS NOT NULL
        WHERE value IS NOT NULL
        GROUP BY user_id
        QUALIFY rank() OVER (ORDER BY n DESC, user_id) <= 40
        ORDER BY user_id
        """,
    )


@query(
    "q_ch_sql_battery6c",
    oracle="""
    SELECT user_id,
           ROUND(SUM(value) / 2, 4) + 0.0 AS half_total,
           CAST(COUNT(CASE WHEN value > (SELECT AVG(value) FROM events)
                           THEN 1 END) AS BIGINT) AS above
    FROM events
    WHERE user_id IS NOT NULL AND value IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_ch_sql_battery6c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's expression-WITH under the driver hash: one WITH
    list binding a literal (k), a scalar subquery (vbar — the
    corpus-wide mean), and a column expression (sum(value) AS total),
    each substituted at its use sites per CH's alias model; the
    oracle spells the substitutions out longhand in ANSI SQL."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        WITH 2 AS k,
             (SELECT avg(value) FROM events) AS vbar,
             sum(value) AS total
        SELECT user_id,
               round(total / k, 4) + 0.0 AS half_total,
               countIf(value > vbar) AS above
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
        GROUP BY user_id
        ORDER BY user_id
        """,
    )


@query(
    "q_ch_ddl_mutate",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(100  AS BIGINT), 'cold'),
        (CAST(2 AS BIGINT), CAST(2000 AS BIGINT), 'hot'),
        (CAST(3 AS BIGINT), CAST(300  AS BIGINT), 'cold'),
        (CAST(5 AS BIGINT), CAST(500  AS BIGINT), 'cold')
    ) AS t(k, v, status)
    """,
)
def q_ch_ddl_mutate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse mutations under driver correctness: a scratch
    warehouse runs literal ``ALTER TABLE … UPDATE/DELETE … WHERE``
    statements (the dialect's modulo() in the predicate goes through
    the shim), plus the reference importer's KeeperMap claim flow
    (repo/importer.py:146-175) — the optimistic UPDATE, the losing
    claimant's 0-rows-matched UPDATE, the verify-read SELECT, and the
    release DELETE — asserted inline so any regression turns this
    driver row red.  Content is fixed (sf-independent); the oracle is
    the hand-computed post-mutation table."""
    import os
    import shutil
    import tempfile

    from clickhub_spark.ddl import Warehouse

    root = tempfile.gettempdir() + f"/chwh_ddl_mutate_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    wh = Warehouse(root)
    wh.execute(
        "CREATE TABLE default.metrics (`k` Int64, `v` Int64, "
        "`status` String) ENGINE = MergeTree ORDER BY (k)"
    )
    wh.execute(
        "INSERT INTO default.metrics (k, v, status) VALUES "
        + ", ".join(f"({k}, {k * 100}, 'cold')" for k in range(1, 7)),
        spark=spark,
    )
    wh.execute(
        "ALTER TABLE default.metrics UPDATE v = v * 10, status = 'hot' "
        "WHERE modulo(k, 2) = 0",
        spark=spark,
    )
    wh.execute(
        "ALTER TABLE default.metrics DELETE WHERE v >= 4000", spark=spark
    )
    # the importer's literal coordination statements (KeeperMap)
    wh.execute(
        "CREATE TABLE default.tasks (`repo_name` String, `priority` "
        "Int64, `scheduled` Float64, `started_time` Float64, "
        "`worker_id` String) ENGINE = KeeperMap('tasks') "
        "PRIMARY KEY repo_name"
    )
    wh.execute(
        "INSERT INTO default.tasks (repo_name, priority) "
        "VALUES ('org/alpha', 1)"
    )
    won = wh.execute(
        "ALTER TABLE default.tasks UPDATE worker_id = 'w1', "
        "started_time = '0' WHERE repo_name = 'org/alpha' "
        "AND worker_id = ''",
        spark=spark,
    )
    lost = wh.execute(
        "ALTER TABLE default.tasks UPDATE worker_id = 'w2', "
        "started_time = '0' WHERE repo_name = 'org/alpha' "
        "AND worker_id = ''",
        spark=spark,
    )
    wh.register_views(spark)
    owner = run(
        spark,
        "SELECT worker_id FROM default_tasks WHERE repo_name = 'org/alpha'",
    ).first()["worker_id"]
    if (won, lost, owner) != ("claimed 1", "claimed 0", "w1"):
        raise AssertionError(
            f"KeeperMap claim flow broke: {(won, lost, owner)!r}"
        )
    wh.execute(
        "ALTER TABLE default.tasks DELETE WHERE repo_name = 'org/alpha'",
        spark=spark,
    )
    return run(
        spark,
        "SELECT k, v, status FROM default_metrics ORDER BY k",
    )


@query(
    "q_ch_sql_battery7",
    oracle="""
    SELECT event_type,
           CASE WHEN value > 250 THEN 'hi' ELSE 'lo' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) + 0.0 AS sv
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
    GROUP BY ROLLUP (event_type,
                     CASE WHEN value > 250 THEN 'hi' ELSE 'lo' END)
    """,
)
def q_ch_sql_battery7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY … WITH ROLLUP`` — the MODIFIER spelling (ClickHouse
    and MySQL both use it; the ROLLUP() function form is a separate,
    already-oracled query).  Spark supports the modifier natively;
    this row pins that the ~200 shim passes leave it intact AND that
    the grouping-sets expansion (subtotal rows with NULL keys, the
    grand-total row) matches DuckDB's independent ROLLUP() spelling
    value-for-value under the driver hash."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT event_type,
               if(value > 250, 'hi', 'lo') AS band,
               count() AS n,
               round(sum(value), 4) + 0.0 AS sv
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
        GROUP BY event_type, if(value > 250, 'hi', 'lo') WITH ROLLUP
        """,
    )


@query(
    "q_ch_sql_battery7b",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) + 0.0 AS sv,
           CAST(rank() OVER w AS BIGINT) AS r,
           ROUND(SUM(SUM(value)) OVER w, 4) + 0.0 AS running_sv
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
    GROUP BY event_type
    WINDOW w AS (ORDER BY SUM(value) DESC, event_type)
    """,
)
def q_ch_sql_battery7b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` + a named ``WINDOW w AS (…)`` clause shared by
    two window functions OVER the aggregate output — both native in
    Spark, both ClickHouse dialect surface.  The oracle spells the
    grouping out longhand (GROUP BY event_type) so a wrong ALL
    expansion cannot silently agree, and reuses the named window in
    DuckDB (which also supports the clause)."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT event_type,
               count() AS n,
               round(sum(value), 4) + 0.0 AS sv,
               rank() OVER w AS r,
               round(sum(sum(value)) OVER w, 4) + 0.0 AS running_sv
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
        GROUP BY ALL
        WINDOW w AS (ORDER BY sum(value) DESC, event_type)
        """,
    )


@query(
    "q_ch_sql_battery8",
    oracle="""
    SELECT event_type AS etype,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) + 0.0 AS sv
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
    GROUP BY GROUPING SETS ((event_type), ())
    """,
)
def q_ch_sql_battery8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe battery 8: ``GROUP BY ALL WITH TOTALS`` — the composition
    that exposed a real r14 shim bug (the TOTALS rewrite emitted
    ``GROUPING SETS ((ALL), ())``; ALL now expands to the
    non-aggregate select items first).  The totals row carries a NULL
    key on both sides (the WHERE filters genuine NULLs, so no
    collision).  The oracle spells the grouping AND the sets out
    longhand — independent of both the ALL expansion and the TOTALS
    rewrite."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT event_type AS etype,
               count() AS n,
               round(sum(value), 4) + 0.0 AS sv
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
        GROUP BY ALL WITH TOTALS
        """,
    )


@query(
    "q_ch_ddl_partition",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), '202401', CAST(10   AS BIGINT)),
        (CAST(2 AS BIGINT), '202401', CAST(20   AS BIGINT)),
        (CAST(4 AS BIGINT), '202402', CAST(1040 AS BIGINT))
    ) AS t(k, part, v)
    """,
)
def q_ch_ddl_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped mutations under driver correctness: a scratch
    warehouse with ``PARTITION BY toYYYYMM(time)`` runs the literal
    ``ALTER TABLE … UPDATE … IN PARTITION v WHERE p``, ``… DELETE IN
    PARTITION v WHERE p`` and ``… DROP PARTITION v`` statements — each
    routed to the partition-PRUNED rewrite (only the named
    ``_partition_id`` directory is read/swapped; flat-time-certified
    at 10M rows by ``tools/scale mutation_pruned``, the 100 TB
    mutation shape).  Content is fixed (sf-independent); the oracle
    is the hand-computed post-mutation table."""
    import os
    import shutil
    import tempfile

    from clickhub_spark.ddl import Warehouse

    root = tempfile.gettempdir() + f"/chwh_ddl_partition_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    wh = Warehouse(root)
    wh.execute(
        "CREATE TABLE default.pf (`k` Int64, `time` DateTime, `v` Int64) "
        "ENGINE = MergeTree PARTITION BY toYYYYMM(time) ORDER BY (k)"
    )
    wh.execute(
        "INSERT INTO default.pf (k, time, v) VALUES "
        "(1, '2024-01-05 00:00:00', 10), (2, '2024-01-20 00:00:00', 20), "
        "(3, '2024-02-01 00:00:00', 30), (4, '2024-02-09 00:00:00', 40), "
        "(5, '2024-03-01 00:00:00', 50), (6, '2024-03-02 00:00:00', 60)",
        spark=spark,
    )
    out1 = wh.execute(
        "ALTER TABLE default.pf UPDATE v = v + 1000 IN PARTITION "
        "'202402' WHERE k >= 4",
        spark=spark,
    )
    out2 = wh.execute(
        "ALTER TABLE default.pf DELETE IN PARTITION 202402 WHERE k = 3",
        spark=spark,
    )
    out3 = wh.execute("ALTER TABLE default.pf DROP PARTITION '202403'")
    if not (
        out1.startswith("mutated partition 202402")
        and out2.startswith("mutated partition 202402")
        and out3 == "dropped partition 202403"
    ):
        raise AssertionError(
            f"partition statement path broke: {(out1, out2, out3)!r}"
        )
    wh.register_views(spark)
    return run(
        spark,
        "SELECT k, _partition_id AS part, v FROM default_pf ORDER BY k",
    )


@query(
    "q_ch_sql_battery7c",
    oracle="""
    SELECT DISTINCT ON (event_type) event_type, user_id, event_id, value
    FROM (
        SELECT user_id, event_id, event_type, value
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
              AND event_type IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY user_id
                                   ORDER BY value DESC, event_id)
                BETWEEN 2 AND 3
    )
    ORDER BY event_type, value DESC, event_id
    """,
)
def q_ch_sql_battery7c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DISTINCT ON`` composed over a subquery ``LIMIT n OFFSET m BY``
    — per user drop the single top event by value and keep the next
    two (the offset form of LIMIT BY), then keep ONE row per
    event_type: the highest-value survivor (DISTINCT ON with the
    statement ORDER BY choosing the winner, Postgres/DuckDB
    semantics).  The oracle uses DuckDB's NATIVE DISTINCT ON over a
    row_number transcription of the inner per-group cut — independent
    of both shim rewrites."""
    _events_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT DISTINCT ON (event_type) event_type, user_id, event_id,
               value
        FROM (
            SELECT user_id, event_id, event_type, value
            FROM events
            WHERE user_id IS NOT NULL AND value IS NOT NULL
                  AND event_type IS NOT NULL
            ORDER BY value DESC, event_id
            LIMIT 2 OFFSET 1 BY user_id
        )
        ORDER BY event_type, value DESC, event_id
        """,
    )


def _docs_view(spark: SparkSession, sf_dir: str) -> None:
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")


@query(
    "q_ch_sql_battery9",
    oracle="""
    SELECT doc_id, unnest(ARRAY[lang, source]) AS tag,
           unnest(ARRAY[n_chars, n_chars * 2]) AS weight
    FROM documents
    WHERE doc_id % 7 = 0
    """,
)
def q_ch_sql_battery9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-array ``ARRAY JOIN a AS x, b AS y`` — ClickHouse zips the
    arrays POSITIONALLY (row i pairs a[i] with b[i]; unequal lengths
    are an error, which the render enforces via a per-row
    raise_error CASE).  The oracle is DuckDB's independent
    Postgres-style zip: two ``unnest`` calls in one select list.
    Rendered as posexplode of the anchor + chained element_at lateral
    views — map-side only, no shuffle, scale-free."""
    _docs_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT doc_id, tag, weight
        FROM documents
        ARRAY JOIN [lang, source] AS tag, [n_chars, n_chars * 2] AS weight
        WHERE doc_id % 7 = 0
        """,
    )


@query(
    "q_ch_sql_battery9b",
    oracle="""
    SELECT tags, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT unnest(ARRAY[lang, source]) AS tags FROM documents
    ) t
    GROUP BY tags
    ORDER BY n DESC, tags
    """,
)
def q_ch_sql_battery9b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare ``ARRAY JOIN arr`` — no alias, so the unnested ELEMENT
    replaces the array column in scope (CH's most common spelling;
    previously passed through untranslated and mis-parsed as a table
    join).  The render wraps the relation in a subquery projecting
    ``* EXCEPT`` so the element can legally shadow its source column,
    then groups by the element."""
    _docs_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT tags, count() AS n
        FROM (SELECT [lang, source] AS tags FROM documents) d
        ARRAY JOIN tags
        GROUP BY tags
        ORDER BY n DESC, tags
        """,
    )


@query(
    "q_ch_sql_battery9c",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    HAVING COUNT(*) > 40
    UNION ALL
    SELECT NULL AS lang, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents
    """,
)
def q_ch_sql_battery9c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY … WITH TOTALS HAVING`` — the totals row must
    SURVIVE the HAVING filter (ClickHouse always emits it; under the
    default totals_mode = 'before_having' it aggregates ALL source
    rows).  The oracle is a hand-built UNION ALL: filtered per-group
    rows plus an UNCONDITIONAL whole-table row — a render that lets
    HAVING drop the totals row cannot hash-match it."""
    _docs_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT lang, count() AS n, sum(n_chars) AS chars
        FROM documents
        GROUP BY lang WITH TOTALS
        HAVING count() > 40
        """,
    )


@query(
    "q_ch_sql_battery9d",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS lo_id,
           CAST(MAX(event_id) AS BIGINT) AS hi_id,
           CAST(SUM(CAST(user_id AS BIGINT)) AS BIGINT) AS uid_sum
    FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 8) >= '33333333'
      AND substr(md5(CAST(event_id AS VARCHAR)), 1, 8) < '66666666'
    """,
)
def q_ch_sql_battery9d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SAMPLE 0.2 OFFSET 0.2`` — ClickHouse's relative sample takes
    the [m, m+k) slice of the sampling-key hash space: deterministic,
    repeatable, and disjoint across OFFSET strata (how distributed
    workers split a table).  The render is an md5 hex-range predicate
    over the DECLARED sampling key (set_sample_key ≙ the table's
    SAMPLE BY clause); the oracle spells the identical predicate, so
    both engines must pick the same row SET — aggregates over the
    slice pin membership, not just cardinality.  Scale posture: the
    predicate is a map-side filter pushed to the scan; no shuffle."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    set_sample_key("events", "event_id")
    return run(
        spark,
        """
        SELECT count() AS n,
               min(event_id) AS lo_id,
               max(event_id) AS hi_id,
               sum(CAST(user_id AS BIGINT)) AS uid_sum
        FROM events SAMPLE 0.2 OFFSET 0.2
        """,
    )


@query(
    "q_ch_sql_battery9e",
    oracle="""
    SELECT lang AS _1, CAST(COUNT(*) AS BIGINT) AS _2,
           CAST(MAX(n_chars) AS BIGINT) AS widest
    FROM documents
    GROUP BY lang
    ORDER BY _1
    """,
)
def q_ch_sql_battery9e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``untuple()`` + tuple ``.N`` access — tuple() renders to a
    named_struct with positional ``_N`` fields; untuple(t) expands
    them into columns via the inline(array(t)) generator (t.* only
    resolves for column references) and ``tp.2``-style access reads a
    single field.  Column names ``_1``/``_2`` are the CH-compatible
    positional names, matched by the oracle's aliases."""
    _docs_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT untuple(tp) , tuple(mx, mx).2 AS widest
        FROM (
            SELECT tuple(lang, count()) AS tp, max(n_chars) AS mx
            FROM documents GROUP BY lang
        ) g
        ORDER BY tp.1
        """,
    )


@query(
    "q_ch_sql_battery9f",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN CAST([] AS VARCHAR[])
                    ELSE ARRAY[lang, source] END AS tags,
               CASE WHEN doc_id % 5 = 0 THEN CAST([] AS BIGINT[])
                    ELSE ARRAY[n_chars, n_chars * 2] END AS ws
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id,
           unnest(CASE WHEN len(tags) = 0
                       THEN [CAST(NULL AS VARCHAR)] ELSE tags END) AS tag,
           unnest(CASE WHEN len(ws) = 0
                       THEN [CAST(NULL AS BIGINT)] ELSE ws END) AS weight
    FROM d
    """,
)
def q_ch_sql_battery9f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``LEFT ARRAY JOIN a AS x, b AS y`` with EMPTY arrays — the
    empty-array rows survive with NULL elements (CH's LEFT form; the
    inner form drops them).  Pinned against a DuckDB oracle that
    models LEFT by substituting a [NULL] singleton for empty arrays
    before the zip-unnest.  This row also pins the try_element_at
    render: Spark's OUTER generator feeds the chained zip generator
    an internal pos of -1 before its null-out projection, so a plain
    element_at throws INVALID_ARRAY_INDEX (found live, round 15)."""
    _docs_view(spark, sf_dir)
    return run(
        spark,
        """
        SELECT doc_id, tag, weight
        FROM (
            SELECT doc_id,
                   if(doc_id % 5 = 0, [], [lang, source]) AS tags,
                   if(doc_id % 5 = 0,
                      arrayResize([1], 0),
                      [n_chars, n_chars * 2]) AS ws
            FROM documents WHERE doc_id % 3 = 0
        ) d
        LEFT ARRAY JOIN tags AS tag, ws AS weight
        """,
    )


@query(
    "q_ch_ddl_alter",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), '202401', CAST(10   AS DOUBLE)),
        (CAST(2 AS BIGINT), '202401', CAST(20   AS DOUBLE)),
        (CAST(3 AS BIGINT), '202402', CAST(30   AS DOUBLE)),
        (CAST(4 AS BIGINT), '202402', CAST(40   AS DOUBLE)),
        (CAST(5 AS BIGINT), '202403', CAST(1050 AS DOUBLE))
    ) AS t(k, part, val)
    """,
)
def q_ch_ddl_alter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-15 ALTER surface under driver correctness: a scratch
    PARTITION BY warehouse runs the literal statements

    - ``RENAME COLUMN v TO val`` (INSTANT metadata — files written
      before it keep the old name; schema-on-read coalesces through
      the recorded history),
    - an INSERT after the rename (mixed-name files now on disk),
    - ``MODIFY COLUMN val Float64`` (the data-REWRITING alter, as in
      ClickHouse where MODIFY is a mutation: rewrites every file via
      the crash-safe swap — normalizing the mixed names — and casts),
    - ``UPDATE val = val + 1000 IN PARTITION '202403'`` over the
      renamed+cast column,
    - a ``DETACH PARTITION '202404' `` / ``ATTACH PARTITION
      '202404'`` round trip plus a final ``DROP PARTITION '202404'``
      (all O(1) directory renames — PARTITION_LIFECYCLE_r15.json
      certifies flat time at 10M rows).

    Content is fixed (sf-independent); the oracle is the
    hand-computed post-ALTER table."""
    import os
    import shutil
    import tempfile

    from clickhub_spark.ddl import Warehouse

    root = tempfile.gettempdir() + f"/chwh_ddl_alter_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    wh = Warehouse(root)
    wh.execute(
        "CREATE TABLE default.al (`k` Int64, `time` DateTime, `v` Int64) "
        "ENGINE = MergeTree PARTITION BY toYYYYMM(time) ORDER BY (k)"
    )
    wh.execute(
        "INSERT INTO default.al (k, time, v) VALUES "
        "(1, '2024-01-05 00:00:00', 10), (2, '2024-01-20 00:00:00', 20), "
        "(3, '2024-02-01 00:00:00', 30), (5, '2024-03-01 00:00:00', 50)",
        spark=spark,
    )
    outs = [wh.execute("ALTER TABLE default.al RENAME COLUMN v TO val")]
    # mixed-name files: this INSERT writes `val`, the first wrote `v`
    wh.execute(
        "INSERT INTO default.al (k, time, val) VALUES "
        "(4, '2024-02-09 00:00:00', 40), (6, '2024-04-01 00:00:00', 60)",
        spark=spark,
    )
    outs.append(
        wh.execute("ALTER TABLE default.al MODIFY COLUMN val Float64",
                   spark=spark)
    )
    outs.append(
        wh.execute(
            "ALTER TABLE default.al UPDATE val = val + 1000 "
            "IN PARTITION '202403' WHERE k = 5",
            spark=spark,
        )
    )
    outs.append(wh.execute("ALTER TABLE default.al DETACH PARTITION '202404'"))
    outs.append(wh.execute("ALTER TABLE default.al ATTACH PARTITION '202404'"))
    outs.append(wh.execute("ALTER TABLE default.al DROP PARTITION '202404'"))
    want = ("ok", "ok", None, "detached partition 202404",
            "attached partition 202404", "dropped partition 202404")
    for got, exp in zip(outs, want):
        if exp is not None and not str(got).startswith(exp.split()[0]):
            raise AssertionError(f"ALTER statement path broke: {outs!r}")
    wh.register_views(spark)
    # CAST the partition dir value explicitly: hive partition-column
    # type inference flips numeric-looking values between int and
    # string depending on which writer produced the directory
    return run(
        spark,
        "SELECT k, CAST(_partition_id AS String) AS part, val "
        "FROM default_al ORDER BY k",
    )


@query(
    "q_ch_sql_battery10",
    oracle="""
    SELECT CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(SUM(l_linenumber) AS BIGINT) AS sum_linenumber
    FROM lineitem
    """,
)
def q_ch_sql_battery10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``COLUMNS('regex') APPLY(fn)`` — ClickHouse's dynamic column
    selector (pick columns by NAME pattern, then apply an aggregate
    to each; the wide-table idiom).  Expansion needs the schema, so
    it is a run()-level session-aware rewrite like star-APPLY; CH
    names the outputs ``fn(col)``, matched by the oracle's quoted
    aliases.  The regex picks the two integral lineitem measures so
    the sums are exact at every SF."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    out = run(
        spark,
        "SELECT COLUMNS('^l_(quantity|linenumber)$') APPLY(sum) "
        "FROM lineitem",
    )
    # the registry convention forbids parens in output names (driver
    # compares sorted column names); CH's fn(col) spelling itself is
    # pinned by tests/test_sql_compat.py::test_columns_regex_selector
    from pyspark.sql import functions as F

    return out.select(
        F.col("`sum(l_quantity)`").alias("sum_qty"),
        F.col("`sum(l_linenumber)`").alias("sum_linenumber"),
    )
