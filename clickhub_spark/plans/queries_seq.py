"""sequenceMatch / sequenceCount / sequenceNextNode queries (``q_seq_*``)
over the events table.

The arbitrary-pattern queries (``q_seq_match_pattern*``,
``q_seq_count_adjacent``, ``q_seq_count_time_gap``, ``q_seq_match_events``)
share one condition alphabet with their oracles: c1 = view, c2 = click
OR value < 40, c3 = purchase (with AND value >= 40 where a count's
non-overlap proof needs c2 and c3 disjoint); the condition bitset 1..7
maps to the letters of 'ABCDEFG'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhub_spark.catalog import load
from clickhub_spark.plans.registry import query


@query(
    "q_seq_match",
    oracle="""
    WITH seqs AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           regexp_matches(seq, '.*v.*c.*p.*') AS matched,
           CAST(length(seq) AS INT) AS n_events
    FROM seqs
    """,
)
def q_seq_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceMatch analog: did the user's time-ordered event stream
    contain view → … → click → … → purchase?  Events collapse to an
    ordered initial-letter string per user (one shuffle), then a
    regex — the same pattern-over-sequence semantics as ClickHouse's
    sequenceMatch('(?1).*(?2).*(?3)')."""
    ev = load(spark, sf_dir, "events")
    seqs = (
        ev.groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda r: F.substring(r["event_type"], 1, 1),
                ),
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        F.col("seq").rlike(".*v.*c.*p.*").alias("matched"),
        F.length("seq").alias("n_events"),
    )


@query(
    "q_seq_count",
    oracle="""
    WITH seqs AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS INT) AS n_seq,
           CAST(length(seq) AS INT) AS n_events
    FROM seqs
    """,
)
def q_seq_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceCount analog (ClickHouse sequenceCount('(?1).*(?2)') —
    SURVEY §2.D extension next to q_seq_match): how many
    non-overlapping view→…→purchase chains each user completed.
    Same collapse-to-string shape as q_seq_match (one shuffle), then
    a regexp_count — left-to-right non-overlapping scan semantics are
    identical in Java and RE2-style engines for this pattern."""
    ev = load(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", F.col("event_type").substr(1, 1).alias("c"))
                    )
                ),
                lambda s: s["c"],
            ),
        ).alias("seq")
    )
    return seqs.select(
        "user_id",
        F.regexp_count("seq", F.lit("v[^p]*p")).cast("int").alias("n_seq"),
        F.length("seq").cast("int").alias("n_events"),
    )


@query(
    "q_seq_match_time",
    oracle="""
    WITH ev AS (
        SELECT user_id, ts, event_type FROM events
        WHERE event_type IN ('view', 'purchase')
    ), nxt AS (
        SELECT user_id, event_type, ts,
               LEAD(event_type) OVER w AS next_type,
               LEAD(ts) OVER w AS next_ts
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
    )
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_matched,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM nxt
    WHERE event_type = 'view' AND next_type = 'purchase'
      AND epoch(next_ts) - epoch(ts) < 3600
    """,
)
def q_seq_match_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceMatch with a TIME CONSTRAINT (ClickHouse
    ``sequenceMatch('(?1)(?t<3600)(?2)')`` — SURVEY §2.CH funnel
    family beyond plain pattern order): users with a view IMMEDIATELY
    followed (among the filtered event set) by a purchase within one
    hour.  One user_id shuffle; the adjacency is a lead() pair scan —
    no self-join, no per-user event-string materialization (the
    regexp form's memory cost at long histories)."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_type")
    nxt = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    hits = nxt.where(
        (F.col("event_type") == "view")
        & (F.col("next_type") == "purchase")
        & (F.unix_timestamp("next_ts") - F.unix_timestamp("ts") < 3600)
    )
    return hits.agg(
        F.count_distinct("user_id").alias("n_users_matched"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


@query(
    "q_seq_next_node",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, event_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events
    ), v AS (
        SELECT user_id, next_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM o WHERE event_type = 'view'
    )
    SELECT user_id, next_type FROM v WHERE rn = 1 ORDER BY user_id
    """,
)
def q_seq_next_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceNextNode analog (ClickHouse's where-do-users-go-NEXT
    funnel primitive, completing the sequence family next to
    q_seq_match/q_seq_count/q_funnel): for each user, the event type
    immediately FOLLOWING their first 'view' event in time order —
    NULL when the view is the user's last event, exactly
    sequenceNextNode('forward','first_match')'s contract.

    100 TB shape: ONE user_id exchange feeds both windows (lead and
    the first-match row_number run over the same partitioning —
    Catalyst reuses the sort), so cost is the sessionize shape: one
    shuffle of the facts, zero joins, no SinglePartition anywhere.
    Both windows carry the (ts, event_id) unique tiebreaker so the
    selected row is deterministic across engines."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.withColumn("next_type", F.lead("event_type").over(w))
    first_view = (
        nxt.where(F.col("event_type") == "view")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return first_view.select("user_id", "next_type").orderBy("user_id")


@query(
    "q_seq_next_node_chain",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS nxt1,
               LEAD(event_type, 2) OVER w AS nxt2,
               row_number() OVER w AS rn
        FROM events WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), m AS (
        SELECT user_id, nxt2,
               row_number() OVER (PARTITION BY user_id ORDER BY rn) AS mr
        FROM o WHERE event_type = 'view' AND nxt1 = 'click'
    )
    SELECT COALESCE(nxt2, '<end>') AS next_node,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM m WHERE mr = 1
    GROUP BY 1
    """,
)
def q_seq_next_node_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceNextNode with a MULTI-EVENT base chain (ClickHouse
    ``sequenceNextNode('forward', 'first_match')(ts, event_type,
    event_type = 'view', event_type = 'view', event_type =
    'click')``): for each user, the event that FOLLOWS the first
    consecutive view→click pair in the time-ordered stream ('<end>'
    when the chain closes the stream).  Completes the family next to
    q_seq_next_node (queries_r7), which covers the single-event
    base.

    One user_id exchange shared by the lead pair scan and the
    first-match rank; the aggregate runs on <=1 row per user."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("nxt1"),
        F.lead("event_type", 2).over(w).alias("nxt2"),
        F.row_number().over(w).alias("rn"),
    )
    m = o.where(
        (F.col("event_type") == "view") & (F.col("nxt1") == "click")
    ).withColumn(
        "mr",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("rn")
        ),
    )
    return (
        m.where(F.col("mr") == 1)
        .groupBy(F.coalesce(F.col("nxt2"), F.lit("<end>")).alias("next_node"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --------------------------------------------------------------------------
# general sequenceMatch/sequenceCount operator (operators/seqmatch) —
# arbitrary patterns with overlapping conditions, registered over the
# events table with the condition alphabet in the module docstring.
# --------------------------------------------------------------------------
@query(
    "q_seq_match_pattern",
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
    SELECT user_id,
           regexp_matches(seq, '[ACEG].*[BCFG].*[DEFG]') AS matched
    FROM s
    """,
)
def q_seq_match_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General sequenceMatch operator (operators/seqmatch.py, NEW
    round 11) on an OVERLAPPING condition set — ClickHouse
    ``sequenceMatch('(?1).*(?2).*(?3)')(ts, type='view',
    type='click' OR value<40, type='purchase')``: a low-value view
    event matches conditions 1 AND 2 simultaneously (one entry, two
    bits), which the fixed-shape q_seq_match cannot express.

    JVM path: per-user bitset chars → one rlike; one user_id shuffle,
    no Python.  Engine-automaton semantics differentially pinned in
    tests/test_seqmatch.py over random overlapping streams."""
    from clickhub_spark.operators.seqmatch import sequence_match

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ty, val = F.col("event_type"), F.col("value")
    return sequence_match(
        ev,
        "user_id",
        ["ts", "event_id"],
        [ty == "view", (ty == "click") | (val < 40), ty == "purchase"],
        "(?1).*(?2).*(?3)",
    )


@query(
    "q_seq_count_adjacent",
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
    SELECT user_id,
           CAST(len(regexp_extract_all(seq, '[BCFG][DEFG]')) AS INT)
               AS n_matches
    FROM s
    """,
)
def q_seq_count_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General sequenceCount with DIRECT adjacency — ClickHouse
    ``sequenceCount('(?1)(?2)')``: how many times a condition-2 entry
    immediately follows a condition-1 entry in the user's entry list
    (non-overlapping, scan-restart semantics ≡ left-to-right
    non-overlapping regex find).  Conditions overlap as in
    q_seq_match_pattern; conds here are (c1 = click OR value<40,
    c2 = purchase) mapped onto the same 3-bit alphabet."""
    from clickhub_spark.operators.seqmatch import sequence_count

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ty, val = F.col("event_type"), F.col("value")
    out = sequence_count(
        ev,
        "user_id",
        ["ts", "event_id"],
        [ty == "view", (ty == "click") | (val < 40), ty == "purchase"],
        "(?2)(?3)",
    )
    return out


@query(
    "q_seq_match_events",
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
    ), u AS (SELECT DISTINCT user_id FROM e)
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
def q_seq_match_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceMatchEvents analog (operators/seqmatch.py, NEW round
    11): the TIMESTAMPS of the entries matched by each (?N) atom of
    the first match of ``(?1).*(?2).*(?3)`` over overlapping
    conditions (c2 = click OR value<40 overlaps c1 = view).

    The oracle derives the trail INDEPENDENTLY of the automaton: for
    an all-subsequence pattern the first match is the greedy one —
    first c1 entry, first c2 entry after it, first c3 entry after
    that — three correlated mins over the entry list, not a
    transcription of the backtracking code.  Trail exploded to scalar
    columns (the driver compare hashes scalars, not arrays)."""
    from clickhub_spark.operators.seqmatch import sequence_match_events

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ty, val = F.col("event_type"), F.col("value")
    out = sequence_match_events(
        ev,
        "user_id",
        ["ts", "event_id"],
        [ty == "view", (ty == "click") | (val < 40), ty == "purchase"],
        "(?1).*(?2).*(?3)",
        ts_col="ts",
    )
    t = F.col("event_times")
    return out.select(
        "user_id",
        (F.size(t) == 3).alias("matched"),
        F.round(F.element_at(t, 1), 6).alias("ts1"),
        F.round(F.element_at(t, 2), 6).alias("ts2"),
        F.round(F.element_at(t, 3), 6).alias("ts3"),
    )


@query(
    "q_seq_match_pattern_time",
    oracle="""
    WITH e0 AS (
        SELECT user_id, epoch(ts) AS t, ts, event_id,
               COALESCE(event_type = 'view', FALSE) AS c1,
               COALESCE(event_type = 'click' OR value < 40, FALSE) AS c2,
               COALESCE(event_type = 'purchase', FALSE) AS c3
        FROM events WHERE user_id IS NOT NULL
    ), e AS (
        SELECT user_id, t, c1, c2, c3,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM e0 WHERE c1 OR c2 OR c3
    ), mx AS (
        SELECT user_id, MAX(rn) AS last_c3 FROM e WHERE c3 GROUP BY user_id
    ), hits AS (
        SELECT DISTINCT a.user_id
        FROM e a
        JOIN e b ON b.user_id = a.user_id AND b.rn = a.rn + 1
        JOIN mx ON mx.user_id = a.user_id
        WHERE a.c1 AND b.c2 AND (b.t - a.t) < 3600 AND mx.last_c3 > b.rn
    )
    SELECT u.user_id, (hits.user_id IS NOT NULL) AS matched
    FROM (SELECT DISTINCT user_id FROM events
          WHERE user_id IS NOT NULL) u
    LEFT JOIN hits USING (user_id)
    """,
)
def q_seq_match_pattern_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General sequenceMatch with a TIME CONSTRAINT on the automaton
    path (operators/seqmatch.py:145 time branch — VERDICT r11 gap #2):
    ClickHouse ``sequenceMatch('(?1)(?t<3600)(?2).*(?3)')(ts,
    type='view', type='click' OR value<40, type='purchase')`` — a
    view entry IMMEDIATELY followed (in the entry list) by a c2 entry
    within one hour, then any later purchase entry.  Conditions
    overlap (a low-value view matches c1 AND c2), so the bitset entry
    model is exercised, and ``(?t…)`` forces the boundary-carry
    mapInPandas automaton (regex cannot see timestamps).

    The oracle is an INDEPENDENT derivation — match existence is an
    EXISTS over adjacent entry pairs plus a later-c3 max-rank bound —
    not a transcription of the backtracking code.  Plan: one user_id
    exchange -> sortWithinPartitions -> ONE MapInPandas."""
    from clickhub_spark.operators.seqmatch import sequence_match

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ty, val = F.col("event_type"), F.col("value")
    return sequence_match(
        ev,
        "user_id",
        ["ts", "event_id"],
        [ty == "view", (ty == "click") | (val < 40), ty == "purchase"],
        "(?1)(?t<3600)(?2).*(?3)",
        ts_col="ts",
    )


@query(
    "q_seq_count_time_gap",
    oracle="""
    WITH e0 AS (
        SELECT user_id, epoch(ts) AS t, ts, event_id,
               COALESCE(event_type = 'view', FALSE) AS c1,
               COALESCE(event_type = 'click' OR value < 40, FALSE) AS c2,
               COALESCE(event_type = 'purchase' AND value >= 40,
                        FALSE) AS c3
        FROM events WHERE user_id IS NOT NULL
    ), e AS (
        SELECT user_id, t, c2, c3,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM e0 WHERE c1 OR c2 OR c3
    ), p AS (
        SELECT user_id, c2, t,
               LEAD(c3) OVER w AS nxt_c3,
               LEAD(t)  OVER w AS nxt_t
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY rn)
    ), m AS (
        SELECT user_id, COUNT(*) AS n FROM p
        WHERE c2 AND nxt_c3 AND (nxt_t - t) > 600
        GROUP BY user_id
    )
    SELECT u.user_id, CAST(COALESCE(m.n, 0) AS INT) AS n_matches
    FROM (SELECT DISTINCT user_id FROM events
          WHERE user_id IS NOT NULL) u
    LEFT JOIN m USING (user_id)
    """,
)
def q_seq_count_time_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General sequenceCount with a time constraint — ClickHouse
    ``sequenceCount('(?2)(?t>600)(?3)')(ts, c1, c2, c3)``: how many
    times a c3 entry immediately follows a c2 entry in the user's
    entry list with a gap LONGER than 10 minutes (non-overlapping,
    scan-restart).  c3 is ``purchase AND value >= 40`` so c2 and c3
    are DISJOINT, which makes the engine's greedy non-overlapping
    count provably equal to the plain count of qualifying adjacent
    pairs (a match's second entry can never start the next match —
    the oracle counts pairs via one LEAD window, independent of the
    automaton).  c1 = view still shapes the ENTRY LIST: a view entry
    sitting between a c2 and a c3 event breaks their adjacency
    exactly as the engine's insert rule dictates."""
    from clickhub_spark.operators.seqmatch import sequence_count

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ty, val = F.col("event_type"), F.col("value")
    return sequence_count(
        ev,
        "user_id",
        ["ts", "event_id"],
        [
            ty == "view",
            (ty == "click") | (val < 40),
            (ty == "purchase") & (val >= 40),
        ],
        "(?2)(?t>600)(?3)",
        ts_col="ts",
    )


@query(
    "q_seq_next_node_backward",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rd,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC)
                   AS prev_type
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT COALESCE(prev_type, '<end>') AS next_node,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM o WHERE rd = 1 AND event_type = 'click'
    GROUP BY 1
    """,
)
def q_seq_next_node_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceNextNode BACKWARD direction, tail base (ClickHouse
    ``sequenceNextNode('backward', 'tail')(ts, event_type,
    event_type = 'click', event_type = 'click')`` — VERDICT r11 #5):
    for each user whose LAST event is a click, the event immediately
    BEFORE it in time ('<end>' when the click is the user's only
    event), aggregated to next_node counts.

    Same shape as the forward family with the traversal reversed: one
    user_id exchange feeds the descending rank and the descending
    lead (= previous event in time); the aggregate runs on <=1 row
    per user."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    wd = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    o = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(wd).alias("rd"),
        F.lead("event_type").over(wd).alias("prev_type"),
    )
    return (
        o.where((F.col("rd") == 1) & (F.col("event_type") == "click"))
        .groupBy(
            F.coalesce(F.col("prev_type"), F.lit("<end>")).alias("next_node")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "q_seq_next_node_last_match",
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
                                  ORDER BY rn DESC) AS mr
        FROM o WHERE event_type = 'view'
    )
    SELECT user_id, COALESCE(next_type, '<end>') AS next_node
    FROM v WHERE mr = 1
    """,
)
def q_seq_next_node_last_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceNextNode forward direction, LAST_MATCH base (ClickHouse
    ``sequenceNextNode('forward', 'last_match')(ts, event_type,
    event_type = 'view', event_type = 'view')`` — VERDICT r11 #5):
    for each user, the event type immediately following their LAST
    'view' event in time order ('<end>' when that view closes the
    stream).  Mirrors q_seq_next_node (r7, first_match) with the
    match rank reversed; both windows share the single user_id
    exchange and sort."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        F.row_number().over(w).alias("rn"),
    )
    v = o.where(F.col("event_type") == "view").withColumn(
        "mr",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.col("rn").desc())
        ),
    )
    return v.where(F.col("mr") == 1).select(
        "user_id",
        F.coalesce(F.col("next_type"), F.lit("<end>")).alias("next_node"),
    )


@query(
    "q_seq_next_node_head",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER w AS next_type,
               row_number() OVER w AS rn
        FROM events WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT COALESCE(next_type, '<end>') AS next_node,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM o WHERE rn = 1 AND event_type = 'error'
    GROUP BY 1
    """,
)
def q_seq_next_node_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceNextNode forward direction, HEAD base (ClickHouse
    ``sequenceNextNode('forward', 'head')(ts, event_type,
    event_type = 'error', event_type = 'error')``): for each user
    whose FIRST event is an error, the event immediately after it
    ('<end>' when the error is the only event), aggregated to
    next_node counts ('error' because every SF's testdata has users
    opening with one; no user opens with a 'view' at sf0.001).
    With q_seq_next_node (first_match, r7), q_seq_next_node_chain
    (multi-event base, r11), and the r12 backward/last_match forms
    this completes the engine's meaningful direction x base matrix.

    One user_id exchange feeds the ascending rank and lead; the
    aggregate runs on <=1 row per user."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        F.row_number().over(w).alias("rn"),
    )
    return (
        o.where((F.col("rn") == 1) & (F.col("event_type") == "error"))
        .groupBy(
            F.coalesce(F.col("next_type"), F.lit("<end>")).alias("next_node")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "q_seq_next_node_backward_first",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER wd AS prev_type,
               row_number() OVER wd AS rd
        FROM events WHERE user_id IS NOT NULL
        WINDOW wd AS (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC)
    ), v AS (
        SELECT user_id, prev_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY rd) AS mr
        FROM o WHERE event_type = 'view'
    )
    SELECT user_id, COALESCE(prev_type, '<end>') AS next_node
    FROM v WHERE mr = 1
    """,
)
def q_seq_next_node_backward_first(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """sequenceNextNode BACKWARD direction, FIRST_MATCH base
    (ClickHouse ``sequenceNextNode('backward', 'first_match')(ts,
    event_type, event_type = 'view', event_type = 'view')``): the
    first match in backward traversal is the user's LATEST view; the
    "next node" in backward direction is the event immediately BEFORE
    it in time ('<end>' when that view opens the stream).  Per-user
    rows, mirroring q_seq_next_node (forward/first_match) with the
    traversal reversed — both windows share one user_id exchange."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    wd = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    o = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(wd).alias("prev_type"),
        F.row_number().over(wd).alias("rd"),
    )
    v = o.where(F.col("event_type") == "view").withColumn(
        "mr",
        F.row_number().over(Window.partitionBy("user_id").orderBy("rd")),
    )
    return v.where(F.col("mr") == 1).select(
        "user_id",
        F.coalesce(F.col("prev_type"), F.lit("<end>")).alias("next_node"),
    )
