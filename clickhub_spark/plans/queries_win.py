"""Window-function queries (``q_win_*``).  ``rank()`` serves tie-inclusive
top-N (same rank, same output set on any engine); ``row_number()`` is
used only over orderings made total by a unique tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickhub_spark.catalog import load
from clickhub_spark.plans.registry import query


@query(
    "q_win_firstlast",
    oracle="""
    SELECT user_id, event_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type,
           CAST(ntile(4) OVER w AS INT) AS quartile
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_win_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / ntile windows (SURVEY §2.H) — the
    'first and latest event per user' lineage shapes."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w_all).alias("last_type"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@query(
    "q_win_pctrank",
    oracle="""
    SELECT o_orderkey,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_win_pctrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist distribution windows (SURVEY §2.H) —
    per-priority price percentiles with a total ordering."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "q_win_rank",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(rank() OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice DESC) AS INT) AS rnk
        FROM orders
    ) WHERE rnk <= 5
    """,
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() per partition (SURVEY §2.H1) — top-5 orders by value
    within each priority class, ties included."""
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
    return (
        load(spark, sf_dir, "orders")
        .withColumn("rnk", F.rank().over(w).cast("int"))
        .where(F.col("rnk") <= 5)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk")
    )


@query(
    "q_win_lag",
    oracle="""
    SELECT user_id, event_id, value,
           ROUND(value - lag(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id), 4) AS delta
    FROM events
    """,
)
def q_win_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() — previous event value per user (≙ the precomputed
    prev_* columns, reference README.md:184-186)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        load(spark, sf_dir, "events")
        .withColumn("delta", F.round(F.col("value") - F.lag("value").over(w), 4))
        .select("user_id", "event_id", "value", "delta")
    )


@query(
    "q_win_running",
    oracle="""
    SELECT user_id, event_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS moving_avg5
    FROM events
    """,
)
def q_win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + 5-row moving average (SURVEY §2.H3)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    mov = w.rowsBetween(-4, 0)
    return (
        load(spark, sf_dir, "events")
        .withColumn("running_total", F.round(F.sum("value").over(run), 2))
        .withColumn("moving_avg5", F.round(F.avg("value").over(mov), 4))
        .select("user_id", "event_id", "running_total", "moving_avg5")
    )


@query(
    "q_win_range",
    oracle="""
    SELECT user_id, event_id,
           ROUND(SUM(value) OVER (
               PARTITION BY user_id
               ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS sum_1h
    FROM events
    """,
)
def q_win_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range frame — sum of values in the trailing hour per user
    (SURVEY §2.H4).  Both engines order by floored epoch seconds so
    peer/range semantics match exactly."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return (
        load(spark, sf_dir, "events")
        .withColumn("sum_1h", F.round(F.sum("value").over(w), 2))
        .select("user_id", "event_id", "sum_1h")
    )


@query(
    "q_win_topn_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               rank() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC) AS rnk
        FROM part
    ) WHERE rnk <= 3
    """,
)
def q_win_topn_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group (SURVEY §2.H5): 3 priciest parts per brand."""
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return (
        load(spark, sf_dir, "part")
        .withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice")
    )


@query(
    "q_win_dist",
    oracle="""
    SELECT p_partkey,
           ROUND(cume_dist() OVER w, 4) AS cdist,
           nth_value(p_partkey, 2) OVER w AS second_cheapest
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice ASC, p_partkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_win_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (SURVEY §2.H5 completion):
    cume_dist percentile position + nth_value over a total per-brand
    ordering (unique tiebreaker keeps both engines on one row set).

    cume_dist needs the default RANGE frame while nth_value needs the
    full partition, so the two share a partition/order but use their
    own frames — still ONE window sort in the plan."""
    base = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").asc(), F.col("p_partkey").asc()
    )
    full = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return load(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.cume_dist().over(base), 4).alias("cdist"),
        F.nth_value("p_partkey", 2).over(full).alias("second_cheapest"),
    )


@query(
    "q_win_ntile",
    oracle="""
    SELECT c_custkey, c_nationkey,
           ntile(4) OVER (PARTITION BY c_nationkey
                          ORDER BY c_acctbal DESC, c_custkey) AS quartile
    FROM customer
    """,
)
def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile window (SURVEY §2.H extension — ClickHouse ntile):
    balance quartiles within each nation.  Unique tiebreaker
    (c_custkey) so both engines assign identical bucket membership;
    one shuffle on the partition key, standard window exec."""
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    )
    return load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", F.ntile(4).over(w).alias("quartile")
    )


@query(
    "q_win_nth",
    oracle="""
    SELECT event_id, user_id,
           nth_value(event_id, 3) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS third_event,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_in_frame
    FROM events
    """,
)
def q_win_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value window (ClickHouse nthValue, SURVEY §2.H extension):
    each user's third-ever event id (NULL until three events have
    accumulated) plus a bounded trailing frame count — one shuffle on
    the partition key, unique (ts, event_id) ordering so both engines
    see identical frames."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.nth_value("event_id", 3)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("third_event"),
        F.count("*")
        .over(w.rowsBetween(-2, Window.currentRow))
        .cast("long")
        .alias("n_in_frame"),
    )


@query(
    "q_win_neighbor",
    oracle="""
    SELECT user_id, event_id,
           ROUND(value - lag(value) OVER w, 4) AS delta_prev,
           ROUND(lead(value) OVER w - value, 4) AS delta_next
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_win_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """runningDifference / neighbor analogs (ClickHouse
    runningDifference(value), neighbor(value, ±1) — SURVEY §2.H
    extension): per-user time-ordered deltas to the previous and next
    event.  ClickHouse's block-scoped versions are order-fragile;
    the window form is the deterministic distributed restatement —
    one shuffle on user_id, both lag and lead share the frame."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = F.col("value")
    return load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.round(v - F.lag(v).over(w), 4).alias("delta_prev"),
        F.round(F.lead(v).over(w) - v, 4).alias("delta_next"),
    )


@query(
    "q_win_locf",
    oracle="""
    WITH x AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        FROM events
    )
    SELECT user_id, event_id,
           ROUND(last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING), 4) AS v_filled,
           v IS NULL AS was_gap
    FROM x
    """,
)
def q_win_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap fill (ClickHouse WITH FILL
    INTERPOLATE / any time-series store's LOCF — SURVEY §2.H
    extension next to q_fill_gaps): error readings are nulled out and
    forward-filled from the last good per-user value via IGNORE NULLS
    last().  One shuffle on user_id; the running frame makes the fill
    a single linear pass per partition — no self-join, no
    as-of lookup."""
    ev = load(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", None).otherwise(F.col("value"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.last("v", ignorenulls=True).over(w), 4).alias("v_filled"),
        F.col("v").isNull().alias("was_gap"),
    )


@query(
    "q_win_interpolate",
    oracle="""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               MAX(value) AS v
        FROM events WHERE user_id < 40 GROUP BY user_id, h
    ), bounds AS (
        SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY user_id
    ), grid AS (
        SELECT b.user_id, t.h
        FROM bounds b, UNNEST(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS t(h)
    ), joined AS (
        SELECT g.user_id, g.h, hv.v FROM grid g
        LEFT JOIN hourly hv ON hv.user_id = g.user_id AND hv.h = g.h
    ), ctx AS (
        SELECT user_id, h, v,
            last_value(v IGNORE NULLS) OVER w_past AS pv,
            last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                OVER w_past AS ph,
            first_value(v IGNORE NULLS) OVER w_fut AS nv,
            first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                OVER w_fut AS nh
        FROM joined
        WINDOW
          w_past AS (PARTITION BY user_id ORDER BY h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_fut AS (PARTITION BY user_id ORDER BY h
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, CAST(h AS TIMESTAMP) AS h,
        FLOOR((CASE
            WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
              pv + (nv - pv) * (CAST(epoch(h) - epoch(ph) AS DOUBLE)
                                / CAST(epoch(nh) - epoch(ph) AS DOUBLE))
            WHEN pv IS NOT NULL THEN pv ELSE nv END) * 10000) / 10000
            AS v_interp
    FROM ctx ORDER BY user_id, h
    """,
)
def q_win_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation over a dense per-user hourly grid
    (ClickHouse ORDER BY ... WITH FILL ... INTERPOLATE — SURVEY
    §2.H/F extension beyond q_fill_gaps' zero-fill and q_win_locf's
    carry-forward): missing hours get pv + (nv-pv)·Δt/T between the
    bracketing observations, edges fall back to nearest-known.  One
    user_id shuffle feeds grid-build, the grid join, and BOTH
    direction windows; everything else is map-side expression math —
    the plan a 100 TB telemetry backfill needs (no global sort, per-
    key parallelism)."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id") < 40)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.max("value").alias("v"))
    bounds = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    joined = grid.join(hourly, ["user_id", "h"], "left")
    from pyspark.sql.window import Window

    w_past = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fut = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_h = F.when(F.col("v").isNotNull(), F.col("h"))
    ctx = joined.select(
        "user_id",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(w_past).alias("pv"),
        F.last(known_h, ignorenulls=True).over(w_past).alias("ph"),
        F.first("v", ignorenulls=True).over(w_fut).alias("nv"),
        F.first(known_h, ignorenulls=True).over(w_fut).alias("nh"),
    )
    dt = F.unix_timestamp("h") - F.unix_timestamp("ph")
    span = F.unix_timestamp("nh") - F.unix_timestamp("ph")
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv")) * (dt.cast("double") / span.cast("double")),
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    # floor-scale instead of ROUND: both engines compute the SAME
    # IEEE double here (identical operands + op order), but their
    # ROUND implementations differ on exact decimal halves (Spark
    # rounds the shortest decimal rendering, DuckDB the binary value)
    # — 2-decimal inputs times x/8 fractions land on halves
    # systematically.  FLOOR of the shared binary is engine-stable.
    return ctx.select(
        "user_id",
        "h",
        (F.floor(interp * 10000) / 10000).alias("v_interp"),
    ).orderBy("user_id", "h")


@query(
    "q_win_running_distinct",
    oracle="""
    SELECT event_id, event_type, ts,
           COUNT(DISTINCT user_id) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS distinct_users_so_far
    FROM events WHERE event_id < 3000
    ORDER BY event_type, ts, event_id
    """,
)
def q_win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over a window — a aggregate Spark's
    window functions REFUSE (DISTINCT is unsupported in window
    aggregates), emulated scalably with the first-occurrence-marker
    trick: row_number over (group, user) in time order marks each
    user's first event (1 shuffle), and a running SUM of markers over
    the time order (same group partitioning) IS the running distinct
    count.  The oracle is DuckDB's native COUNT(DISTINCT) OVER —
    checking the emulation against the real semantics.  At 100 TB
    this is two windows on one group-keyed distribution; the naive
    set-per-row form would be O(n²) memory."""
    from pyspark.sql.window import Window

    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_id") < 3000)
        .select("event_id", "event_type", "user_id", "ts")
    )
    first_seen = F.row_number().over(
        Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    )
    marked = ev.withColumn("__new_user", F.when(first_seen == 1, 1).otherwise(0))
    running = F.sum("__new_user").over(
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return marked.select(
        "event_id",
        "event_type",
        "ts",
        running.alias("distinct_users_so_far"),
    ).orderBy("event_type", "ts", "event_id")
