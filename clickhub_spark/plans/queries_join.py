"""Join queries (``q_join_*``).  Dimension tables (region/nation/
supplier) are broadcast; fact-fact joins shuffle on the key and rely on
AQE for skew; range joins are written equi-key-first so Catalyst plans
a hash join with a residual range predicate rather than a cartesian
expansion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhub_spark.catalog import load
from clickhub_spark.plans.registry import query


@query(
    "q_join_inner",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join fact↔dim (≙ commit_hash linking file_changes to
    commits, reference README.md:149,118)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "q_join_broadcast",
    oracle="""
    SELECT r.r_name, COUNT(*) AS n_customers,
           ROUND(AVG(c.c_acctbal), 4) AS avg_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join of small dims — the 100 TB pattern for the
    repo_name dimension (SURVEY §2.C2): no shuffle of the fact side."""
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o.o_totalprice), 0.0), 2) AS total_spent
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join — keep customers with zero orders (≙ events
    lacking a matching repo row, SURVEY §2.C3)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join — EXISTS/IN (≙ the reference's 1000-element
    IN-list probes, repo/schedule.py:94, done as a real semi-join)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join — NOT IN / set-minus (≙ set(repo_batch) -
    set(currently_scheduled), reference repo/schedule.py:100)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q_join_multiway",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-table star join (TPC-H Q5 shape) — revenue per nation in one
    region.  Dims broadcast; the only shuffles are lineitem↔orders and
    the final aggregation (SURVEY §2.C6).

    r17 (VERDICT r16 item 3 — settle the r16 reorder with a clean
    A/B): the r16 dims-first shape (customer⋈nation⋈ASIA pruning
    orders before lineitem is probed once) LOST the quiet-box A/B at
    sf0.1 in both cold and warm runs — old order best 0.41–0.51 s vs
    dims-first 0.67–0.68 s, cold 0.66 vs 0.87 s — because it builds
    two extra broadcast relations (c_asia, o_pruned) as separate
    jobs whose latency exceeds the saved probe work.  Reverted to the
    chained probe order; the r16 explicit 3-column lineitem /
    2-column orders projections are KEPT (that part is free and
    measured 0.58 → 0.51 s on its own: narrower build sides and
    shuffle rows, guide §2.3).  Inner joins commute — both shapes are
    oracle-identical."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, F.col("n_regionkey") == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q_join_any",
    oracle="""
    SELECT o.o_orderkey, ROUND(o.o_totalprice, 2) AS o_totalprice,
           l.l_linenumber, ROUND(l.l_quantity, 2) AS l_quantity
    FROM orders o
    LEFT JOIN (
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) = 1
    ) l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey <= 2000
    """,
)
def q_join_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse LEFT ANY JOIN: each left row pairs with AT MOST ONE
    right match.  CH picks an arbitrary one; for cross-engine
    determinism this uses the canonical deterministic variant — the
    right side is reduced to one row per key BEFORE the join — min of
    struct(l_linenumber, l_quantity), a FULL lexicographic tiebreaker
    because the synthetic lineitem repeats line numbers within an
    order.  This is also the plan you want at scale: the dedup's
    partial aggregation collapses the many-side pre-shuffle, so the
    join never amplifies rows."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    l1 = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.min(F.struct("l_linenumber", "l_quantity")).alias("s"))
        .select("l_orderkey", F.col("s.l_linenumber").alias("l_linenumber"),
                F.col("s.l_quantity").alias("l_quantity"))
    )
    return o.join(l1, F.col("l_orderkey") == F.col("o_orderkey"), "left").select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "l_linenumber",
        F.round("l_quantity", 2).alias("l_quantity"),
    )


@query(
    "q_join_range",
    oracle="""
    SELECT o.o_orderkey, COUNT(*) AS n_shipped_90d
    FROM orders o JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <  o.o_orderdate + INTERVAL 90 DAY
    GROUP BY o.o_orderkey
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join — equi key + time-interval residual (≙ interval
    overlap on closed_at/merged_at, reference create_db.py:95-96).
    Equi-key-first keeps it a hash join with a residual predicate, not
    a cartesian product (SURVEY §2.C7)."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    cond = (
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate >= o.o_orderdate)
        & (l.l_shipdate < o.o_orderdate + F.expr("INTERVAL 90 DAYS"))
    )
    return o.join(l, cond).groupBy("o_orderkey").agg(F.count("*").alias("n_shipped_90d"))


@query(
    "q_join_asof",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT max(c.ts) FROM events c
             WHERE c.user_id = e.user_id AND c.event_type = 'click'
               AND c.ts <= e.ts) AS asof_ts
    FROM events e
    WHERE e.event_type = 'error'
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each error event, the latest click by the same
    user at or before it (≙ the prev_* lineage columns in
    line_changes, reference README.md:184-186).  Union+window, no
    pair materialization — clickhub_spark.operators.asof."""
    from clickhub_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join(
        errors, clicks, on=["user_id"], left_ts="ts", right_ts="ts", right_values=[]
    ).select("event_id", "user_id", "ts", "asof_ts")


@query(
    "q_join_range_binned",
    oracle="""
    SELECT o.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_shipped_7d
    FROM orders o JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
    WHERE o.o_orderkey % 1000 = 0
    GROUP BY o.o_orderkey
    """,
)
def q_join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (no equi-key) via binning: lineitems shipped
    within 7 days of each sampled order's date.  A bare BETWEEN join
    plans a nested loop; binning both sides on floor(day/7) makes it
    an equi-join with a residual filter — hash-partitioned on the bin
    at any scale (operators/rangejoin.point_in_interval_join)."""
    from clickhub_spark.operators.rangejoin import point_in_interval_join

    o = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 1000 == 0)
        .select(
            "o_orderkey",
            F.unix_date(F.to_date("o_orderdate")).alias("start_d"),
            (F.unix_date(F.to_date("o_orderdate")) + 7).alias("end_d"),
        )
    )
    pts = load(spark, sf_dir, "lineitem").select(
        F.unix_date(F.to_date("l_shipdate")).alias("ship_d")
    )
    return (
        point_in_interval_join(pts, o, "ship_d", "start_d", "end_d", bin_width=7)
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_shipped_7d"))
    )


@query(
    "q_join_full_outer",
    oracle="""
    SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           CASE WHEN COUNT(c.c_custkey) > 0 THEN 1 ELSE 0 END AS has_customer
    FROM (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
    FULL JOIN (SELECT * FROM orders WHERE o_custkey % 3 = 0) o
      ON c.c_custkey = o.o_custkey
    GROUP BY COALESCE(c.c_custkey, o.o_custkey)
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (SURVEY §2.C3 completion: ClickHouse supports
    FULL JOIN) — each side filtered so both unmatched directions
    occur; aggregated to make the null-side semantics visible."""
    c = load(spark, sf_dir, "customer").where(F.col("c_custkey") % 2 == 0)
    o = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 3 == 0)
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return j.groupBy(
        F.coalesce(c.c_custkey, o.o_custkey).alias("custkey")
    ).agg(
        F.count("o_orderkey").alias("n_orders"),
        F.when(F.count(c.c_custkey) > 0, 1).otherwise(0).alias("has_customer"),
    )


@query(
    "q_join_salted",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, ROUND(l.l_extendedprice, 2) AS price,
           o.o_orderstatus
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join for extreme key skew, driver-checked against the
    plain join (operators/skew.salted_join): the fact side gets a
    random salt, the dim side is replicated per bucket, and the join
    key becomes (key, salt) so a hot key's rows spread over 16
    reducers instead of one.  Salting must be result-invariant — the
    oracle IS the unsalted join, so any multiplicity bug surfaces as a
    hash mismatch.  Use when AQE's skew split can't apply (join output
    must stay partitioned for a downstream window, or the skewed side
    is mid-pipeline)."""
    from clickhub_spark.operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    od = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    out = salted_join(li, od, on=["l_orderkey"], salt_buckets=16)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("price"),
        "o_orderstatus",
    )


@query(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.l_extendedprice), 2) AS order_total,
           MAX(o.o_orderstatus) AS o_orderstatus
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact↔fact join on bucketed tables, driver-checked
    against the plain join+agg (sources/writer.write_bucketed): both
    sides are written bucketed on the join key once per session, after
    which the join AND the following aggregate run shuffle-free — the
    pre-shuffle-at-write-time layout that makes 100 TB
    lineitem↔orders joins viable.  The oracle is the unbucketed
    semantics; layout must never change results."""
    import hashlib
    import os

    from clickhub_spark.sources.writer import write_bucketed

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    lineitem = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    # table names keyed by the INPUT FILES' path+mtime+size (the
    # artifacts.derived_artifact_path signature), not sf_dir alone: a
    # path-only key would silently reuse a stale bucketed copy if the
    # source parquet under sf_dir is regenerated in place mid-session
    sig = hashlib.md5()
    for f in sorted(orders.inputFiles()) + sorted(lineitem.inputFiles()):
        local = f.removeprefix("file:")
        try:
            st = os.stat(local)
            sig.update(f"{f}:{st.st_mtime_ns}:{st.st_size};".encode())
        except OSError:
            sig.update(f.encode())
    sfx = sig.hexdigest()[:8]
    o_tbl, l_tbl = f"orders_q_bkt_{sfx}", f"lineitem_q_bkt_{sfx}"
    # Gate on BOTH tables and self-heal a partial build: a crash
    # between the two writes must not wedge the query on the next run
    # (the first table exists, the signature is unchanged, and nothing
    # would ever create the second).  Also drop bucketed copies of
    # superseded signatures — regenerated sources would otherwise
    # accumulate full-size stale copies in the warehouse forever.
    if not (spark.catalog.tableExists(o_tbl) and spark.catalog.tableExists(l_tbl)):
        for t in spark.catalog.listTables():
            if (
                t.name.startswith(("orders_q_bkt_", "lineitem_q_bkt_"))
                and not t.name.endswith(sfx)
            ):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        spark.sql(f"DROP TABLE IF EXISTS {o_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {l_tbl}")
        # the two bucketed writes are independent jobs on different
        # tables — overlap them (guide §2.6) so the smaller orders
        # write back-fills executor slots freed by the lineitem
        # write's tail instead of running after it
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fo = pool.submit(write_bucketed, orders, o_tbl, "o_orderkey", 8)
            fl = pool.submit(write_bucketed, lineitem, l_tbl, "l_orderkey", 8)
            fo.result(), fl.result()
    o = spark.table(o_tbl)
    li = spark.table(l_tbl).withColumnRenamed("l_orderkey", "o_orderkey")
    return (
        o.join(li, "o_orderkey")
        .groupBy("o_orderkey")  # the bucket key — grouping clustering
        # is already satisfied, so join AND agg stay shuffle-free
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("order_total"),
            F.max("o_orderstatus").alias("o_orderstatus"),
        )
        .select("o_orderkey", "n_items", "order_total", "o_orderstatus")
    )


@query(
    "q_join_cross",
    oracle="""
    SELECT a.r_name AS name_a, b.r_name AS name_b
    FROM region a CROSS JOIN region b
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS JOIN of tiny inputs (SURVEY §2.C parity; at
    scale cross joins are only ever dim×dim — Catalyst would reject an
    accidental fact×fact via spark.sql.crossJoin checks)."""
    r = load(spark, sf_dir, "region")
    a = r.select(F.col("r_name").alias("name_a"))
    b = r.select(F.col("r_name").alias("name_b"))
    return a.crossJoin(b)


@query(
    "q_join_asof_fwd",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT min(c.ts) FROM events c
             WHERE c.user_id = e.user_id AND c.event_type = 'purchase'
               AND c.ts >= e.ts) AS asof_ts
    FROM events e
    WHERE e.event_type = 'view'
    """,
)
def q_join_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (ClickHouse `ASOF JOIN ... >=` — SURVEY
    §2.C8's other direction, previously backward-only): for each view
    event, the same user's EARLIEST purchase at or after it — the
    time-to-conversion primitive.  Same union+window single pass as
    the backward form with the time axis reversed
    (operators/asof.asof_join direction="forward"); no candidate-pair
    materialization."""
    from clickhub_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    buys = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    return asof_join(
        views, buys, on=["user_id"], left_ts="ts", right_ts="ts",
        right_values=[], direction="forward",
    ).select("event_id", "user_id", "ts", "asof_ts")


@query(
    "q_join_interval_overlap",
    oracle="""
    WITH iv AS (
        SELECT event_id, event_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
               CAST(FLOOR(epoch(ts)) AS BIGINT)
                 + CAST(FLOOR(value * 10) AS BIGINT) AS e
        FROM events WHERE value > 0 AND user_id < 20
    ), a AS (SELECT * FROM iv WHERE event_type = 'click'),
       b AS (SELECT * FROM iv WHERE event_type = 'view')
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           CAST(LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS BIGINT)
               AS overlap_sec
    FROM a JOIN b ON a.s < b.e AND b.s < a.e
    ORDER BY id_a, id_b
    """,
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (SURVEY §2.C7 completion —
    point-in-interval was covered; this is the two-interval case,
    e.g. concurrent-session attribution): binned equi-join with the
    owner-bin trick — each overlapping pair is attributed to the bin
    holding the overlap's START, so no post-join distinct and no
    second shuffle (operators/rangejoin.interval_overlap_join).  The
    oracle is the plain theta join, which only an oracle can afford —
    Spark would plan it as a nested loop."""
    from clickhub_spark.operators.rangejoin import interval_overlap_join

    ev = load(spark, sf_dir, "events").where(
        (F.col("value") > 0) & (F.col("user_id") < 20)
    )
    iv = ev.select(
        "event_id",
        "event_type",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + F.floor(F.col("value") * 10).cast("bigint")).alias(
            "e"
        ),
    )
    a = iv.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("id_a"), F.col("s").alias("sa"), F.col("e").alias("ea")
    )
    b = iv.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("id_b"), F.col("s").alias("sb"), F.col("e").alias("eb")
    )
    pairs = interval_overlap_join(a, b, "sa", "ea", "sb", "eb", bin_width=3600)
    return pairs.select(
        "id_a",
        "id_b",
        (F.least("ea", "eb") - F.greatest("sa", "sb")).cast("bigint").alias(
            "overlap_sec"
        ),
    ).orderBy("id_a", "id_b")


@query(
    "q_join_asof_nearest",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT c.ts FROM events c
             WHERE c.user_id = e.user_id AND c.event_type = 'click'
             ORDER BY abs(epoch(c.ts) - epoch(e.ts)),
                      CASE WHEN c.ts <= e.ts THEN 0 ELSE 1 END
             LIMIT 1) AS asof_ts
    FROM events e
    WHERE e.event_type = 'error'
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas merge_asof
    direction='nearest' parity — SURVEY §2.C8 completion alongside
    backward/forward): for each error event, the click by the same
    user CLOSEST in time, ties preferring the at-or-before match.
    Both direction passes share one union + one partitioning — no
    second shuffle (operators/asof._asof_nearest).  The oracle is a
    correlated nearest-row subquery with the same tie rule."""
    from clickhub_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join(
        errors,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_values=[],
        direction="nearest",
    ).select("event_id", "user_id", "ts", "asof_ts")
