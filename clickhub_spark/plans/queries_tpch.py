"""TPC-H queries (``q_tpch_*``).

The driver's tables are slimmer than the spec (no partsupp table; no
l_commitdate / l_receiptdate / l_shipmode / p_container / c_phone /
ps_availqty columns), so each query keeps the spec's plan shape with
adapted predicates:

- partsupp is the distinct (l_partkey, l_suppkey) pairs in lineitem,
  with min(l_extendedprice / l_quantity) as the supply-cost proxy;
- Q12 splits by l_linestatus; Q21's "kept waiting" is the strictly
  latest shipper of a multi-supplier order; Q22's country code is
  c_nationkey.

Quantities and cent values are integer-valued doubles, so their sums
are exact in both engines and threshold comparisons on them are
deterministic cross-engine.  Revenue sums are rounded on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickhub_spark.catalog import load
from clickhub_spark.plans.registry import query


@query(
    "q_tpch_q6",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — the forecasting-revenue-change query: four
    pushed-down predicates then a scalar aggregate.  The canonical
    scan-pruning benchmark (every predicate reaches the parquet
    reader; row groups outside the date range never leave disk)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n"),
        )
    )


@query(
    "q_tpch_q3",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — shipping-priority: selective dim filter,
    two-fact join, grouped revenue, top-10.  Exercises the full
    filter→join→agg→top-k pipeline in one plan.

    r17 (guide §3.1 — same fix as q5/q10): the c⋈o-first order made
    the derived relation stream and the date-filtered LINEITEM the
    broadcast build side.  Lineitem-spine order (l⋈o⋈c, narrow
    projections): quiet A/B best 0.57–0.85 → 0.32–0.51 s, identical
    rows.  At 100 TB the l⋈o edge degrades to a shuffle of the
    projected columns and the BUILDING-customer side stays the
    build."""
    c = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    l = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@query(
    "q_tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — order-priority checking: correlated EXISTS
    with the correlation folded into the join condition.

    r17 (guide §3.1 — check the build side): the left-semi form puts
    the orders side on the stream and therefore LINEITEM on the
    broadcast build — collecting the whole projected fact to the
    driver per run.  Spark only builds left-semi hash joins on the
    right, so the fix is the equivalent inner-join form: stream
    lineitem against the BROADCAST quarter of orders (~1/16 of an
    already-small dim) and de-correlate the EXISTS with
    count_distinct(o_orderkey) — each qualifying order counted once,
    exactly the semi-join semantics.  Quiet A/B best 0.77–1.89 s →
    0.39–0.69 s, identical results.  At 100 TB the broadcast side is
    the date-filtered orders slice (still the right build side), and
    the fact never moves."""
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = l.join(
        F.broadcast(o),
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(F.count_distinct("o_orderkey").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q_tpch_q18",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, ROUND(o.o_totalprice, 2) AS o_totalprice,
           CAST(big.qty AS DOUBLE) AS total_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN (
        SELECT l_orderkey, SUM(l_quantity) AS qty
        FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    ) big ON big.l_orderkey = o.o_orderkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 20
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — large-volume customers: HAVING over a fact
    aggregate feeding a join, then top-k.  The aggregate runs FIRST so
    the join input is already collapsed to qualifying orders (the
    plan a 100 TB engine must pick: filter-by-aggregate before join,
    never join-then-filter)."""
    big = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


@query(
    "q_tpch_q5",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — local-supplier volume: the all-dimensions join
    (customer⋈orders⋈lineitem⋈supplier⋈nation⋈region) with the
    local-supplier constraint c_nationkey = s_nationkey expressed as a
    second equi-key on the supplier join, not a post-filter — so
    Catalyst keeps it inside the join condition and the nation/region
    dims broadcast.

    r17 (guide §3.1 — check the build side): the r16 shape joined
    customer⋈orders FIRST, so that derived relation (no size
    estimate) streamed and Catalyst picked LINEITEM — the largest
    table — as the broadcast build side of the next join.  Rewritten
    with lineitem as the stream spine (l⋈o⋈c⋈s⋈n⋈r, every dim the
    build side, explicit narrow projections per guide §2.3): quiet
    A/B best 0.82–0.97 s → 0.44–0.50 s, identical results (inner
    joins commute).  At 100 TB the same code degrades correctly: o/c
    exceed the broadcast threshold and the l⋈o / ⋈c edges become
    shuffle joins of the projected columns only."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc())
    )


@query(
    "q_tpch_q10",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue,
           ROUND(c.c_acctbal, 2) AS c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item reporting: quarter-bounded
    orders, returnflag-filtered lineitem, customer re-join, top-20 by
    lost revenue.  Both filters push to the parquet scans; nation
    broadcasts; top-k is TakeOrderedAndProject (no full sort).
    c_custkey added to the sort as a unique tiebreaker so both engines
    pick the same row set (registry convention).  Revenue accumulates
    in DECIMAL(18,4) terms — exact, order-independent — because the
    double sum lands on a ROUND half-boundary at sf0.01 (378060.515)
    and the two engines' fold orders rounded it differently.

    r17 (guide §3.1 — same fix as q3/q5): the c⋈o-first order left
    the returnflag-filtered LINEITEM as a broadcast build side.
    Lineitem-spine order with narrow projections: quiet A/B best
    0.43–0.88 → 0.34–0.40 s, identical rows."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = load(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
    )


@query(
    "q_tpch_q7",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_name IN ('NATION_1', 'NATION_2')
      AND n2.n_name IN ('NATION_1', 'NATION_2')
      AND n1.n_name <> n2.n_name
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — volume shipping between two nations: the SAME
    dimension joined twice under different roles (supplier nation vs
    customer nation), an inequality predicate across the two roles,
    and a year-extraction group key.  Both nation sides broadcast;
    the exact-decimal revenue sum keeps cross-engine parity."""
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    nations = ["NATION_1", "NATION_2"]
    n1 = (
        load(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(nations))
        .select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        load(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(nations))
        .select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    )
    return (
        s.join(l, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
            )
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q_tpch_q8",
    oracle="""
    WITH flat AS (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(18,4))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS volume,
               ns.n_name AS supp_nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = nc.n_regionkey
        JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                               THEN volume ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 4) + 0 AS mkt_share
    FROM flat GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: 7-way join (nation
    twice: customer-side region gate, supplier-side share key), then a
    conditional-over-total ratio per year.  Decimal-exact volume sums;
    only the final ratio is IEEE.  All dims broadcast at bench scale;
    at 100 TB only orders⋈lineitem shuffles."""
    p = load(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    nc = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    flat = (
        p.join(l, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(nc, F.col("nc_key") == F.col("c_nationkey"))
        .join(r, F.col("r_regionkey") == F.col("nc_region"))
        .join(ns, F.col("ns_key") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    return flat.groupBy("o_year").agg(
        (
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / F.sum("volume").cast("double"),
                4,
            )
            + F.lit(0)
        ).alias("mkt_share")
    )


@query(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — customer order-count distribution: LEFT join
    with a predicate INSIDE the join condition (customers with zero
    qualifying orders must survive with count 0), double aggregation.
    count(col) over the null-extended side gives the zero bucket for
    free."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q_tpch_q14",
    oracle="""
    SELECT ROUND(
        100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                  THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                       * (1 - CAST(l.l_discount AS DECIMAL(18,4)))
                  ELSE 0 END) AS DOUBLE)
        / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE),
        4) + 0 AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-03-01 00:00:00'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promotion revenue share: conditional
    aggregate over a fact⋈dim join reduced to ONE scalar.  Sums
    accumulate exactly in DECIMAL(18,4) and only the final ratio is
    IEEE (identical on both engines); ``+ 0`` normalizes a potential
    -0.0."""
    l = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-03-01 00:00:00").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.round(
                    F.lit(100.0)
                    * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
                    .cast("double")
                    / F.sum(rev).cast("double"),
                    4,
                )
                + F.lit(0)
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS sum_charge,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 — the pricing-summary report: one scan, eight
    aggregates over two grouping columns.  The canonical partial/final
    HashAggregate benchmark: at 100 TB this is a map-side combine down
    to ~6 groups, shuffling a handful of rows."""
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2000-09-01 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_tpch_q2",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS ps_supplycost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
        SELECT ps.l_partkey, ps.ps_supplycost,
               s.s_acctbal, s.s_name, n.n_name,
               MIN(ps.ps_supplycost) OVER (PARTITION BY ps.l_partkey) AS mn
        FROM ps
        JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
    )
    SELECT eu.s_acctbal, eu.s_name, eu.n_name, p.p_partkey, p.p_name,
           ROUND(eu.ps_supplycost, 4) AS supplycost
    FROM eu JOIN part p ON p.p_partkey = eu.l_partkey
    WHERE p.p_size = 15 AND p.p_type = 'SMALL' AND eu.ps_supplycost = eu.mn
    ORDER BY eu.s_acctbal DESC, eu.n_name, eu.s_name, p.p_partkey
    LIMIT 10
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 — minimum-cost supplier: the correlated min-subquery
    done as a window MIN over the region-restricted supply table, then
    an equality filter (one shuffle on partkey; no subquery
    re-execution).  Dims broadcast; the window partition is the join
    key so Catalyst reuses the exchange."""
    p = load(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "SMALL")
    )
    # r16 (guide §3.2 semi-join pre-filter): every surviving output
    # row has a partkey from the highly selective part filter, and
    # BOTH the per-pair MIN aggregate and the per-partkey window MIN
    # are partitioned by l_partkey — so the partkey restriction
    # commutes below them.  A broadcast LEFT SEMI on the tiny filtered
    # part list prunes LINEITEM at the scan, before the (l_partkey,
    # l_suppkey) aggregate shuffle and the window, instead of after
    # the window as the r15 plan did.  At 100 TB this is the
    # difference between shuffling the whole derived-partsupp table
    # and ~p_selectivity of it.  Results identical (oracle-verified).
    li = load(spark, sf_dir, "lineitem").join(
        F.broadcast(p.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        ps.join(s, ps.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .withColumn("mn", F.min("ps_supplycost").over(Window.partitionBy("l_partkey")))
    )
    return (
        eu.where(F.col("ps_supplycost") == F.col("mn"))
        .join(p, eu.l_partkey == p.p_partkey)
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(10)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("ps_supplycost", 4).alias("supplycost"),
        )
    )


@query(
    "q_tpch_q9",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
    ORDER BY 1, 2 DESC
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 — product-type profit by nation and year (profit is
    discounted revenue; the spec's supply-cost term needs partsupp).
    Star shape: part filter broadcast-pruned into the fact scan,
    supplier/nation broadcast, one shuffle join to orders for the
    year, then a small group-by."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "q_tpch_q11",
    oracle="""
    WITH v AS (
        SELECT l.l_partkey,
               SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                        AS BIGINT)) AS cents
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey AND r.r_name = 'ASIA'
        GROUP BY l.l_partkey
    )
    SELECT l_partkey, cents / 100.0 AS value
    FROM v
    WHERE cents > (SELECT SUM(cents) * 2.0 / COUNT(*) FROM v)
    ORDER BY value DESC, l_partkey
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 — important stock: per-part value restricted to one
    region's suppliers, kept when above a threshold from a scalar
    subquery over the same aggregate.  The spec's fraction is
    0.0001/SF — scale-relative — so the analog here is 2× the mean
    per-part value (a fixed fraction of the TOTAL empties or floods
    the result as the part count grows).  The 1-row threshold is
    broadcast onto the per-part aggregate — the fact table is scanned
    once and the aggregate reused for both sides.

    Parity: the per-part value is summed in EXACT integer cents
    (per-row ROUND of an identical double, then a bigint sum) because
    a double SUM's last ulp differs cross-engine and ROUND(sum, 2)
    straddles a half-cent for ~1 part in 10^3 — observed at sf0.1."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    v = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
                ).cast("long")
            ).alias("cents")
        )
    )
    total = v.agg((F.sum("cents") * 2.0 / F.count("*")).alias("threshold"))
    return (
        v.crossJoin(F.broadcast(total))
        .where(F.col("cents") > F.col("threshold"))
        .select("l_partkey", (F.col("cents") / 100.0).alias("value"))
        .orderBy(F.col("value").desc(), "l_partkey")
    )


@query(
    "q_tpch_q12",
    oracle="""
    SELECT l.l_linestatus AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1 ORDER BY 1
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 — shipping-mode priority split (l_linestatus stands
    in for the missing l_shipmode): conditional aggregation (the
    countIf pattern) over a fact-fact join with a pushed date range."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@query(
    "q_tpch_q15",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 — top supplier: quarterly revenue per supplier, keep
    the maximum (the spec's CREATE VIEW + scalar subquery).  The
    1-row max is broadcast back onto the aggregate; revenue is rounded
    to cents on both sides BEFORE the equality so the comparison is on
    identically-derived values."""
    rev = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = load(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q_tpch_q16",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#15' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 7, 10, 15, 20, 25, 30, 35, 40, 45, 49)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 — parts/supplier relationship: distinct-supplier
    counts per part attribute triple, excluding flagged suppliers
    (negative balance stands in for the spec's complaint comment) via
    a broadcast anti join."""
    bad = load(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#15")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 15, 20, 25, 30, 35, 40, 45, 49)
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q_tpch_q17",
    oracle="""
    WITH pq AS (
        SELECT l.l_quantity, l.l_extendedprice,
               AVG(l.l_quantity) OVER (PARTITION BY l.l_partkey) AS avg_qty
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#23'
    )
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pq WHERE l_quantity < 0.5 * avg_qty
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 — small-quantity-order revenue: the correlated
    per-part average (spec: 0.2×avg with a container filter; here
    0.5×avg over the brand) as a window AVG, then a scalar aggregate.
    Quantities are integer-valued so the window average is exact in
    both engines — the threshold comparison is deterministic."""
    p = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    li = load(spark, sf_dir, "lineitem")
    pq = li.join(p, li.l_partkey == p.p_partkey).withColumn(
        "avg_qty", F.avg("l_quantity").over(Window.partitionBy("l_partkey"))
    )
    return pq.where(F.col("l_quantity") < 0.5 * F.col("avg_qty")).agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        F.count("*").alias("n"),
    )


@query(
    "q_tpch_q19",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 — discounted revenue: a disjunction of three
    brand/size/quantity conjuncts straddling the join (part attrs +
    lineitem attrs in one OR).  Catalyst extracts the common part-side
    disjunction (brand IN ... AND size ≤ 15) below the join while the
    mixed residual stays as the join filter — the spec's reason for
    existing."""
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    qty, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((brand == "Brand#11") & size.between(1, 5) & qty.between(1, 11))
        | ((brand == "Brand#12") & size.between(1, 10) & qty.between(10, 20))
        | ((brand == "Brand#23") & size.between(1, 15) & qty.between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@query(
    "q_tpch_q20",
    oracle="""
    WITH shipped AS (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%blue%'
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING SUM(l.l_quantity) > 50
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM shipped)
    ORDER BY s.s_suppkey
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 — potential part promotion: the spec's nested
    IN-chains (suppliers having enough stock of promoted parts) as a
    semi-join pipeline: part-name filter → per-(supplier, part)
    shipped-quantity HAVING (availqty proxy; exact integer sums) →
    semi join into the region's suppliers."""
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("%blue%"))
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    shipped = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .join(shipped, s.s_suppkey == shipped.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q_tpch_q21",
    oracle="""
    WITH om AS (
        SELECT l_orderkey, MAX(l_shipdate) AS mx,
               COUNT(DISTINCT l_suppkey) AS nsup
        FROM lineitem GROUP BY l_orderkey
    ), latest AS (
        SELECT DISTINCT l.l_orderkey, l.l_suppkey
        FROM lineitem l
        JOIN om ON om.l_orderkey = l.l_orderkey AND l.l_shipdate = om.mx
        WHERE om.nsup >= 2
    ), uniq AS (
        SELECT l_orderkey, MAX(l_suppkey) AS l_suppkey
        FROM latest GROUP BY l_orderkey HAVING COUNT(*) = 1
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM uniq u
    JOIN orders o   ON o.o_orderkey = u.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = u.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey AND r.r_name = 'ASIA'
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 — suppliers who kept orders waiting: the spec's
    EXISTS/NOT-EXISTS pair (another supplier on the order; no OTHER
    supplier also late) becomes: the supplier is the STRICTLY latest
    shipper of a multi-supplier finished order.  One aggregate builds
    both the per-order max and the supplier count; a HAVING count=1
    enforces uniqueness of the argmax — no correlated re-scans."""
    # r16 restructure (guide §2.4 — remove shuffles outright): the r15
    # plan scanned lineitem TWICE (once for the per-order aggregate,
    # once to join back on shipdate = mx) and paid a distinct exchange
    # on the joined result.  One pass instead: collapse lineitem to
    # distinct (orderkey, suppkey) pairs carrying each supplier's max
    # shipdate — a supplier shipped at the order's last date iff its
    # own max equals the order max — then a window over l_orderkey
    # restates mx (max of pair maxima) and nsup (count of pair rows =
    # count of distinct suppliers).  The following uniq aggregate is
    # keyed by the same l_orderkey, so it reuses the window's
    # partitioning with no further exchange.  Two shuffles of
    # pair-sized data replace two full scans + three fact-sized
    # shuffles; results identical (oracle-verified).  Non-null
    # assumption, stated (ADVICE r16): nsup counts (orderkey, suppkey)
    # pair ROWS where the old form counted DISTINCT non-null suppkeys —
    # equivalent iff l_suppkey is never NULL, which TPC-H guarantees
    # (l_suppkey is part of the lineitem key) and the oracle confirms
    # on this data.
    # r17 (guide §3.2 — reduce the big side before shuffling it): the
    # o_orderstatus='F' gate (~1/2 of orders) used to apply AFTER the
    # pairs aggregate+window, so the fact shuffle carried every order.
    # A broadcast left-semi on the F-order keys BEFORE the aggregate
    # halves the pairs shuffle, and makes the later orders join
    # redundant (uniq rows then ARE F-orders; o_orderkey is unique so
    # that join only filtered).  Window/aggregate are partitioned by
    # l_orderkey, so dropping non-F orders cannot affect any surviving
    # order's mx/nsup — semantics identical (quiet A/B: equal results,
    # best 1.19 → 0.88 s).
    ok = load(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    ).join(F.broadcast(ok), F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    pairs = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("sd")
    )
    wp = Window.partitionBy("l_orderkey")
    pw = pairs.withColumn("mx", F.max("sd").over(wp)).withColumn(
        "nsup", F.count(F.lit(1)).over(wp)
    )
    latest = pw.where(
        (F.col("nsup") >= 2) & (F.col("sd") == F.col("mx"))
    ).select("l_orderkey", "l_suppkey")
    uniq = (
        latest.groupBy("l_orderkey")
        .agg(F.max("l_suppkey").alias("l_suppkey"), F.count("*").alias("c"))
        .where(F.col("c") == 1)
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        uniq.join(s, uniq.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@query(
    "q_tpch_q22",
    oracle="""
    WITH avgbal AS (
        SELECT AVG(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) / 100.0 AS ab
        FROM customer WHERE c_acctbal > 0
    ), eligible AS (
        SELECT c.c_nationkey, c.c_acctbal
        FROM customer c, avgbal
        WHERE c.c_acctbal > avgbal.ab
          AND c.c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
          )
    )
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM eligible GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 — global sales opportunity: above-average-balance
    customers (nationkey stands in for the phone country code) with no
    recent orders.  The average is computed in EXACT integer cents
    (sums < 2^53) so the threshold is bitwise-identical cross-engine;
    the no-orders test is a broadcast-threshold anti join on the
    date-restricted orders."""
    c = load(spark, sf_dir, "customer")
    avgbal = (
        c.where(F.col("c_acctbal") > 0)
        .select(F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"))
        .agg((F.avg("cents") / 100.0).alias("ab"))
    )
    recent = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
    )
    eligible = (
        c.where(F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
        .crossJoin(F.broadcast(avgbal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
    )
    return (
        eligible.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )
