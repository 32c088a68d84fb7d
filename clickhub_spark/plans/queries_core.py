"""Queries whose name family has no module of its own: filters,
projections, set operations, sorts and top-k, sampling, ReplacingMergeTree
and Collapsing dedup, mutations, queues, UDFs, reshaping, and the Python
data sources.  Also the helpers that more than one family module uses.
"""

from __future__ import annotations

import os
import subprocess

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from clickhub_spark.catalog import load
from clickhub_spark.plans.registry import query
from clickhub_spark.sources.pyds import register_sources


# Absolute because builders receive only (spark, sf_dir) and the oracle
# reads it from DuckDB; the TSV fixture is reference-shaped ingest
# input, not driver testdata.
COMMITS_TSV = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
    "commits.tsv",
)


@query(
    "q_proj_cast",
    oracle=f"""
    SELECT c1 AS hash, CAST(c3 AS TIMESTAMP) AS time,
           CAST(c5 AS BIGINT) + CAST(c6 AS BIGINT) AS files_touched,
           'acme/widgets' AS repo_name
    FROM read_csv('{COMMITS_TSV}', delim='\t', header=false,
                  columns={{'c1':'VARCHAR','c2':'VARCHAR','c3':'VARCHAR','c4':'VARCHAR',
                           'c5':'VARCHAR','c6':'VARCHAR','c7':'VARCHAR','c8':'VARCHAR',
                           'c9':'VARCHAR','c10':'VARCHAR','c11':'VARCHAR','c12':'VARCHAR',
                           'c13':'VARCHAR'}})
    """,
)
def q_proj_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast-projection with rename + literal column injection (≙
    `SELECT c1::String as hash, …, '{repo}'::String as repo_name`,
    reference types.json:6)."""
    raw = spark.read.csv(COMMITS_TSV, sep="\t", header=False, inferSchema=False)
    return raw.select(
        F.col("_c0").alias("hash"),
        F.col("_c2").cast("timestamp").alias("time"),
        (F.col("_c4").cast("bigint") + F.col("_c5").cast("bigint")).alias("files_touched"),
        F.lit("acme/widgets").alias("repo_name"),
    )


# --------------------------------------------------------------------------
# §2.B filters / predicates
# --------------------------------------------------------------------------
@query(
    "q_filter_eq",
    oracle="""
    SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'
    """,
)
def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality predicate on a string key (≙ WHERE repo_name='x',
    reference repo/importer.py:95, app.py:49)."""
    return (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )


@query(
    "q_filter_range_time",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
    WHERE l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
    """,
)
def q_filter_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate on event time — the incremental high-water-mark
    cut (≙ WHERE time > '{max_time}', reference repo/importer.py:107).
    Pushed to the parquet scan → row-group min/max skipping."""
    return (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > F.lit("1997-06-01 00:00:00").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_shipdate")
    )


@query(
    "q_filter_in",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
)
def q_filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list predicate (≙ WHERE repo_name IN (…) probed in batches of
    1000, reference repo/schedule.py:86-94).  isin folds to one
    predicate; at scale a big list becomes a broadcast semi-join."""
    return (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "q_groupby_min",
    oracle="""
    SELECT o_custkey, min(o_orderdate) AS first_order
    FROM orders GROUP BY o_custkey
    ORDER BY first_order ASC, o_custkey ASC LIMIT 100
    """,
)
def q_groupby_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by + min() + sort-by-aggregate + limit (≙ SELECT repo_name,
    min(updated_at) as last_updated … GROUP BY repo_name ORDER BY
    last_updated ASC LIMIT 50000, reference repo/schedule.py:81-83).
    Unique tiebreaker (o_custkey) makes the top-k set deterministic."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("first_order"))
        .orderBy(F.col("first_order").asc(), F.col("o_custkey").asc())
        .limit(100)
    )


@query(
    "q_mv_stars",
    oracle="""
    SELECT user_id, COUNT(*) AS stars FROM events
    WHERE event_type = 'view' GROUP BY user_id
    """,
)
def q_mv_stars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stars materialized view, batch form (≙ github_stars_mv:
    SELECT repo_name, count() FROM github_events WHERE event_type =
    'WatchEvent' GROUP BY repo_name, reference README.md:256-262).
    Streaming form lives in clickhub_spark.streaming.mv."""
    return (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count("*").alias("stars"))
    )


# --------------------------------------------------------------------------
# §2.E ReplacingMergeTree dedup semantics
# --------------------------------------------------------------------------
@query(
    "q_dedup_replacing",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
    FROM lineitem
    QUALIFY row_number() OVER (
        PARTITION BY l_orderkey
        ORDER BY l_shipdate DESC, l_linenumber DESC, l_quantity DESC, l_extendedprice DESC
    ) = 1
    """,
)
def q_dedup_replacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-based dedup keeping the latest version — the FINAL read-view
    over ReplacingMergeTree (≙ ENGINE = ReplacingMergeTree ORDER BY
    (repo_name, time, hash) with version updated_at, reference
    README.md:132-134).  Deterministic tie-break by the full sort key
    (SURVEY §7 M4 hard part #1).  Generic form:
    clickhub_spark.operators.dedup.final_view."""
    from clickhub_spark.operators.dedup import final_view

    # r16 (guide §2.3 — project before the exchange): final_view's
    # max_by(struct(non-key columns)) is opaque to Catalyst's column
    # pruning — only the keys come out of the grouping and prune — so
    # without the explicit select the struct would carry all 15
    # non-key lineitem columns to emit 3.  Selecting the key +
    # version + output columns up front cuts the shuffled row to the 5
    # columns the query actually consumes; survivor choice is
    # unchanged (same key, same version ordering).
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity", "l_extendedprice"
    )
    return final_view(
        li,
        keys=["l_orderkey"],
        # testdata linenumbers are not unique per order, so the version
        # ordering needs the metric columns to be total (SURVEY §7 M4).
        version=["l_shipdate", "l_linenumber", "l_quantity", "l_extendedprice"],
    ).select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")


# --------------------------------------------------------------------------
# §2.F sorts / limits / top-k / set ops
# --------------------------------------------------------------------------
@query(
    "q_topk_multi",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
    ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC LIMIT 10
    """,
)
def q_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column mixed-direction sort + limit (≙ ORDER BY priority
    DESC, started_time ASC LIMIT 2 — the queue-claim candidate scan,
    reference repo/importer.py:138-139).  Catalyst plans
    TakeOrderedAndProject: true top-k, no full sort."""
    return (
        load(spark, sf_dir, "orders")
        .orderBy(
            F.col("o_totalprice").desc(),
            F.col("o_orderdate").asc(),
            F.col("o_orderkey").asc(),
        )
        .limit(10)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )


@query(
    "q_set_union",
    oracle="""
    SELECT DISTINCT c_nationkey AS nationkey FROM customer
    UNION
    SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    """,
)
def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION of key sets (≙ multi-queue union work_queue+new_queue,
    reference config.yml:13-15)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@query(
    "q_set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of key sets (SURVEY §2.F5)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "q_set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (≙ set(repo_batch) - set(currently_scheduled) done
    in Python in the reference, repo/schedule.py:100 — here distributed)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@query(
    "q_queue_sqlite",
    oracle="""
    SELECT CAST(5 - r_regionkey AS INT) AS claim_seq, r_name
    FROM region
    """,
)
def q_queue_sqlite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The queue's second linearizable-KV backend exercised through the
    driver contract (SURVEY §2.I5-I7; VERDICT r3 item 8): one job per
    region is scheduled on a ``SqliteWorkQueue`` with priority =
    r_regionkey, then a single worker drains the queue with the CAS
    claim protocol (conditional UPDATE + verify-read + point DELETE).
    The claim order — priority DESC, the reference's candidate scan
    repo/importer.py:138-139 — is deterministic, so the oracle can
    state it in SQL: claim_seq = 5 - r_regionkey.  Coordination state
    is driver-local by design (≤10k rows, reference config.yml:11);
    only the job SOURCE is a distributed table."""
    import tempfile

    from clickhub_spark.queue import SqliteWorkQueue

    regions = load(spark, sf_dir, "region").select("r_regionkey", "r_name").collect()
    with tempfile.TemporaryDirectory() as d:
        q = SqliteWorkQueue(f"{d}/queue.db")
        for r in regions:
            q.schedule(r["r_name"], priority=int(r["r_regionkey"]))
        claimed = []
        q.work("w1", lambda job: claimed.append(job.repo_name), max_polls=len(regions))
    return spark.createDataFrame(
        [(i + 1, name) for i, name in enumerate(claimed)],
        "claim_seq int, r_name string",
    )


@query(
    "q_set_intersect_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL (SURVEY §2.F5 bag semantics): duplicates
    survive up to the minimum multiplicity on each side — Spark's
    intersectAll, one shuffle per side on the full row key."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


@query(
    "q_set_except_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (SURVEY §2.F5 bag semantics): each left
    occurrence is cancelled by at most one right occurrence — Spark's
    exceptAll."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


@query(
    "q_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10 OFFSET 20
    """,
)
def q_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination: LIMIT with OFFSET over a total order (unique
    tiebreaker, so the page is deterministic across engines) — SURVEY
    §2.F3 completed with the offset form.  Spark executes
    offset+limit as a single TakeOrdered of offset+n rows then drops
    the prefix — no full sort."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(20)
        .limit(10)
    )


@query(
    "q_sample_hash",
    oracle="""
    SELECT event_id, user_id, value FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 2) < '20'
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE clause analog (ClickHouse samples by a hash of the
    sampling key, not randomly — that's what makes samples repeatable
    and joinable across tables).  ~1/8 of rows via the first md5 byte;
    deterministic on any engine, prunable if the table is bucketed by
    the sample key."""
    return (
        load(spark, sf_dir, "events")
        .where(F.substring(F.md5(F.col("event_id").cast("string")), 1, 2) < "20")
        .select("event_id", "user_id", "value")
    )


@query(
    "q_retention",
    oracle="""
    SELECT CAST(SUM(d0) AS BIGINT) AS day0,
           CAST(SUM(CASE WHEN d0 = 1 AND d1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS day1,
           CAST(SUM(CASE WHEN d0 = 1 AND d7 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS day7
    FROM (
        SELECT user_id,
               max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-01' THEN 1 ELSE 0 END) AS d0,
               max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-02' THEN 1 ELSE 0 END) AS d1,
               max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-08' THEN 1 ELSE 0 END) AS d7
        FROM events GROUP BY user_id
    )
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retention() analog: of users active on day 0, how many returned
    on day 1 / day 7 — per-user conditional max then a gated sum, the
    exact semantics of ClickHouse's retention(cond1, cond2, ...)."""
    ev = load(spark, sf_dir, "events")
    day = F.to_date("ts")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(day == F.lit("2024-01-01").cast("date"), 1).otherwise(0)).alias("d0"),
        F.max(F.when(day == F.lit("2024-01-02").cast("date"), 1).otherwise(0)).alias("d1"),
        F.max(F.when(day == F.lit("2024-01-08").cast("date"), 1).otherwise(0)).alias("d7"),
    )
    return per_user.agg(
        F.sum("d0").alias("day0"),
        F.sum(F.when((F.col("d0") == 1) & (F.col("d1") == 1), 1).otherwise(0)).alias("day1"),
        F.sum(F.when((F.col("d0") == 1) & (F.col("d7") == 1), 1).otherwise(0)).alias("day7"),
    )


@query(
    "q_topk_freq",
    oracle="""
    SELECT user_id, event_type, n FROM (
        SELECT user_id, event_type, COUNT(*) AS n,
               rank() OVER (PARTITION BY user_id ORDER BY COUNT(*) DESC) AS rnk
        FROM events GROUP BY user_id, event_type
    ) WHERE rnk <= 2
    """,
)
def q_topk_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topK / LIMIT BY analog: the 2 most frequent event types per
    user (ties included via rank, so the selected SET is
    deterministic).  Aggregate then window over the small aggregate —
    never a window over raw events."""
    from pyspark.sql.window import Window

    counts = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        counts.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 2)
        .select("user_id", "event_type", "n")
    )


@query(
    "q_fill_gaps",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), bounds AS (
        SELECT min(day) AS lo, max(day) AS hi FROM daily
    ), spine AS (
        SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS TIMESTAMP) AS day
        FROM bounds
    )
    SELECT s.day, COALESCE(d.n, 0) AS n
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
)
def q_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (≙ ClickHouse ORDER BY … WITH FILL):
    daily purchase counts with missing days present as zeros.  The
    date spine is sequence()+explode over the aggregate's own min/max
    — generated from a one-row bound, so the spine build is free and
    the only real work is the (broadcast) join back to the daily
    aggregate."""
    daily = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    spine = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
            ).alias("day")
        )
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).alias("n")
    )


@query(
    "q_set_union_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics UNION ALL (SURVEY §2.F5) — no dedup shuffle at
    all, unlike UNION DISTINCT."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s)


def _orders_projections(spark: SparkSession, sf_dir: str) -> str:
    """Build-once PROJECTION layouts for the orders table (ClickHouse
    ADD PROJECTION analog, sources/projections.py): a sort projection
    partitioned by o_orderpriority, and a mergeable pre-aggregation
    keyed (o_orderpriority, o_orderstatus).  Keyed on source files +
    plan like every derived artifact."""
    from clickhub_spark.artifacts import build_artifact
    from clickhub_spark.sources.projections import (
        AggProjection,
        SortProjection,
        materialize,
    )

    orders = load(spark, sf_dir, "orders")
    projections = [
        SortProjection(
            "by_priority",
            sort_cols=("o_orderdate",),
            partition_by="o_orderpriority",
        ),
        AggProjection(
            "prio_status_rollup",
            group_cols=("o_orderpriority", "o_orderstatus"),
            aggs={
                "cents": (
                    "sum",
                    "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)",
                ),
                "n": ("count", "o_orderkey"),
            },
        ),
    ]
    return build_artifact(
        orders, "projections", lambda p: materialize(orders, p, projections)
    )


@query(
    "q_projection_filter",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS total
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def q_projection_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection-routed point+range filter: the router picks the copy
    PARTITIONED by o_orderpriority (dir-level pruning skips 4/5 of the
    files before listing) whose in-file o_orderdate sort gives
    row-group skipping on the range — the two pruning levels a
    ClickHouse projection's ORDER BY provides.  Values are identical
    to a base-table scan, so the oracle reads the plain table."""
    from clickhub_spark.sources.projections import read_for_filter

    base_dir = _orders_projections(spark, sf_dir)
    routed, chosen = read_for_filter(
        spark, base_dir, ["o_orderpriority", "o_orderdate"]
    )
    assert chosen == "by_priority", chosen
    return routed.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).agg(
        F.count("*").alias("n"),
        (
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)")) / 100.0
        ).alias("total"),
    )


@query(
    "q_projection_agg",
    oracle="""
    SELECT o_orderpriority,
           SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS total,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_projection_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection-routed aggregation: grouping by a SUBSET of the
    pre-aggregation's keys, so the router answers from the tiny
    (priority, status) rollup copy with merge functions (sum-of-sums,
    sum-of-counts) — the fact table is never scanned.  Exact integer
    cents make the re-aggregated sum bitwise-equal to the oracle's
    single-pass sum."""
    from clickhub_spark.sources.projections import read_for_agg

    base_dir = _orders_projections(spark, sf_dir)
    merged, chosen = read_for_agg(
        spark,
        base_dir,
        ["o_orderpriority"],
        {
            "cents": ("sum", "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"),
            "n": ("count", "o_orderkey"),
        },
    )
    assert chosen == "prio_status_rollup", chosen
    return merged.select(
        "o_orderpriority",
        (F.col("cents") / 100.0).alias("total"),
        F.col("n"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# UDF / UDAF / UDTF surface (§2.J1-J3)
# ---------------------------------------------------------------------------
@query(
    "q_udf_scalar",
    oracle="""
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens_udf
    FROM documents
    """,
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas_udf (Arrow-vectorized, SURVEY §2.J1) — token count
    in Python as the UDF-surface demonstrator (the builtin form is
    q_llm_textstats; this proves the Arrow batch path)."""

    @pandas_udf("int")
    def n_tokens_udf(text: pd.Series) -> pd.Series:
        return text.str.split(" ").str.len().astype("int32")

    return load(spark, sf_dir, "documents").select(
        "doc_id", n_tokens_udf("text").alias("n_tokens_udf")
    )


@query(
    "q_udf_agg",
    oracle="""
    SELECT lang, ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS mean_chars
    FROM documents GROUP BY lang
    """,
)
def q_udf_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas_udf (UDAF surface, SURVEY §2.J2)."""

    @pandas_udf("double")
    def mean_chars(n: pd.Series) -> float:
        return float(n.astype("float64").mean())

    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.round(mean_chars("n_chars"), 4).alias("mean_chars"))
    )


@query(
    "q_udf_table",
    oracle="""
    SELECT doc_id, CAST(i AS INT) AS pos, string_split(text, ' ')[i] AS word
    FROM documents, UNNEST(range(1, 4)) t(i)
    WHERE len(string_split(text, ' ')) >= 3
    """,
)
def q_udf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-function surface (UDTF, SURVEY §2.J3): one row → many via
    mapInPandas — emits the first 3 words per document with positions."""

    def first_words(batches):
        for pdf in batches:
            words = pdf["text"].str.split(" ")
            keep = words.str.len() >= 3
            pdf = pdf[keep]
            words = words[keep]
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].repeat(3).values,
                    "pos": [p for _ in range(len(pdf)) for p in (1, 2, 3)],
                    "word": [w[p] for w in words for p in (0, 1, 2)],
                }
            )
            out["pos"] = out["pos"].astype("int32")
            yield out

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(first_words, "doc_id long, pos int, word string")


@query(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE WHEN lang = 'en' THEN '80' ELSE '1a' END
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling for training-data balancing (north star):
    keep ~50% of 'en' docs and ~10% of everything else, selected by a
    hash of the id so the sample is deterministic, repeatable, and
    consistent across engines/runs (unlike rand()-based sampleBy).
    At 100 TB this is a single scan with a cheap predicate — no
    shuffle, no state."""
    rate = F.when(F.col("lang") == "en", F.lit("80")).otherwise(F.lit("1a"))
    return (
        load(spark, sf_dir, "documents")
        .where(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < rate)
        .select("doc_id", "lang")
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@query(
    "q_pivot",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
           CAST(count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS BIGINT) AS n_high,
           CAST(count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT) AS n_medium,
           CAST(count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS n_notspec,
           CAST(count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT) AS n_low
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT reshaping (SURVEY §2.F extension — ClickHouse expresses
    this as countIf columns, reference repo/query.py's per-status
    columns): order counts per status × priority.  Explicit pivot
    values mean NO value-discovery scan, and Spark compiles this to
    its two-level pivot aggregate: the heavy partial+final count on
    (status, priority) reduces the fact table first, then a tiny
    PivotFirst agg reshapes the pre-aggregated rows — the 100 TB
    form (plan-pinned: two Exchanges, no Expand)."""
    pv = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .count()
    )
    aliases = ["n_urgent", "n_high", "n_medium", "n_notspec", "n_low"]
    return pv.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(a)
            for p, a in zip(_PRIORITIES, aliases)
        ],
    )


@query(
    "q_unpivot",
    oracle="""
    WITH u AS (
        SELECT p_brand, 'retailprice' AS metric, p_retailprice AS value FROM part
        UNION ALL
        SELECT p_brand, 'size', CAST(p_size AS DOUBLE) FROM part
    )
    SELECT p_brand, metric,
           ROUND(AVG(value), 4) AS avg_value,
           CAST(count(*) AS BIGINT) AS n
    FROM u GROUP BY p_brand, metric
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (SURVEY §2.F extension — the inverse reshaping;
    Spark's native ``DataFrame.unpivot``, Expand node in the plan):
    wide part metrics to long (metric, value) pairs, then re-aggregate.
    Expand emits both rows map-side in one pass over the scan — at
    100 TB this beats the UNION ALL double-scan the oracle states; the
    single shuffle is the re-aggregation."""
    p = load(spark, sf_dir, "part").select(
        "p_brand",
        F.col("p_retailprice").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    )
    long = p.unpivot(["p_brand"], ["retailprice", "size"], "metric", "value")
    return long.groupBy("p_brand", "metric").agg(
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           CAST((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000 AS BIGINT)
               AS duration_sec
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with a 30-minute inactivity gap (SURVEY
    §2.I3's batch canon for session windows, lag+cumsum form — how a
    warehouse computes what ClickHouse does with
    windowFunnel/session_window): per-user event streams split where
    the gap exceeds the timeout, then per-session rollups.  One
    shuffle on user_id serves both window passes AND the final
    aggregate (same partitioning reused across stages); microsecond
    epochs keep the gap math exact on both engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    flagged = load(spark, sf_dir, "events").withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_sess").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        (
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
            / F.lit(1_000_000)
        )
        .cast("long")
        .alias("duration_sec"),
    )


@query(
    "q_mutate_delete",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    WHERE NOT (o_orderstatus = 'O' AND o_totalprice < 50000)
    GROUP BY o_orderstatus
    """,
)
def q_mutate_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write point DELETE through the driver contract (SURVEY
    §2.I6; operators/mutate.delete_where — the reference's
    `DELETE FROM import_queue` repo/importer.py:174-175 generalized to
    fact tables): a fingerprint-cached copy of orders has open
    low-value rows deleted, then is read back and aggregated.  The
    oracle states the survivor set declaratively — the rewrite must
    change WHICH rows exist and nothing else.  The rewrite is
    all-or-nothing (write new dir → rename swap), the same publish
    protocol the incremental writer uses; readers never see a
    half-deleted table."""
    from clickhub_spark.artifacts import build_artifact
    from clickhub_spark.operators.mutate import delete_where

    src = load(spark, sf_dir, "orders")

    def _build(build: str) -> None:
        src.write.mode("overwrite").parquet(build)
        delete_where(
            spark,
            build,
            (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") < 50000),
        )

    path = build_artifact(src, "mutate_delete_orders", _build)
    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "q_queue_fs",
    oracle="""
    SELECT CAST(5 - r_regionkey AS INT) AS claim_seq, r_name
    FROM region
    """,
)
def q_queue_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filesystem-CAS queue backend through the driver contract
    (SURVEY §2.I5-I7; q_queue_sqlite's twin — both backends now have
    driver rows, same claim protocol, same deterministic drain order):
    one job per region at priority r_regionkey, drained by a single
    worker.  Claim order is priority DESC (queue.py:150, the
    reference's candidate scan repo/importer.py:138-139), so
    claim_seq = 5 - r_regionkey.  Coordination state is driver-local
    by design (≤10k rows); only the job source is distributed."""
    import tempfile

    from clickhub_spark.queue import WorkQueue

    regions = load(spark, sf_dir, "region").select("r_regionkey", "r_name").collect()
    with tempfile.TemporaryDirectory() as d:
        q = WorkQueue(d)
        for r in regions:
            q.schedule(r["r_name"], priority=int(r["r_regionkey"]))
        claimed: list[str] = []
        q.work("w1", lambda job: claimed.append(job.repo_name), max_polls=len(regions))
    return spark.createDataFrame(
        [(i + 1, name) for i, name in enumerate(claimed)],
        "claim_seq int, r_name string",
    )


@query(
    "q_sort_global",
    oracle="""
    SELECT event_id, ROUND(value, 4) AS value, event_type
    FROM events ORDER BY value DESC, event_id
    """,
)
def q_sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table ORDER BY (ClickHouse's ORDER BY without LIMIT —
    SURVEY §2.F sibling of the top-k rows, which deliberately AVOID
    this): a total sort of events by value.  The plan must be
    RangePartitioning — Spark samples the key distribution, assigns
    contiguous key ranges to partitions, and sorts within each, so a
    100 TB sort is (sample) + (1 shuffle) + (local sorts) with no
    single-node merge; plan-pinned by test_plans.  Unique tiebreaker
    keeps the order total."""
    return (
        load(spark, sf_dir, "events")
        .select("event_id", F.round("value", 4).alias("value"), "event_type")
        .orderBy(F.col("value").desc(), F.col("event_id"))
    )


@query(
    "q_system_parts",
    oracle="""
    SELECT 'orders' AS tbl, 'orders.parquet' AS part_name,
           CAST(count(*) AS BIGINT) AS rows_in_part
    FROM orders
    UNION ALL
    SELECT 'events', 'events.parquet', CAST(count(*) AS BIGINT)
    FROM events
    """,
)
def q_system_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """system.parts analog (ClickHouse's part-level introspection the
    reference ops flow reads before compaction/TTL decisions — SURVEY
    §3 adjunct): per-file row counts for storage tables derived from
    input_file_name() — Spark discovers the parts, it does not assume
    them.  The oracle states the fixture layout's ground truth (one
    part per canon table holding every row); a multi-file table would
    fail the compare honestly.  Counting by file is partial-aggregated
    and metadata-cheap at any scale."""
    out = None
    for tbl in ["orders", "events"]:
        df = (
            load(spark, sf_dir, tbl)
            .groupBy(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("part_name")
            )
            .agg(F.count(F.lit(1)).alias("rows_in_part"))
            .select(F.lit(tbl).alias("tbl"), "part_name", "rows_in_part")
        )
        out = df if out is None else out.unionAll(df)
    return out


@query(
    "q_mutate_update",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(SUM(CASE WHEN o_orderstatus = 'P' AND o_totalprice < 100000
                          THEN o_totalprice * 1.1 ELSE o_totalprice END), 2)
               AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_mutate_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write UPDATE through the driver contract (SURVEY §2
    ALTER UPDATE row; operators/mutate.update_where — previously
    unit-only): pending low-value orders get a 10% price bump in a
    fingerprint-cached copy, which is read back and aggregated.  The
    oracle states the post-update values declaratively — the rewrite
    must change exactly the matched rows' columns and nothing else.
    Same atomic dir-swap publish as q_mutate_delete."""
    from clickhub_spark.artifacts import build_artifact
    from clickhub_spark.operators.mutate import update_where

    src = load(spark, sf_dir, "orders")

    def _build(build: str) -> None:
        src.write.mode("overwrite").parquet(build)
        update_where(
            spark,
            build,
            (F.col("o_orderstatus") == "P") & (F.col("o_totalprice") < 100000),
            {"o_totalprice": F.col("o_totalprice") * 1.1},
        )

    path = build_artifact(src, "mutate_update_orders", _build)
    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "q_mutate_ttl",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_survivors,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_ts_us
    FROM events WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
    """,
)
def q_mutate_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL expiry through the driver contract (ClickHouse `TTL ts +
    INTERVAL` — operators/mutate.apply_ttl, previously unit-only):
    rows older than the cutoff are dropped from a fingerprint-cached
    copy.  The docstring caveat holds at scale: date-partitioned
    tables drop whole partition dirs instead of rewriting — this
    copy-on-write form is for unpartitioned state tables.  The oracle
    states the survivor set declaratively."""
    import datetime

    from clickhub_spark.artifacts import build_artifact
    from clickhub_spark.operators.mutate import apply_ttl

    src = load(spark, sf_dir, "events")

    def _build(build: str) -> None:
        src.write.mode("overwrite").parquet(build)
        apply_ttl(spark, build, "ts", datetime.datetime(2024, 1, 8))

    path = build_artifact(src, "mutate_ttl_events", _build)
    return spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.min(F.unix_micros("ts")).alias("min_ts_us"),
    )


@query(
    "q_source_numbers_ds",
    oracle="""
    WITH n AS (SELECT x AS num FROM generate_series(0, 49999) t(x))
    SELECT CAST(num % 7 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(num) AS BIGINT) AS total,
           CAST(MIN(num) AS BIGINT) AS lo,
           CAST(MAX(num) AS BIGINT) AS hi
    FROM n GROUP BY bucket ORDER BY bucket
    """,
)
def q_source_numbers_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource generator (SURVEY §2.A5; ClickHouse
    ``numbers(N)`` as a REGISTERED source, not just spark.range):
    ``partitions()`` plans 16 contiguous ranges on the driver, each
    task materializes its slice as one Arrow record batch — zero data
    read, N-way parallel, the same scale shape as a parquet scan.
    (The pushdown variant of this source — planning-time partition
    pruning from Catalyst-pushed comparison filters — is plan-tested
    in tests/test_pyds.py; this registered form stays pushdown-free so
    it runs on a vanilla session where
    spark.sql.python.filterPushdown.enabled is false.)

    r16 build-cost trim (guide §5 — driver): register ONLY the
    numbers source (not all five classes; each register cloudpickles
    a class to the JVM) and pass the schema explicitly so planning
    skips the ``schema()`` Python-worker round-trip.  Same source,
    same rows; fresh-session build measured 9.5 s → ~2 s."""
    from clickhub_spark.sources.pyds import NumbersDataSource

    register_sources(spark, only=(NumbersDataSource,))
    n = (
        spark.read.format("engine_numbers")
        .schema("num BIGINT")
        .option("n", 50_000)
        .option("numPartitions", 16)
        .load()
    )
    return (
        n.groupBy((F.col("num") % 7).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("num").alias("total"),
            F.min("num").alias("lo"),
            F.max("num").alias("hi"),
        )
        .orderBy("bucket")
    )


#: (author, email, authored_at, subject) per fixture commit,
#: oldest first.  Timestamps fixed so the repo is bit-stable.
_FIXTURE_COMMITS = [
    ("Ada", "ada@example.com", 1704067200, "init schema"),
    ("Ada", "ada@example.com", 1704153600, "add parser"),
    ("Grace", "grace@example.com", 1704240000, "fix off-by-one"),
    ("Grace", "grace@example.com", 1704326400, "vectorize inner loop"),
    ("Ada", "ada@example.com", 1704412800, "add bench"),
    ("Linus", "linus@example.com", 1704499200, "merge-ready cleanup"),
]


def _fixture_repo() -> str:
    """Create (once) a deterministic git repo for the gitlog source.
    Keyed by content version; safe to reuse across sessions."""
    root = os.path.join("/tmp", "spark_graft_gitlog_fixture_v1")
    marker = os.path.join(root, ".complete")
    if os.path.exists(marker):
        return root
    subprocess.run(["rm", "-rf", root], check=True)
    os.makedirs(root)
    env = dict(os.environ)
    run = lambda *a: subprocess.run(  # noqa: E731
        ["git", "-C", root, *a], env=env, check=True, capture_output=True
    )
    run("init", "-q", "-b", "main")
    for i, (name, email, ts, subject) in enumerate(_FIXTURE_COMMITS):
        with open(os.path.join(root, "file.txt"), "a") as f:
            f.write(f"line {i}\n")
        env.update(
            GIT_AUTHOR_NAME=name,
            GIT_AUTHOR_EMAIL=email,
            GIT_AUTHOR_DATE=f"{ts} +0000",
            GIT_COMMITTER_NAME=name,
            GIT_COMMITTER_EMAIL=email,
            GIT_COMMITTER_DATE=f"{ts} +0000",
        )
        run("add", "file.txt")
        run("commit", "-q", "-m", subject)
    with open(marker, "w") as f:
        f.write("ok")
    return root


def _gitlog_oracle() -> str:
    # newest-first git log order -> commit_idx 0 is the LAST fixture
    # commit; restate the expected table literally.
    rows = ",\n      ".join(
        f"({idx}, '{name}', '{email}', {ts}, '{subject}')"
        for idx, (name, email, ts, subject) in enumerate(reversed(_FIXTURE_COMMITS))
    )
    return f"""
    SELECT * FROM (VALUES
      {rows}
    ) AS t(commit_idx, author, author_email, authored_at, subject)
    ORDER BY commit_idx
    """


@query("q_source_gitlog", oracle=_gitlog_oracle())
def q_source_gitlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Git history as a first-class Spark source (SURVEY §2.A5: the
    reference shells out to ``clickhouse git-import`` and ingests its
    TSVs — reference repo/importer.py:86-108; here
    ``spark.read.format("gitlog")`` IS the table).  Planning counts
    commits once; each task reads its own --skip/--max-count slice,
    so a deep history fans out across the cluster.  Reads a
    deterministic fixture repo; the oracle is the literal expected
    history."""
    from clickhub_spark.sources.pyds import GitLogDataSource

    # r16: register only the gitlog class + explicit schema — same
    # build-cost trim as q_source_numbers_ds (guide §5).
    register_sources(spark, only=(GitLogDataSource,))
    repo = _fixture_repo()
    df = (
        spark.read.format("gitlog")
        .schema(
            "commit_idx BIGINT, hash STRING, author STRING, "
            "author_email STRING, authored_at BIGINT, n_parents INT, "
            "subject STRING"
        )
        .option("path", repo)
        .option("numPartitions", 3)
        .load()
    )
    return df.select(
        "commit_idx", "author", "author_email", "authored_at", "subject"
    ).orderBy("commit_idx")


@query(
    "q_sort_nulls",
    oracle="""
    SELECT event_id, value
    FROM events WHERE event_id < 2000
    ORDER BY value DESC NULLS LAST, event_id
    """,
)
def q_sort_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS LAST ordering (ClickHouse ORDER BY ... DESC
    NULLS LAST — SURVEY §2.F family): null placement DIFFERS between
    engines' defaults (Spark: nulls first on ASC/last on DESC; DuckDB:
    nulls last always), so portable sorts must pin it.  The driver
    compare is order-insensitive; the parity being checked is that
    explicit placement yields the same ROW SET under LIMIT-free
    output and the same semantics documented for users."""
    return (
        load(spark, sf_dir, "events")
        .where(F.col("event_id") < 2000)
        .select("event_id", "value")
        .orderBy(F.col("value").desc_nulls_last(), "event_id")
    )


# --------------------------------------------------------------------------
# §2.E collapsing-engine siblings of ReplacingMergeTree
# --------------------------------------------------------------------------
@query(
    "q_dedup_collapsing",
    oracle="""
    SELECT user_id, event_id AS last_event, event_type AS last_type,
           value AS last_value
    FROM (
        SELECT *,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn,
               count(*) OVER (PARTITION BY user_id) AS cnt
        FROM events WHERE user_id IS NOT NULL
    ) WHERE rn = 1 AND cnt % 5 <> 0
    """,
)
def q_dedup_collapsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CollapsingMergeTree FINAL (≙ ENGINE = CollapsingMergeTree(sign)
    — the changelog sibling of q_dedup_replacing's ReplacingMergeTree,
    reference README.md:132-134 DDL family).

    The query BUILDS a genuine sign-changelog from events — every event
    writes a +1 state row, every superseded event a -1 cancel, and
    users whose event count is ≡0 (mod 5) get their final state
    cancelled too — then collapses it with the generic single-shuffle
    operator (operators/collapsing.py:collapse_final).  The oracle
    derives the expected survivor set INDEPENDENTLY (last event per
    user, minus fully-cancelled users), so it checks the collapse
    semantics, not the changelog plumbing.  32 of 150 users at sf0.01
    exercise the fully-cancelled (net = 0) path."""
    from clickhub_spark.operators.collapsing import collapse_final

    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", "event_id", "ts", "event_type", "value")
    )
    w = Window.partitionBy("user_id")
    # single pass, no cache: each event emits its +1 state and — when
    # superseded or in a fully-cancelled user — also its -1 cancel,
    # via a map-side explode of the sign array.  (The round-8 form
    # persisted the corpus-scale windowed frame to share it across a
    # states/cancels union and never unpersisted — ADVICE r8 item 5.)
    seq = ev.withColumn(
        "__rn", F.row_number().over(w.orderBy("ts", "event_id"))
    ).withColumn("__cnt", F.count(F.lit(1)).over(w))
    cancelled = (F.col("__rn") < F.col("__cnt")) | (F.col("__cnt") % 5 == 0)
    log = seq.select(
        *ev.columns,
        F.explode(
            F.when(cancelled, F.array(F.lit(1), F.lit(-1))).otherwise(
                F.array(F.lit(1))
            )
        ).alias("sign"),
    )
    return collapse_final(
        log, keys=["user_id"], sign="sign", order=["ts", "event_id"]
    ).select(
        "user_id",
        F.col("event_id").alias("last_event"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


@query(
    "q_dedup_collapsing_versioned",
    oracle="""
    SELECT user_id, CAST(rn AS BIGINT) AS version,
           event_id AS last_event, event_type AS last_type
    FROM (
        SELECT user_id, event_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn
        FROM events WHERE user_id IS NOT NULL
    ) WHERE rn % 3 <> 0
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY rn DESC) = 1
    """,
)
def q_dedup_collapsing_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VersionedCollapsingMergeTree FINAL (≙ ENGINE =
    VersionedCollapsingMergeTree(sign, version)): cancels revoke the
    state carrying the SAME version — not merely the previous state —
    so arbitrary versions can be retracted regardless of write order.

    Changelog: every event is a +1 state row versioned by its per-user
    sequence number; every version ≡0 (mod 3) also gets a -1 cancel —
    retractions scattered through the middle of each user's history,
    which plain collapsing cannot express.  FINAL must therefore
    surface the highest NON-cancelled version per user
    (operators/collapsing.py:collapse_final_versioned — per-(key,
    version) sign fold, then a max-version fold over survivors); the
    oracle computes that expectation independently."""
    from clickhub_spark.operators.collapsing import collapse_final_versioned

    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", "event_id", "ts", "event_type")
    )
    # single pass, no cache: versions ≡0 (mod 3) emit both their +1
    # state and the -1 retraction via a map-side sign explode (see
    # q_dedup_collapsing — replaces the r8 never-unpersisted persist)
    seq = ev.withColumn(
        "version",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .cast("long"),
    )
    log = seq.select(
        *seq.columns,
        F.explode(
            F.when(
                F.col("version") % 3 == 0, F.array(F.lit(1), F.lit(-1))
            ).otherwise(F.array(F.lit(1)))
        ).alias("sign"),
    )
    return collapse_final_versioned(
        log, keys=["user_id"], sign="sign", version="version",
        order=["ts", "event_id"],
    ).select(
        "user_id",
        "version",
        F.col("event_id").alias("last_event"),
        F.col("event_type").alias("last_type"),
    )
