"""Scan queries (``q_scan_*``): file formats, layouts (z-order, bloom
skip index, partitions), schema evolution and table snapshots.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhub_spark.catalog import load
from clickhub_spark.plans.queries_core import COMMITS_TSV
from clickhub_spark.plans.registry import query


@query(
    "q_scan_parquet",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_quantity > 45.0
    """,
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with projection + filter pushdown (≙ MergeTree part
    read, reference README.md:133).  .explain shows PushedFilters +
    pruned ReadSchema."""
    return (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 45.0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@query(
    "q_scan_tsv",
    oracle=f"""
    SELECT c1 AS hash, c2 AS author, CAST(c3 AS TIMESTAMP) AS time,
           CAST(c9 AS BIGINT) AS lines_added, CAST(c10 AS BIGINT) AS lines_deleted
    FROM read_csv('{COMMITS_TSV}', delim='\t', header=false,
                  columns={{'c1':'VARCHAR','c2':'VARCHAR','c3':'VARCHAR','c4':'VARCHAR',
                           'c5':'VARCHAR','c6':'VARCHAR','c7':'VARCHAR','c8':'VARCHAR',
                           'c9':'VARCHAR','c10':'VARCHAR','c11':'VARCHAR','c12':'VARCHAR',
                           'c13':'VARCHAR'}})
    """,
)
def q_scan_tsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headerless positional TSV scan (≙ file('commits.tsv') with c1..cN,
    reference types.json:6, executed repo/importer.py:106-108)."""
    raw = spark.read.csv(COMMITS_TSV, sep="\t", header=False, inferSchema=False)
    return raw.select(
        F.col("_c0").alias("hash"),
        F.col("_c1").alias("author"),
        F.col("_c2").cast("timestamp").alias("time"),
        F.col("_c8").cast("bigint").alias("lines_added"),
        F.col("_c9").cast("bigint").alias("lines_deleted"),
    )


@query(
    "q_scan_zorder",
    oracle="""
    SELECT event_id, user_id, ROUND(value, 4) AS value
    FROM events
    WHERE user_id BETWEEN 3 AND 7 AND value BETWEEN 100 AND 400
    """,
)
def q_scan_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional skipping scan (SURVEY §2.A6 extension —
    Delta/Iceberg OPTIMIZE ZORDER analog; sources/writer.write_zordered):
    a z-ordered copy of events clustered on (user_id, value) is built
    once per input fingerprint, then a two-dimensional range predicate
    reads it — parquet min/max prunes files/row-groups on BOTH columns
    because the Morton layout gives every file locality in each
    dimension (test_projections pins the span property).  The oracle
    is the same predicate on the raw table: layout must never change
    results."""
    from clickhub_spark.artifacts import build_artifact
    from clickhub_spark.sources.writer import write_zordered

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    zpath = build_artifact(
        ev,
        "zorder_events",
        lambda build: write_zordered(
            ev, build, ["user_id", "value"], bits=8, target_files=16
        ),
    )
    z = spark.read.parquet(zpath)
    return z.where(
        F.col("user_id").between(3, 7) & F.col("value").between(100, 400)
    ).select("event_id", "user_id", F.round("value", 4).alias("value"))


@query(
    "q_scan_bloom",
    oracle="""
    SELECT event_id, user_id, event_type, ROUND(value, 4) AS value
    FROM events WHERE user_id IN (3, 9)
    """,
)
def q_scan_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-skip-index point lookup (SURVEY §2.A6; ClickHouse
    `INDEX ... TYPE bloom_filter` analog, sources/writer.write_sorted
    bloom_cols): events are re-clustered sorted by ts with a parquet
    bloom filter on user_id — a high-cardinality column OUTSIDE the
    sort prefix, where min/max spans everything and only the bloom
    can skip row groups.  The point-IN probe reads the bloom-indexed
    copy; the oracle is the same predicate on the raw table — the
    index must never change results, only pruning.  At 100 TB this is
    the `actor_id = X` needle query: touched row groups ≈ those that
    contain X."""
    from clickhub_spark.artifacts import build_artifact
    from clickhub_spark.sources.writer import write_sorted

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    path = build_artifact(
        ev,
        "bloom_events",
        lambda build: write_sorted(
            ev, build, partition_by=None, sort_cols=["ts"],
            mode="overwrite", bloom_cols=["user_id"],
        ),
    )
    b = spark.read.parquet(path)
    return b.where(F.col("user_id").isin(3, 9)).select(
        "event_id", "user_id", "event_type", F.round("value", 4).alias("value")
    )


def _format_copy(spark: SparkSession, sf_dir: str, table: str, fmt: str, tag: str,
                 writer_opts: dict | None = None):
    """Build (once per input fingerprint) a copy of ``table`` in an
    interchange format and return (DataFrame-read-back, path).  The
    read uses the SOURCE's exact schema — schema-on-read with explicit
    types, never inference: at 100 TB an inferSchema pass would read
    the whole dataset twice, and CSV/JSON type guessing is
    locale-fragile besides."""
    from clickhub_spark.artifacts import build_artifact

    src = load(spark, sf_dir, table)

    def _build(build: str) -> None:
        w = src.write.mode("overwrite").format(fmt)
        for k, v in (writer_opts or {}).items():
            w = w.option(k, v)
        w.save(build)

    path = build_artifact(src, tag, _build)
    r = spark.read.format(fmt).schema(src.schema)
    for k, v in (writer_opts or {}).items():
        r = r.option(k, v)
    return r.load(path)


@query(
    "q_scan_csv",
    oracle="""
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(SUM(s_acctbal), 2) AS total_bal
    FROM supplier GROUP BY s_nationkey
    """,
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with header (SURVEY §2.A1 sibling — the reference's
    FORMAT CSVWithNames import path): a headered-CSV copy of supplier
    is read back with the explicit source schema (no inferSchema — at
    scale that is a full extra pass) and aggregated.  The oracle runs
    on the parquet canon: format round-trips must never change
    values.  CSV scans split by line ranges, so parallelism matches
    parquet; pushdown is projection-only (row format) — stated, not
    hidden."""
    csv = _format_copy(
        spark, sf_dir, "supplier", "csv", "csv_supplier", {"header": "true"}
    )
    return csv.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
    )


@query(
    "q_scan_jsonl",
    oracle="""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n,
           CAST(MAX(p_size) AS INT) AS max_size
    FROM part GROUP BY p_brand
    """,
)
def q_scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source (SURVEY §2.A1 sibling — the reference's
    JSONEachRow, clickhub's native event-feed format): a JSONL copy of
    part read back with the explicit schema and aggregated; oracle on
    the parquet canon.  Line-delimited JSON splits like CSV; the
    explicit schema skips both the inference pass and the
    per-record key discovery that makes schemaless JSON scans 10×
    slower at 100 TB."""
    js = _format_copy(spark, sf_dir, "part", "json", "jsonl_part")
    return js.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("p_size").alias("max_size"),
    )


@query(
    "q_scan_orc",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(AVG(c_acctbal), 4) AS avg_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar source (SURVEY §2.A2 sibling — the second columnar
    interchange format every lakehouse speaks): an ORC copy of
    customer read back and aggregated; oracle on the parquet canon.
    ORC keeps the columnar fast path — column pruning, predicate
    pushdown into stripe/row-group indexes, vectorized read — so
    engine capability does not degrade when upstream data arrives as
    ORC instead of parquet."""
    orc = _format_copy(spark, sf_dir, "customer", "orc", "orc_customer")
    return orc.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
    )


@query(
    "q_scan_partition_prune",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def q_scan_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partition-pruned scan through the driver contract (SURVEY
    §2.A6; the sparse-index/partition analog, unit-plan-tested in
    test_plans — this adds the value check): events re-clustered into
    event_type=... partition dirs once per input fingerprint, then one
    partition read back and aggregated.  At 100 TB the equality
    predicate never opens the other partitions' files (PartitionFilters
    prune at the file-listing level); the oracle is the same predicate
    on the raw table — layout must never change results."""
    from clickhub_spark.artifacts import build_artifact
    from clickhub_spark.sources.writer import write_sorted

    ev = load(spark, sf_dir, "events").select("event_type", "user_id", "value", "ts")
    path = build_artifact(
        ev,
        "events_by_type",
        lambda build: write_sorted(
            ev, build, partition_by="event_type", sort_cols=["ts"], mode="overwrite"
        ),
    )
    p = spark.read.parquet(path)
    return (
        p.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
    )


@query(
    "q_scan_csv_permissive",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_good,
           CAST(7 AS BIGINT) AS n_bad,
           ROUND(SUM(s_acctbal), 2) AS total_bal
    FROM supplier
    """,
)
def q_scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant CSV ingest (SURVEY §2.A1's tolerant-TSV sibling
    on the CSV reader's own machinery): a headered-CSV copy of
    supplier gets 7 deterministic malformed lines appended, then is
    read in PERMISSIVE mode with columnNameOfCorruptRecord — bad rows
    land in the corrupt column instead of killing the scan, exactly
    the posture a 100 TB ingest needs (one mangled line must cost one
    row, not a job).  The oracle pins good-row fidelity (count + sum
    unchanged) and the exact bad count."""
    import glob
    import os

    from pyspark.sql.types import StructField, StringType

    from clickhub_spark.artifacts import build_artifact

    src = load(spark, sf_dir, "supplier")

    def _build(build: str) -> None:
        src.write.mode("overwrite").option("header", "true").csv(build)
        part = sorted(glob.glob(os.path.join(build, "part-*.csv")))[0]
        # the unparseable value sits in s_acctbal — a column the query
        # actually reads: CSV column pruning only PARSES referenced
        # columns, so garbage in an unreferenced field would never
        # trip the corrupt-record machinery
        with open(part, "a") as f:
            for i in range(7):
                f.write(f"{900000 + i},BROKEN,0,NOT_A_NUMBER\n")
        # the append invalidates Hadoop LocalFS's .crc sidecars —
        # drop them or the reader fails with ChecksumException
        # before PERMISSIVE mode ever sees a row
        for crc in glob.glob(os.path.join(build, ".*.crc")):
            os.remove(crc)

    path = build_artifact(src, "csv_supplier_badrows", _build)
    schema = src.schema.add(StructField("_corrupt", StringType()))
    bad = F.col("_corrupt").isNotNull()
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
        .agg(
            F.count(F.when(~bad, 1)).alias("n_good"),
            F.count(F.when(bad, 1)).alias("n_bad"),
            F.round(F.sum(F.when(~bad, F.col("s_acctbal"))), 2).alias("total_bal"),
        )
    )


@query(
    "q_scan_schema_evolution",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS channel
        FROM orders WHERE o_orderkey % 2 = 0
    ), v2 AS (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END AS channel
        FROM orders WHERE o_orderkey % 2 = 1
    ), u AS (
        SELECT * FROM v1 UNION ALL SELECT * FROM v2
    )
    SELECT COALESCE(channel, '<pre-schema>') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM u GROUP BY 1 ORDER BY 1
    """,
)
def q_scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan (SURVEY §2.A2 extension — the ALTER TABLE
    ADD COLUMN reality of any long-lived table): two parquet batches
    written at different schema versions (v2 adds ``channel``) read as
    ONE table via ``mergeSchema``; rows from the old batch surface the
    new column as NULL, exactly ClickHouse's added-column default
    semantics.  The batches are a fingerprint-cached build-once
    artifact (atomic publish); at 100 TB mergeSchema costs one footer
    read per FILE at planning — the data itself is never rewritten,
    which is the entire point versus a backfill."""
    from clickhub_spark.artifacts import build_artifact

    orders = load(spark, sf_dir, "orders")

    def write(build: str) -> None:
        v1 = orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        v2 = orders.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_totalprice",
            F.when(F.col("o_orderkey") % 3 == 0, "web")
            .otherwise("store")
            .alias("channel"),
        )
        v1.write.mode("overwrite").parquet(build + "/batch=v1")
        v2.write.mode("overwrite").parquet(build + "/batch=v2")

    path = build_artifact(orders, "schema_evolution", write)
    u = spark.read.option("mergeSchema", "true").parquet(
        path + "/batch=v1", path + "/batch=v2"
    )
    return (
        u.groupBy(F.coalesce(F.col("channel"), F.lit("<pre-schema>")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("channel")
    )


@query(
    "q_scan_time_travel",
    oracle="""
    WITH v0 AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 0
    ), v1 AS (
        SELECT * FROM v0 WHERE o_totalprice >= 50000
    ), v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                    ELSE o_totalprice END AS o_totalprice
        FROM v1
    )
    SELECT * FROM (
        SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(o_totalprice), 2) AS total FROM v0
        UNION ALL
        SELECT 1, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2) FROM v1
        UNION ALL
        SELECT 2, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2) FROM v2
    ) ORDER BY version
    """,
)
def q_scan_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel (operators/mutate snapshot layer — the
    lakehouse DELETE/UPDATE-with-history contract on plain dirs):
    v0 = initial publish, v1 = DELETE (cheap orders dropped), v2 =
    UPDATE (10% uplift on a key slice); all three versions stay
    readable AFTER the mutations because each publish is an immutable
    version dir + one atomic pointer flip.  The query reads every
    retained version and reports (n, total) per version; the oracle
    replays the same mutations relationally.  Versions live in a
    fingerprint-cached artifact, so re-runs see the same history."""
    from clickhub_spark.artifacts import build_artifact
    from clickhub_spark.operators.mutate import (
        read_snapshot,
        snapshot_mutate,
        snapshot_write,
    )

    orders = load(spark, sf_dir, "orders")

    def write(build: str) -> None:
        os.makedirs(build, exist_ok=True)
        v0 = orders.where(F.col("o_orderkey") % 4 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        snapshot_write(v0, build)
        snapshot_mutate(
            spark, build, lambda df: df.where(F.col("o_totalprice") >= 50_000)
        )
        snapshot_mutate(
            spark,
            build,
            lambda df: df.withColumn(
                "o_totalprice",
                F.when(
                    F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 1.1
                ).otherwise(F.col("o_totalprice")),
            ),
        )

    table = build_artifact(orders, "time_travel", write)
    per_version = [
        read_snapshot(spark, table, v)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(F.lit(v).alias("version"), "n", "total")
        for v in (0, 1, 2)
    ]
    out = per_version[0]
    for p in per_version[1:]:
        out = out.unionByName(p)
    return out.orderBy("version")


@query(
    "q_scan_snapshot_diff",
    oracle="""
    WITH v0 AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 0
    ), v1 AS (
        SELECT * FROM v0 WHERE o_totalprice >= 50000
    ), v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                    ELSE o_totalprice END AS o_totalprice
        FROM v1
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT a.o_orderkey,
               CASE WHEN b.o_orderkey IS NULL THEN 'delete'
                    WHEN a.o_totalprice <> b.o_totalprice THEN 'update'
               END AS change_type
        FROM v0 a LEFT JOIN v2 b USING (o_orderkey)
    ) WHERE change_type IS NOT NULL
    GROUP BY change_type ORDER BY change_type
    """,
)
def q_scan_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between snapshot versions (operators/mutate.snapshot_diff —
    the changefeed an incremental consumer replays instead of
    re-scanning the table): diff v0→v2 of the time-travel table
    classifies every changed key as insert/delete/update via one
    full-outer join on the key with struct-compared values.  The
    oracle replays the same mutations relationally and counts per
    change type (this history has deletes + updates, no inserts)."""
    from clickhub_spark.artifacts import derived_artifact_path
    from clickhub_spark.operators.mutate import snapshot_diff

    orders = load(spark, sf_dir, "orders")
    # reuse q_scan_time_travel's fingerprint-cached history (same
    # inputs + tag -> same artifact); building it is idempotent
    q_scan_time_travel(spark, sf_dir).collect()
    table = derived_artifact_path(orders, "time_travel")
    diff = snapshot_diff(spark, table, 0, 2, keys=["o_orderkey"])
    return (
        diff.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("change_type")
    )
