"""Storage-engine scenarios: TPC-H facts at 100x, parquet codecs,
mutations, partition lifecycle, the DDL warehouse, insert-triggered
materialized views, collapsing and retention rollups."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tools.scale import SF01, TINY_SF


#: red flags that must not appear in any plan at scale
SCALE_KILLERS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")


def _q1(li):
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc"),
            F.avg("l_quantity").alias("avg_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _q6(li):
    return li.where(
        (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


def _q3ish(li, orders):
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def tpch_100x(run, *, base=SF01, reps=100):
    """TPC-H Q1/Q6/Q3-shaped queries on sf0.1 facts replicated 100x to
    parquet (60M lineitem rows), at 1x vs 100x, plus Q3 on a bucketed
    layout.

    Checks: replicated row count, no cartesian / nested-loop join /
    row-at-a-time Python UDF in any plan, and the bucketed Q3 keeps at
    most one Exchange (only the tiny group-by survives).  Gates: each
    query scales at most 150x for 100x data, and the bucketed Q3 scales
    better than the unbucketed one.  A broadcast→sort-merge flip on the
    grown join side is the correct adaptation and is recorded, not
    failed."""
    from clickhub_spark.sources.writer import write_bucketed

    spark = run.spark
    li1 = spark.read.parquet(f"{base}/lineitem.parquet")
    orders = spark.read.parquet(f"{base}/orders.parquet")
    out = {}
    # disjoint orderkeys per replica so join fan-out grows with data;
    # orders are materialized too, or the replication plan would leak a
    # nested-loop join into the measured Q3
    out["build_100x_sec"], big = run.timed(
        lambda: run.replicate(li1, reps, "lineitem_100x", l_orderkey=10_000_000)
    )
    orders_big = run.replicate(orders, reps, "orders_100x", o_orderkey=10_000_000)
    out["rows_1x"], out["rows_100x"] = li1.count(), big.count()
    run.check("rows_replicated", out["rows_100x"] == reps * out["rows_1x"])

    plans = {
        "q1": (_q1(li1), _q1(big)),
        "q6": (_q6(li1), _q6(big)),
        "q3": (_q3ish(li1, orders), _q3ish(big, orders_big)),
    }
    # fingerprints of the plans as submitted, before AQE re-plans them
    fps = {}
    for q, (small, grown) in plans.items():
        fps[f"{q}_1x"], fps[f"{q}_100x"] = run.fingerprint(small), run.fingerprint(grown)
    for q, (small, grown) in plans.items():
        out[f"{q}_1x_sec"], _ = run.timed(small.collect)
        out[f"{q}_100x_sec"], _ = run.timed(grown.collect)
    for q in plans:
        out[f"{q}_scaling"] = round(out[f"{q}_100x_sec"] / max(0.001, out[f"{q}_1x_sec"]), 1)

    # both fact tables pre-shuffled ON the join key at write time: the
    # Q3 join must then run without its two join Exchanges
    def bucket():
        write_bucketed(big, "li_100x_bucketed", "l_orderkey", n_buckets=64, sort_col="l_orderkey")
        write_bucketed(orders_big, "ord_100x_bucketed", "o_orderkey", n_buckets=64, sort_col="o_orderkey")

    out["bucket_build_sec"], _ = run.timed(bucket)
    q3_b = _q3ish(spark.table("li_100x_bucketed"), spark.table("ord_100x_bucketed"))
    fps["q3_bucketed_100x"] = run.fingerprint(q3_b)
    out["q3_bucketed_100x_sec"], _ = run.timed(q3_b.collect)
    out["q3_bucketed_scaling"] = round(out["q3_bucketed_100x_sec"] / max(0.001, out["q3_1x_sec"]), 1)
    out["plan_fingerprints"] = fps
    spark.sql("DROP TABLE li_100x_bucketed")
    spark.sql("DROP TABLE ord_100x_bucketed")

    run.check("no_scale_killers", not any(fp.get(k) for fp in fps.values() for k in SCALE_KILLERS))
    run.check("bucketed_q3_exchange_le_1", fps["q3_bucketed_100x"].get("Exchange", 0) <= 1)
    run.gate("scaling_le_150x", all(out[f"{q}_scaling"] <= 150 for q in plans))
    run.gate("bucketed_q3_scales_better", out["q3_bucketed_scaling"] < out["q3_scaling"])
    out["gates_ok"] = all({**run.checks, **run.gates}.values())
    return out


def codecs(run, *, base=SF01, reps=100):
    """Parquet codec trade-off for the 100 TB storage decision: the
    100x lineitem table (60M rows) written with snappy / zstd / gzip,
    reporting bytes, write time and full-scan time per codec.

    Check: every codec's scan returns the same checksum."""
    spark = run.spark
    src = run.replicate(
        spark.read.parquet(f"{base}/lineitem.parquet"), reps, "lineitem_100x", l_orderkey=10_000_000
    )
    out, sums = {}, set()
    for codec in ("snappy", "zstd", "gzip"):
        d = run.path(f"codec_{codec}")
        w, _ = run.timed(lambda: src.write.option("compression", codec).parquet(d), 2)
        size = sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)
        r, row = run.timed(lambda: spark.read.parquet(d).agg(F.sum("l_extendedprice")).first(), 2)
        sums.add(row[0])
        out[codec] = {"bytes": size, "write_sec": w, "scan_sec": r}
    run.check("same_checksum_every_codec", len(sums) == 1)
    return out


def mutation_scale(run, n=10_000_000):
    """``ALTER TABLE … UPDATE/DELETE … WHERE`` at n/10 and n rows: each
    mutation is ONE part rewrite through writer.compact's crash-safe
    swap, linear in table size and independent of match selectivity.

    Checks: closed-form row count, updated-row count and payload
    checksum at both sizes.  Gates: update and delete each scale at most
    15x for 10x rows."""
    from clickhub_spark.ddl import Warehouse

    spark = run.spark
    out: dict = {"metric": "mutation_scale", "rows": n}
    for tag, rows in (("small", n // 10), ("big", n)):
        wh = Warehouse(run.path(f"wh_{tag}"))
        wh.execute(
            "CREATE TABLE default.facts (`k` Int64, `grp` Int64, `v` Int64, "
            "`status` String) ENGINE = MergeTree ORDER BY (k)"
        )
        build, _ = run.timed(
            lambda: wh.execute(
                f"INSERT INTO default.facts SELECT number AS k, "
                f"number % 1000 AS grp, number % 97 AS v, 'cold' AS status "
                f"FROM numbers({rows})",
                spark=spark,
            ),
            2,
        )
        # UPDATE: ~1/1000 of rows match, but the rewrite is table-sized
        upd, _ = run.timed(
            lambda: wh.execute(
                "ALTER TABLE default.facts UPDATE v = v + 1000000, status = 'hot' WHERE grp = 7",
                spark=spark,
            ),
            2,
        )
        dele, _ = run.timed(
            lambda: wh.execute("ALTER TABLE default.facts DELETE WHERE modulo(grp, 100) = 3", spark=spark),
            2,
        )
        agg = wh.read(spark, "default.facts").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("status") == "hot", 1).otherwise(0)).alias("hot"),
            F.sum(F.when(F.col("grp") == 7, F.col("v")).otherwise(0)).alias("v7"),
        ).first()
        # 10 of 1000 grps deleted; grp 7 updated
        exp_n = rows - sum((rows - g + 999) // 1000 for g in range(3, 1000, 100))
        exp_hot = (rows - 7 + 999) // 1000
        exp_v7 = sum(g % 97 + 1_000_000 for g in range(7, rows, 1000))
        ok = run.check(f"{tag}_counts", (agg["n"], agg["hot"], agg["v7"]) == (exp_n, exp_hot, exp_v7))
        out[tag] = {
            "rows": rows,
            "build_sec": build,
            "update_sec": upd,
            "delete_sec": dele,
            "checks_ok": ok,
        }
    for op in ("update", "delete"):
        ratio = round(out["big"][f"{op}_sec"] / max(out["small"][f"{op}_sec"], 1e-9), 1)
        out[f"{op}_scaling_10x"] = ratio
        run.gate(f"{op}_scaling_le_15x", ratio <= 15)
    out["gates_ok"] = all({**run.checks, **run.gates}.values())
    return out


def mutation_pruned(run, per_day=100_000, days_big=100):
    """Partition-pruned ``delete_where_partitioned`` /
    ``update_where_partitioned`` on a day-partitioned table whose
    partitions stay ``per_day`` rows while the table grows 10x by adding
    days: mutating one day must cost O(touched partition), not O(table).

    Checks: closed-form surviving, updated and touched row counts at
    both sizes.  Gates: delete and update each scale at most 2x for the
    10x table."""
    from clickhub_spark.operators.mutate import (
        delete_where_partitioned,
        update_where_partitioned,
    )

    spark = run.spark
    out: dict = {"metric": "mutation_pruned_scale", "rows_per_day": per_day}
    for tag, days in (("small", max(days_big // 10, 1)), ("big", days_big)):
        rows = per_day * days
        path = run.path(f"facts_{tag}")
        build, _ = run.timed(
            lambda: spark.range(rows)
            .select(
                (F.col("id") % days).alias("day"),
                F.col("id").alias("k"),
                (F.col("id") % 97).alias("v"),
            )
            .repartition("day")
            .write.partitionBy("day")
            .parquet(path),
            2,
        )
        # mutate exactly ONE day at both sizes
        dele, survivors = run.timed(
            lambda: delete_where_partitioned(spark, path, "day", [3], F.col("k") % 2 == F.lit(1)), 2
        )
        upd, touched = run.timed(
            lambda: update_where_partitioned(
                spark, path, "day", [5], F.col("v") < 50, {"v": F.col("v") + 1_000_000}
            ),
            2,
        )
        agg = spark.read.parquet(path).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("v") >= 1_000_000, 1).otherwise(0)).alias("hot"),
            F.sum(F.when((F.col("day") == 3) & (F.col("k") % 2 == 1), 1).otherwise(0)).alias("odd3"),
        ).first()
        day3 = range(3, rows, days) if days > 3 else range(0)
        day5 = range(5, rows, days) if days > 5 else range(0)
        exp_deleted = sum(1 for k in day3 if k % 2 == 1)
        exp_hot = sum(1 for k in day5 if k % 97 < 50)
        ok = run.check(
            f"{tag}_counts",
            agg["n"] == rows - exp_deleted
            and agg["hot"] == exp_hot
            and agg["odd3"] == 0
            and survivors == len(day3) - exp_deleted
            and touched == len(day5),
        )
        out[tag] = {
            "rows": rows,
            "days": days,
            "build_sec": build,
            "delete_one_day_sec": dele,
            "update_one_day_sec": upd,
            "checks_ok": ok,
        }
    for op in ("delete", "update"):
        ratio = round(
            out["big"][f"{op}_one_day_sec"] / max(out["small"][f"{op}_one_day_sec"], 1e-9), 2
        )
        out[f"{op}_scaling_10x"] = ratio
        run.gate(f"{op}_scaling_le_2x", ratio <= 2.0)
    out["gates_ok"] = all({**run.checks, **run.gates}.values())
    return out


def partition_lifecycle(run, *, base_rows=1_000_000):
    """Partition lifecycle ops are O(1) metadata: DETACH / ATTACH / DROP
    PARTITION move or remove one directory, so their cost stays flat
    while the partition grows 10x; MODIFY COLUMN, a deliberate full
    rewrite, is timed once for contrast and not gated.

    Checks: detached rows are invisible, ATTACH restores the exact
    count, DROP removes exactly the partition, at both sizes.  Gate:
    each op at 10x takes at most 5x its 1x time (or 50 ms)."""
    from clickhub_spark.ddl import Warehouse

    spark = run.spark
    wh = Warehouse(run.path("partlife"))
    wh.execute("CREATE DATABASE git")
    out: dict = {"purpose": partition_lifecycle.__doc__.splitlines()[0], "scales": {}}
    for label, rows in (("1x", base_rows), ("10x", base_rows * 10)):
        name = f"git.pl_{label}"
        wh.execute(
            f"CREATE TABLE {name} (`k` Int64, `time` DateTime, `v` Int64) "
            "ENGINE = MergeTree PARTITION BY toYYYYMM(time) ORDER BY (k)"
        )
        # 3 partitions; the target partition (202402) carries 80% of rows
        wh.insert(
            spark,
            name,
            spark.range(rows).selectExpr(
                "id AS k",
                "CASE WHEN id % 10 = 0 THEN timestamp'2024-01-15 00:00:00' "
                "     WHEN id % 10 = 1 THEN timestamp'2024-03-15 00:00:00' "
                "     ELSE timestamp'2024-02-15 00:00:00' END AS time",
                "id * 7 AS v",
            ),
        )

        def visible():
            return wh.read(spark, name).count()

        n_target = wh.read(spark, name).where("time >= '2024-02-01' AND time < '2024-03-01'").count()
        total = visible()
        s = {"rows_total": total, "rows_in_partition": n_target}
        seen = {}
        for op, want, key in (
            ("detach", total - n_target, "detach_hides_rows"),
            ("attach", total, "attach_restores_rows"),
            ("drop", total - n_target, "drop_removes_rows"),
        ):
            s[f"{op}_sec"], _ = run.timed(
                lambda: wh.execute(f"ALTER TABLE {name} {op.upper()} PARTITION '202402'"), 4
            )
            seen[key] = run.check(f"{label}_{key}", visible() == want)
        out["scales"][label] = {**s, **seen}

    out["modify_column_rewrite_sec_1x"], _ = run.timed(
        lambda: wh.execute("ALTER TABLE git.pl_1x MODIFY COLUMN v Float64", spark=spark), 2
    )
    s1, s10 = out["scales"]["1x"], out["scales"]["10x"]
    for op in ("detach", "attach", "drop"):
        run.gate(f"{op}_flat", s10[f"{op}_sec"] <= max(5 * s1[f"{op}_sec"], 0.05))
    out["flat_gate"] = {
        "detach_10x_over_1x": round(s10["detach_sec"] / max(s1["detach_sec"], 1e-4), 2),
        "pass": all({**run.checks, **run.gates}.values()),
    }
    return out


def warehouse_scale(run, n_keys=1_000_000, n_batches=5):
    """DDL warehouse at millions of rows: ``n_batches`` re-imports of the
    same ``n_keys`` keys into a ReplacingMergeTree, then the
    merge-on-read FINAL (one hash aggregate) and ``OPTIMIZE TABLE …
    FINAL`` (the same aggregate feeding compact's swap).

    Checks: the base table holds every batch, FINAL and the optimized
    table keep each key exactly once at the last batch stamp, and a
    second OPTIMIZE is idempotent."""
    from clickhub_spark.ddl import Warehouse

    spark = run.spark
    out: dict = {"n_keys": n_keys, "n_batches": n_batches}
    wh = Warehouse(run.path("wh"))
    wh.execute("CREATE DATABASE IF NOT EXISTS git")
    # reference types.json:7 commits DDL, trimmed to the load-bearing
    # shape (key prefix + version column)
    wh.execute(
        "CREATE TABLE git.commits ( `hash` String, `author` "
        "LowCardinality(String), `time` DateTime, `lines_added` UInt32, "
        "`repo_name` LowCardinality(String), `updated_at` DateTime "
        "MATERIALIZED now() ) ENGINE = ReplacingMergeTree "
        "ORDER BY (repo_name, time, hash)"
    )

    def batch(b: int):
        return spark.range(n_keys).select(
            F.concat(F.lit("h"), F.col("id")).alias("hash"),
            F.concat(F.lit("dev"), (F.col("id") % 97)).alias("author"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") % 86_400).alias("time"),
            # the batch stamp rides in lines_added
            F.lit(b).cast("long").alias("lines_added"),
            F.concat(F.lit("org/repo"), (F.col("id") % 1000)).alias("repo_name"),
        )

    out["insert_sec"], _ = run.timed(
        lambda: [wh.insert(spark, "git.commits", batch(b)) for b in range(n_batches)]
    )
    out["base_rows"] = wh.read(spark, "git.commits").count()
    run.check("base_rows", out["base_rows"] == n_keys * n_batches)

    def n_and_checksum(df):
        return tuple(df.agg(F.count("*"), F.sum("lines_added")).first())

    want = (n_keys, (n_batches - 1) * n_keys)
    out["final_read_sec"], got = run.timed(lambda: n_and_checksum(wh.read_final(spark, "git.commits")))
    out["final_read_ok"] = run.check("final_read", got == want)
    out["optimize_sec"], out["optimize_msg"] = run.timed(
        lambda: wh.execute("OPTIMIZE TABLE git.commits FINAL", spark=spark)
    )
    out["post_optimize_read_sec"], got = run.timed(lambda: n_and_checksum(wh.read(spark, "git.commits")))
    out["optimize_ok"] = run.check("optimize", got == want)
    msg2 = wh.execute("OPTIMIZE TABLE git.commits FINAL", spark=spark)
    out["optimize_idempotent"] = run.check("optimize_idempotent", msg2 == f"optimized {n_keys}")
    out["all_ok"] = all(run.checks.values())
    return out


def mv_scale(run, rows_per_block=2_000_000, n_blocks=5, n_keys=50_000):
    """Insert-triggered MATERIALIZED VIEW maintenance at millions of rows
    per block: the MV SELECT runs over the inserted block only, so
    per-block cost tracks the ingest rate, never the table size.

    Checks: the SummingMergeTree target holds exactly blocks × keys
    partials, and its merged read equals a direct aggregate over the
    base table.  Gate: the last block costs at most 2.5x the first."""
    from clickhub_spark.ddl import Warehouse

    spark = run.spark
    out: dict = {"rows_per_block": rows_per_block, "n_blocks": n_blocks, "n_keys": n_keys}
    wh = Warehouse(run.path("wh"))
    wh.execute("CREATE DATABASE IF NOT EXISTS ana")
    wh.execute("CREATE TABLE ana.ev (`k` Int64, `v` Int64) ENGINE = MergeTree ORDER BY (k)")
    wh.execute(
        "CREATE TABLE ana.totals (`k` Int64, `n` Int64, `sv` Int64) "
        "ENGINE = SummingMergeTree ORDER BY (k)"
    )
    wh.execute(
        "CREATE MATERIALIZED VIEW ana.mv TO ana.totals AS "
        "SELECT k, count() AS n, sum(v) AS sv FROM ana.ev GROUP BY k",
        spark=spark,
    )
    block_secs = []
    for b in range(n_blocks):
        df = spark.range(rows_per_block).select(
            (F.col("id") % n_keys).alias("k"),
            ((F.lit(b) * (F.col("id") % n_keys)) % 97).alias("v"),
        )
        sec, _ = run.timed(lambda: wh.insert(spark, "ana.ev", df))
        block_secs.append(sec)
    out["block_secs"] = block_secs
    out["flat_cost_ok"] = run.gate("flat_cost", block_secs[-1] <= 2.5 * max(block_secs[0], 0.5))

    def merge_check():
        partials = wh.read(spark, "ana.totals").count()
        merged = wh.read_final(spark, "ana.totals")
        direct = wh.read(spark, "ana.ev").groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
        diff = (
            merged.join(direct, "k", "full_outer")
            .where(~merged["n"].eqNullSafe(direct["n"]) | ~merged["sv"].eqNullSafe(direct["sv"]))
            .count()
        )
        return partials, diff

    out["merge_check_sec"], (out["partial_rows"], diff) = run.timed(merge_check)
    out["partials_ok"] = run.check("partials", out["partial_rows"] == n_blocks * n_keys)
    out["mismatched_keys"] = diff
    run.check("merged_equals_direct", diff == 0)
    out["all_ok"] = all({**run.checks, **run.gates}.values())
    return out


def collapsing_scale(run, n=10_000_000):
    """Collapsing-engine FINAL at 10M state rows: a sign-changelog FINAL
    is ONE hash-aggregate shuffle on the key, each group folding to a
    constant-size accumulator.

    Plain form: K keys × S states, every superseded state cancelled and
    keys ≡0 (mod 5) cancelling their final state too.  Versioned form:
    versions 1..SV per key, every version ≡0 (mod 3) retracted.  Checks:
    closed-form survivor count and payload checksum for each form."""
    from clickhub_spark.operators.collapsing import (
        collapse_final,
        collapse_final_versioned,
    )

    states_per_key, versions = 10, 9
    # the closed forms assume exactly S states per key
    n = max(states_per_key, n - n % states_per_key)
    k = n // states_per_key
    spark = run.spark
    out: dict = {"metric": "collapsing_scale_smoke", "n_states": n, "n_keys": k}

    seq = (F.col("id") / k).cast("long")
    states = spark.range(n).select(
        (F.col("id") % k).alias("key"),
        seq.alias("seq"),
        ((F.col("id") % k) * 1000 + seq).alias("payload"),
        F.lit(1).alias("sign"),
    )
    cancels = states.where((F.col("seq") < states_per_key - 1) | (F.col("key") % 5 == 0)).withColumn(
        "sign", F.lit(-1)
    )
    # states + superseded + final-cancels
    out["n_changelog"] = n + (n - k) + (k + 4) // 5
    out["collapse_s"], got = run.timed(
        lambda: collapse_final(states.unionByName(cancels), keys=["key"], sign="sign", order=["seq"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("payload").alias("ck"),
            F.sum(F.when(F.col("sign") != 1, 1).otherwise(0)).alias("n_cancel_rows"),
        )
        .first(),
        2,
    )
    n_mult5 = (k + 4) // 5
    exp_n = k - n_mult5
    sum_all = k * (k - 1) // 2
    sum_mult5 = 5 * ((n_mult5 - 1) * n_mult5 // 2)
    exp_ck = 1000 * (sum_all - sum_mult5) + (states_per_key - 1) * exp_n
    out["plain_ok"] = run.check("plain", tuple(got) == (exp_n, exp_ck, 0))
    if not out["plain_ok"]:
        out["plain_got"], out["plain_exp"] = list(got), [exp_n, exp_ck, 0]

    ver = (F.col("id") / k).cast("long") + 1
    vstates = spark.range(k * versions).select(
        (F.col("id") % k).alias("key"),
        ver.alias("ver"),
        ((F.col("id") % k) * 1000 + ver).alias("payload"),
        F.lit(1).alias("sign"),
    )
    vcancels = vstates.where(F.col("ver") % 3 == 0).withColumn("sign", F.lit(-1))
    out["versioned_collapse_s"], vgot = run.timed(
        lambda: collapse_final_versioned(
            vstates.unionByName(vcancels), keys=["key"], sign="sign", version="ver", order=["ver"]
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("payload").alias("ck"),
            F.min("ver").alias("vmin"),
            F.max("ver").alias("vmax"),
        )
        .first(),
        2,
    )
    # largest version in 1..SV that is not ≡0 (mod 3)
    vexp = versions if versions % 3 else versions - 1
    want = (k, 1000 * sum_all + vexp * k, vexp, vexp)
    out["versioned_ok"] = run.check("versioned", tuple(vgot) == want)
    if not out["versioned_ok"]:
        out["versioned_got"], out["versioned_exp"] = list(vgot), list(want)
    return out


def retention_scale(run, n=10_000_000):
    """GraphiteMergeTree-style retention rollup over n rows spread over a
    30-day window in 64 key lanes, three tiers (1h / 6h / 1d): ONE hash
    aggregate whose exchange carries keys × buckets, never raw rows.

    Check: rows and the value total are conserved exactly, and when n
    covers every second of the window, every (key, bucket) cell of every
    tier is populated."""
    from clickhub_spark.operators.retention import rollup_retention

    t0, days, cut_1h, cut_6h, lanes = 1704067200, 30, 24, 10, 64
    span = days * 86400
    out: dict = {"metric": "retention_scale_smoke", "n_rows": n, "n_keys": lanes}
    # row i: ts = t0 + (i % span); key = i % lanes; value = 0.01·(i % 100)
    rows = run.spark.range(n).select(
        (F.col("id") % lanes).cast("string").alias("k"),
        F.timestamp_seconds(F.lit(t0) + (F.col("id") % span)).alias("ts"),
        ((F.col("id") % 100) * 0.01).alias("v"),
    )
    tiers = [
        (f"2024-01-{1 + cut_1h:02d} 00:00:00", 3600),
        (f"2024-01-{1 + cut_6h:02d} 00:00:00", 21600),
    ]
    out["rollup_s"], got = run.timed(
        lambda: rollup_retention(rows, "ts", ["k"], "v", tiers, 86400)
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n").alias("n_total"),
            F.round(F.sum("total"), 2).alias("v_total"),
            F.countDistinct("bucket_s").alias("n_tiers"),
        )
        .first(),
        2,
    )
    exp_buckets = lanes * ((days - cut_1h) * 24 + (cut_1h - cut_6h) * 4 + cut_6h)
    covered = n >= span
    # groups of 100 consecutive ids sum to 49.50
    g, r = divmod(n, 100)
    exp_v = round(49.50 * g + 0.01 * (r * (r - 1) // 2), 2)
    ok = run.check(
        "conserved_and_covered",
        got.n_total == n
        and abs(got.v_total - exp_v) < 0.05
        and (not covered or (got.n_tiers == 3 and got.n_buckets == exp_buckets)),
    )
    out.update(
        {
            "n_buckets": got.n_buckets,
            "exp_buckets": exp_buckets if covered else None,
            "rows_conserved": got.n_total == n,
            "v_total": float(got.v_total),
            "exp_v_total": exp_v,
            "tiers_seen": got.n_tiers,
            "ok": ok,
        }
    )
    return out


#: scenario -> keyword arguments of its tiny Tier-1 run
SCENARIOS = {
    tpch_100x: {"base": TINY_SF, "reps": 2},
    codecs: {"base": TINY_SF, "reps": 2},
    mutation_scale: {"n": 20_000},
    mutation_pruned: {"per_day": 500, "days_big": 60},
    partition_lifecycle: {"base_rows": 2_000},
    warehouse_scale: {"n_keys": 2_000, "n_batches": 2},
    mv_scale: {"rows_per_block": 5_000, "n_blocks": 2, "n_keys": 500},
    collapsing_scale: {"n": 20_000},
    retention_scale: {"n": 20_000},
}
