"""100× scale smoke for the round-6 rank statistics
(PERFORMANCE.md "Rank statistics at 100×").

sf0.1's events table has ~100k non-null values; this smoke runs the
SAME query shapes on a 10M-row synthetic table (100×) to show the
per-value-counts / pivot-cumulative techniques scale: the corpus-sized
stage is one hash aggregate; windows touch only the distinct-value
table.  Values are quantized to 4 decimal places so the distinct-value
table stays realistically bounded (~600k rows) at any corpus size.

Usage: python tools/smoke_stats_scale.py [n_rows]
Prints one JSON line with per-statistic wall times.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")


def main() -> None:
    import pyspark.sql.functions as F

    from clickhub_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    spark = get_spark("smoke-stats")
    spark.sparkContext.setLogLevel("ERROR")
    # synthetic 100× events: correlated (x, value) pairs, quantized
    base = spark.range(n).select(
        (F.col("id") % 1500).alias("user_id"),
        F.when(F.xxhash64("id") % 2 == 0, "view").otherwise("click").alias(
            "event_type"
        ),
        F.round(
            (F.abs(F.xxhash64("id", F.lit(1))) % 1_000_000) / 1650.0
            + (F.col("id") % 8) * 7.0,
            4,
        ).alias("value"),
    )
    base.write.mode("overwrite").parquet("/tmp/smoke_stats_events")
    spark.read.parquet("/tmp/smoke_stats_events").createOrReplaceTempView("events")

    from clickhub_spark.plans import all_specs, queries_agg

    def view_load(spark_, _sf, name):  # the smoke's table IS the view
        return spark_.table("events")

    # the plan module bound `load` at import time — patch its name
    orig = queries_agg.load
    queries_agg.load = view_load
    try:
        specs = all_specs()
        out = {"n_rows": n}
        for q in ["q_agg_ks_test", "q_agg_mannwhitney", "q_agg_spearman", "q_agg_kendall"]:
            t0 = time.time()
            rows = specs[q].builder(spark, "unused").collect()
            out[q + "_sec"] = round(time.time() - t0, 2)
            out[q + "_rows"] = len(rows)
        out["loadavg_1m"] = round(os.getloadavg()[0], 2)
        print(json.dumps(out))
    finally:
        queries_agg.load = orig


if __name__ == "__main__":
    main()
