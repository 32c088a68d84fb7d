"""Event-analytics scenarios: windowFunnel, sequenceMatch, as-of and
range joins, the heavy-hitter sketch, rank statistics, sweep and bloom
growth, and the Python data sources."""

from __future__ import annotations

from pyspark.sql import functions as F

from tools.scale import REPO, SF01, TINY_SF


def _histogram(df, col: str) -> dict:
    return {int(r[0]): int(r[1]) for r in df.groupBy(col).agg(F.count(F.lit(1))).collect()}


def funnel_scale(run, n_users=500_000):
    """windowFunnel (operators/funnel.py) over ~2M events: the mode
    family's greedy DP is ONE user_id exchange + one per-partition sort
    + K chained window passes, with state bounded by the step count.

    Users fall in five archetypes whose level under every mode is known
    exactly — clean v,c,p; broken v,x,c,p; dup v,c,c,p; tied (c at v's
    timestamp); premature v,p,c.  Check: each mode's level histogram,
    and the multi-match (entry-explode) path's default-mode histogram,
    equal the closed form."""
    from clickhub_spark.operators.funnel import window_funnel

    users = run.spark.range(n_users).select(F.col("id").alias("user_id"), (F.col("id") % 5).alias("arch"))
    step = users.select(
        "user_id",
        "arch",
        F.explode(
            F.when(F.col("arch").isin(1, 2), F.array(*map(F.lit, range(4)))).otherwise(F.array(*map(F.lit, range(3))))
        ).alias("pos"),
    )
    etype = (
        F.when(F.col("pos") == 0, F.lit("v"))
        .when((F.col("arch") == 1) & (F.col("pos") == 1), F.lit("x"))
        .when((F.col("arch") == 1) & (F.col("pos") == 2), F.lit("c"))
        .when((F.col("arch") == 2) & (F.col("pos").isin(1, 2)), F.lit("c"))
        .when((F.col("arch") == 4) & (F.col("pos") == 1), F.lit("p"))
        .when((F.col("arch") == 4) & (F.col("pos") == 2), F.lit("c"))
        .when(F.col("pos") == 1, F.lit("c"))
        .otherwise(F.lit("p"))
    )
    # seconds offset = position, except "tied" (arch 3) keeps c at v's ts
    offs = F.when((F.col("arch") == 3) & (F.col("pos") == 1), F.lit(0)).otherwise(F.col("pos"))
    ev = step.select(
        "user_id",
        (F.col("user_id") * 100 + F.col("pos")).alias("event_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("user_id") % 86_400 + offs).alias("ts"),
        etype.alias("event_type"),
    ).repartition(run.partitions(n_users, 500_000, 32))
    n_events = ev.count()

    n_clean, n_broken, n_dup, n_tied, n_prem = ((n_users - a + 4) // 5 for a in range(5))
    expect = {
        "default": {3: n_clean + n_broken + n_dup + n_tied, 2: n_prem},
        "strict_order": {3: n_clean + n_dup + n_tied, 1: n_broken + n_prem},
        "strict_dedup": {3: n_clean + n_broken + n_tied, 2: n_dup + n_prem},
        "strict_increase": {3: n_clean + n_broken + n_dup, 1: n_tied, 2: n_prem},
    }
    out: dict = {"metric": "funnel_scale_smoke", "n_users": n_users, "n_events": n_events}
    ini = F.col("event_type")

    def levels(**kw):
        return window_funnel(
            ev,
            user_col="user_id",
            order=["ts", "event_id"],
            steps=[ini == "v", ini == "c", ini == "p"],
            ts_col="ts",
            window_s=86_400,
            **kw,
        )

    # with mutually exclusive steps the multi-match path must return
    # the default histogram (overlapping conditions are pinned by
    # tests/test_funnel_differential.py::test_differential_multi_match)
    runs = {m: {"modes": () if m == "default" else (m,)} for m in expect}
    runs["default_multimatch"] = {"multi_match": True}
    for key, kw in runs.items():
        want = expect[key.removesuffix("_multimatch")]
        sec, hist = run.timed(lambda: _histogram(levels(**kw), "level"), 2)
        out[key] = {"sec": sec, "ok": run.check(key, hist == want)}
        if not out[key]["ok"]:
            out[key]["got"], out[key]["want"] = hist, want
    out["all_ok"] = all(run.checks.values())
    return out


def seqmatch_scale(run, n_users=300_000):
    """sequenceMatch / sequenceCount (operators/seqmatch.py) over ~1.2M
    events on both execution paths: the regex path (one user_id shuffle,
    JVM-side rlike/regexp_count) and the automaton path for time
    conditions (applyInPandas per user).

    Four archetypes with conditions c1={v,z} c2={c,z} c3={p,z}: hit
    v,c,p; miss v,p,c; double v,c,v,c,p; overlap z,z,z.  Check: match,
    count and timed-match results equal the closed form."""
    from clickhub_spark.operators.seqmatch import sequence_count, sequence_match

    users = run.spark.range(n_users).select(F.col("id").alias("user_id"), (F.col("id") % 4).alias("arch"))
    step = users.select(
        "user_id",
        "arch",
        F.explode(
            F.when(F.col("arch") == 2, F.array(*map(F.lit, range(5)))).otherwise(F.array(*map(F.lit, range(3))))
        ).alias("pos"),
    )
    letter = (
        F.when(F.col("arch") == 3, F.lit("z"))
        .when((F.col("arch") == 1) & (F.col("pos") == 1), F.lit("p"))
        .when((F.col("arch") == 1) & (F.col("pos") == 2), F.lit("c"))
        .when((F.col("arch") == 2) & (F.col("pos").isin(0, 2)), F.lit("v"))
        .when((F.col("arch") == 2) & (F.col("pos").isin(1, 3)), F.lit("c"))
        .when((F.col("arch") == 2) & (F.col("pos") == 4), F.lit("p"))
        .when(F.col("pos") == 0, F.lit("v"))
        .when(F.col("pos") == 1, F.lit("c"))
        .otherwise(F.lit("p"))
    )
    # every archetype's first two entries are 600 s apart
    ev = step.select(
        "user_id",
        (F.col("user_id") * 10 + F.col("pos")).alias("event_id"),
        (F.col("user_id").cast("double") % 86_400 + F.col("pos") * 600).alias("ts"),
        letter.alias("event_type"),
    ).repartition(run.partitions(n_users, 300_000, 32))
    n_events = ev.count()

    lt = F.col("event_type")
    conds = [lt.isin("v", "z"), lt.isin("c", "z"), lt.isin("p", "z")]
    n_hit, n_miss, n_double, n_overlap = ((n_users - a + 3) // 4 for a in range(4))
    out: dict = {"metric": "seqmatch_scale_smoke", "n_users": n_users, "n_events": n_events}
    order = ["ts", "event_id"]

    sec, got = run.timed(
        lambda: sequence_match(ev, "user_id", order, conds, "(?1).*(?2).*(?3)").where("matched").count(), 2
    )
    out["match_regex"] = {"sec": sec, "ok": run.check("match_regex", got == n_hit + n_double + n_overlap)}

    sec, hist = run.timed(
        lambda: _histogram(sequence_count(ev, "user_id", order, conds, "(?1)(?2)"), "n_matches"), 2
    )
    want = {0: n_miss, 1: n_hit + n_overlap, 2: n_double}
    out["count_regex"] = {"sec": sec, "ok": run.check("count_regex", hist == {k: v for k, v in want.items() if v})}
    if not out["count_regex"]["ok"]:
        out["count_regex"]["got"], out["count_regex"]["want"] = hist, want

    # (?1)(?t<3600)(?2) needs DIRECT adjacency: miss's second entry is p
    sec, got = run.timed(
        lambda: sequence_match(ev, "user_id", order, conds, "(?1)(?t<3600)(?2)", ts_col="ts").where("matched").count(),
        2,
    )
    out["match_automaton_time"] = {
        "sec": sec,
        "ok": run.check("match_automaton_time", got == n_hit + n_double + n_overlap),
    }
    out["all_ok"] = all(run.checks.values())
    return out


def joins_scale(run, n=10_000_000):
    """As-of join (union+window, ONE shuffle on the key, no candidate
    pairs) and binned range join (each point meets each interval in
    exactly one bin) at 10M rows.

    Checks: every as-of match equals the analytically expected quote
    with no dropped rows, and the range join's total matches equal the
    closed form — both verified with one scalar aggregate."""
    from clickhub_spark.operators.asof import asof_join
    from clickhub_spark.operators.rangejoin import point_in_interval_join

    keys, quote_every, iv_w, iv_len = 100_000, 100, 10, 25
    spark = run.spark
    out: dict = {"metric": "joins_scale_smoke", "n_rows": n}

    # left row i: key = i % K, ts = i // K; right: per key, quotes at
    # ts = 0, 100, 200, … with value key·1e6 + ts, so a left row's as-of
    # match is key·1e6 + (ts // 100)·100
    left = spark.range(n).select((F.col("id") % keys).alias("key"), (F.col("id") / keys).cast("long").alias("ts"))
    right = (
        spark.range(keys)
        .select(
            F.col("id").alias("key"),
            F.explode(F.sequence(F.lit(0), F.lit((n - 1) // keys), F.lit(quote_every))).alias("qts"),
        )
        .select("key", "qts", (F.col("key") * 1_000_000 + F.col("qts")).alias("qval"))
    )
    expected = F.col("key") * 1_000_000 + (F.col("ts") - F.col("ts") % quote_every)
    out["asof_sec"], got = run.timed(
        lambda: asof_join(left, right, ["key"], "ts", "qts", ["qval"])
        .agg(
            F.count(F.when(F.col("asof_qval").isNull() | (F.col("asof_qval") != expected), 1)).alias("bad"),
            F.count(F.lit(1)).alias("rows"),
        )
        .first(),
        2,
    )
    out["asof_rows"], out["asof_mismatches"] = got.rows, got.bad
    run.check("asof_no_dropped_rows", got.rows == n)
    run.check("asof_values", got.bad == 0)

    # point p = 0..n-1; interval j covers [10j, 10j + 25)
    m = n // iv_w
    points = spark.range(n).select(F.col("id").alias("p"))
    ivs = spark.range(m).select(
        F.col("id").alias("iv_id"), (F.col("id") * iv_w).alias("s"), (F.col("id") * iv_w + iv_len).alias("e")
    )
    out["range_sec"], out["range_matches"] = run.timed(
        lambda: point_in_interval_join(points, ivs, "p", "s", "e", bin_width=iv_w).count(), 2
    )
    # intervals fully below n contribute iv_len each; the last few are
    # clipped at n
    full = max(0, min(m, (n - iv_len) // iv_w + 1))
    out["range_expected"] = full * iv_len + sum(max(0, n - iv_w * j) for j in range(full, m))
    out["ok"] = run.check("range_matches", out["range_matches"] == out["range_expected"]) and all(
        run.checks.values()
    )
    return out


def topk_scale(run, n=20_000_000):
    """Misra-Gries heavy-hitter sketch (operators/topk.topk_sketch) over
    20M rows and ~2M distinct keys with 10 planted heavy hitters holding
    30% of the stream: the shuffle carries ≤ capacity·P rows whatever
    the key cardinality.

    Check: every heavy hitter is reported, each with its true count
    inside the certified [lo, hi] interval."""
    from clickhub_spark.operators.topk import topk_sketch

    spark, n_hot, capacity = run.spark, 10, 4096
    # row i is heavy hitter (i mod 10) with probability 0.30 (hash-uniform
    # decision), else one of ~2M tail keys
    u = (F.abs(F.xxhash64("id")) % 1_000_000) / 1_000_000.0
    df = spark.range(n).select(
        F.when(u < 0.30, F.concat(F.lit("hot_"), F.col("id") % n_hot))
        .otherwise(F.concat(F.lit("tail_"), F.abs(F.xxhash64("id", F.lit(1))) % 2_000_000))
        .alias("key")
    )
    truth = {
        r.key: r.c
        for r in df.where(F.col("key").startswith("hot_")).groupBy("key").agg(F.count("*").alias("c")).collect()
    }
    wall, got = run.timed(lambda: topk_sketch(df, "key", n_hot, capacity=capacity).collect(), 2)
    ok = run.check(
        "recovered_all_hot",
        sorted(r.key for r in got) == sorted(truth) and all(r.lo <= truth[r.key] <= r.hi for r in got),
    )
    return {
        "n_rows": n,
        "n_distinct_approx": 2_000_000 + n_hot,
        "capacity": capacity,
        "sketch_wall_s": wall,
        "recovered_all_hot": ok,
        "top1": {"key": got[0].key, "est": got[0].est, "true": truth.get(got[0].key)},
    }


def stats_scale(run, n=10_000_000):
    """The registered rank-statistics queries (KS test, Mann-Whitney,
    Spearman, Kendall) on a 10M-row synthetic events table: the
    corpus-sized stage is one hash aggregate, and windows touch only the
    distinct-value table (values quantized to 4 dp, ~600k distinct)."""
    import os

    from clickhub_spark.plans import all_specs

    events = run.spark.range(n).select(
        (F.col("id") % 1500).alias("user_id"),
        F.when(F.xxhash64("id") % 2 == 0, "view").otherwise("click").alias("event_type"),
        F.round((F.abs(F.xxhash64("id", F.lit(1))) % 1_000_000) / 1650.0 + (F.col("id") % 8) * 7.0, 4).alias(
            "value"
        ),
    )
    sf = run.write_sf(events=events)
    specs = all_specs()
    out = {"n_rows": n}
    for q in ["q_agg_ks_test", "q_agg_mannwhitney", "q_agg_spearman", "q_agg_kendall"]:
        out[q + "_sec"], rows = run.timed(lambda: specs[q].builder(run.spark, sf).collect(), 2)
        out[q + "_rows"] = len(rows)
    out["loadavg_1m"] = round(os.getloadavg()[0], 2)
    return out


def growth(run, *, base=SF01, reps=20):
    """20x growth for the sweep and bloom-screen families: sf0.1 events
    replicated 20x with disjoint user/event ids and 40-day time shifts,
    so group counts grow with data; the registered
    q_agg_max_intersections sweep at 1x vs 20x, and a bloom screen of
    the 20x table against a 1x membership bitmap.

    Check: each replica's events span under 40 days, so the replicas
    never overlap in time and the 20x peak concurrency per event type
    equals the 1x peak."""
    from clickhub_spark.catalog import load
    from clickhub_spark.operators import bloom
    from clickhub_spark.plans.queries_agg import q_agg_max_intersections

    spark = run.spark
    ev = load(spark, base, "events")
    big = run.replicate(
        ev,
        reps,
        "sf20/events.parquet",
        event_id=10_000_000,
        user_id=100_000,
        ts=lambda rep: F.make_dt_interval(days=(rep * 40).cast("int")),
    )
    out = {"rows_1x": ev.count(), "rows_20x": big.count()}
    out["sweep_1x_sec"], peak_1x = run.timed(lambda: q_agg_max_intersections(spark, base).collect())
    out["sweep_20x_sec"], peak_20x = run.timed(lambda: q_agg_max_intersections(spark, run.path("sf20")).collect())
    run.check("disjoint_replicas_keep_peak", peak_20x == peak_1x)
    bm = bloom.build_bloom(ev.select(F.xxhash64("props").alias("h")), "h", 1 << 23, 5)
    out["bloom_screen_20x_sec"], _ = run.timed(
        lambda: bloom.might_contain(big.select(F.xxhash64("props").alias("h")), "h", bm, 5).count()
    )
    return out


def pyds_bloom(run, *, keys=2_000_000, numbers=100_000_000):
    """Bloom build/screen at 2M keys (32M bits — 16 bits per key rounded
    up to a power of two — optimal k, theoretical false-positive rate
    ~4e-4), the engine_numbers DataSource at 100M
    rows in 32 planned partitions, and gitlog over this repository's
    history.

    Checks: no member is screened out (no false negatives), and the
    numbers sum equals n(n-1)/2."""
    from clickhub_spark.operators import bloom
    from clickhub_spark.sources.pyds import register_sources

    spark = run.spark
    register_sources(spark)
    out = {}
    m_bits = 1 << (16 * keys - 1).bit_length()
    k = bloom.optimal_k(m_bits, keys)
    members = spark.range(keys).select(F.xxhash64(F.col("id").cast("string")).alias("h"))
    out["bloom_build_2m_sec"], bm = run.timed(lambda: bloom.build_bloom(members, "h", m_bits, k))
    probes = spark.range(keys).select(F.xxhash64(F.concat(F.col("id").cast("string"), F.lit("|x"))).alias("h"))
    out["bloom_screen_2m_sec"], fp = run.timed(lambda: bloom.might_contain(probes, "h", bm, k).count())
    out["bloom_fp_rate_nonmembers"] = round(fp / keys, 6)
    out["bloom_members_kept"] = bloom.might_contain(members, "h", bm, k).count()
    run.check("no_false_negatives", out["bloom_members_kept"] == keys)

    def numbers_sum():
        parts = run.partitions(numbers, 100_000_000, 32)
        df = spark.read.format("engine_numbers").option("n", numbers).option("numPartitions", parts).load()
        return df.agg(F.sum("num")).first()[0]

    out["numbers_100m_agg_sec"], s = run.timed(numbers_sum)
    run.check("numbers_sum", s == numbers * (numbers - 1) // 2)

    def gitlog():
        g = spark.read.format("gitlog").option("path", str(REPO)).option("numPartitions", 8).load()
        return g, g.count()

    out["gitlog_repo_sec"], (g, out["gitlog_repo_commits"]) = run.timed(gitlog)
    out["gitlog_distinct_authors"] = g.groupBy("author").count().count()
    return out


#: scenario -> keyword arguments of its tiny Tier-1 run
SCENARIOS = {
    funnel_scale: {"n_users": 1_000},
    seqmatch_scale: {"n_users": 1_000},
    joins_scale: {"n": 300_000},
    topk_scale: {"n": 20_000},
    stats_scale: {"n": 5_000},
    growth: {"base": TINY_SF, "reps": 3},
    pyds_bloom: {"keys": 20_000, "numbers": 100_000},
}
