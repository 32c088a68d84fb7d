"""Benchmark runner — driver contract.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution method (changed round 4): each query is written to Spark's
``noop`` sink, which materializes EVERY output column JVM-side with no
driver transfer.  The previous method (``df.count()``) let Catalyst's
ColumnPruning delete unreferenced final projections, so map-only
queries (e.g. q_llm_pii_scrub's regex scrub) were timed as bare scans.
Under noop every projected expression actually evaluates, so map-only
rows now measure real work.  Also changed in round 4: the DataFrame is
built ONCE per query; a row is one-time build cost + best-of-N
execution, so plan construction is no longer re-paid on every repeat
(it was 3× before) while eager builders — iterative ops whose
convergence loop runs at build time — keep their real cost visible.
r4 numbers are therefore NOT comparable to r3 for projection-heavy
queries (noop) or queries with expensive plan construction
(build-once); aggregate/sort-terminated queries are otherwise
unaffected.  A warmup query first absorbs JVM/codegen startup so
per-query numbers reflect steady-state throughput.

Round 5: per-query rows split into build_sec (one-time DataFrame/plan
construction, incl. eager iterative builds) and exec_sec (best-of-3
noop-sink execution).  "queries"/"value" carry exec_sec — the
steady-state number; "detail" carries both.  The method is now stable:
round 5 is the declared comparison baseline for future rounds.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: headline set: one per operator family that matters at scale.
HEADLINE = [
    "q_agg_multi",        # TPC-H Q1 shape: scan + 8 aggregates
    "q_mv_stars",         # filtered group-by count (the reference MV)
    "q_join_multiway",    # 5-table star join
    "q_join_broadcast",   # broadcast dim join
    "q_topk_multi",       # top-k without full sort
    "q_dedup_replacing",  # window dedup (FINAL view)
    "q_win_topn_group",   # window rank
    "q_stream_session",   # sessionization
    "q_agg_quantile",     # percentiles
    "q_llm_dedup_exact",  # hash dedup
    "q_llm_dedup_minhash",  # MinHash-LSH near-dup
    "q_llm_dedup_groups",  # near-dup connected components (iterative)
    "q_llm_knn",          # brute-force cosine top-k
    "q_fn_json",          # JSON extraction aggregate
    "q_join_asof",        # as-of join
    "q_tpch_q3",          # TPC-H Q3: 3-way join + agg + top-k
    "q_win_running",      # running-sum / moving-avg window frames
    "q_join_range_binned",  # point-in-interval join via binning
    "q_llm_pii_scrub",    # map-only regex redaction throughput
    "q_llm_dedup_incremental",  # new batch vs signature store (build-once)
]


def run_noop(df) -> None:
    """Materialize every output column without driver transfer.

    ``noop`` is a real DataSourceV2 sink: rows are fully produced
    (all projections evaluated) and discarded executor-side, so the
    timing covers scan → shuffle → compute for ALL columns — unlike
    ``count()``, which lets ColumnPruning drop final projections.
    """
    df.write.format("noop").mode("overwrite").save()


def bench_set(
    spark, specs, names, sf_dir, runs: int = 3
) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """Best-of-``runs`` noop-sink wall time per query.

    The DataFrame is built ONCE per query and the noop action repeated:
    the row measures execution, not driver-side plan construction
    (queries with large literal expression trees — LSH weight arrays —
    pay seconds of py4j churn per build that no real deployment repeats
    per run).  Best-of-N: the first run pays one-time codegen (~0.5-1 s
    of JVM work that amortizes away in any real deployment); it also
    damps machine-load noise (round 1→2 showed a uniform ~1.2× drift on
    byte-identical queries from concurrent load).

    Returns ``(exec, detail)`` — changed round 5 (VERDICT r4 item 1 of
    the bench asks): the r4 composite row (build + best exec in one
    number) conflated one-time eager build with steady-state execution,
    so iterative builders' rows swung with JVM warm-up and machine load
    (q_llm_dedup_groups: 3.81 s build + 0.15 s exec read as a 3.958 s
    "query time").  Now ``exec`` carries best-of-N execution only —
    the steady-state number round-over-round comparisons should use —
    and ``detail`` carries {"build_sec", "exec_sec"} per query so the
    one-time cost of eager builders stays visible without polluting
    the comparison row.
    """
    execs: dict[str, float] = {}
    detail: dict[str, dict[str, float]] = {}
    for name in names:
        t0 = time.time()
        df = specs[name].builder(spark, sf_dir)
        build_s = time.time() - t0
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            run_noop(df)
            best = min(best, time.time() - t0)
        execs[name] = round(best, 3)
        detail[name] = {"build_sec": round(build_s, 3), "exec_sec": round(best, 3)}
    return execs, detail


def baseline_gate(now: dict[str, float], cpus: int) -> dict | None:
    """Load-invariant regression gate (VERDICT r8 item 5 / r9 item 4).

    The absolute-seconds comparison against the pinned round-5 series
    is unreliable on this box: ambient VM-host load drifts ±15% across
    days and inflates every row uniformly.  Fix: BENCH_BASELINE.json
    pins per-query exec_sec from a quiet-box capture (round-6
    close-out, loadavg 1.81) for the headline+TPC-H sets — queries
    measured in THIS session anyway.  The ambient factor is the MEDIAN
    per-query now/baseline ratio: uniform load moves every ratio
    equally (the median IS the drift), while a code regression
    concentrated in any minority of the 42 queries cannot move it.
    The verdict is the load-adjusted total ratio (gate ≤1.2) plus the
    per-query outliers — both independent of how busy the box was.

    The pin is only comparable on its own core count (``cpus``): a
    run on another count skips, like a run at another scale factor.

    Tiny rows (<0.05 s baseline) are excluded from the MEDIAN (their
    ratios are scheduler noise) but kept in the totals; queries whose
    plans intentionally changed since capture go in the baseline
    file's "excluded" map with the adjudication note.
    """
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_BASELINE.json"
    )
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        base_doc = json.load(fh)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)$", sf_dir.rstrip("/"))
    if m is None:
        # a custom data dir with no sfN.NN suffix is not a silent
        # "sf mismatch" skip — surface the unparseable path explicitly
        return {"error": f"cannot parse scale factor from {sf_dir!r}"}
    sf = m.group(1)
    if sf != str(base_doc.get("sf")):
        # per-query now/baseline ratios are NOT uniform across scale
        # factors (scan-bound vs fixed-overhead queries scale
        # differently), so the median would mislabel the skew as
        # ambient load — the gate is only meaningful at the
        # baseline's own scale
        return {"skipped": f"run sf {sf} != baseline sf {base_doc.get('sf')}"}
    if cpus != base_doc.get("cpus"):
        # per-query speed-up from more cores is not uniform either
        # (scan-parallel rows gain, single-task rows do not)
        return {
            "skipped": f"run cpus {cpus} != baseline cpus {base_doc.get('cpus')}"
        }
    base = {
        **base_doc.get("queries", {}),
        **base_doc.get("tpch", {}),
        **base_doc.get("pipeline", {}),
    }
    excluded = set(base_doc.get("excluded", {}))
    cal = {
        q: (now[q], base[q])
        for q in base
        if q in now and q not in excluded
    }
    if len(cal) < 10:
        return {"error": f"only {len(cal)} calibration queries present"}
    ratios = sorted(
        n / b for n, b in cal.values() if b >= 0.05 and n > 0
    )
    if not ratios:
        # the >=10-calibration guard does not imply any pair survives
        # the tiny-row filter; never die at the END of a full capture
        return {"error": "no calibration pairs above the 0.05s floor"}
    mid = len(ratios) // 2
    ambient = (
        ratios[mid]
        if len(ratios) % 2
        else (ratios[mid - 1] + ratios[mid]) / 2
    )
    sum_now = sum(n for n, _ in cal.values())
    sum_base = sum(b for _, b in cal.values())
    ratio_raw = sum_now / sum_base
    adjusted = ratio_raw / ambient if ambient > 0 else float("inf")
    regressed = sorted(
        q
        for q, (n, b) in cal.items()
        if b >= 0.05
        and n / (b * ambient) > 1.5
        and n - b * ambient > 0.2
    )
    return {
        "baseline_round": base_doc.get("captured_round"),
        "n_calibration": len(cal),
        "ambient_factor": round(ambient, 3),
        "ratio_raw": round(ratio_raw, 3),
        "ratio_load_adjusted": round(adjusted, 3),
        "gate_1p2_pass": adjusted <= 1.2,
        "regressed_queries": regressed,
    }


def main() -> None:
    from clickhub_spark.plans import all_specs
    from clickhub_spark.session import get_spark

    # sampled BEFORE any Spark work: the end-of-run loadavg_1m mostly
    # measures the bench's own local[32] load (it saturates ~3 on an
    # idle box), so quiet-box evidence lives here instead
    loadavg_start = round(os.getloadavg()[0], 2)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()

    # warmup: JVM + codegen + parquet footer caches
    specs["q_agg_count"].builder(spark, sf_dir).collect()

    timings, detail = bench_set(spark, specs, HEADLINE, sf_dir)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "detail": detail,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # cores of the local[N] session: the baseline gate compares
        # only runs on the pin's own core count
        "cpus": spark.sparkContext.defaultParallelism,
        # method provenance: r5+ reports EXEC time (best-of-3 on a
        # built-once DataFrame) in "queries"/"value", with per-query
        # one-time build cost split out in "detail" (build_sec /
        # exec_sec).  r4 reported build+exec in one composite number;
        # r1-r3 used df.count() (final projections pruned).  With the
        # method now stable, ROUND 5 IS THE COMPARISON BASELINE for
        # future rounds; compare exec_sec to exec_sec.
        "method": "noop_sink_best_of_3_exec_plus_build_split",
        "baseline_round": 5,
        # machine-load context so cross-round comparisons can
        # tell a code regression from a busy box
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "loadavg_start": loadavg_start,
    }
    # TPC-H 22-query suite as a second tracked section (same method),
    # so join-decorrelation regressions surface numerically per round.
    # SPARK_GRAFT_NO_TPCH=1 skips it for quick local iterations.
    if not os.environ.get("SPARK_GRAFT_NO_TPCH"):
        tpch = [f"q_tpch_q{i}" for i in range(1, 23)]
        out["tpch"], out["tpch_detail"] = bench_set(spark, specs, tpch, sf_dir)
        out["tpch_total"] = round(sum(out["tpch"].values()), 3)
    # pipeline + scale-path additions as a third tracked section —
    # keeps the headline set stable for cross-round comparison while
    # newer ops still get per-round numbers.  r5 adds the three r4
    # surfaces the judge flagged as untimed: variant JSON, bucketed
    # co-located join, salted skew join.
    pipeline = [
        "q_llm_perplexity_store",
        "q_llm_vocab_coverage",
        "q_llm_shuffle",
        "q_llm_pack_sharded",
        "q_llm_split",
        "q_llm_knn_lsh_md5",
        "q_multimodal_resize",
        "q_multimodal_frames",
        "q_fn_variant",
        "q_join_bucketed",
        "q_join_salted",
        # r5 session additions worth tracking: semantic dedup (cluster-
        # bounded pairwise), batch sessionization (multi-window reuse of
        # one shuffle), k-means assignment (broadcast centroids), and
        # the z-order skipping scan (artifact build + pruned read).
        "q_llm_semdedup",
        "q_sessionize",
        "q_llm_kmeans_assign",
        "q_scan_zorder",
        "q_sort_global",
        # r5 third wave: bloom screening (build cost lands in
        # build_sec, steady-state screen in exec_sec) and the Python
        # DataSource generator scan.
        "q_llm_dedup_bloom",
        "q_llm_decontam_bloom",
        "q_source_numbers_ds",
        # r5 waves 4-5: PCA (moment fit in build_sec), BPE training
        # (the iterative loop IS the build), blocked edit-distance
        # dedup, sentence chunking, MJPEG video round trip
        "q_llm_pca",
        "q_llm_bpe_train",
        "q_llm_dedup_editdist",
        "q_llm_chunk_sentences",
        "q_multimodal_video",
        # r6 additions worth tracking: the rewritten rank statistics
        # (per-value-count plans), the pivot-cumulative Kendall, the
        # progressive-JPEG round trip (trimmed to a 48-blob demo in
        # r7 — constant pure-Python codec cost, 8-task spread), WAV
        # feature extraction, n-gram novelty
        "q_agg_ks_test",
        "q_agg_mannwhitney",
        "q_agg_spearman",
        "q_agg_kendall",
        "q_multimodal_jpeg_progressive",
        "q_multimodal_audio_stats",
        "q_llm_ngram_novelty",
        "q_agg_ewma",
        # r7 additions: passage-frequency dedup (one hash-keyed
        # shuffle), the string-distance family, and closed-form OLS
        # (one moment pass + Cramer solve)
        "q_llm_dedup_passage",
        "q_fn_editdistance",
        "q_agg_ols",
        # r7 post-close additions: sequenceNextNode (one user_id
        # exchange, WindowGroupLimit first-match prune) and the
        # Misra-Gries heavy-hitter sketch over word 3-grams
        "q_seq_next_node",
        "q_agg_topk_sketch",
        # r8 addition: the eviction-regime sketch certification (one
        # corpus scan feeding both the sketch and the exact check)
        "q_agg_topk_bounds",
        # r8 addition: CollapsingMergeTree FINAL over a built
        # sign-changelog (one sign-gated max_by/min_by aggregate)
        "q_dedup_collapsing",
        # r8 addition: GraphiteMergeTree retention rollup (age-tiered
        # downsampling, one hash aggregate)
        "q_agg_retention_rollup",
        # r10 additions: the windowFunnel mode family (one user_id
        # exchange, one sort, K chained running-max window passes —
        # strict_order carries the abort-point extrema, strict_dedup
        # the completion/dup stop aggregate)
        "q_funnel_window",
        "q_funnel_strict_window",
        "q_funnel_strict_dedup",
        # r10: exact sequential LTTB (one applyInPandas per series)
        # and its full-recurrence distributed certification
        "q_agg_lttb_exact",
        "q_agg_lttb_cert",
        # r17 additions (VERDICT r16 item 7 — the streaming surface
        # had zero perf rows): the tumbling-window aggregate and the
        # stream-stream interval join (q_stream_session was already a
        # headline row).  Additions only; no existing row moved.
        "q_stream_tumble",
        "q_stream_join",
    ]
    if not os.environ.get("SPARK_GRAFT_NO_PIPELINE"):
        out["pipeline"], out["pipeline_detail"] = bench_set(
            spark, specs, [n for n in pipeline if n in specs], sf_dir
        )
        out["pipeline_total"] = round(sum(out["pipeline"].values()), 3)
    # Load-invariant regression verdict (same-session calibration
    # against the pinned quiet-box per-query baseline): the number the
    # cross-round comparison should read FIRST — it does not move with
    # ambient VM load the way the absolute totals do.  Only meaningful
    # at the baseline's own scale (sf0.1 full run).
    gate = baseline_gate(
        {**timings, **out.get("tpch", {}), **out.get("pipeline", {})},
        out["cpus"],
    )
    if gate is not None:
        out["baseline_gate"] = gate
    # Output contract (changed round 6, VERDICT r5 item 5): the driver
    # captures only a ~2000-char stdout TAIL, so the r5 full-detail
    # line (~10 KB) truncated from the front and the totals were lost
    # ("parsed": null in BENCH_r05.json).  Now: the FULL document goes
    # to BENCH_FULL.json next to this script, and stdout gets ONE
    # compact line — totals first, per-query headline map after — that
    # fits whole inside the tail.  Keys and meaning are unchanged.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    with open(full_path, "w") as fh:
        json.dump(out, fh, indent=1)
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "cpus": out["cpus"],
        "tpch_total": out.get("tpch_total"),
        "pipeline_total": out.get("pipeline_total"),
        "worst_exec": max(
            list(out["queries"].items())
            + list(out.get("tpch", {}).items())
            + list(out.get("pipeline", {}).items()),
            key=lambda kv: kv[1],
            default=None,
        ),
        "baseline_gate": out.get("baseline_gate"),
        "queries": out["queries"],
        "method": out["method"],
        "baseline_round": out["baseline_round"],
        "loadavg_1m": out["loadavg_1m"],
        "loadavg_start": out["loadavg_start"],
        "full": "BENCH_FULL.json",
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: never exceed the tail window
        compact.pop("queries")
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
