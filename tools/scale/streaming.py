"""Streaming scenarios: the collapse accumulator loop with crash
replays, the insert→MV freshness loop, and the applyInPandasWithState
operators carrying per-user state across micro-batches."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F


def collapse_stream(run, n=1_500_000):
    """The streaming collapse maintenance loop (streaming/collapse.py)
    at ≥1M changelog rows over 4 waves, with a forced same-checkpoint
    replay of an unfolded batch, a mid-stream compaction, and a replay
    of a batch that compaction already folded.

    Wave c appends, for every key, a +1 state at seq=c and (c>1) a -1
    cancel of the superseded state; the last wave also cancels keys
    ≡0 (mod 5).  Check: after every cycle and every drill the FINAL
    view has the closed-form (count, payload checksum)."""
    from pyspark.sql.types import StructType

    from clickhub_spark.streaming.collapse import (
        compact_accumulator,
        maintain_collapsed,
        read_collapsed,
    )

    waves = 4
    # rows = K states in wave 1 + 2K (state+cancel) per later wave
    k = max(1000, n // (2 * waves - 1))
    spark = run.spark
    table, acc, ck = run.path("changelog"), run.path("acc"), run.path("ck")
    schema = StructType().add("key", "long").add("seq", "long").add("payload", "long").add("sign", "integer")
    args = dict(keys=["key"], sign="sign", order=["seq"])
    out: dict = {
        "metric": "collapse_stream_smoke",
        "n_keys": k,
        "n_changelog": k + (waves - 1) * 2 * k + (k + 4) // 5,
        "cycles": [],
    }
    sum_all = k * (k - 1) // 2
    n_mult5 = (k + 4) // 5
    sum_mult5 = 5 * ((n_mult5 - 1) * n_mult5 // 2)

    def rows(c: int, payload_seq: int, sign: int, keys=None):
        ids = spark.range(k) if keys is None else spark.range(k).where(keys)
        return ids.select(
            F.col("id").alias("key"),
            F.lit(c).cast("long").alias("seq"),
            (F.col("id") * 1000 + payload_seq).alias("payload"),
            F.lit(sign).alias("sign"),
        )

    def write_wave(c: int) -> None:
        df = rows(c, c, 1)
        if c > 1:  # cancel the superseded state
            df = df.unionByName(rows(c, c - 1, -1))
        if c == waves:  # final wave: fully cancel keys ≡0 (mod 5)
            df = df.unionByName(rows(c, c, -1, F.col("id") % 5 == 0))
        df.repartition(8).write.mode("append").parquet(table)

    def verify(c: int, label: str) -> None:
        if c == waves:
            exp_n = k - n_mult5
            exp_ck = 1000 * (sum_all - sum_mult5) + c * exp_n
        else:
            exp_n, exp_ck = k, 1000 * sum_all + c * k
        got = read_collapsed(spark, acc, ["key"], ["seq"]).agg(F.count(F.lit(1)), F.sum("payload")).first()
        if not run.check(label, tuple(got) == (exp_n, exp_ck)):
            out[f"mismatch_{label}"] = {"got": list(got), "exp": [exp_n, exp_ck]}

    def drop_last_commit() -> None:
        last = max(int(os.path.basename(p)) for p in glob.glob(f"{ck}/commits/*") if os.path.basename(p).isdigit())
        os.remove(f"{ck}/commits/{last}")
        if os.path.exists(f"{ck}/commits/.{last}.crc"):
            os.remove(f"{ck}/commits/.{last}.crc")

    def maintain():
        return run.timed(lambda: maintain_collapsed(spark, table, acc, ck, schema, max_files=64, **args), 2)[0]

    for c in range(1, waves + 1):
        write_wave(c)
        cyc = {"cycle": c, "maintain_s": maintain()}
        verify(c, f"cycle{c}")
        if c == 2:
            # same-checkpoint replay of an UNFOLDED batch: the
            # overwrite-on-replay partial keeps the view identical
            drop_last_commit()
            cyc["replay_s"] = maintain()
            verify(c, "replay_unfolded")
        if c == 3:
            # mid-stream compaction folds all partials, view unchanged
            cyc["compact_s"], cyc["acc_rows_after_compact"] = run.timed(
                lambda: compact_accumulator(spark, acc, ["key"], ["seq"], checkpoint=ck), 2
            )
            verify(c, "post_compact")
        out["cycles"].append(cyc)

    # replay of a FOLDED batch: the _folded_through marker must drop it
    # (without it the net would double)
    drop_last_commit()
    compact_accumulator(spark, acc, ["key"], ["seq"], checkpoint=ck)
    out["replay_folded_s"] = maintain()
    verify(waves, "replay_folded")
    out["ok"] = all(run.checks.values())
    return out


def freshness_scale(run, n=1_000_000):
    """The insert→MV freshness loop (streaming/freshness.py) at ~1M
    events: three landed waves, each followed by one ``refresh()``
    cycle (ingest stream + stars-MV stage, availableNow), then a cycle
    with nothing new.

    Checks (exactly-once end to end, run distributed): after each cycle
    the events table holds exactly the rows landed so far, the stars
    view equals a direct batch aggregate over them, and the final
    no-op cycle leaves the view unchanged."""
    from clickhub_spark.streaming.freshness import read_stars, refresh

    n_users, types, waves = 50_000, ["view", "push", "fork", "star"], 3
    spark = run.spark
    landing, wh = run.path("landing"), run.path("wh")
    out: dict = {"metric": "freshness_scale_smoke", "n_rows": n, "cycles": []}

    def diff(a, b) -> int:
        return a.exceptAll(b).count() + b.exceptAll(a).count()

    landed = None
    for w in range(waves):
        df = spark.range(w * n // waves, (w + 1) * n // waves).select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") % 86_400).alias("ts"),
            (F.col("id") % n_users).alias("user_id"),
            F.element_at(F.array(*[F.lit(t) for t in types]), (F.col("id") % len(types) + 1).cast("int")).alias(
                "event_type"
            ),
            (F.col("id") % 1000 / 10.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        df.repartition(8).write.mode("append").parquet(f"{landing}/wave={w}")
        landed = df if landed is None else landed.unionByName(df)
        sec, view = run.timed(lambda: refresh(spark, landing, wh), 2)
        cols = ["event_id", "user_id", "event_type"]
        ingest_diff = diff(spark.read.parquet(f"{wh}/events").select(*cols), landed.select(*cols))
        exact = landed.where(F.col("event_type") == "view").groupBy("user_id").agg(F.count(F.lit(1)).alias("stars"))
        mv_diff = diff(view, exact)
        out["cycles"].append({"cycle": w, "sec": sec, "ingest_diff": ingest_diff, "mv_diff": mv_diff})
        run.check(f"cycle{w}_ingest_exactly_once", ingest_diff == 0)
        run.check(f"cycle{w}_mv_exactly_once", mv_diff == 0)
    before = read_stars(spark, f"{wh}/stars")
    out["noop_sec"], after = run.timed(lambda: refresh(spark, landing, wh), 2)
    out["noop_diff"] = diff(after, before)
    out["ok"] = run.check("noop_cycle_unchanged", out["noop_diff"] == 0) and all(run.checks.values())
    return out


def stream_state_scale(run, *, n_users=200_000):
    """Streaming sequenceMatch and windowFunnel (applyInPandasWithState)
    at 200k users / 1M events arriving as two availableNow micro-batch
    waves.  Both keep fixed-width per-user state, so the state store is
    bounded by user count, never event volume.

    Checks: the streamed answers equal the batch operators over the same
    rows, every user has state, and state was carried across both waves.
    Gate: each stream finishes within 10 minutes."""
    from pyspark.sql.types import _parse_datatype_string

    from clickhub_spark.operators.funnel import window_funnel
    from clickhub_spark.operators.seqmatch import sequence_match
    from clickhub_spark.streaming.funnel import funnel_stream
    from clickhub_spark.streaming.mv import read_event_stream
    from clickhub_spark.streaming.seqmatch import sequence_match_stream

    ev_per_user = 5
    spark = run.spark
    src = run.path("src")
    out: dict = {"metric": "stream_state_scale", "users": n_users, "events": n_users * ev_per_user}

    def build() -> None:
        # pseudo-random letters via xxhash64; ts strictly increasing per
        # user; slice 0 = first 3 events per user, slice 1 = the rest
        base = spark.range(n_users * ev_per_user).select(
            (F.col("id") % n_users).alias("user_id"),
            F.col("id").alias("event_id"),
            ((F.col("id") / n_users).cast("long") * 7.0 + (F.col("id") % 3)).alias("ts"),
            F.element_at(
                F.split(F.lit("v,c,p,v,c,x,y,z"), ","),
                (F.abs(F.xxhash64("id")) % 8 + 1).cast("int"),
            ).alias("event_type"),
        )
        for s, cond in ((0, F.col("event_id") < n_users * 3), (1, F.col("event_id") >= n_users * 3)):
            sl = f"{src}/slice={s}"
            base.where(cond).repartition(16).write.parquet(sl)
            for f in os.listdir(sl):
                os.utime(os.path.join(sl, f), (1_000_000 + s, 1_000_000 + s))

    out["build_sec"], _ = run.timed(build)

    lt = F.col("event_type")
    conds = [lt.isin("v", "z"), lt.isin("c", "z"), lt.isin("p", "z")]
    pattern = "(?1)(?t<30)(?2).*(?3)"

    def run_stream(tag, make_out):
        # 16 files per slice, maxFilesPerTrigger=16 and mtime ordering:
        # each slice arrives as its own micro-batch
        stream = read_event_stream(
            spark, src + "/slice=*", _parse_datatype_string("user_id long, event_id long, ts double, event_type string"),
            max_files=16,
        )
        for i, c in enumerate(conds):
            stream = stream.withColumn(f"__c{i}", c)
        name = f"state_scale_{tag}"
        q = (
            make_out(stream, [f"__c{i}" for i in range(3)])
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", run.path(f"ck_{tag}"))
            .trigger(availableNow=True)
        )
        sec, _ = run.timed(lambda: q.start().awaitTermination())
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        # both outputs are monotone per user (matched never un-matches,
        # levels never drop), so max() is the final value whatever the
        # memory sink's row order
        final: dict = {}
        for r in rows:
            final[r[0]] = max(final.get(r[0], r[1]), r[1])
        return sec, final, len(rows)

    out["seqmatch_sec"], seq_final, out["seqmatch_emitted"] = run_stream(
        "seq",
        lambda s, cs: sequence_match_stream(s, "user_id", "ts", cs, pattern, order_cols=["event_id"]),
    )
    out["funnel_sec"], fun_final, out["funnel_emitted"] = run_stream(
        "funnel",
        lambda s, cs: funnel_stream(s, "user_id", "ts", cs, order_cols=["event_id"], window_s=30.0),
    )

    df = spark.read.parquet(src + "/slice=*")
    batch_seq = {
        r.user_id: r.matched
        for r in sequence_match(df, "user_id", ["ts", "event_id"], conds, pattern, ts_col="ts").collect()
    }
    batch_fun = {
        r.user_id: r.level
        for r in window_funnel(
            df, user_col="user_id", order=["ts", "event_id"], steps=conds,
            ts_col="ts", window_s=30.0, multi_match=True,
        ).collect()
    }
    out["seqmatch_stream_users"] = len(seq_final)
    out["funnel_stream_users"] = len(fun_final)
    out["seqmatch_mismatches"] = sum(1 for u, m in seq_final.items() if m != batch_seq.get(u, False))
    out["funnel_mismatches"] = sum(1 for u, lv in fun_final.items() if lv != batch_fun.get(u, 0))
    out["seq_matched_frac"] = round(sum(seq_final.values()) / max(1, len(seq_final)), 4)
    out["gates"] = {
        "seq_equals_batch": run.check("seq_equals_batch", out["seqmatch_mismatches"] == 0),
        "funnel_equals_batch": run.check("funnel_equals_batch", out["funnel_mismatches"] == 0),
        "all_users_stated": run.check(
            "all_users_stated", len(seq_final) == n_users and len(fun_final) == n_users
        ),
        "state_persisted_across_waves": run.check(
            "state_persisted_across_waves",
            out["seqmatch_emitted"] > n_users and out["funnel_emitted"] > n_users,
        ),
        "wall_time_sane": run.gate("wall_time_sane", out["seqmatch_sec"] < 600 and out["funnel_sec"] < 600),
    }
    out["gates_ok"] = all(out["gates"].values())
    return out


#: scenario -> keyword arguments of its tiny Tier-1 run
SCENARIOS = {
    collapse_stream: {"n": 7_000},
    freshness_scale: {"n": 3_000},
    stream_state_scale: {"n_users": 500},
}
