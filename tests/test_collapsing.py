"""CollapsingMergeTree / VersionedCollapsingMergeTree FINAL semantics
(SURVEY §2.E — siblings of ReplacingMergeTree, reference
README.md:132-134 DDL family), on hand-built sign-changelog fixtures.

The driver-checked queries (q_dedup_collapsing*) exercise the happy
paths at data scale; these units pin the contract's edges: the
net-negative first-cancel rule, full cancellation, per-version pairing
under out-of-order delivery, and dangling cancels.
"""

from pyspark.sql import functions as F

from clickhub_spark.operators.collapsing import (
    collapse_final,
    collapse_final_versioned,
)

_SCHEMA = "k string, seq int, payload string, sign int"


def _log(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def test_collapse_net_positive_keeps_last_state(spark):
    out = collapse_final(
        _log(
            spark,
            [
                ("a", 1, "v1", 1),
                ("a", 1, "v1", -1),  # cancels v1
                ("a", 2, "v2", 1),
            ],
        ),
        keys=["k"],
        sign="sign",
        order=["seq"],
    )
    rows = out.collect()
    assert len(rows) == 1
    assert (rows[0].k, rows[0].payload, rows[0].sign) == ("a", "v2", 1)


def test_collapse_net_zero_vanishes(spark):
    out = collapse_final(
        _log(spark, [("a", 1, "v1", 1), ("a", 2, "v1", -1)]),
        keys=["k"],
        sign="sign",
        order=["seq"],
    )
    assert out.count() == 0


def test_collapse_net_negative_surfaces_first_cancel(spark):
    # ClickHouse keeps a cancel row when the changelog ends
    # sign-negative; ours keeps the FIRST cancel by the explicit order
    out = collapse_final(
        _log(
            spark,
            [
                ("a", 1, "v1", 1),
                ("a", 2, "v1", -1),
                ("a", 3, "v0", -1),  # dangling extra cancel
            ],
        ),
        keys=["k"],
        sign="sign",
        order=["seq"],
    )
    rows = out.collect()
    assert len(rows) == 1
    assert (rows[0].payload, rows[0].sign, rows[0].seq) == ("v1", -1, 2)


def test_collapse_keys_are_independent(spark):
    out = collapse_final(
        _log(
            spark,
            [
                ("a", 1, "v1", 1),
                ("a", 2, "v1", -1),
                ("b", 1, "w1", 1),
            ],
        ),
        keys=["k"],
        sign="sign",
        order=["seq"],
    )
    rows = out.collect()
    assert [(r.k, r.payload) for r in rows] == [("b", "w1")]


_VSCHEMA = "k string, ver long, seq int, payload string, sign int"


def test_versioned_cancel_targets_its_version_out_of_order(spark):
    # cancel for ver=2 arrives BEFORE its state row (seq order) — the
    # variant's whole point: pairing is by version, not sequence
    rows = [
        ("a", 2, 1, "v2", -1),
        ("a", 1, 2, "v1", 1),
        ("a", 2, 3, "v2", 1),
        ("a", 3, 4, "v3", 1),
        ("a", 3, 5, "v3", -1),
    ]
    out = collapse_final_versioned(
        spark.createDataFrame(rows, _VSCHEMA),
        keys=["k"],
        sign="sign",
        version="ver",
        order=["seq"],
    ).collect()
    # ver 2 and ver 3 cancelled; max surviving version is 1
    assert len(out) == 1
    assert (out[0].ver, out[0].payload) == (1, "v1")


def test_versioned_dangling_cancel_vanishes(spark):
    # a cancel whose state never arrived must not surface a row
    rows = [
        ("a", 5, 1, "v5", -1),
        ("a", 1, 2, "v1", 1),
    ]
    out = collapse_final_versioned(
        spark.createDataFrame(rows, _VSCHEMA),
        keys=["k"],
        sign="sign",
        version="ver",
        order=["seq"],
    ).collect()
    assert [(r.ver, r.payload) for r in out] == [(1, "v1")]


def test_versioned_duplicate_state_last_by_order_wins(spark):
    # two +1 writes of the same version (at-least-once producer):
    # net > 0, the later write by the explicit order is the survivor
    rows = [
        ("a", 1, 1, "old", 1),
        ("a", 1, 2, "new", 1),
        ("a", 1, 3, "old", -1),
    ]
    out = collapse_final_versioned(
        spark.createDataFrame(rows, _VSCHEMA),
        keys=["k"],
        sign="sign",
        version="ver",
        order=["seq"],
    ).collect()
    assert [(r.ver, r.payload) for r in out] == [(1, "new")]


def test_collapse_single_shuffle_plan(spark):
    """The FINAL view is one hash-aggregate shuffle on the key — no
    window sort, no join (the 100 TB shape shared with final_view)."""
    df = _log(spark, [("a", 1, "v1", 1)])
    plan = collapse_final(
        df, keys=["k"], sign="sign", order=["seq"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1


def test_optimize_final_collapsing_rewrites_and_is_idempotent(spark, tmp_path):
    """OPTIMIZE FINAL for a sign-changelog table: the rewrite collapses
    physically, and a second run is a fixed point (every survivor is a
    lone ±1 for its key)."""
    from clickhub_spark.operators.mutate import optimize_final_collapsing

    path = str(tmp_path / "changelog")
    _log(
        spark,
        [
            ("a", 1, "v1", 1),
            ("a", 2, "v1", -1),
            ("a", 3, "v2", 1),   # net +1 -> v2 survives
            ("b", 1, "w1", 1),
            ("b", 2, "w1", -1),  # net 0 -> vanishes
            ("c", 1, "x1", -1),  # net -1 -> first cancel survives
        ],
    ).write.parquet(path)

    n = optimize_final_collapsing(
        spark, path, keys=["k"], sign="sign", order=["seq"], target_files=1
    )
    assert n == 2
    got = {(r.k, r.payload, r.sign) for r in spark.read.parquet(path).collect()}
    assert got == {("a", "v2", 1), ("c", "x1", -1)}

    n2 = optimize_final_collapsing(
        spark, path, keys=["k"], sign="sign", order=["seq"], target_files=1
    )
    assert n2 == 2
    got2 = {(r.k, r.payload, r.sign) for r in spark.read.parquet(path).collect()}
    assert got2 == got


# ---- mergeable accumulator (-State/-Merge form) -------------------------


def test_accumulator_fixes_the_refinalize_divergence(spark):
    """The motivating counter-example for the mergeable form: two
    states then (in a later batch) one cancel.  Re-collapsing the
    FINALIZED view with the next batch forgets the absorbed +1 and
    wrongly kills the key; the accumulator path keeps the net."""
    from clickhub_spark.operators.collapsing import (
        collapse_accumulate,
        collapse_finalize,
        collapse_merge,
    )

    batch1 = _log(spark, [("a", 1, "v1", 1), ("a", 2, "v2", 1)])
    batch2 = _log(spark, [("a", 3, "v2", -1)])

    # WRONG maintenance: finalize, then collapse (finalized ∪ next)
    wrong = collapse_final(
        collapse_final(batch1, ["k"], "sign", ["seq"]).unionByName(batch2),
        ["k"],
        "sign",
        ["seq"],
    )
    assert wrong.count() == 0  # the key vanished — divergence

    # RIGHT maintenance: merge accumulators, finalize at read
    acc = collapse_merge(
        collapse_accumulate(batch1, ["k"], "sign", ["seq"]).unionByName(
            collapse_accumulate(batch2, ["k"], "sign", ["seq"])
        ),
        ["k"],
        ["seq"],
    )
    got = collapse_finalize(acc).collect()
    truth = collapse_final(
        batch1.unionByName(batch2), ["k"], "sign", ["seq"]
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in truth]
    assert got[0].payload == "v2"  # net 2-1=1: last state survives


def test_accumulator_merge_with_absent_sides(spark):
    """A batch with only cancels merged with a batch with only states:
    the NULL-side guards must keep max_by/min_by from electing the
    absent struct (a struct of NULL fields is itself non-NULL)."""
    from clickhub_spark.operators.collapsing import (
        collapse_accumulate,
        collapse_finalize,
        collapse_merge,
    )

    only_cancel = _log(spark, [("a", 9, "old", -1)])
    only_state = _log(spark, [("a", 1, "v1", 1), ("a", 2, "v2", 1)])
    acc = collapse_merge(
        collapse_accumulate(only_cancel, ["k"], "sign", ["seq"]).unionByName(
            collapse_accumulate(only_state, ["k"], "sign", ["seq"])
        ),
        ["k"],
        ["seq"],
    )
    got = collapse_finalize(acc).collect()
    assert [(r.k, r.payload, r.sign) for r in got] == [("a", "v2", 1)]


# ---- streaming maintenance (CDC retract stream -> state table) ----------


def test_streaming_collapse_maintenance(spark, tmp_path):
    """Two changelog waves through the foreachBatch maintenance loop:
    the FINAL read view equals the one-shot batch collapse after each
    wave; a cycle with nothing new is a no-op; compaction folds the
    partials without changing the view."""
    from pyspark.sql.types import StructType

    from clickhub_spark.streaming.collapse import (
        compact_accumulator,
        maintain_collapsed,
        read_collapsed,
    )

    schema = (
        StructType()
        .add("k", "string")
        .add("seq", "integer")
        .add("payload", "string")
        .add("sign", "integer")
    )
    table = str(tmp_path / "changelog")
    acc = str(tmp_path / "acc")
    ck = str(tmp_path / "ck")
    args = dict(keys=["k"], sign="sign", order=["seq"])

    wave1 = [("a", 1, "v1", 1), ("a", 2, "v2", 1), ("b", 1, "w1", 1)]
    wave2 = [("a", 3, "v2", -1), ("b", 2, "w1", -1), ("c", 1, "x1", -1)]

    def view():
        return sorted(
            tuple(r) for r in read_collapsed(spark, acc, ["k"], ["seq"]).collect()
        )

    def batch_truth(rows):
        return sorted(
            tuple(r)
            for r in collapse_final(_log(spark, rows), **args).collect()
        )

    _log(spark, wave1).write.mode("append").parquet(table)
    maintain_collapsed(spark, table, acc, ck, schema, **args)
    assert view() == batch_truth(wave1)

    _log(spark, wave2).write.mode("append").parquet(table)
    maintain_collapsed(spark, table, acc, ck, schema, **args)
    truth = batch_truth(wave1 + wave2)
    assert view() == truth
    # 'a' survives only because the accumulator kept net=2 from wave1;
    # 'b' fully cancelled; 'c' is the net<0 surviving-cancel case
    assert [r[0] for r in truth] == ["a", "c"]

    # idempotent cycle: nothing new -> view unchanged
    maintain_collapsed(spark, table, acc, ck, schema, **args)
    assert view() == truth

    # compaction folds partials, view identical, and maintenance
    # continues cleanly afterwards
    n = compact_accumulator(spark, acc, ["k"], ["seq"], checkpoint=ck)
    assert n == 3  # a, b, c accumulator rows (b net=0 kept until read)
    assert view() == truth
    wave3 = [("b", 3, "w2", 1)]
    _log(spark, wave3).write.mode("append").parquet(table)
    maintain_collapsed(spark, table, acc, ck, schema, **args)
    assert view() == batch_truth(wave1 + wave2 + wave3)


def test_compaction_replay_does_not_double_count(spark, tmp_path):
    """The crash window the _folded_through marker closes: a batch's
    partial is written, compaction folds it BEFORE the stream
    checkpoint commits, and the batch replays.  The sink must drop the
    replay (its rows are inside the fold) — without the marker the net
    would double and a fully-cancelled key would resurface.

    This is a true SAME-CHECKPOINT replay (round-9 tightening): the
    batch-0 commit record is deleted from the checkpoint, so the
    restarted stream re-delivers batch 0 under the SAME query id —
    exactly what a crash between the partial write and the commit
    produces.  (A fresh checkpoint is NOT a replay and now raises —
    see test_compaction_marker_rejects_foreign_checkpoint.)"""
    import os

    from pyspark.sql.types import StructType

    from clickhub_spark.streaming.collapse import (
        compact_accumulator,
        maintain_collapsed,
        read_collapsed,
    )

    schema = (
        StructType()
        .add("k", "string")
        .add("seq", "integer")
        .add("payload", "string")
        .add("sign", "integer")
    )
    table = str(tmp_path / "changelog")
    acc = str(tmp_path / "acc")
    ck = str(tmp_path / "ck")
    args = dict(keys=["k"], sign="sign", order=["seq"])
    rows = [("a", 1, "v1", 1), ("a", 2, "v1", -1)]  # nets to 0

    _log(spark, rows).write.mode("append").parquet(table)
    # first pass commits batch 0's partial
    maintain_collapsed(spark, table, acc, ck, schema, **args)
    compact_accumulator(spark, acc, ["k"], ["seq"], checkpoint=ck)
    assert read_collapsed(spark, acc, ["k"], ["seq"]).count() == 0

    # crash-before-commit: drop batch 0's commit record (and its
    # checksum sidecar, or the re-commit's rename fails); the restarted
    # stream (same checkpoint => same batch id) re-delivers batch 0
    os.remove(os.path.join(ck, "commits", "0"))
    crc = os.path.join(ck, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    maintain_collapsed(spark, table, acc, ck, schema, **args)
    got = read_collapsed(spark, acc, ["k"], ["seq"]).collect()
    assert got == []  # replay dropped; without the marker net would be -1


def test_compaction_marker_rejects_foreign_checkpoint(spark, tmp_path):
    """Batch ids are checkpoint-local (ADVICE r8 item 2): once the
    fold marker is bound to checkpoint A, running the maintenance
    stream against a RESET checkpoint B must raise — B's batch 0
    re-reads the whole changelog, so dropping it would lose data and
    appending it would double the fold; neither is silently chosen.
    Compacting under the wrong checkpoint is refused the same way."""
    import pytest as _pytest
    from pyspark.sql.types import StructType

    from clickhub_spark.streaming.collapse import (
        compact_accumulator,
        maintain_collapsed,
    )

    schema = (
        StructType()
        .add("k", "string")
        .add("seq", "integer")
        .add("payload", "string")
        .add("sign", "integer")
    )
    table = str(tmp_path / "changelog")
    acc = str(tmp_path / "acc")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    args = dict(keys=["k"], sign="sign", order=["seq"])

    _log(spark, [("a", 1, "v1", 1)]).write.mode("append").parquet(table)
    maintain_collapsed(spark, table, acc, ck1, schema, **args)
    compact_accumulator(spark, acc, ["k"], ["seq"], checkpoint=ck1)

    # new data arrives; a reset checkpoint would renumber from 0
    _log(spark, [("b", 1, "w1", 1)]).write.mode("append").parquet(table)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with _pytest.raises(StreamingQueryException, match="checkpoint"):
        maintain_collapsed(spark, table, acc, ck2, schema, **args)

    # compaction under the foreign checkpoint is refused too
    with _pytest.raises(RuntimeError, match="checkpoint-local"):
        compact_accumulator(spark, acc, ["k"], ["seq"], checkpoint=ck2)

    # the original checkpoint continues cleanly past the marker
    maintain_collapsed(spark, table, acc, ck1, schema, **args)


def test_read_collapsed_missing_table_contract(spark, tmp_path):
    """Absent table: schema_hint gives the empty poll-from-t0 frame,
    no hint raises instead of masking errors as 'no data yet'."""
    import pytest as _pytest

    from clickhub_spark.streaming.collapse import read_collapsed

    missing = str(tmp_path / "nope")
    empty = read_collapsed(
        spark, missing, ["k"], ["seq"], schema_hint="k string, seq int"
    )
    assert empty.count() == 0
    with _pytest.raises(FileNotFoundError):
        read_collapsed(spark, missing, ["k"], ["seq"])


def test_compaction_swap_crash_is_recoverable(spark, tmp_path):
    """A crash between the two renames leaves the state at
    <acc>.__old; every entry point restores it via recover_table."""
    import os

    from pyspark.sql.types import StructType

    from clickhub_spark.streaming.collapse import (
        maintain_collapsed,
        read_collapsed,
    )

    schema = (
        StructType()
        .add("k", "string")
        .add("seq", "integer")
        .add("payload", "string")
        .add("sign", "integer")
    )
    table = str(tmp_path / "changelog")
    acc = str(tmp_path / "acc")
    args = dict(keys=["k"], sign="sign", order=["seq"])

    _log(spark, [("a", 1, "v1", 1)]).write.mode("append").parquet(table)
    maintain_collapsed(spark, table, acc, str(tmp_path / "ck"), schema, **args)
    truth = sorted(
        tuple(r) for r in read_collapsed(spark, acc, ["k"], ["seq"]).collect()
    )
    # simulate the half-swap crash
    os.rename(acc, f"{acc}.__old")
    got = sorted(
        tuple(r) for r in read_collapsed(spark, acc, ["k"], ["seq"]).collect()
    )
    assert got == truth and os.path.isdir(acc)


def test_compaction_sweeps_stranded_scratch(spark, tmp_path):
    """A crash between the swap's exchange and its ``.__prev`` park
    strands the displaced accumulator at a scratch name; the next
    compaction sweeps it (the accumulator shares the one rewrite
    path's scratch names and sweep).  The fold itself is one SQL
    execution and keeps its ``target_files`` layout."""
    import glob
    import os

    from clickhub_spark.operators import mutate
    from clickhub_spark.operators.collapsing import collapse_accumulate
    from clickhub_spark.streaming.collapse import compact_accumulator
    from tests.conftest import sql_executions

    acc = str(tmp_path / "acc")
    rows = [(f"k{i}", 1, "v", 1) for i in range(20)]
    for batch in (0, 1):
        collapse_accumulate(
            _log(spark, rows[batch::2]), ["k"], "sign", ["seq"]
        ).write.parquet(f"{acc}/batch_id={batch}")
    stranded = mutate.scratch_dir(acc)
    os.makedirs(os.path.join(stranded, "batch_id=-1"))
    n, execs = sql_executions(
        spark,
        lambda: compact_accumulator(
            spark, acc, ["k"], ["seq"], target_files=4,
            checkpoint=str(tmp_path / "ck"),
        ),
    )
    assert (n, execs) == (20, 1)
    assert not os.path.exists(stranded)
    assert len(glob.glob(f"{acc}/batch_id=-1/part-*")) == 4
