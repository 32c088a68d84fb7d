"""Streaming ingest: checkpointed file-source appends + FINAL-view
replay tolerance (the reference's append + ReplacingMergeTree loop)."""

from clickhub_spark.catalog import load
from clickhub_spark.operators.dedup import final_view
from clickhub_spark.sources.writer import compact
from clickhub_spark.streaming.ingest import stream_ingest

from tests.conftest import SF_DIR


def test_stream_ingest_then_checkpoint_skips_replay(spark, tmp_path):
    ev = load(spark, SF_DIR, "events")
    src = str(tmp_path / "landing")
    ev.repartition(4).write.parquet(src)
    table = str(tmp_path / "events_tbl")
    ck = str(tmp_path / "ck")

    stream_ingest(spark, src, ev.schema, table, ck, max_files=2)
    stored = spark.read.parquet(table)
    assert stored.count() == ev.count()
    assert "updated_at" in stored.columns  # ingest-time stamp applied

    # second run with the SAME checkpoint: no files left to process
    stream_ingest(spark, src, ev.schema, table, ck, max_files=2)
    assert spark.read.parquet(table).count() == ev.count()

    # a FRESH checkpoint replays everything (at-least-once) — the
    # FINAL view must absorb the duplicates, reference README.md:133
    stream_ingest(spark, src, ev.schema, table, str(tmp_path / "ck2"), max_files=2)
    doubled = spark.read.parquet(table)
    assert doubled.count() == 2 * ev.count()
    finals = final_view(
        doubled, keys=["event_id"], version=["updated_at", "ts"]
    )
    assert finals.count() == ev.count()


def test_compact_preserves_rows_reduces_files(spark, tmp_path):
    import glob
    ev = load(spark, SF_DIR, "events")
    src = str(tmp_path / "landing")
    ev.repartition(6).write.parquet(src)
    table = str(tmp_path / "tbl")
    stream_ingest(spark, src, ev.schema, table, str(tmp_path / "ck"), max_files=1)
    before = len(glob.glob(table + "/*.parquet"))
    n = compact(spark, table, ["ts"], target_files=2)
    after = len(glob.glob(table + "/*.parquet"))
    assert n == ev.count()
    assert spark.read.parquet(table).count() == n
    assert after <= 2 < before


def test_stream_dedup_ingest_flags_cross_batch_dups(spark, tmp_path):
    """Micro-batch near-dup screening against the growing signature
    store: a doc arriving in batch 2 that duplicates a batch-1 doc
    must be flagged, and the store must cover both batches at the end."""
    from pyspark.sql.types import StructType

    from clickhub_spark.streaming.ingest import stream_dedup_ingest

    schema = (
        StructType()
        .add("doc_id", "long")
        .add("text", "string")
    )
    src = tmp_path / "landing"
    src.mkdir()
    b1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota"),
        ],
        schema,
    )
    b1.coalesce(1).write.mode("append").parquet(str(src))
    b2 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),  # dup of 1
            (11, "nothing like anything else in this tiny corpus here"),
        ],
        schema,
    )

    table = str(tmp_path / "docs_tbl")
    store = str(tmp_path / "sig_store")
    pairs = str(tmp_path / "pairs")

    # batch 1: maxFilesPerTrigger=1 → one file = one micro-batch
    stream_dedup_ingest(
        spark, str(src), schema, table, store,
        checkpoint=str(tmp_path / "ckpt"), pairs_path=pairs, max_files=1,
    )
    b2.coalesce(1).write.mode("append").parquet(str(src))
    stream_dedup_ingest(
        spark, str(src), schema, table, store,
        checkpoint=str(tmp_path / "ckpt"), pairs_path=pairs, max_files=1,
    )

    got = {(r.id_a, r.id_b) for r in spark.read.parquet(pairs).collect()}
    assert (1, 10) in got                     # cross-batch duplicate flagged
    assert spark.read.parquet(table).count() == 4
    store_ids = {r.doc_id for r in spark.read.parquet(store).select("doc_id").distinct().collect()}
    assert store_ids == {1, 2, 10, 11}        # store grew with every batch


def test_exactly_once_ingest_survives_full_replay(spark, tmp_path):
    """exactly_once mode: re-running the stream with a FRESH checkpoint
    (the worst replay case — every batch reprocessed) overwrites each
    batch's own partition instead of appending duplicates; plain
    append mode duplicates under the same replay."""
    from pyspark.sql.types import StructType

    from clickhub_spark.streaming.ingest import stream_ingest

    schema = StructType().add("doc_id", "long").add("text", "string")
    src = tmp_path / "landing"
    src.mkdir()
    for i in range(2):
        spark.createDataFrame([(i, f"doc {i}")], schema).coalesce(1) \
            .write.mode("append").parquet(str(src))

    table = str(tmp_path / "tbl")
    stream_ingest(spark, str(src), schema, table, str(tmp_path / "ck1"),
                  max_files=1, exactly_once=True)
    assert spark.read.parquet(table).count() == 2
    # full replay: fresh checkpoint reprocesses everything
    stream_ingest(spark, str(src), schema, table, str(tmp_path / "ck2"),
                  max_files=1, exactly_once=True)
    df = spark.read.parquet(table)
    assert df.count() == 2  # no duplicates
    assert "__batch_id" in df.columns  # provenance partition column

    # worst case: fresh checkpoint AND different batch binning AND a
    # grown source — the old run's partitions must not linger next to
    # the re-binned ones
    spark.createDataFrame([(2, "doc 2")], schema).coalesce(1) \
        .write.mode("append").parquet(str(src))
    stream_ingest(spark, str(src), schema, table, str(tmp_path / "ck5"),
                  max_files=3, exactly_once=True)
    assert spark.read.parquet(table).count() == 3  # exactly the source

    # contrast: plain append duplicates on the same replay (absorbed
    # only by the FINAL view downstream)
    table2 = str(tmp_path / "tbl2")
    stream_ingest(spark, str(src), schema, table2, str(tmp_path / "ck3"), max_files=1)
    stream_ingest(spark, str(src), schema, table2, str(tmp_path / "ck4"), max_files=1)
    assert spark.read.parquet(table2).count() == 6  # 3 source files ×2 runs


def test_stream_score_ingest_equals_batch_scoring(spark, tmp_path):
    """Micro-batch LM scoring against the persisted store must equal
    one-shot batch scoring of the same rows (stream≡batch), and a
    replayed batch overwrites rather than duplicates."""
    from clickhub_spark.operators.lm import (
        score_bits, train_bigram_lm, write_lm_store,
    )
    from clickhub_spark.streaming.ingest import stream_score_ingest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    rows = [(i, f"w{i % 3} w{(i + 1) % 3} w{i % 5}") for i in range(40)]
    train = spark.createDataFrame(rows, schema)
    store = str(tmp_path / "lm_store")
    write_lm_store(train_bigram_lm(train, "text", "doc_id"), store)

    src = str(tmp_path / "src")
    train.repartition(4).write.parquet(src)  # several files → several batches
    table = str(tmp_path / "scored")
    ckpt = str(tmp_path / "ckpt")
    stream_score_ingest(spark, src, schema, table, store, ckpt, max_files=1)

    got = spark.read.parquet(table)
    assert got.count() == 40
    model = (
        spark.read.parquet(f"{store}/bigrams"),
        spark.read.parquet(f"{store}/unigrams"),
        spark.read.parquet(f"{store}/vocab"),
    )
    want = {(r["doc_id"], round(r["bits"], 9))
            for r in score_bits(train, model, "text", "doc_id").collect()}
    assert {(r["doc_id"], round(r["bits"], 9)) for r in got.collect()} == want
    # replay: rerun with a FRESH checkpoint — batches overwrite, count stable
    stream_score_ingest(spark, src, schema, table, store, str(tmp_path / "ckpt2"),
                        max_files=1)
    assert spark.read.parquet(table).count() == 40


def test_dedup_ingest_compaction_preserves_store_results(spark, tmp_path):
    """compact_every: the signature store and fact table are compacted
    from inside the sink every Nth batch — file counts drop, the
    store keeps its band partitioning, and a post-compaction batch
    still flags duplicates of PRE-compaction docs (identical results
    to the uncompacted run)."""
    import glob

    from pyspark.sql.types import StructType

    from clickhub_spark.streaming.ingest import stream_dedup_ingest

    schema = StructType().add("doc_id", "long").add("text", "string")
    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (3, "one two three four five six seven eight nine ten"),
        (4, "pack my box with five dozen liquor jugs right now"),
    ]

    def run(root, compact_every):
        src = root / "landing"
        src.mkdir(parents=True)
        table, store, pairs = (
            str(root / "tbl"), str(root / "store"), str(root / "pairs"))
        for d in docs:  # one file each → one micro-batch each
            spark.createDataFrame([d], schema).coalesce(1) \
                .write.mode("append").parquet(str(src))
        stream_dedup_ingest(
            spark, str(src), schema, table, store,
            checkpoint=str(root / "ck"), pairs_path=pairs, max_files=1,
            compact_every=compact_every,
        )
        # late batch duplicating doc 1 — must join against the
        # (compacted) store
        spark.createDataFrame([(99, docs[0][1])], schema).coalesce(1) \
            .write.mode("append").parquet(str(src))
        stream_dedup_ingest(
            spark, str(src), schema, table, store,
            checkpoint=str(root / "ck"), pairs_path=pairs, max_files=1,
            compact_every=compact_every,
        )
        return table, store, pairs

    t_plain, s_plain, p_plain = run(tmp_path / "plain", compact_every=0)
    t_comp, s_comp, p_comp = run(tmp_path / "comp", compact_every=2)

    # identical logical content pre/post compaction
    for plain, comp in ((t_plain, t_comp), (s_plain, s_comp), (p_plain, p_comp)):
        a = {tuple(r) for r in spark.read.parquet(plain).collect()}
        b = {tuple(r) for r in spark.read.parquet(comp).collect()}
        assert a == b
    got = {(r.id_a, r.id_b) for r in spark.read.parquet(p_comp).collect()}
    assert (1, 99) in got  # post-compaction store still serves the join
    # layout: partitioning preserved, fewer files than one-per-batch
    assert glob.glob(s_comp + "/band=*")  # hive layout survived
    n_plain = len(glob.glob(s_plain + "/band=*/*.parquet"))
    n_comp = len(glob.glob(s_comp + "/band=*/*.parquet"))
    assert n_comp < n_plain


def test_compact_crash_recovery_fixed_old_name(spark, tmp_path):
    """Round-12 review finding: compact parked the old table at a
    RANDOM .__old_<uuid> name, so a crash between its two renames
    stranded the table unrecoverably.  It now uses the fixed
    <path>.__old and runs recover_table first, like every other swap."""
    import os

    from clickhub_spark.operators.mutate import recover_table
    from clickhub_spark.sources.writer import compact

    table = str(tmp_path / "t")
    spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(4).write.parquet(
        table
    )
    # simulate the crash window: table renamed away, new dir not yet in
    os.rename(table, table + ".__old")
    assert recover_table(table)  # reader-side recovery contract
    n = compact(spark, table, ["id"], target_files=1)
    assert n == 100
    # and compact itself recovers when called directly on a crashed swap
    os.rename(table, table + ".__old")
    n = compact(spark, table, ["id"], target_files=1)
    assert n == 100
    assert spark.read.parquet(table).count() == 100
    assert not os.path.exists(table + ".__old")


def test_swap_is_atomic_exchange_with_prev_generation(spark, tmp_path):
    """VERDICT r13 item 4: on Linux the copy-on-write swap is ONE
    renameat2 RENAME_EXCHANGE — the table path never transiently
    disappears — and the displaced generation is parked at
    <path>.__prev (for in-flight scans) until the next mutation
    retires it."""
    import os

    from pyspark.sql import functions as F

    from clickhub_spark.operators import mutate

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(a), os.makedirs(b)
    if not mutate.exchange_dirs(a, b):  # pragma: no cover
        import pytest

        pytest.skip("renameat2 RENAME_EXCHANGE unsupported here")
    table = str(tmp_path / "t")
    spark.range(100).withColumnRenamed("id", "k").write.parquet(table)
    n = mutate.delete_where(spark, table, F.col("k") >= 60)
    assert n == 60
    # old generation parked, one deep
    assert os.path.isdir(table + ".__prev")
    assert spark.read.parquet(table + ".__prev").count() == 100
    assert not os.path.exists(table + ".__old")
    # a second mutation retires generation N-2 and parks N-1
    n = mutate.delete_where(spark, table, F.col("k") >= 30)
    assert n == 30
    assert spark.read.parquet(table).count() == 30
    assert spark.read.parquet(table + ".__prev").count() == 60


def test_partition_pruned_mutations(spark, tmp_path):
    """VERDICT r13 item 5: delete/update_where_partitioned rewrite
    ONLY the named hive partitions (cost tracks touched data, not
    table size — ``tools/scale mutation_pruned`` certifies ~flat time
    at 10x rows).  The partition column is usable in the predicate,
    untouched partitions keep their files byte-identical, and the
    scratch/parked dirs are underscore-prefixed so partition
    discovery never sees them as partition values."""
    import os

    from pyspark.sql import functions as F

    from clickhub_spark.operators.mutate import (
        delete_where_partitioned,
        update_where_partitioned,
    )

    path = str(tmp_path / "facts")
    (
        spark.range(1000)
        .select(
            (F.col("id") % 10).alias("day"),
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
        )
        .write.partitionBy("day")
        .parquet(path)
    )
    day4_files = sorted(os.listdir(os.path.join(path, "day=4")))
    survivors = delete_where_partitioned(
        spark, path, "day", [3], F.col("k") < 500
    )
    assert survivors == 50
    df = spark.read.parquet(path)
    assert df.count() == 950
    assert df.where("day = 3").count() == 50
    # untouched partition: files not even rewritten
    assert sorted(os.listdir(os.path.join(path, "day=4"))) == day4_files
    # update with the partition col in the predicate; other days inert
    touched = update_where_partitioned(
        spark, path, "day", [5], F.col("day") == 5,
        {"v": F.col("v") + 100000},
    )
    assert touched == 100
    df = spark.read.parquet(path)
    assert df.where("day = 5 AND v >= 100000").count() == 100
    assert df.where("day != 5 AND v >= 100000").count() == 0
    # missing partition value: no-op, not an error
    assert delete_where_partitioned(
        spark, path, "day", [999], F.lit(True)
    ) == 0
    # parked generations hide behind underscore names (discovery-inert)
    strays = [
        d
        for d in os.listdir(path)
        if "__prev" in d or "__mutating" in d or "__old" in d
    ]
    assert strays and all(d.startswith("_mutpart_") for d in strays)
