"""Python DataSource API sources (sources/pyds.py): partition
planning, planning-time filter pushdown, git history tiling, and the
replayable stream source's exactly-once offsets."""

import time

import pytest
from pyspark.sql import functions as F

from clickhub_spark.plans.queries_core import _FIXTURE_COMMITS, _fixture_repo
from clickhub_spark.sources.pyds import register_sources


@pytest.fixture(autouse=True)
def _register(spark):
    register_sources(spark)


def test_numbers_matches_range_and_partition_plan(spark):
    df = (
        spark.read.format("engine_numbers")
        .option("n", 10_000)
        .option("numPartitions", 16)
        .load()
    )
    assert df.rdd.getNumPartitions() == 16
    got = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum("num").alias("s")
    ).first()
    exp = spark.range(10_000).agg(
        F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
    ).first()
    assert (got.n, got.s) == (exp.n, exp.s)


def test_numbers_empty_and_single_row(spark):
    assert (
        spark.read.format("engine_numbers").option("n", 0).load().count() == 0
    )
    one = spark.read.format("engine_numbers").option("n", 1).load().collect()
    assert [r.num for r in one] == [0]


def test_pushdown_prunes_partitions(spark):
    # session.py enables spark.sql.python.filterPushdown; the reader
    # consumes comparison filters at PLANNING time.  Evidence at two
    # levels: (a) the executed plan's post-scan Filter no longer
    # contains the comparison (only the engine-added isnotnull), and
    # (b) the reader's own planning collapses to the pruned range.
    base = (
        spark.read.format("engine_numbers_pushdown")
        .option("n", 1000)
        .option("numPartitions", 10)
    )
    tail = base.load().filter(F.col("num") >= 900)
    plan = tail._jdf.queryExecution().executedPlan().toString()
    assert "900" not in plan, plan  # consumed by the source, not re-checked
    assert tail.count() == 100
    band = base.load().filter((F.col("num") >= 250) & (F.col("num") < 460))
    assert band.count() == 210
    assert band.agg(F.min("num"), F.max("num")).first() == (250, 459)
    # equality collapses to a single-row partition
    eq = base.load().filter(F.col("num") == 777)
    assert [r.num for r in eq.collect()] == [777]


def test_pushdown_reader_plans_pruned_partitions():
    # planning-level check, no Spark needed: consumed filters shrink
    # the range; partitions() then tiles only the residual slice.
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from clickhub_spark.sources.pyds import NumbersPushdownReader

    r = NumbersPushdownReader({"n": "1000", "numpartitions": "10"})
    remaining = list(
        r.pushFilters(
            [GreaterThanOrEqual(("num",), 900), LessThan(("num",), 950)]
        )
    )
    assert remaining == []  # both consumed
    parts = r.partitions()
    # the scan tiles ONLY the residual [900, 950) — 50 rows planned,
    # not 1000
    assert min(p.start for p in parts) == 900
    assert max(p.end for p in parts) == 950
    assert sum(p.end - p.start for p in parts) == 50


def test_pushdown_unsupported_filter_still_correct(spark):
    # a filter the reader does NOT consume (modulo) must be evaluated
    # by Spark post-scan — correctness over pruning.
    df = (
        spark.read.format("engine_numbers_pushdown")
        .option("n", 100)
        .option("numPartitions", 4)
        .load()
        .filter((F.col("num") % 10 == 3) & (F.col("num") >= 50))
    )
    assert sorted(r.num for r in df.collect()) == [53, 63, 73, 83, 93]


def test_gitlog_reads_fixture_history(spark):
    repo = _fixture_repo()
    df = (
        spark.read.format("gitlog").option("path", repo).option("numPartitions", 3).load()
    )
    rows = df.orderBy("commit_idx").collect()
    assert len(rows) == len(_FIXTURE_COMMITS)
    # newest first: commit_idx 0 is the LAST fixture commit
    for idx, row in enumerate(rows):
        name, email, ts, subject = list(reversed(_FIXTURE_COMMITS))[idx]
        assert (row.commit_idx, row.author, row.author_email) == (idx, name, email)
        assert (row.authored_at, row.subject) == (ts, subject)
        assert row.n_parents == (0 if idx == len(rows) - 1 else 1)
        assert len(row.hash) == 40


def test_gitlog_partitioning_tiles_history_exactly(spark):
    repo = _fixture_repo()
    read = lambda p: (  # noqa: E731
        spark.read.format("gitlog")
        .option("path", repo)
        .option("numPartitions", p)
        .load()
        .orderBy("commit_idx")
        .collect()
    )
    assert read(1) == read(4)
    # more partitions than commits: still exact, no duplicates
    assert read(100) == read(1)


def test_numbers_stream_exactly_once(spark):
    sdf = (
        spark.readStream.format("engine_numbers_stream")
        .option("rowsPerBatch", 64)
        .option("maxRows", 200)
        .load()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("pyds_stream_t")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM pyds_stream_t").first().c
            if n >= 200:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT num, count(*) c FROM pyds_stream_t GROUP BY num"
    ).collect()
    # capped at maxRows, each value delivered exactly once, contiguous
    assert sorted(r.num for r in rows) == list(range(200))
    assert all(r.c == 1 for r in rows)


def test_stream_reader_never_rewinds_offsets():
    # maxRows lowered below an already-committed offset must not move
    # the end offset behind the start (that would re-emit committed
    # rows and break the exactly-once replay contract)
    from clickhub_spark.sources.pyds import NumbersStreamReader

    r = NumbersStreamReader({"rowsperbatch": "100", "maxrows": "500"})
    it, end = r.read({"pos": 1000})
    assert end == {"pos": 1000} and list(it) == []


def test_gitlog_survives_hostile_subjects(spark, tmp_path):
    # subjects containing the FIELD separator (\x01) and the old
    # record separator (\x02) must not corrupt framing: NUL is the
    # record separator (git forbids it in messages) and the subject is
    # the last field, split with maxsplit
    import subprocess

    repo = str(tmp_path / "hostile")
    env = dict(
        GIT_AUTHOR_NAME="A",
        GIT_AUTHOR_EMAIL="a@x",
        GIT_AUTHOR_DATE="1704067200 +0000",
        GIT_COMMITTER_NAME="A",
        GIT_COMMITTER_EMAIL="a@x",
        GIT_COMMITTER_DATE="1704067200 +0000",
        PATH="/usr/bin:/bin",
        HOME="/root",
    )
    subprocess.run(["git", "init", "-q", "-b", "main", repo], check=True, env=env)
    subjects = ["plain", "has\x01field-sep", "has\x02old-rec-sep"]
    for i, subj in enumerate(subjects):
        with open(f"{repo}/f.txt", "a") as f:
            f.write(f"{i}\n")
        subprocess.run(["git", "-C", repo, "add", "f.txt"], check=True, env=env)
        subprocess.run(
            ["git", "-C", repo, "commit", "-q", "-m", subj], check=True, env=env
        )
    df = (
        spark.read.format("gitlog").option("path", repo).option("numPartitions", 2).load()
    )
    rows = df.orderBy("commit_idx").collect()
    assert len(rows) == 3
    # newest first
    assert [r.subject for r in rows] == list(reversed(subjects))


def test_gitlog_empty_repo_yields_empty_table(spark, _register, tmp_path):
    """Round-12 review finding: a just-initialized repo (no HEAD)
    crashed partition planning with a raw CalledProcessError; it now
    yields an empty table, matching git_extract.git_log_raw."""
    import subprocess

    repo = str(tmp_path / "fresh")
    subprocess.run(["git", "init", "-q", repo], check=True)
    df = spark.read.format("gitlog").option("path", repo).load()
    assert df.count() == 0
