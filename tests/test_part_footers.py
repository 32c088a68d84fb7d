"""The app's per-repo questions answered from parquet part footers
(introspect.table_parts, sources/writer.footer_answers):
``Orchestrator.is_processed``, ``writer.high_water_mark`` and
``Orchestrator.stale_repos`` / ``update_all_repos`` agree with the
full-scan formulations they replaced on every layout (single- and
multi-repo parts, INT96 parts, NULL keys and versions, an in-flight
``_staging_*`` part, a compacted table) under any process ``TZ``; a
table of single-repo parts answers them with no Spark job; and the
footer reader lists exactly the files a Spark read reads."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import tempfile
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from clickhub_spark import introspect
from clickhub_spark.catalog import COMMITS_SCHEMA, STORED_SCHEMAS
from clickhub_spark.orchestrator import Orchestrator
from clickhub_spark.queue import WorkQueue
from clickhub_spark.sources import writer
from clickhub_spark.sources.tsv import read_positional_tsv, stamp_updated_at
from clickhub_spark.sources.writer import compact, high_water_mark, read_table
from tests.conftest import FIXTURES, spark_jobs

SCHEMA = STORED_SCHEMAS["commits"]
FIXTURE = str(FIXTURES / "commits.tsv")


def _us(iso: str) -> int:
    """Epoch micros of a UTC ISO timestamp."""
    d = dt.datetime.fromisoformat(iso).replace(tzinfo=dt.timezone.utc)
    return int(d.timestamp()) * 1_000_000 + d.microsecond


#: 01:45 EDT and 01:15 EST on the New York fall-back night: the later
#: instant reads as the EARLIER local wall time, so any comparison of
#: local datetimes instead of raw micros orders them wrongly
DST_A = _us("2023-11-05T05:45:00")
DST_B = _us("2023-11-05T06:15:00")
T0 = _us("2023-01-01T00:00:00")
HOUR = 3_600_000_000


def _commits(spark, rows):
    """A commits-shaped DataFrame from (repo_name, time µs, updated_at
    µs) triples — built from raw micros so the stored instants do not
    depend on the process TZ."""
    df = spark.createDataFrame(rows, "repo_name string, t long, u long")
    cols = {
        "hash": F.concat_ws(":", "repo_name", F.col("t").cast("string")),
        "time": F.timestamp_micros("t"),
        "updated_at": F.timestamp_micros("u"),
        "repo_name": F.col("repo_name"),
    }
    return df.select(
        *[cols.get(f.name, F.lit(None).cast(f.dataType)).alias(f.name) for f in SCHEMA.fields]
    )


def _part(spark, path, rows, ts_type="TIMESTAMP_MICROS"):
    """Append ``rows`` to the table at ``path`` as one part file, with
    timestamps written as ``ts_type``."""
    conf = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(conf)
    spark.conf.set(conf, ts_type)
    try:
        _commits(spark, rows).coalesce(1).write.mode("append").parquet(path)
    finally:
        spark.conf.set(conf, before)


# -- the full-scan formulations the footer answers replaced (the oracle) --


def scan_is_processed(spark, path, repo):
    df = read_table(spark, path, SCHEMA)
    return df is not None and bool(df.where(F.col("repo_name") == repo).limit(1).take(1))


def scan_high_water_mark(spark, path, repo, schema=SCHEMA):
    df = read_table(spark, path, schema)
    if df is None:
        return None
    return df.where(F.col("repo_name") == repo).agg(F.max("time").alias("hwm")).first().hwm


def scan_stale(spark, path, limit):
    df = read_table(spark, path, SCHEMA)
    if df is None:
        return []
    return [
        r.repo_name
        for r in df.groupBy("repo_name")
        .agg(F.min("updated_at").alias("last_updated"))
        .orderBy(F.col("last_updated").asc(), F.col("repo_name").asc())
        .limit(limit)
        .collect()
    ]


def scan_update_all_repos(spark, path, limit, queued):
    """The scan formulation's stale batch minus the queued repos, as a
    left-anti join."""
    stale = scan_stale(spark, path, limit)
    q = spark.createDataFrame([(r,) for r in queued] or [("",)], "repo_name string")
    kept = {
        r.repo_name
        for r in spark.createDataFrame([(r,) for r in stale], "repo_name string")
        .join(q, "repo_name", "left_anti")
        .collect()
    }
    return [r for r in stale if r in kept]


@pytest.fixture(params=["UTC", "America/New_York"])
def tz(request, monkeypatch):
    """The Python process TZ, which decides the local datetimes that
    ``collect`` returns for timestamps."""
    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


REPOS = ["a/1", "b/2", "c/3", "d/4", "e/5", "f/6", "g/7", "h/8", "s/staged", "z/none"]


def _mixed_table(spark, path):
    _part(spark, path, [("a/1", T0, T0 + 5 * HOUR), ("a/1", T0 + HOUR, T0 + 6 * HOUR)])
    _part(spark, path, [("b/2", DST_A, DST_B)])
    _part(spark, path, [("b/2", DST_B, DST_A)], "INT96")  # later time, in INT96
    _part(spark, path, [("c/3", T0 + 2 * HOUR, T0 + 9 * HOUR), ("d/4", T0, T0 + 3 * HOUR)])
    _part(spark, path, [(None, T0 + 7 * HOUR, T0 + 7 * HOUR), ("e/5", T0, T0 + 8 * HOUR)])
    _part(spark, path, [("f/6", T0, None)])  # every updated_at NULL
    _part(spark, path, [("g/7", T0, None), ("g/7", T0 + HOUR, T0 + 4 * HOUR)])
    _part(spark, path, [("h/8", T0 + 3 * HOUR, T0 + 5 * HOUR)], "INT96")
    _part(spark, path, [("a/1", T0 + 2 * HOUR, T0 + 5 * HOUR)], "INT96")  # a tie on min
    _part(spark, path, [])  # an empty part file
    # an append still in flight: its part is not visible to a Spark read
    staging = os.path.join(path, "_staging_0123")
    _part(spark, staging, [("s/staged", T0, T0)])


def _assert_agree(spark, orch, path):
    for repo in REPOS:
        assert orch.is_processed(repo) == scan_is_processed(spark, path, repo), repo
        for schema in (SCHEMA, None):
            got = high_water_mark(spark, path, "time", "repo_name", repo, schema)
            assert got == scan_high_water_mark(spark, path, repo, schema), (repo, schema)
    for limit in (1, 2, 4, 100):
        assert orch.stale_repos(limit) == scan_stale(spark, path, limit), limit
    # update_all_repos on a fresh queue holding one stale repo; the
    # limit leaves out the NULL repo_name group, which no queue takes
    queue = WorkQueue(tempfile.mkdtemp(dir=os.path.dirname(path)))
    queue.schedule("d/4")
    want = scan_update_all_repos(spark, path, 4, ["d/4"])
    assert None not in want
    assert Orchestrator(spark, path, queue).update_all_repos(4) == want


def test_footer_answers_equal_the_scan_on_every_layout(spark, tmp_path, tz):
    path = str(tmp_path / "commits")
    orch = Orchestrator(spark, path, WorkQueue(str(tmp_path / "queue")))
    _mixed_table(spark, path)
    assert not scan_is_processed(spark, path, "s/staged")
    _assert_agree(spark, orch, path)
    # the same answers after the merge into multi-repo parts, with
    # disjoint repo ranges (the ORDER BY (repo_name, …) layout)
    compact(
        spark,
        path,
        sort_cols=("repo_name", "time"),
        target_files=None,
        transform=lambda df: df.repartitionByRange(3, "repo_name"),
        read_schema=SCHEMA,
    )
    _assert_agree(spark, orch, path)
    # and with new single-repo parts landed on the compacted table
    _part(spark, path, [("c/3", T0 + 10 * HOUR, T0 + HOUR)])
    _part(spark, path, [("k/9", DST_B, DST_A)])
    _assert_agree(spark, orch, path)


def test_every_footer_answers_orders_by_raw_micros(spark, tmp_path, tz):
    """A table of single-repo TIMESTAMP_MICROS parts — the sort runs in
    Python, and must order instants, not local wall times, and break
    ties by name as Spark does."""
    path = str(tmp_path / "commits")
    orch = Orchestrator(spark, path, WorkQueue(str(tmp_path / "queue")))
    _part(spark, path, [("x/late-wall", DST_B, DST_A)])  # earlier instant, later wall
    _part(spark, path, [("x/early-wall", DST_A, DST_B)])
    _part(spark, path, [("x/tie-b", T0, T0 + HOUR)])
    _part(spark, path, [("x/tie-a", T0 + HOUR, T0 + HOUR)])
    _part(spark, path, [("x/late-wall", DST_A, DST_B + HOUR)])
    orch.queue.schedule("x/tie-b")
    assert writer.footer_answers(introspect.table_parts(path), "repo_name", "updated_at")[1] == []
    for limit in (1, 2, 3, 10):
        assert orch.stale_repos(limit) == scan_stale(spark, path, limit)
    for repo in ("x/late-wall", "x/early-wall", "x/tie-a", "x/none"):
        assert high_water_mark(spark, path, "time", "repo_name", repo, SCHEMA) == (
            scan_high_water_mark(spark, path, repo)
        )
    want = scan_update_all_repos(spark, path, 10, ["x/tie-b"])
    assert want == ["x/tie-a", "x/late-wall", "x/early-wall"]
    assert orch.update_all_repos(10) == want


def test_single_repo_parts_answer_with_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "commits")
    orch = Orchestrator(spark, path, WorkQueue(str(tmp_path / "queue")))
    for i, repo in enumerate(["a/1", "b/2", "c/3"]):
        _part(spark, path, [(repo, T0 + i, T0 + i), (repo, T0 + 5, T0 + 5 + i)])
    checks = [
        (lambda: orch.is_processed("b/2"), True),
        (lambda: orch.is_processed("q/none"), False),
        (
            lambda: high_water_mark(spark, path, "time", "repo_name", "c/3", SCHEMA),
            TimestampType().fromInternal(T0 + 5),
        ),
        (lambda: high_water_mark(spark, path, "time", "repo_name", "q/none", SCHEMA), None),
        (lambda: orch.update_all_repos(2), ["a/1", "b/2"]),
    ]
    for fn, want in checks:
        assert spark_jobs(spark, fn) == (want, 0)


def test_compacted_table_reads_only_parts_whose_range_holds_the_repo(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "commits")
    orch = Orchestrator(spark, path, WorkQueue(str(tmp_path / "queue")))
    repos = [f"r/{i:02d}" for i in range(12)]
    for i, repo in enumerate(repos):
        _part(spark, path, [(repo, T0 + i, T0 + i)])
    compact(
        spark,
        path,
        sort_cols=("repo_name",),
        target_files=None,
        transform=lambda df: df.repartitionByRange(4, "repo_name"),
        read_schema=SCHEMA,
    )
    parts = introspect.table_parts(path)
    assert len(parts) == 4
    read = []

    def spy(spark, path, schema=None, files=None):
        read.append(files)
        return read_table(spark, path, schema, files)

    monkeypatch.setattr("clickhub_spark.orchestrator.read_table", spy)
    monkeypatch.setattr(writer, "read_table", spy)
    for repo in (repos[0], repos[7], "zz/none"):
        holding = [
            p.path
            for p in parts
            if p.footer.columns["repo_name"].min <= repo <= p.footer.columns["repo_name"].max
        ]
        read.clear()
        assert orch.is_processed(repo) == (repo != "zz/none")
        hwm = high_water_mark(spark, path, "time", "repo_name", repo, SCHEMA)
        assert (hwm is None) == (repo == "zz/none")
        assert read == ([holding, holding] if holding else [])
        assert len(holding) <= 1


def test_append_runs_only_its_write_job(spark, tmp_path):
    """With the watermark from footers and the row count observed on
    the staged write, an import into a footer-answerable table is one
    job; replaying it appends 0 rows and publishes no part file."""
    path = str(tmp_path / "commits")
    _part(spark, path, [("other/repo", T0, T0)])
    df = stamp_updated_at(
        read_positional_tsv(spark, FIXTURE, COMMITS_SCHEMA, literals={"repo_name": "acme/w"})
    ).cache()
    try:
        df.count()
        n, jobs = spark_jobs(
            spark, lambda: writer.incremental_append(spark, df, path, "time", "repo_name", "acme/w")
        )
        assert (n, jobs) == (21, 1)
        files = sorted(os.listdir(path))
        n, _ = spark_jobs(
            spark, lambda: writer.incremental_append(spark, df, path, "time", "repo_name", "acme/w")
        )
        assert n == 0
        assert sorted(os.listdir(path)) == files
    finally:
        df.unpersist()


def test_table_parts_lists_the_files_spark_reads(spark, tmp_path):
    """A part copied under ``_staging_abc/`` (an append in flight) and
    dotfiles are not table data: table_stats counts what Spark counts."""
    path = str(tmp_path / "commits")
    _part(spark, path, [("a/1", T0 + i, T0) for i in range(21)])
    part = next(f for f in os.listdir(path) if f.startswith("part-"))
    os.makedirs(os.path.join(path, "_staging_abc"))
    shutil.copy(os.path.join(path, part), os.path.join(path, "_staging_abc", part))
    shutil.copy(os.path.join(path, part), os.path.join(path, "." + part))
    assert spark.read.parquet(path).count() == 21
    assert introspect.table_stats(path) == {
        "rows": 21,
        "bytes": os.path.getsize(os.path.join(path, part)),
        "files": 1,
        "partitions": 1,
    }


def test_footer_statistics_and_cache(tmp_path, spark, monkeypatch):
    """INT96 timestamps carry no statistics, TIMESTAMP_MICROS ones do;
    the cache is keyed by (path, size, mtime_ns), bounded, and safe to
    share between threads."""
    path = str(tmp_path / "t")
    _part(spark, path, [("a/1", DST_A, DST_B), ("a/1", DST_B, None)])
    _part(spark, path, [("b/2", DST_A, DST_B)], "INT96")
    micros, int96 = sorted(introspect.table_parts(path), key=lambda p: "time" not in p.footer.columns)
    assert micros.footer.columns["time"] == introspect.ColumnStats("timestamp", DST_A, DST_B, 0)
    assert micros.footer.columns["updated_at"] == introspect.ColumnStats("timestamp", DST_B, DST_B, 1)
    assert micros.footer.columns["repo_name"] == introspect.ColumnStats("string", "a/1", "a/1", 0)
    assert "time" not in int96.footer.columns
    monkeypatch.setattr(introspect, "FOOTER_CACHE_MAX", 1)
    introspect._footers.clear()
    results = []
    threads = [
        threading.Thread(target=lambda: results.extend(introspect.table_parts(path) for _ in range(20)))
        for _ in range(16)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(results) == 16 * 20 and all(r == results[0] for r in results)
    assert len(introspect._footers) == 1
    monkeypatch.undo()
    # a rewritten file (new size/mtime) is read again, not served stale
    os.utime(micros.path, ns=(0, 0))
    (again,) = [p for p in introspect.table_parts(path) if p.path == micros.path]
    assert again.footer == micros.footer and (micros.path, again.bytes, 0) in introspect._footers
    with open(micros.path, "wb") as fh:
        fh.write(b"not parquet")
    with pytest.raises(Exception):
        introspect.table_parts(path)
    assert [p.footer for p in introspect.table_parts(path, strict=False) if p.path == micros.path] == [None]
