"""The one table-read path (sources/writer.read_table): an absent table
is ``None``, a swap in flight is waited out, a dead swap is restored,
a declared schema spares the footer-inference job, and every other
error propagates — through each reader routed over it."""

from __future__ import annotations

import glob
import os
import shutil
import threading
import time

import pytest

from clickhub_spark.catalog import COMMITS_SCHEMA, register_final_views
from clickhub_spark.ddl import Warehouse
from clickhub_spark.operators import mutate
from clickhub_spark.operators.collapsing import collapse_accumulate
from clickhub_spark.orchestrator import Orchestrator
from clickhub_spark.queue import WorkQueue
from clickhub_spark.sources.tsv import read_positional_tsv, stamp_updated_at
from clickhub_spark.sources.writer import high_water_mark, read_table
from clickhub_spark.streaming.collapse import read_collapsed
from tests.conftest import FIXTURES, spark_jobs

FIXTURE = str(FIXTURES / "commits.tsv")


def _log(spark, rows):
    return spark.createDataFrame(rows, "k string, seq int, payload string, sign int")


def test_absent_table_is_none(spark, tmp_path):
    """No directory, or one holding only entries a parquet listing
    skips (an in-flight first append's ``_staging_*`` dir, dotfiles),
    is absent; a ``_col=value`` partition dir is data."""
    path = tmp_path / "t"
    assert read_table(spark, str(path)) is None
    (path / "_staging_0123").mkdir(parents=True)
    (path / ".hidden").write_text("")
    assert read_table(spark, str(path)) is None
    assert high_water_mark(spark, str(path), "time", "repo_name", "r") is None
    spark.range(3).write.parquet(str(path / "_partition_id=1"))
    assert read_table(spark, str(path)).count() == 3


def test_damaged_commits_table_raises(spark, tmp_path):
    """Garbage in every commits part file is an error on every read
    path, not "no rows" (which answered 201 SCHEDULED for a repo whose
    commits were unreadable)."""
    orch = Orchestrator(
        spark, str(tmp_path / "commits"), WorkQueue(str(tmp_path / "queue"))
    )
    assert orch.import_repo("acme/widgets", FIXTURE) > 0
    parts = glob.glob(str(tmp_path / "commits" / "part-*"))
    assert parts
    for part in parts:
        with open(part, "wb") as fh:
            fh.write(b"not parquet" * 16)
    with pytest.raises(Exception):
        orch.is_processed("acme/widgets")
    with pytest.raises(Exception):
        high_water_mark(
            spark, orch.commits_path, "time", "repo_name", "acme/widgets"
        )
    with pytest.raises(Exception):
        orch.update_all_repos()


def test_reader_waits_out_a_live_swap(spark, tmp_path):
    """Path missing, ``.__old`` and a scratch sibling present: the
    two-rename swap is between its renames.  The reader waits, the
    writer publishes, and the reader sees the new generation — it never
    renamed ``.__old`` back (the writer's second rename would then
    fail)."""
    acc = str(tmp_path / "acc")
    args = (["k"], "sign", ["seq"])
    collapse_accumulate(_log(spark, [("a", 1, "old", 1)]), *args).write.parquet(
        f"{acc}/batch_id=0"
    )
    scratch = mutate.scratch_dir(acc)
    collapse_accumulate(_log(spark, [("b", 2, "new", 1)]), *args).write.parquet(
        f"{scratch}/batch_id=-1"
    )
    os.rename(acc, acc + ".__old")  # the writer's first rename
    got = {}
    reader = threading.Thread(
        target=lambda: got.setdefault("df", read_collapsed(spark, acc, ["k"], ["seq"]))
    )
    reader.start()
    time.sleep(0.5)
    assert reader.is_alive()  # waiting on the swap
    os.rename(scratch, acc)  # the writer's second rename
    shutil.rmtree(acc + ".__old")
    reader.join(timeout=30)
    assert [r.k for r in got["df"].collect()] == ["b"]


def test_dead_half_swap_is_restored_by_warehouse_read(spark, tmp_path):
    """A half-swap with no live writer (``data`` missing, ``.__old``
    present, nothing changes during the wait) is restored by the next
    read."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.execute("CREATE DATABASE ana")
    wh.execute(
        "CREATE TABLE ana.t (`k` Int64, `v` Int64) ENGINE = MergeTree ORDER BY (k)"
    )
    wh.execute("INSERT INTO ana.t (k, v) VALUES (1, 10), (2, 20)", spark=spark)
    data = os.path.join(wh.root, "ana", "t", "data")
    os.rename(data, data + ".__old")
    assert wh.read(spark, "ana.t").count() == 2
    assert os.path.isdir(data) and not os.path.exists(data + ".__old")


def test_declared_git_table_opens_without_a_job(spark, tmp_path):
    """The stored git tables are read under their declared schema
    (catalog.STORED_SCHEMAS), so registering the FINAL views runs no
    footer-inference job."""
    stamp_updated_at(
        read_positional_tsv(
            spark, FIXTURE, COMMITS_SCHEMA, literals={"repo_name": "acme/w"}
        )
    ).write.parquet(str(tmp_path / "commits"))
    names, jobs = spark_jobs(spark, lambda: register_final_views(spark, str(tmp_path)))
    assert names == ["commits_final"] and jobs == 0
    assert spark.table("commits_final").count() == 20
