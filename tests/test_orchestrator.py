"""End-to-end app lifecycle (≙ reference test.py's black-box checks +
the full schedule→claim→import→read loop)."""

import pytest

from pyspark.sql import functions as F

from clickhub_spark.operators.mutate import delete_where, insert_rows, update_where
from clickhub_spark.orchestrator import Orchestrator
from clickhub_spark.queue import WorkQueue

from tests.conftest import FIXTURES

FIXTURE = str(FIXTURES / "commits.tsv")


@pytest.fixture()
def orch(spark, tmp_path):
    return Orchestrator(
        spark, str(tmp_path / "commits_tbl"), WorkQueue(str(tmp_path / "queue"))
    )


def test_add_new_repo_status_codes(orch):
    assert orch.add_new_repo("not-a-repo").code == 400  # test.py:22-24
    assert orch.add_new_repo("acme/widgets").code == 201
    assert orch.add_new_repo("acme/widgets").status == "ALREADY_SCHEDULED"  # test.py:33-43


def test_full_lifecycle_schedule_claim_import_read(orch):
    assert orch.add_new_repo("acme/widgets").code == 201
    done = orch.run_worker("w1", tsv_for=lambda repo: FIXTURE)
    assert done == ["acme/widgets"]
    assert orch.queue.list_jobs() == []  # released
    # re-import is incremental: nothing new past the high-water mark
    assert orch.import_repo("acme/widgets", FIXTURE) == 0
    finals = orch.commits_final()
    assert finals.count() == 20  # 21 fixture rows, one duplicate key
    # processed repos report ALREADY_PROCESSED (the documented intent
    # of app.py:51's buggy >= 0 check)
    assert orch.add_new_repo("acme/widgets").status == "ALREADY_PROCESSED"


def test_update_all_repos_schedules_stale_not_queued(orch):
    orch.add_new_repo("acme/widgets")
    orch.run_worker("w1", tsv_for=lambda repo: FIXTURE)
    orch.add_new_repo("other/queued")  # still in queue, must be excluded
    scheduled = orch.update_all_repos(limit=10)
    assert scheduled == ["acme/widgets"]


def test_update_all_repos_bounded_by_queue_capacity(spark, tmp_path):
    """A misconfigured limit cannot pull an unbounded list driver-side:
    the stale batch is capped at the queue's max_queue_length, and the
    loop stops at the first QueueFull."""
    orch = Orchestrator(
        spark,
        str(tmp_path / "commits_tbl"),
        WorkQueue(str(tmp_path / "queue"), max_queue_length=2),
    )
    for repo in ("a/one", "b/two", "c/three"):
        orch.add_new_repo(repo)
        orch.run_worker("w1", tsv_for=lambda r: FIXTURE)
    scheduled = orch.update_all_repos(limit=10**9)
    assert len(scheduled) == 2  # queue capacity, not the stale count


def test_point_update_delete_insert(spark, tmp_path):
    """Copy-on-write mutations (≙ ALTER UPDATE repo/importer.py:146-147,
    DELETE repo/importer.py:175, INSERT test.py:36)."""
    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, v int"
    ).write.parquet(path)
    update_where(spark, path, F.col("k") == "b", {"v": F.lit(99)})
    assert spark.read.parquet(path).where("k='b'").first().v == 99
    delete_where(spark, path, F.col("k") == "a")
    assert spark.read.parquet(path).count() == 2
    insert_rows(spark, path, spark.createDataFrame([("d", 4)], "k string, v int"))
    assert spark.read.parquet(path).count() == 3


def test_load_config_defaults_and_reference_file(tmp_path):
    """A reference user's config.yml drops in unchanged: known
    operational keys override, unknown ClickHouse keys are ignored."""
    from clickhub_spark.config import load_config

    assert load_config()["max_queue_length"] == 10_000
    cfg_file = tmp_path / "config.yml"
    cfg_file.write_text(
        "host: 'ch.example'\nport: 8443\nmax_queue_length: 3\nsleep_time: 1\n"
        "data_cache: '/tmp/cache'\n"
    )
    cfg = load_config(str(cfg_file))
    assert cfg["max_queue_length"] == 3
    assert cfg["sleep_time"] == 1
    assert cfg["data_cache"] == "/tmp/cache"
    assert cfg["host"] == "ch.example"  # accepted, unused


def test_optimize_final_ttl_and_parts(spark, tmp_path):
    """OPTIMIZE FINAL physically dedups (read-time FINAL becomes a
    scan), TTL drops expired rows, and the system.parts analog reads
    footer stats without a Spark job."""
    from datetime import datetime

    from clickhub_spark.introspect import table_stats
    from clickhub_spark.operators.dedup import final_view
    from clickhub_spark.operators.mutate import apply_ttl, optimize_final

    path = str(tmp_path / "tbl")
    rows = [
        ("k1", datetime(2023, 1, 1), 1, 10),
        ("k1", datetime(2023, 1, 1), 2, 20),  # newer version of k1
        ("k2", datetime(2024, 6, 1), 1, 30),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, ver int, v int")
    df.write.parquet(path)
    df.write.mode("append").parquet(path)  # replay: everything twice

    assert table_stats(path)["rows"] == 6
    n = optimize_final(spark, path, keys=["k", "ts"], version=["ver"], target_files=1)
    assert n == 2
    stats = table_stats(path)
    assert stats["rows"] == 2 and stats["files"] == 1
    survivors = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert survivors == {"k1": 20, "k2": 30}
    # after the physical dedup, the FINAL view is the identity
    assert final_view(
        spark.read.parquet(path), keys=["k", "ts"], version=["ver"]
    ).count() == 2

    assert apply_ttl(spark, path, "ts", datetime(2024, 1, 1)) == 1
    assert spark.read.parquet(path).first().k == "k2"


def test_drop_expired_partitions(spark, tmp_path):
    """Directory-level TTL: partitions lexicographically below the
    cutoff vanish without touching survivor data; non-partition
    entries are ignored."""
    from pyspark.sql import functions as F

    from clickhub_spark.operators.mutate import drop_expired_partitions

    path = str(tmp_path / "events_by_day")
    df = spark.createDataFrame(
        [(i, f"2024-01-{(i % 4) + 1:02d}") for i in range(40)], "id long, day string"
    )
    df.write.partitionBy("day").parquet(path)
    before = spark.read.parquet(path)
    assert before.count() == 40
    n = drop_expired_partitions(path, "day", "2024-01-03")
    assert n == 2  # 01 and 02 dropped, 03 and 04 kept
    after = spark.read.parquet(path)
    assert after.count() == 20
    # (Spark's partition discovery infers the values as dates)
    assert sorted(str(r.day) for r in after.select("day").distinct().collect()) == [
        "2024-01-03",
        "2024-01-04",
    ]
    # survivors' row content untouched
    assert after.where(F.col("day").cast("string") == "2024-01-04").count() == 10
    # idempotent: nothing below cutoff remains
    assert drop_expired_partitions(path, "day", "2024-01-03") == 0
