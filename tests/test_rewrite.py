"""The one table-rewrite path (sources/writer.compact): every rewrite
kind — compaction, the mutate/TTL/OPTIMIZE FINAL operators, the
retention rollup, the Warehouse OPTIMIZE/ALTER statements and the
streaming accumulator fold — runs ONE SQL execution (the write, its
row count observed on it), and keeps the part-file layout each kind
has always produced: ``target_files`` files, one file per hive
partition, or the input's files."""

from __future__ import annotations

import glob
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from clickhub_spark.ddl import Warehouse
from clickhub_spark.operators import mutate
from clickhub_spark.operators.retention import optimize_rollup
from clickhub_spark.sources.writer import compact
from tests.conftest import sql_executions


def _part_files(path: str) -> dict[str, int]:
    """Part-file count per directory under ``path`` (relative name;
    ``"."`` for the table root), skipping the scratch/parked
    generations partition rewrites keep under the table."""
    out: dict[str, int] = {}
    for f in glob.glob(os.path.join(path, "**", "part-*"), recursive=True):
        rel = os.path.relpath(os.path.dirname(f), path)
        if ".__" not in rel:
            out[rel] = out.get(rel, 0) + 1
    return out


def _table(spark, path, n=120, files=4):
    (
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("band"),
            (F.col("id") % 5).alias("ver"),
            (F.col("id") * 2).alias("v"),
            F.when(F.col("id") % 2 == 0, 1).otherwise(-1).alias("sign"),
            (F.lit(datetime(2024, 1, 1)).cast("timestamp")
             + F.make_interval(hours=F.col("id").cast("int"))).alias("ts"),
        )
        .repartition(files)
        .write.parquet(path)
    )


#: (name, rewrite, expected rows, expected part files per directory)
_KINDS = [
    ("compact", lambda s, p: compact(s, p, ["k"], target_files=3), 120, {".": 3}),
    (
        "compact_partitioned",
        lambda s, p: compact(s, p, ["k"], partition_by=["band"]),
        120,
        {"band=0": 1, "band=1": 1, "band=2": 1},
    ),
    (
        "delete_where",
        lambda s, p: mutate.delete_where(s, p, F.col("k") % 2 == 0),
        60,
        {".": 4},
    ),
    (
        "update_where",
        lambda s, p: mutate.update_where(s, p, F.col("k") < 10, {"v": F.lit(-1)}),
        120,
        {".": 4},
    ),
    (
        "apply_ttl",
        lambda s, p: mutate.apply_ttl(s, p, "ts", datetime(2024, 1, 2)),
        96,
        {".": 4},
    ),
    (
        "optimize_final",
        lambda s, p: mutate.optimize_final(
            s, p, ["band", "ver"], ["k"], target_files=2
        ),
        15,
        {".": 2},
    ),
    (
        "optimize_final_collapsing",
        lambda s, p: mutate.optimize_final_collapsing(
            s, p, ["k"], "sign", ["ts"], target_files=2
        ),
        120,
        {".": 2},
    ),
    (
        "optimize_rollup",
        lambda s, p: optimize_rollup(
            s, p, "ts", ["band"], "v", [("2024-01-04", 3600)], 86400, target_files=2
        ),
        57,
        {".": 2},
    ),
]


@pytest.mark.parametrize("name,rewrite,rows,files", _KINDS, ids=[k[0] for k in _KINDS])
def test_operator_rewrite_runs_one_execution(spark, tmp_path, name, rewrite, rows, files):
    path = str(tmp_path / "t")
    _table(spark, path)
    n, execs = sql_executions(spark, lambda: rewrite(spark, path))
    assert n == rows == spark.read.parquet(path).count()
    assert execs == 1
    assert _part_files(path) == files


def test_partition_rewrite_runs_one_execution(spark, tmp_path):
    """A partition-pruned mutation rewrites the touched partition in
    one execution and keeps every partition's file count."""
    path = str(tmp_path / "t")
    (
        spark.range(120)
        .select(F.col("id").alias("k"), (F.col("id") % 3).alias("band"))
        .repartition(2)
        .write.partitionBy("band")
        .parquet(path)
    )
    before = _part_files(path)
    assert before == {"band=0": 2, "band=1": 2, "band=2": 2}
    n, execs = sql_executions(
        spark,
        lambda: mutate.delete_where_partitioned(
            spark, path, "band", [1], F.col("k") < 30, sort_cols=["k"]
        ),
    )
    assert (n, execs) == (30, 1)
    assert _part_files(path) == before


@pytest.fixture
def wh(tmp_path):
    return Warehouse(str(tmp_path / "wh"))


def _insert(spark, wh, table, partitioned: bool):
    wh.execute(
        f"CREATE TABLE {table} (`k` Int64, `v` Int64, `ver` Int64) "
        "ENGINE = ReplacingMergeTree(ver) "
        + ("PARTITION BY (k % 3) " if partitioned else "")
        + "ORDER BY (k)"
    )
    for lo in (0, 20):
        wh.insert(
            spark,
            table,
            spark.range(lo, lo + 30).selectExpr("id AS k", "id * 2 AS v", "id % 4 AS ver"),
        )


_STATEMENTS = [
    ("optimize_final", "OPTIMIZE TABLE db.t FINAL", "optimized 50"),
    ("optimize_dedup", "OPTIMIZE TABLE db.t DEDUPLICATE", "optimized 50"),
    ("alter_delete", "ALTER TABLE db.t DELETE WHERE k < 5", "mutated to 55"),
    ("alter_update", "ALTER TABLE db.t UPDATE v = 0 WHERE k < 5", "mutated to 60"),
    ("modify_column", "ALTER TABLE db.t MODIFY COLUMN v Int32", "ok"),
]


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "partitioned"])
@pytest.mark.parametrize(
    "name,sql,status", _STATEMENTS, ids=[s[0] for s in _STATEMENTS]
)
def test_warehouse_rewrite_runs_one_execution(spark, wh, name, sql, status, partitioned):
    """OPTIMIZE and ALTER … DELETE/UPDATE/MODIFY each run one
    execution: the write, not a count before it.  The layout stays
    ``compact``'s: 8 files flat, one per ``_partition_id``."""
    wh.execute("CREATE DATABASE db")
    _insert(spark, wh, "db.t", partitioned)
    data = os.path.join(wh.root, "db", "t", "data")
    out, execs = sql_executions(spark, lambda: wh.execute(sql, spark=spark))
    assert (out, execs) == (status, 1)
    want = (
        {f"_partition_id={p}": 1 for p in range(3)} if partitioned else {".": 8}
    )
    assert _part_files(data) == want


def test_mutation_after_rename_is_one_rewrite(spark, wh):
    """A DELETE on a table with RENAME COLUMN history normalizes the
    old-name files in the same rewrite (it used to rewrite the table
    twice: once to normalize, once to mutate)."""
    wh.execute("CREATE DATABASE db")
    _insert(spark, wh, "db.t", partitioned=False)
    wh.execute("ALTER TABLE db.t RENAME COLUMN v TO w")
    wh.insert(spark, "db.t", spark.createDataFrame([(100, 7, 0)], "k long, w long, ver long"))
    out, execs = sql_executions(
        spark, lambda: wh.execute("ALTER TABLE db.t DELETE WHERE k < 5", spark=spark)
    )
    assert (out, execs) == ("mutated to 56", 1)
    assert not any(c.renamed_from for c in wh.table_def("db.t").columns)
    got = {r.k: r.w for r in wh.read(spark, "db.t").collect()}
    assert got[100] == 7 and got[5] == 10 and 0 not in got
    assert _part_files(os.path.join(wh.root, "db", "t", "data")) == {".": 8}


def test_update_where_assignments_see_the_pre_update_row(spark, tmp_path):
    """UPDATE evaluates the predicate and every assignment against the
    row as it was: ``SET a = 1, b = 9 WHERE a = 0`` must still set
    ``b`` on the rows whose ``a`` it just changed."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(0, 0), (1, 0)], "a int, b int").write.parquet(path)
    mutate.update_where(
        spark, path, F.col("a") == 0, {"a": F.lit(1), "b": F.lit(9)}
    )
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [(1, 0), (1, 9)]


def test_delete_keeps_rows_whose_predicate_is_null(spark, tmp_path):
    """DELETE drops only the rows its predicate selects: a NULL
    predicate is false, as in the statement path and ClickHouse."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 5), (2, None), (3, 50)], "id int, x int"
    ).write.parquet(path)
    assert mutate.delete_where(spark, path, F.col("x") > 10) == 2
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [(1, 5), (2, None)]


def test_ttl_keeps_rows_with_null_timestamp(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, datetime(2024, 1, 1)), (2, None), (3, datetime(2024, 3, 1))],
        "id int, ts timestamp",
    ).write.parquet(path)
    assert mutate.apply_ttl(spark, path, "ts", datetime(2024, 2, 1)) == 2
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [2, 3]
