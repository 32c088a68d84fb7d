"""Full reference-schema parity: file_changes (c1..c22), line_changes
(c1..c37), github_events (arrays + enum labels), and the auto-FINAL
view registration (FIXTURES.md B2-B5; reference types.json:12,18,
create_db.py:69-128)."""

from datetime import datetime

from pyspark.sql import functions as F

from clickhub_spark.catalog import (
    CHANGE_TYPE_LABELS,
    COMMITS_SCHEMA,
    EVENT_TYPE_LABELS,
    FILE_CHANGES_SCHEMA,
    GITHUB_EVENTS_SCHEMA,
    LINE_CHANGES_SCHEMA,
    LINE_TYPE_LABELS,
    register_final_views,
)
from clickhub_spark.sources.tsv import (
    read_positional_tsv,
    stamp_updated_at,
    validate_enum,
)

from tests.conftest import FIXTURES

FIX = str(FIXTURES)


def test_file_changes_ingest(spark):
    df = read_positional_tsv(
        spark, f"{FIX}/file_changes.tsv", FILE_CHANGES_SCHEMA, literals={"repo_name": "r"}
    )
    assert df.count() == 40
    assert df.columns == [f.name for f in FILE_CHANGES_SCHEMA.fields]
    assert validate_enum(df, "change_type", CHANGE_TYPE_LABELS).count() == 40
    # a Rename row carries its old_path (reference README.md:144)
    ren = df.where("change_type = 'Rename'").first()
    assert ren.old_path != ""
    assert dict(df.dtypes)["commit_lines_added"] == "bigint"
    assert isinstance(df.first().time, datetime)


def test_line_changes_ingest(spark):
    df = read_positional_tsv(
        spark, f"{FIX}/line_changes.tsv", LINE_CHANGES_SCHEMA, literals={"repo_name": "r"}
    )
    assert df.count() == 60
    assert df.columns == [f.name for f in LINE_CHANGES_SCHEMA.fields]
    assert validate_enum(df, "line_type", LINE_TYPE_LABELS).count() == 60
    signs = {r.sign for r in df.select("sign").distinct().collect()}
    assert signs <= {-1, 1}  # reference README.md:172
    # prev_* lineage columns present and typed (README.md:184-186)
    assert dict(df.dtypes)["prev_time"] == "timestamp"


def test_github_events_shape_and_stars_mv(spark):
    rows = [
        ("WatchEvent", "alice", "apache/spark", datetime(2024, 1, 1), "started",
         0, [], [], "", 0, 0),
        ("WatchEvent", "bob", "apache/spark", datetime(2024, 1, 2), "started",
         0, [], [], "", 0, 0),
        ("WatchEvent", "bob", "duckdb/duckdb", datetime(2024, 1, 2), "started",
         0, [], [], "", 0, 0),
        ("PullRequestEvent", "carol", "apache/spark", datetime(2024, 1, 3), "opened",
         7, ["bug", "p0"], ["alice"], "open", 2, 0),
        ("IssuesEvent", "dave", "apache/spark", datetime(2024, 1, 4), "opened",
         8, ["bug"], [], "open", 0, 0),
    ]
    ev = spark.createDataFrame(rows, GITHUB_EVENTS_SCHEMA)
    assert validate_enum(ev, "event_type", EVENT_TYPE_LABELS).count() == 5
    # the stars MV on the real shape (reference README.md:256-262)
    stars = {
        r.repo_name: r.stars
        for r in ev.where(F.col("event_type") == "WatchEvent")
        .groupBy("repo_name")
        .agg(F.count("*").alias("stars"))
        .collect()
    }
    assert stars == {"apache/spark": 2, "duckdb/duckdb": 1}
    # array columns: explode (arrayJoin) + contains (has) — create_db.py:88,92
    bug_labeled = ev.where(F.array_contains("labels", "bug")).count()
    assert bug_labeled == 2
    exploded = ev.select(F.explode("labels").alias("l")).groupBy("l").count()
    assert {(r.l, r["count"]) for r in exploded.collect()} == {("bug", 2), ("p0", 1)}


def test_register_final_views(spark, tmp_path):
    base = str(tmp_path)
    df = stamp_updated_at(
        read_positional_tsv(
            spark, f"{FIX}/commits.tsv", COMMITS_SCHEMA, literals={"repo_name": "r"}
        )
    )
    # write twice → duplicates on (repo_name, time, hash)
    df.write.mode("append").parquet(f"{base}/commits")
    df.write.mode("append").parquet(f"{base}/commits")
    registered = register_final_views(spark, base)
    assert registered == ["commits_final"]
    n = spark.sql("SELECT count(*) AS n FROM commits_final").first().n
    assert n == df.select("repo_name", "time", "hash").distinct().count()
