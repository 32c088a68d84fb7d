"""Ingest path: positional TSV cast (≙ reference types.json:6), write
clustering, high-water-mark incremental append (repo/importer.py:95,107)."""

from datetime import datetime

from pyspark.sql import functions as F

from clickhub_spark.catalog import COMMITS_SCHEMA
from clickhub_spark.operators.dedup import final_view
from clickhub_spark.sources.tsv import (
    read_positional_tsv,
    stamp_updated_at,
    validate_enum,
    validate_non_negative,
)
from clickhub_spark.sources.writer import high_water_mark, incremental_append

from tests.conftest import FIXTURES

FIXTURE = str(FIXTURES / "commits.tsv")


def test_positional_cast_and_literal_injection(spark):
    df = read_positional_tsv(
        spark, FIXTURE, COMMITS_SCHEMA, literals={"repo_name": "acme/widgets"}
    )
    assert df.columns == [f.name for f in COMMITS_SCHEMA.fields]
    row = df.first()
    assert row.repo_name == "acme/widgets"
    assert isinstance(row.time, datetime)
    assert df.count() == 21
    assert dict(df.dtypes)["lines_added"] == "bigint"


def test_validators(spark):
    df = read_positional_tsv(spark, FIXTURE, COMMITS_SCHEMA, literals={"repo_name": "r"})
    assert validate_non_negative(df, "lines_added", "files_added").count() == 21
    neg = df.withColumn("lines_added", F.lit(-1))
    assert validate_non_negative(neg, "lines_added").count() == 0
    ev = spark.createDataFrame([("Add",), ("Bogus",)], "change_type string")
    assert validate_enum(ev, "change_type", ("Add", "Delete")).count() == 1


def test_incremental_append_idempotent(spark, tmp_path):
    """Append + watermark cut + FINAL view ≙ the reference's idempotent
    re-import (repo/importer.py:95,107 + README.md:133)."""
    path = str(tmp_path / "commits_tbl")
    df = stamp_updated_at(
        read_positional_tsv(spark, FIXTURE, COMMITS_SCHEMA, literals={"repo_name": "r"})
    )
    n1 = incremental_append(spark, df, path, "time", "repo_name", "r")
    assert n1 == 21
    assert high_water_mark(spark, path, "time", "repo_name", "r") is not None
    # replaying the same increment appends nothing (all rows <= hwm)
    n2 = incremental_append(spark, df, path, "time", "repo_name", "r")
    assert n2 == 0
    # FINAL view dedups the duplicate-key fixture rows
    stored = spark.read.parquet(path)
    finals = final_view(
        stored, keys=["repo_name", "time", "hash"], version=["updated_at", "lines_added"]
    )
    assert finals.count() == stored.select("repo_name", "time", "hash").distinct().count()


def test_tolerant_tsv_drops_and_quarantines_malformed_rows(spark, tmp_path):
    """Malformed rows (wrong arity, uncastable cells) are dropped, not
    fatal; quarantine captures them verbatim for offline repair; good
    rows cast exactly as the strict reader."""
    from pyspark.sql.types import StructType

    from clickhub_spark.sources.tsv import read_positional_tsv_tolerant

    schema = (
        StructType()
        .add("id", "long")
        .add("name", "string")
        .add("score", "double")
        .add("repo_name", "string")
    )
    tsv = tmp_path / "rows.tsv"
    tsv.write_text(
        "1\talpha\t1.5\n"
        "not-a-number\tbeta\t2.0\n"   # uncastable id
        "3\tgamma\toops\n"            # uncastable score
        "4\tdelta\n"                  # missing column
        "5\tepsilon\t5.25\n"
        "6\t\t6.5\n"                  # EMPTY string mid-row: legit, kept
    )
    q = str(tmp_path / "quarantine")
    out = read_positional_tsv_tolerant(
        spark, str(tsv), schema, literals={"repo_name": "acme/x"}, quarantine=q
    )
    rows = {r.id: (r.name, r.score, r.repo_name) for r in out.collect()}
    assert rows == {
        1: ("alpha", 1.5, "acme/x"),
        5: ("epsilon", 5.25, "acme/x"),
        6: ("", 6.5, "acme/x"),  # empty string ≠ missing column
    }
    quarantined = {r.value for r in spark.read.text(q).collect()}
    assert quarantined == {"not-a-number\tbeta\t2.0", "3\tgamma\toops", "4\tdelta"}


def test_tolerant_tsv_empty_trailing_string_field(spark, tmp_path):
    """A row ending in a tab has an EMPTY last string field (kept, as
    '') while a row missing the tab is truncated (quarantined) — the
    field-count check tells them apart, which a null-based check on the
    CSV reader cannot (it returns null for both)."""
    from pyspark.sql.types import StructType

    from clickhub_spark.sources.tsv import read_positional_tsv_tolerant

    schema = StructType().add("id", "long").add("msg", "string")
    tsv = tmp_path / "rows.tsv"
    tsv.write_text("1\thello\n2\t\n3\n")
    out = read_positional_tsv_tolerant(spark, str(tsv), schema)
    rows = {r.id: r.msg for r in out.collect()}
    assert rows == {1: "hello", 2: ""}  # row 3 truncated → dropped
