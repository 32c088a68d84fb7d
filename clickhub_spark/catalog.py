"""Table catalog — the analog of the reference's ``types.json`` schema
catalog (reference types.json:3-26, loaded by clickhub.py:63-69).

Two families of tables:

1. Driver testdata (TPC-H-ish star + events/documents/embeddings) at
   ``{sf_dir}/{name}.parquet`` — schemas fixed by the driver, inferred
   once per file from its parquet footers (exact), then read under
   that schema: ``load`` caches each inferred StructType on the
   file's size and mtime and on the session's parquet inference
   confs, so later loads start no inference job.
2. Reference git-import tables (``commits``, ``file_changes``,
   ``line_changes`` — reference README.md:116-213) — declared here as
   explicit StructTypes for the TSV ingest path (sources/tsv.py),
   mirroring the positional-cast statements in reference types.json:6.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: tables the driver generates (TESTDATA.md); one parquet file each.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: session confs that change what parquet schema inference returns;
#: a cached schema is reused only under the values it was inferred with
_INFER_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong",
)

#: path -> (validity key, inferred schema); one entry per path
_schemas: dict[str, tuple[tuple, StructType]] = {}


def _files_key(path: str) -> tuple | None:
    """``(size, mtime_ns)`` of a parquet file, or of every file under a
    parquet directory; None when ``path`` is not a local path."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return (st.st_size, st.st_mtime_ns)
    out = []
    for root, _, files in os.walk(path):
        for f in files:
            fst = os.stat(os.path.join(root, f))
            out.append((os.path.relpath(os.path.join(root, f), path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(out))


def _read(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """``spark.read.parquet(path)`` and its schema, inferring the schema
    only when the file or the inference confs changed since the last
    read of ``path``."""
    files = _files_key(path)
    if files is None:
        df = spark.read.parquet(path)
        return df, df.schema
    key = (files, tuple(spark.conf.get(c, None) for c in _INFER_CONFS))
    hit = _schemas.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    _schemas[path] = (key, df.schema)
    return df, df.schema


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar table scan (SURVEY §2.A2) — parquet is our MergeTree.

    The driver's ``events.parquet`` stores TIMESTAMP(NANOS), which the
    Spark vectorized reader rejects outright; read nanos as long
    (legacy conf) and convert to a microsecond TimestampType column —
    the same ns→µs truncation DuckDB applies internally, so oracle
    comparisons agree.
    """
    from pyspark.sql import functions as F

    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # scope the legacy conf to THIS read: it is captured at plan
        # time (verified: a frame planned under it executes correctly
        # after restore), and leaving it session-wide would make every
        # LATER nanos-parquet read in the session silently come back
        # as bigint instead of failing fast
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df, schema = _read(spark, path)
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set(
                    "spark.sql.legacy.parquet.nanosAsLong", prev
                )
        ts_type = schema["ts"].dataType.simpleString() if "ts" in schema.names else None
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet reads as
            # NTZ, which rejects numeric casts (epoch arithmetic) —
            # reinterpret the wall clock in the session zone so ts is
            # a plain TimestampType, identical to the nanos path above.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read(spark, path)[0]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TESTDATA_TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


#: dedup metadata for the git fact tables: (keys, version) per table —
#: the ReplacingMergeTree ORDER BY prefix + version column
#: (reference README.md:133-134; types.json:7,13,19).
FINAL_KEYS = {
    # version carries the lines_added tiebreak because stamp_updated_at
    # gives EVERY row of one import batch the same timestamp — without
    # it the view keeps an arbitrary row per in-batch duplicate.
    # Orchestrator.commits_final reads this entry too, so the app's
    # FINAL read and the SQL view break ties the same way.
    "commits": (["repo_name", "time", "hash"], ["updated_at", "lines_added"]),
    "file_changes": (["repo_name", "time", "commit_hash", "path"], ["updated_at"]),
    "line_changes": (
        # reference types.json:19 ORDER BY (repo_name, time, commit_hash,
        # path, line_number_old, line_number_new)
        ["repo_name", "time", "commit_hash", "path", "line_number_old", "line_number_new"],
        ["updated_at"],
    ),
}


def register_final_views(spark: SparkSession, base_path: str) -> list[str]:
    """Register ``<table>_final`` temp views applying the FINAL dedup
    over each stored git fact table — the view-level form of the
    'auto-FINAL' Catalyst rule (SURVEY §7 optional item): SQL users
    query ``commits_final`` and never see duplicate versions.  Tables
    are read under their ``STORED_SCHEMAS`` entry; absent ones are
    skipped."""
    from clickhub_spark.operators.dedup import final_view
    from clickhub_spark.sources.writer import read_table

    registered = []
    for table, (keys, version) in FINAL_KEYS.items():
        df = read_table(spark, f"{base_path}/{table}", STORED_SCHEMAS[table])
        if df is None:
            continue
        view = final_view(df, keys=keys, version=version)
        view.createOrReplaceTempView(f"{table}_final")
        registered.append(f"{table}_final")
    return registered


def _long(name: str) -> StructField:
    # ClickHouse UInt32 → widen to LongType to preserve range
    # (SURVEY §1.2; unsigned ints have no Spark equivalent).
    return StructField(name, LongType(), True)


#: git.commits — reference README.md:116-135, ingest cast reference
#: types.json:6 (positional c1..c13 + injected repo_name literal).
COMMITS_SCHEMA = StructType(
    [
        StructField("hash", StringType(), True),
        StructField("author", StringType(), True),
        StructField("time", TimestampType(), True),
        StructField("message", StringType(), True),
        _long("files_added"),
        _long("files_deleted"),
        _long("files_renamed"),
        _long("files_modified"),
        _long("lines_added"),
        _long("lines_deleted"),
        _long("hunks_added"),
        _long("hunks_removed"),
        _long("hunks_changed"),
        StructField("repo_name", StringType(), True),
    ]
)

def _str(name: str) -> StructField:
    return StructField(name, StringType(), True)


def _ts(name: str) -> StructField:
    return StructField(name, TimestampType(), True)


#: git.file_changes — reference README.md:138-167, positional cast
#: reference types.json:12 (c1..c22 + injected repo_name).
FILE_CHANGES_SCHEMA = StructType(
    [
        _str("change_type"),  # Enum8 label, validated via CHANGE_TYPE_LABELS
        _str("path"),
        _str("old_path"),
        _str("file_extension"),
        _long("lines_added"),
        _long("lines_deleted"),
        _long("hunks_added"),
        _long("hunks_removed"),
        _long("hunks_changed"),
        _str("commit_hash"),
        _str("author"),
        _ts("time"),
        _str("commit_message"),
        _long("commit_files_added"),
        _long("commit_files_deleted"),
        _long("commit_files_renamed"),
        _long("commit_files_modified"),
        _long("commit_lines_added"),
        _long("commit_lines_deleted"),
        _long("commit_hunks_added"),
        _long("commit_hunks_removed"),
        _long("commit_hunks_changed"),
        _str("repo_name"),
    ]
)

#: git.line_changes — reference README.md:170-213, positional cast
#: reference types.json:18 (c1..c37 + injected repo_name).  The
#: prev_* columns are the materialized as-of lineage our asof_join
#: computes at runtime (README.md:184-186).
LINE_CHANGES_SCHEMA = StructType(
    [
        StructField("sign", IntegerType(), True),  # Int8 ±1 diff sign
        _long("line_number_old"),
        _long("line_number_new"),
        _long("hunk_num"),
        _long("hunk_start_line_number_old"),
        _long("hunk_start_line_number_new"),
        _long("hunk_lines_added"),
        _long("hunk_lines_deleted"),
        _str("hunk_context"),
        _str("line"),
        StructField("indent", IntegerType(), True),  # UInt8
        _str("line_type"),  # Enum8 label, LINE_TYPE_LABELS
        _str("prev_commit_hash"),
        _str("prev_author"),
        _ts("prev_time"),
        _str("file_change_type"),  # Enum8 label, CHANGE_TYPE_LABELS
        _str("path"),
        _str("old_path"),
        _str("file_extension"),
        _long("file_lines_added"),
        _long("file_lines_deleted"),
        _long("file_hunks_added"),
        _long("file_hunks_removed"),
        _long("file_hunks_changed"),
        _str("commit_hash"),
        _str("author"),
        _ts("time"),
        _str("commit_message"),
        _long("commit_files_added"),
        _long("commit_files_deleted"),
        _long("commit_files_renamed"),
        _long("commit_files_modified"),
        _long("commit_lines_added"),
        _long("commit_lines_deleted"),
        _long("commit_hunks_added"),
        _long("commit_hunks_removed"),
        _long("commit_hunks_changed"),
        _str("repo_name"),
    ]
)

#: each git fact table as stored: its TSV ingest schema plus the
#: MATERIALIZED ``updated_at`` stamp (sources/tsv.stamp_updated_at) —
#: the schema every read of a stored git table runs under.
STORED_SCHEMAS = {
    table: StructType([*schema.fields, _ts("updated_at")])
    for table, schema in (
        ("commits", COMMITS_SCHEMA),
        ("file_changes", FILE_CHANGES_SCHEMA),
        ("line_changes", LINE_CHANGES_SCHEMA),
    )
}

#: git.github_events (subset) — reference create_db.py:69-128: enum
#: event_type, actor/repo, event-time, arrays of labels/assignees.
GITHUB_EVENTS_SCHEMA = StructType(
    [
        _str("event_type"),  # Enum8 label (WatchEvent, PushEvent, …)
        _str("actor_login"),
        _str("repo_name"),
        _ts("created_at"),
        _str("action"),
        _long("number"),
        StructField("labels", ArrayType(StringType()), True),
        StructField("assignees", ArrayType(StringType()), True),
        _str("state"),
        _long("comments"),
        StructField("merged", IntegerType(), True),  # UInt8 flag
    ]
)

#: Enum8 label maps (SURVEY §1.2) — query-visible type is the label
#: string; maps kept for ingest-time validation / compact storage.
CHANGE_TYPE_LABELS = ("Add", "Delete", "Modify", "Rename", "Copy", "Type")  # reference README.md:140
LINE_TYPE_LABELS = ("Empty", "Comment", "Punct", "Code")  # reference README.md:183
EVENT_TYPE_LABELS = (  # reference create_db.py:72, all 22 labels
    "CommitCommentEvent",
    "CreateEvent",
    "DeleteEvent",
    "ForkEvent",
    "GollumEvent",
    "IssueCommentEvent",
    "IssuesEvent",
    "MemberEvent",
    "PublicEvent",
    "PullRequestEvent",
    "PullRequestReviewCommentEvent",
    "PushEvent",
    "ReleaseEvent",
    "SponsorshipEvent",
    "WatchEvent",
    "GistEvent",
    "FollowEvent",
    "DownloadEvent",
    "PullRequestReviewEvent",
    "ForkApplyEvent",
    "Event",
    "TeamAddEvent",
)
