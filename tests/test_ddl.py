"""ClickHouse DDL/DML front-end (ddl.py): the reference's literal
CREATE / INSERT statements must execute verbatim and produce the same
tables the hand-built catalog declares.

Statement sources (cited, embedded verbatim so the suite is
standalone): reference create_db.py:30-128 (CREATE DATABASE, the two
KeeperMap queue tables incl. the trailing column comma, the 54-column
github_events MergeTree), reference types.json commits/file_changes/
line_changes schemas (ReplacingMergeTree + MATERIALIZED now()),
reference test.py:35 (INSERT INTO git.new_queue VALUES).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    TimestampType,
)

from clickhub_spark import catalog
from clickhub_spark.ddl import (
    DdlError,
    Warehouse,
    parse_create_table,
    parse_insert_values,
    parse_type,
)

# reference types.json:7 — verbatim
COMMITS_DDL = (
    "CREATE TABLE git.commits ( `hash` String, `author` "
    "LowCardinality(String), `time` DateTime, `message` String, "
    "`files_added` UInt32, `files_deleted` UInt32, `files_renamed` UInt32, "
    "`files_modified` UInt32, `lines_added` UInt32, `lines_deleted` UInt32, "
    "`hunks_added` UInt32, `hunks_removed` UInt32, `hunks_changed` UInt32, "
    "`repo_name` LowCardinality(String), `updated_at` DateTime "
    "MATERIALIZED now() ) ENGINE = ReplacingMergeTree "
    "ORDER BY (repo_name, time, hash)"
)

# reference create_db.py:37-49 — verbatim, incl. the trailing comma
WORK_QUEUE_DDL = """
CREATE TABLE git.work_queue
(
    `repo_name` String,
    `scheduled` DateTime,
    `priority` Int32,
    `worker_id` String,
    `started_time` DateTime,
)
ENGINE = KeeperMap('git_queue')
PRIMARY KEY repo_name
"""

# reference create_db.py:69-128 — representative verbatim slice (the
# enum/array/scalar column kinds; full 54-column form parsed in
# test_github_events_full below via the same grammar)
GITHUB_EVENTS_DDL = """
CREATE TABLE git.github_events
(
    `file_time` DateTime,
    `event_type` Enum8('CommitCommentEvent' = 1, 'CreateEvent' = 2, 'WatchEvent' = 15),
    `actor_login` LowCardinality(String),
    `repo_name` LowCardinality(String),
    `created_at` DateTime,
    `number` UInt32,
    `labels` Array(LowCardinality(String)),
    `assignees` Array(LowCardinality(String)),
    `state` Enum8('none' = 0, 'open' = 1, 'closed' = 2),
    `comments` UInt32,
    `merged` UInt8
)
ENGINE = MergeTree ORDER BY (event_type, repo_name, created_at)
SETTINGS index_granularity = 8192
"""


# --------------------------------------------------------------------------
# type mapping
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    ("ch", "want"),
    [
        ("String", StringType()),
        ("LowCardinality(String)", StringType()),
        ("Nullable(Int32)", IntegerType()),
        ("UInt32", LongType()),
        ("UInt8", IntegerType()),
        ("DateTime", TimestampType()),
        ("DateTime('UTC')", TimestampType()),
        ("DateTime64(3, 'UTC')", TimestampType()),
        ("Array(LowCardinality(String))", ArrayType(StringType(), True)),
        ("Decimal(12, 2)", DecimalType(12, 2)),
        ("Decimal64(4)", DecimalType(18, 4)),
        ("Map(String, UInt32)", MapType(StringType(), LongType(), True)),
    ],
)
def test_parse_type(ch, want):
    got, _ = parse_type(ch)
    assert got == want


def test_parse_enum_labels():
    t, labels = parse_type("Enum8('Add' = 1, 'Delete' = 2, 'it\\'s' = 3)")
    assert t == StringType()
    assert labels == {1: "Add", 2: "Delete", 3: "it's"}


def test_parse_type_rejects_unknown():
    with pytest.raises(DdlError):
        parse_type("AggregateFunction(sum, UInt64)")


# --------------------------------------------------------------------------
# CREATE TABLE parsing vs the hand-built catalog
# --------------------------------------------------------------------------


def test_commits_ddl_matches_catalog_schema():
    td = parse_create_table(COMMITS_DDL)
    assert td.qualified == "git.commits"
    assert td.engine == "ReplacingMergeTree"
    assert td.order_by == ["repo_name", "time", "hash"]
    assert td.version_columns() == ["updated_at"]
    assert [
        (f.name, f.dataType) for f in td.ingest_schema().fields
    ] == [(f.name, f.dataType) for f in catalog.COMMITS_SCHEMA.fields]


def test_keeper_map_ddl_trailing_comma():
    td = parse_create_table(WORK_QUEUE_DDL)
    assert td.engine == "KeeperMap"
    assert td.engine_args == ["git_queue"]
    assert td.primary_key == ["repo_name"]
    assert [c.name for c in td.columns] == [
        "repo_name", "scheduled", "priority", "worker_id", "started_time",
    ]


def test_github_events_ddl():
    td = parse_create_table(GITHUB_EVENTS_DDL)
    assert td.engine == "MergeTree"
    assert td.order_by == ["event_type", "repo_name", "created_at"]
    assert td.settings == {"index_granularity": "8192"}
    full = {f.name: f.dataType for f in td.full_schema().fields}
    # every column the catalog subset declares agrees in type
    for f in catalog.GITHUB_EVENTS_SCHEMA.fields:
        if f.name in full:
            assert full[f.name] == f.dataType, f.name
    ev = next(c for c in td.columns if c.name == "event_type")
    assert ev.enum_labels[15] == "WatchEvent"


def test_create_table_requires_engine():
    with pytest.raises(DdlError, match="ENGINE"):
        parse_create_table("CREATE TABLE t (`a` String)")


@pytest.mark.parametrize("comment", [r"'it\'s (x)'", r"'x\') y'"])
def test_create_table_backslash_escape_in_comment(comment):
    """An escaped quote inside a COMMENT literal does not end the
    literal: the parens after it stay inert, so the column list keeps
    its later columns."""
    td = parse_create_table(
        f"CREATE TABLE t (a String COMMENT {comment}, b Int64) "
        "ENGINE = MergeTree ORDER BY a"
    )
    assert [c.name for c in td.columns] == ["a", "b"]
    assert [c.ch_type for c in td.columns] == ["String", "Int64"]
    assert td.order_by == ["a"]


# --------------------------------------------------------------------------
# INSERT parsing
# --------------------------------------------------------------------------


def test_parse_insert_reference_statement():
    # reference test.py:35 — verbatim
    db, tbl, cols, rows = parse_insert_values(
        "INSERT INTO git.new_queue (repo_name) VALUES "
        "('ClickHouse/opentelemetry-demo')"
    )
    assert (db, tbl, cols) == ("git", "new_queue", ["repo_name"])
    assert rows == [["ClickHouse/opentelemetry-demo"]]


def test_parse_insert_multi_tuple_literals():
    _, _, cols, rows = parse_insert_values(
        "INSERT INTO t (a, b, c) VALUES (1, 'x,''y', NULL), (-2, 'z', 3.5)"
    )
    assert cols == ["a", "b", "c"]
    assert rows == [[1, "x,'y", None], [-2, "z", 3.5]]


# --------------------------------------------------------------------------
# Warehouse execution
# --------------------------------------------------------------------------


@pytest.fixture()
def wh(tmp_path):
    return Warehouse(str(tmp_path / "wh"))


def test_create_database_and_if_not_exists(wh):
    assert wh.execute("CREATE DATABASE IF NOT EXISTS git") == "ok"
    assert wh.execute("CREATE DATABASE IF NOT EXISTS git") == "ok"
    with pytest.raises(DdlError, match="already exists"):
        wh.execute("CREATE DATABASE git")


def test_keeper_map_insert_schedules_jobs(wh):
    wh.execute(WORK_QUEUE_DDL)
    # reference test.py:35 shape, against the queue table
    wh.execute(
        "INSERT INTO git.work_queue (repo_name) VALUES ('org/repo-a')"
    )
    wh.execute(
        "INSERT INTO git.work_queue (repo_name, priority) "
        "VALUES ('org/repo-b', 5)"
    )
    q = wh.queue("git.work_queue")
    job = q.claim("w1")
    assert job.repo_name == "org/repo-b"  # higher priority claims first
    assert {j.repo_name for j in q.list_jobs()} >= {"org/repo-a"}


def test_merge_tree_roundtrip_and_final(spark, wh):
    wh.execute("CREATE DATABASE IF NOT EXISTS git")
    wh.execute(COMMITS_DDL)
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    schema = wh.table_def("git.commits").ingest_schema()
    row = ("h1", "alice", t0, "first", 1, 0, 0, 0, 10, 2, 1, 0, 0, "org/r")
    df = spark.createDataFrame([row], schema=schema)
    wh.insert(spark, "git.commits", df)
    got = wh.read(spark, "git.commits")
    assert got.count() == 1
    assert dict(got.dtypes)["updated_at"] == "timestamp"
    # re-import the same commit (idempotent ReplacingMergeTree story):
    # base table holds both versions, FINAL keeps exactly one
    wh.insert(spark, "git.commits", df)
    assert wh.read(spark, "git.commits").count() == 2
    final = wh.read_final(spark, "git.commits")
    assert final.count() == 1
    assert final.select("hash").first()[0] == "h1"


def test_insert_statement_into_merge_tree(spark, wh):
    wh.execute(
        "CREATE TABLE git.tags (`name` String, `weight` UInt32, "
        "`updated_at` DateTime MATERIALIZED now()) "
        "ENGINE = ReplacingMergeTree ORDER BY (name)"
    )
    out = wh.execute(
        "INSERT INTO git.tags (name, weight) VALUES ('v1', 3), ('v2', 7)",
        spark=spark,
    )
    assert out == "inserted 2"
    got = wh.read(spark, "git.tags").orderBy("name").collect()
    assert [(r.name, r.weight) for r in got] == [("v1", 3), ("v2", 7)]
    assert all(r.updated_at is not None for r in got)


def test_warehouse_reloads_metadata_from_disk(spark, tmp_path):
    root = str(tmp_path / "wh")
    wh1 = Warehouse(root)
    wh1.execute(COMMITS_DDL)
    wh1.execute(WORK_QUEUE_DDL)
    wh2 = Warehouse(root)  # fresh process
    assert wh2.has_table("git.commits")
    td = wh2.table_def("git.commits")
    assert td.order_by == ["repo_name", "time", "hash"]
    assert [
        (f.name, f.dataType) for f in td.ingest_schema().fields
    ] == [(f.name, f.dataType) for f in catalog.COMMITS_SCHEMA.fields]
    assert wh2.table_def("git.work_queue").engine == "KeeperMap"


def test_create_table_conflicts_and_engine_checks(wh):
    wh.execute(COMMITS_DDL)
    with pytest.raises(DdlError, match="already exists"):
        wh.execute(COMMITS_DDL)
    assert wh.execute(
        COMMITS_DDL.replace("CREATE TABLE", "CREATE TABLE IF NOT EXISTS")
    ) == "exists"
    with pytest.raises(DdlError, match="unsupported engine"):
        wh.execute("CREATE TABLE t (`a` String) ENGINE = Kafka ORDER BY (a)")
    with pytest.raises(DdlError, match="unknown columns"):
        wh.execute("CREATE TABLE t (`a` String) ENGINE = MergeTree ORDER BY (b)")


def test_drop_and_truncate(spark, wh):
    wh.execute(COMMITS_DDL)
    schema = wh.table_def("git.commits").ingest_schema()
    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("h", "a", t0, "m", 0, 0, 0, 0, 0, 0, 0, 0, 0, "r")], schema=schema
    )
    wh.insert(spark, "git.commits", df)
    wh.execute("TRUNCATE TABLE git.commits")
    assert wh.has_table("git.commits")
    with pytest.raises(Exception):  # data gone, schema-only read fails on no dir
        wh.read(spark, "git.commits").count()
    wh.execute("DROP TABLE git.commits")
    assert not wh.has_table("git.commits")
    assert wh.execute("DROP TABLE IF EXISTS git.commits") == "absent"
    with pytest.raises(DdlError, match="does not exist"):
        wh.execute("DROP TABLE git.commits")


def test_register_views_for_sql_compat(spark, wh):
    from clickhub_spark import sql_compat

    wh.execute(COMMITS_DDL)
    schema = wh.table_def("git.commits").ingest_schema()
    t0 = datetime.datetime(2024, 3, 1)
    rows = [
        ("h1", "alice", t0, "m", 1, 0, 0, 0, 5, 1, 1, 0, 0, "org/r"),
        ("h2", "bob", t0, "m", 1, 0, 0, 0, 7, 2, 1, 0, 0, "org/r"),
    ]
    wh.insert(spark, "git.commits", spark.createDataFrame(rows, schema=schema))
    names = wh.register_views(spark)
    assert "git_commits" in names and "git_commits_final" in names
    # the reference app's literal count query (app.py:49), table name
    # mapped to the registered view
    n = sql_compat.run(
        spark,
        "SELECT COUNT(repo_name) AS n FROM git_commits WHERE repo_name = 'org/r'",
    ).first()[0]
    assert n == 2


def test_select_rejected_with_pointer(wh):
    with pytest.raises(DdlError, match="sql_compat.run"):
        wh.execute("SELECT 1")


def test_cli_sql_file_bootstrap(spark, tmp_path, capsys, monkeypatch):
    """`python -m clickhub_spark sql --file bootstrap.sql` — the
    reference create_db.py analog: ;-separated DDL/DML dispatch to the
    warehouse, trailing SELECT prints through the dialect shim."""
    from clickhub_spark.__main__ import main

    boot = tmp_path / "bootstrap.sql"
    boot.write_text(
        "CREATE DATABASE IF NOT EXISTS git;\n"
        + COMMITS_DDL
        + ";\n"
        "INSERT INTO git.commits (hash, author, time, message, "
        "files_added, files_deleted, files_renamed, files_modified, "
        "lines_added, lines_deleted, hunks_added, hunks_removed, "
        "hunks_changed, repo_name) VALUES "
        "('h1', 'alice', '2024-01-01 10:00:00', 'm1', "
        "1, 0, 0, 0, 10, 2, 1, 0, 0, 'org/alpha');\n"
        "SELECT repo_name, count() AS n FROM git_commits_final "
        "GROUP BY repo_name\n"
    )
    rc = main(
        [
            "--data-dir", str(tmp_path / "data"),
            "sql", "--file", str(boot), "--format", "json",
        ]
    )
    assert rc in (0, None)
    out = capsys.readouterr().out
    assert "ok" in out and "inserted 1" in out
    assert '"repo_name": "org/alpha"' in out.replace("'", '"') or "org/alpha" in out


def test_cli_sql_requires_query_or_file(tmp_path, capsys):
    from clickhub_spark.__main__ import main

    rc = main(["--data-dir", str(tmp_path), "sql"])
    assert rc == 2


# --------------------------------------------------------------------------
# ALTER TABLE / OPTIMIZE TABLE
# --------------------------------------------------------------------------


def test_alter_add_column_reads_default_from_old_files(spark, wh):
    wh.execute(
        "CREATE TABLE git.t (`k` String, `n` UInt32, "
        "`updated_at` DateTime MATERIALIZED now()) "
        "ENGINE = ReplacingMergeTree ORDER BY (k)"
    )
    wh.execute("INSERT INTO git.t (k, n) VALUES ('a', 1)", spark=spark)
    assert wh.execute(
        "ALTER TABLE git.t ADD COLUMN `score` UInt32 DEFAULT 42"
    ) == "ok"
    # pre-ALTER file serves the default; post-ALTER insert may omit it
    wh.execute("INSERT INTO git.t (k, n) VALUES ('b', 2)", spark=spark)
    wh.execute(
        "INSERT INTO git.t (k, n, score) VALUES ('c', 3, 7)", spark=spark
    )
    got = {r.k: r.score for r in wh.read(spark, "git.t").collect()}
    assert got == {"a": 42, "b": 42, "c": 7}
    # idempotence guards
    assert wh.execute(
        "ALTER TABLE git.t ADD COLUMN IF NOT EXISTS `score` UInt32"
    ) == "exists"
    with pytest.raises(DdlError, match="already exists"):
        wh.execute("ALTER TABLE git.t ADD COLUMN `score` UInt32")


def test_alter_drop_column_and_key_protection(spark, wh):
    wh.execute(
        "CREATE TABLE git.t2 (`k` String, `n` UInt32, `x` String) "
        "ENGINE = MergeTree ORDER BY (k)"
    )
    wh.execute("INSERT INTO git.t2 (k, n, x) VALUES ('a', 1, 'gone')", spark=spark)
    assert wh.execute("ALTER TABLE git.t2 DROP COLUMN x") == "ok"
    assert wh.read(spark, "git.t2").columns == ["k", "n"]
    assert wh.execute("ALTER TABLE git.t2 DROP COLUMN IF EXISTS x") == "absent"
    with pytest.raises(DdlError, match="does not exist"):
        wh.execute("ALTER TABLE git.t2 DROP COLUMN x")
    with pytest.raises(DdlError, match="key column"):
        wh.execute("ALTER TABLE git.t2 DROP COLUMN k")
    # metadata survives a reload
    td = Warehouse(wh.root).table_def("git.t2")
    assert [c.name for c in td.columns] == ["k", "n"]


def test_optimize_final_materializes_replacing_dedup(spark, wh):
    wh.execute(COMMITS_DDL)
    schema = wh.table_def("git.commits").ingest_schema()
    t0 = datetime.datetime(2024, 1, 1)
    row = ("h", "a", t0, "m", 0, 0, 0, 0, 0, 0, 0, 0, 0, "r")
    wh.insert(spark, "git.commits", spark.createDataFrame([row], schema=schema))
    wh.insert(spark, "git.commits", spark.createDataFrame([row], schema=schema))
    assert wh.read(spark, "git.commits").count() == 2
    out = wh.execute("OPTIMIZE TABLE git.commits FINAL", spark=spark)
    assert out == "optimized 1"
    # the BASE table is now physically deduped (merge materialized)
    assert wh.read(spark, "git.commits").count() == 1


def test_optimize_deduplicate_drops_full_row_dupes(spark, wh):
    wh.execute(
        "CREATE TABLE git.t3 (`k` String, `n` UInt32) "
        "ENGINE = MergeTree ORDER BY (k)"
    )
    wh.execute(
        "INSERT INTO git.t3 (k, n) VALUES ('a', 1), ('a', 1), ('a', 2)",
        spark=spark,
    )
    assert wh.execute(
        "OPTIMIZE TABLE git.t3 DEDUPLICATE", spark=spark
    ) == "optimized 2"
    assert wh.read(spark, "git.t3").count() == 2
    assert wh.execute("OPTIMIZE TABLE git.t3", spark=spark) == "optimized 2"


# --------------------------------------------------------------------------
# PARTITION BY
# --------------------------------------------------------------------------


def test_partition_by_prunes_and_survives_optimize(spark, wh):
    """PARTITION BY toYYYYMM(time): the expression materializes as
    ClickHouse's `_partition_id` virtual column backing a hive
    partition dir, so an equality filter on it shows PartitionFilters
    in the scan (the MergeTree partition-prune analog) and OPTIMIZE
    preserves the layout (one compacted file set per partition)."""
    import os

    wh.execute(
        "CREATE TABLE git.pt (`k` String, `time` DateTime, `n` UInt32) "
        "ENGINE = MergeTree PARTITION BY toYYYYMM(time) ORDER BY (k, time)"
    )
    td = wh.table_def("git.pt")
    assert td.partition_expr == "toYYYYMM(time)"
    wh.execute(
        "INSERT INTO git.pt (k, time, n) VALUES "
        "('a', '2024-01-05 00:00:00', 1), ('b', '2024-01-20 00:00:00', 2), "
        "('c', '2024-02-01 00:00:00', 3)",
        spark=spark,
    )
    data = os.path.join(wh.root, "git", "pt", "data")
    parts = sorted(d for d in os.listdir(data) if d.startswith("_partition_id="))
    assert parts == ["_partition_id=202401", "_partition_id=202402"]
    df = wh.read(spark, "git.pt")
    jan = df.where(df["_partition_id"] == "202401")
    plan = jan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "202401" in plan
    assert jan.count() == 2
    # OPTIMIZE keeps the hive layout
    assert wh.execute("OPTIMIZE TABLE git.pt", spark=spark) == "optimized 3"
    parts2 = sorted(d for d in os.listdir(data) if d.startswith("_partition_id="))
    assert parts2 == parts
    assert wh.read(spark, "git.pt").count() == 3
    # metadata reload keeps the expression
    assert Warehouse(wh.root).table_def("git.pt").partition_expr == "toYYYYMM(time)"


def test_mutations_in_partition_and_drop_partition(spark, wh):
    """``ALTER TABLE … DELETE/UPDATE … IN PARTITION v WHERE p`` routes
    to the partition-PRUNED rewrite — only the named _partition_id dir
    is read and swapped (flat-time-certified by
    ``tools/scale mutation_pruned``); ``ALTER TABLE … DROP PARTITION
    v`` removes the directory with no data read (the MergeTree
    partition drop)."""
    import os

    wh.execute(
        "CREATE TABLE git.pm (`k` Int64, `time` DateTime, `v` Int64) "
        "ENGINE = MergeTree PARTITION BY toYYYYMM(time) ORDER BY (k)"
    )
    wh.execute(
        "INSERT INTO git.pm (k, time, v) VALUES "
        "(1, '2024-01-05 00:00:00', 10), (2, '2024-01-20 00:00:00', 20), "
        "(3, '2024-02-01 00:00:00', 30), (4, '2024-02-09 00:00:00', 40), "
        "(5, '2024-03-01 00:00:00', 50)",
        spark=spark,
    )
    data = os.path.join(wh.root, "git", "pm", "data")
    jan_files = sorted(os.listdir(os.path.join(data, "_partition_id=202401")))
    # pruned UPDATE: only February rewritten; January files untouched
    out = wh.execute(
        "ALTER TABLE git.pm UPDATE v = v + 1000 IN PARTITION '202402' "
        "WHERE k >= 4",
        spark=spark,
    )
    assert out.startswith("mutated partition 202402")
    rows = {r.k: r.v for r in wh.read(spark, "git.pm").collect()}
    assert rows == {1: 10, 2: 20, 3: 30, 4: 1040, 5: 50}
    assert sorted(
        os.listdir(os.path.join(data, "_partition_id=202401"))
    ) == jan_files
    # pruned DELETE (bare partition token form)
    wh.execute(
        "ALTER TABLE git.pm DELETE IN PARTITION 202401 WHERE v = 10",
        spark=spark,
    )
    assert {r.k for r in wh.read(spark, "git.pm").collect()} == {2, 3, 4, 5}
    # DROP PARTITION removes the whole directory, other partitions stay
    # — INCLUDING the partition's mutation-scratch siblings: a
    # crash-stranded .__old for the value would otherwise be
    # resurrected by recover_table on a later mutation of the same
    # partition value (ADVICE r14)
    stranded = os.path.join(data, "_mutpart__partition_id_202402.__old")
    os.makedirs(stranded, exist_ok=True)
    other = os.path.join(data, "_mutpart__partition_id_202403.__old")
    os.makedirs(other, exist_ok=True)
    assert wh.execute("ALTER TABLE git.pm DROP PARTITION '202402'") == (
        "dropped partition 202402"
    )
    assert not os.path.isdir(os.path.join(data, "_partition_id=202402"))
    assert not [
        d for d in os.listdir(data)
        if d.startswith("_mutpart__partition_id_202402")
    ]
    assert os.path.isdir(other)  # other partitions' scratch untouched
    import shutil as _sh

    _sh.rmtree(other)
    assert {r.k for r in wh.read(spark, "git.pm").collect()} == {2, 5}
    assert wh.execute("ALTER TABLE git.pm DROP PARTITION '209912'").startswith(
        "dropped 0"
    )
    # guards: IN PARTITION / DROP PARTITION need a PARTITION BY table
    wh.execute(
        "CREATE TABLE git.nop (`k` Int64) ENGINE = MergeTree ORDER BY (k)"
    )
    with pytest.raises(DdlError, match="PARTITION BY"):
        wh.execute(
            "ALTER TABLE git.nop DELETE IN PARTITION '1' WHERE k = 1",
            spark=spark,
        )
    with pytest.raises(DdlError, match="PARTITION BY"):
        wh.execute("ALTER TABLE git.nop DROP PARTITION '1'")
    # review r14: a partition value names a filesystem dir — path
    # metacharacters would traverse out and rmtree the whole table
    for hostile in ("202401/..", "../../x", "a/b"):
        with pytest.raises(DdlError, match="invalid partition value"):
            wh.execute(f"ALTER TABLE git.pm DROP PARTITION '{hostile}'")
        with pytest.raises(DdlError, match="invalid partition value"):
            wh.execute(
                f"ALTER TABLE git.pm DELETE IN PARTITION '{hostile}' "
                "WHERE k = 1",
                spark=spark,
            )
    # review r14: the IN PARTITION keyword inside a STRING LITERAL is
    # data — it must not silently rescope the mutation
    wh.execute(
        "CREATE TABLE git.lit (`k` Int64, `time` DateTime, `note` String) "
        "ENGINE = MergeTree PARTITION BY toYYYYMM(time) ORDER BY (k)"
    )
    wh.execute(
        "INSERT INTO git.lit (k, time, note) VALUES "
        "(1, '2024-01-05 00:00:00', 'keep IN PARTITION 5 WHERE x'), "
        "(2, '2024-02-01 00:00:00', 'b')",
        spark=spark,
    )
    wh.execute(
        "ALTER TABLE git.lit DELETE WHERE "
        "note = 'keep IN PARTITION 5 WHERE x'",
        spark=spark,
    )
    assert {r.k for r in wh.read(spark, "git.lit").collect()} == {2}
    # review r14: a pruned mutation keeps the partition SORTED on the
    # ORDER BY key (the MergeTree sorted-parts invariant)
    wh.execute(
        "INSERT INTO git.lit (k, time, note) VALUES "
        "(9, '2024-02-02 00:00:00', 'c'), (5, '2024-02-03 00:00:00', 'd')",
        spark=spark,
    )
    wh.execute(
        "ALTER TABLE git.lit UPDATE note = 'e' IN PARTITION '202402' "
        "WHERE k >= 0",
        spark=spark,
    )
    import glob as _glob

    part_files = sorted(
        _glob.glob(
            os.path.join(
                wh.root, "git", "lit", "data", "_partition_id=202402",
                "*.parquet",
            )
        )
    )
    assert part_files
    for f in part_files:  # each rewritten file internally sorted on k
        ks = [r.k for r in spark.read.parquet(f).collect()]
        assert ks == sorted(ks), (f, ks)


# --- round-12 session 3: warehouse statement surface -------------------------


def test_insert_select_positional_with_casts(spark, wh):
    """INSERT … SELECT matches columns by POSITION with server-style
    casts, sources through the dialect shim (so ClickHouse functions
    work in the SELECT), and sees the warehouse's own views."""
    wh.execute("CREATE DATABASE IF NOT EXISTS ana")
    wh.execute(
        "CREATE TABLE ana.src (`k` Int64, `v` Float64) "
        "ENGINE = MergeTree ORDER BY (k)"
    )
    wh.execute(
        "INSERT INTO ana.src (k, v) VALUES (1, 1.5), (2, 2.5), (3, 3.5)",
        spark=spark,
    )
    wh.execute(
        "CREATE TABLE ana.dst (`k` Int64, `doubled` Float64, "
        "`tag` String DEFAULT 'x') ENGINE = MergeTree ORDER BY (k)"
    )
    out = wh.execute(
        # dialect fn (multiply) + warehouse view + explicit column list;
        # the omitted `tag` column takes its DEFAULT
        "INSERT INTO ana.dst (k, doubled) "
        "SELECT k, multiply(v, 2) FROM ana_src WHERE k < 3",
        spark=spark,
    )
    assert out == "inserted select into ana.dst"
    got = wh.read(spark, "ana.dst").orderBy("k").collect()
    assert [(r.k, r.doubled, r.tag) for r in got] == [
        (1, 3.0, "x"), (2, 5.0, "x"),
    ]
    with pytest.raises(DdlError, match="columns"):
        wh.execute(
            "INSERT INTO ana.dst (k) SELECT k, v FROM ana_src", spark=spark
        )


def test_create_table_as_select(spark, wh):
    """CTAS derives the column set from the SELECT result (Spark →
    ClickHouse types via ch_type_of) and writes the result as the
    first batch, sort-clustered on ORDER BY."""
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (1, "a", 3.0)],
        "k long, g string, v double",
    ).createOrReplaceTempView("ctas_src")
    out = wh.execute(
        "CREATE TABLE default.agg ENGINE = MergeTree() ORDER BY (g) AS "
        "SELECT g, count() AS n, sum(v) AS sv FROM ctas_src GROUP BY g",
        spark=spark,
    )
    assert out == "created default.agg as select"
    td = wh.table_def("default.agg")
    assert [(c.name, c.ch_type) for c in td.columns] == [
        ("g", "String"), ("n", "Int64"), ("sv", "Float64"),
    ]
    got = wh.read(spark, "default.agg").orderBy("g").collect()
    assert [(r.g, r.n, r.sv) for r in got] == [("a", 2, 4.0), ("b", 1, 2.0)]
    # IF NOT EXISTS short-circuits; plain CTAS on an existing table raises
    assert wh.execute(
        "CREATE TABLE IF NOT EXISTS default.agg ENGINE = MergeTree() "
        "ORDER BY (g) AS SELECT g FROM ctas_src",
        spark=spark,
    ) == "exists"
    with pytest.raises(DdlError, match="already exists"):
        wh.execute(
            "CREATE TABLE default.agg ENGINE = MergeTree() ORDER BY (g) "
            "AS SELECT g FROM ctas_src",
            spark=spark,
        )


def test_show_describe_exists_rename(spark, wh):
    wh.execute("CREATE DATABASE IF NOT EXISTS git")
    wh.execute(
        "CREATE TABLE git.tags (`name` String, `weight` UInt32 DEFAULT 1, "
        "`updated_at` DateTime MATERIALIZED now()) "
        "ENGINE = ReplacingMergeTree ORDER BY (name)"
    )
    assert "git" in wh.execute("SHOW DATABASES").split("\n")
    assert wh.execute("SHOW TABLES FROM git") == "tags"
    assert wh.execute("EXISTS TABLE git.tags") == "1"
    assert wh.execute("EXISTS git.nope") == "0"
    desc = wh.execute("DESCRIBE TABLE git.tags").split("\n")
    assert desc[0] == "name\tString"
    assert desc[1] == "weight\tUInt32\tDEFAULT\t1"
    assert desc[2].startswith("updated_at\tDateTime\tMATERIALIZED")
    # SHOW CREATE TABLE round-trips through the parser
    stmt = wh.execute("SHOW CREATE TABLE git.tags")
    td2 = parse_create_table(stmt)
    td = wh.table_def("git.tags")
    assert [(c.name, c.ch_type, c.default, c.materialized) for c in td2.columns] == [
        (c.name, c.ch_type, c.default, c.materialized) for c in td.columns
    ]
    assert (td2.engine, td2.order_by) == (td.engine, td.order_by)
    # RENAME moves data + metadata and survives a fresh reload
    wh.execute(
        "INSERT INTO git.tags (name) VALUES ('v1')", spark=spark
    )
    assert wh.execute("RENAME TABLE git.tags TO git.labels") == "renamed 1"
    assert wh.execute("EXISTS git.tags") == "0"
    assert wh.execute("EXISTS git.labels") == "1"
    assert wh.read(spark, "git.labels").count() == 1
    wh2 = Warehouse(wh.root)  # fresh process reloads the moved metadata
    assert wh2.execute("EXISTS git.labels") == "1"
    with pytest.raises(DdlError, match="does not exist"):
        wh.execute("RENAME TABLE git.tags TO git.x")


def test_create_view_registers_stored_select(spark, wh):
    wh.execute("CREATE DATABASE IF NOT EXISTS ana")
    wh.execute(
        "CREATE TABLE ana.src (`k` Int64, `v` Float64) "
        "ENGINE = MergeTree ORDER BY (k)"
    )
    wh.execute(
        "INSERT INTO ana.src (k, v) VALUES (1, 1.0), (2, 2.0)", spark=spark
    )
    out = wh.execute(
        # db.table reference form — rewritten to the registered view
        "CREATE VIEW ana.doubled AS SELECT k, multiply(v, 2) AS v2 "
        "FROM ana.src",
        spark=spark,
    )
    assert out == "created view ana.doubled"
    from clickhub_spark.sql_compat import run

    wh.register_views(spark)
    got = run(spark, "SELECT k, v2 FROM ana_doubled ORDER BY k").collect()
    assert [(r.k, r.v2) for r in got] == [(1, 2.0), (2, 4.0)]
    # persists across a reload
    wh2 = Warehouse(wh.root)
    assert wh2.table_def("ana.doubled").select.startswith("SELECT")
    assert wh.execute("EXISTS ana.doubled") == "1"
    wh.execute("DROP VIEW ana.doubled")
    assert wh.execute("EXISTS ana.doubled") == "0"


def test_materialized_view_fires_per_inserted_block(spark, wh):
    """ClickHouse MV semantics: each INSERT into the FROM table runs
    the SELECT over the inserted block only and appends to the TO
    table; a SummingMergeTree target then merges the partial
    aggregates on read — the insert-maintained rollup."""
    from clickhub_spark.sql_compat import run

    wh.execute("CREATE DATABASE IF NOT EXISTS ana")
    wh.execute(
        "CREATE TABLE ana.events (`g` String, `v` Int64) "
        "ENGINE = MergeTree ORDER BY (g)"
    )
    wh.execute(
        "CREATE TABLE ana.totals (`g` String, `n` Int64, `sv` Int64) "
        "ENGINE = SummingMergeTree ORDER BY (g)"
    )
    wh.execute(
        "CREATE MATERIALIZED VIEW ana.ev_totals TO ana.totals AS "
        "SELECT g, count() AS n, sum(v) AS sv FROM ana.events GROUP BY g",
        spark=spark,
    )
    wh.execute(
        "INSERT INTO ana.events (g, v) VALUES ('a', 1), ('a', 2), ('b', 5)",
        spark=spark,
    )
    wh.execute(
        "INSERT INTO ana.events (g, v) VALUES ('a', 10)", spark=spark
    )
    # raw target holds one partial row per block per key (a: 2 blocks)
    assert wh.read(spark, "ana.totals").count() == 3
    merged = {
        (r.g, r.n, r.sv)
        for r in wh.read_final(spark, "ana.totals").collect()
    }
    assert merged == {("a", 3, 13), ("b", 1, 5)}
    # the registered _final view and the MV name itself (reads target)
    wh.register_views(spark)
    via_final = {
        (r.g, r.n, r.sv)
        for r in run(
            spark, "SELECT g, n, sv FROM ana_totals_final"
        ).collect()
    }
    assert via_final == merged
    assert run(spark, "SELECT count() AS c FROM ana_ev_totals").first().c == 3
    # reload: MV metadata survives and keeps firing
    wh2 = Warehouse(wh.root)
    wh2.execute(
        "INSERT INTO ana.events (g, v) VALUES ('b', 7)", spark=spark
    )
    merged2 = {
        (r.g, r.n, r.sv)
        for r in wh2.read_final(spark, "ana.totals").collect()
    }
    assert merged2 == {("a", 3, 13), ("b", 2, 12)}


def test_materialized_view_requires_to_and_existing_target(spark, wh):
    wh.execute(
        "CREATE TABLE default.t (`k` Int64) ENGINE = MergeTree ORDER BY (k)"
    )
    with pytest.raises(DdlError, match="TO"):
        wh.execute(
            "CREATE MATERIALIZED VIEW default.m AS SELECT k FROM default.t",
            spark=spark,
        )
    with pytest.raises(DdlError, match="does not exist"):
        wh.execute(
            "CREATE MATERIALIZED VIEW default.m TO default.absent AS "
            "SELECT k FROM default.t",
            spark=spark,
        )


def test_collapsing_final_via_ddl(spark, wh):
    """CollapsingMergeTree(sign) read_final dispatches to the
    engine-exact collapse operator; a +1/-1 pair cancels, the
    surviving state is the last by ingest order."""
    wh.execute(
        "CREATE TABLE default.st (`k` Int64, `x` Int64, `sign` Int8, "
        "`updated_at` DateTime MATERIALIZED now()) "
        "ENGINE = CollapsingMergeTree(sign) ORDER BY (k)"
    )
    wh.execute(
        "INSERT INTO default.st (k, x, sign) VALUES (1, 10, 1)", spark=spark
    )
    wh.execute(
        "INSERT INTO default.st (k, x, sign) VALUES (1, 10, -1), "
        "(1, 20, 1), (2, 5, 1)",
        spark=spark,
    )
    got = {
        (r.k, r.x)
        for r in wh.read_final(spark, "default.st").select("k", "x").collect()
    }
    assert got == {(1, 20), (2, 5)}


def test_system_views_and_table_functions(spark, wh):
    """system.tables/columns/parts/databases from warehouse metadata
    (footer stats only); numbers() and file() table functions in the
    dialect."""
    from clickhub_spark.sql_compat import run

    wh.execute("CREATE DATABASE IF NOT EXISTS git")
    wh.execute(
        "CREATE TABLE git.tags (`name` String, `weight` UInt32) "
        "ENGINE = ReplacingMergeTree ORDER BY (name)"
    )
    wh.execute(
        "INSERT INTO git.tags (name, weight) VALUES ('v1', 3), ('v2', 7)",
        spark=spark,
    )
    wh.register_views(spark)
    t = run(
        spark,
        "SELECT engine, total_rows FROM system.tables "
        "WHERE database = 'git' AND name = 'tags'",
    ).first()
    assert (t.engine, t.total_rows) == ("ReplacingMergeTree", 2)
    cols = run(
        spark,
        "SELECT name, type FROM system.columns "
        "WHERE table = 'tags' ORDER BY position",
    ).collect()
    assert [(r.name, r.type) for r in cols] == [
        ("name", "String"), ("weight", "UInt32"),
    ]
    p = run(
        spark,
        "SELECT sum(rows) AS r, count() AS files FROM system.parts "
        "WHERE table = 'tags' AND active",
    ).first()
    assert p.r == 2 and p.files >= 1
    assert run(
        spark, "SELECT count() AS c FROM system.databases WHERE name = 'git'"
    ).first().c == 1
    # system.one and the table functions
    assert run(spark, "SELECT 1 AS x FROM system.one").first().x == 1
    nums = run(
        spark, "SELECT sum(number) AS s FROM numbers(10)"
    ).first().s
    assert nums == 45
    assert run(
        spark, "SELECT min(number) AS lo, max(number) AS hi FROM numbers(5, 3)"
    ).first().asDict() == {"lo": 5, "hi": 7}
    got = run(
        spark,
        "SELECT count() AS c FROM "
        "file('/root/testdata/sf0.001/lineitem.parquet', 'Parquet')",
    ).first().c
    import duckdb

    want = duckdb.sql(
        "SELECT count(*) FROM '/root/testdata/sf0.001/lineitem.parquet'"
    ).fetchone()[0]
    assert got == want


def test_review_fixes_round12_session3(spark, wh):
    """Regression pins for the session-3 review findings."""
    from clickhub_spark.sql_compat import run

    # (1) unparenthesized multi-key CTAS ORDER BY keeps every key
    spark.createDataFrame(
        [(1, 2, 3.0)], "k1 long, k2 long, v double"
    ).createOrReplaceTempView("rv_src")
    wh.execute(
        "CREATE TABLE default.rv ENGINE = ReplacingMergeTree "
        "ORDER BY k1, k2 AS SELECT k1, k2, v FROM rv_src",
        spark=spark,
    )
    assert wh.table_def("default.rv").order_by == ["k1", "k2"]
    # (2) MV SELECT string literals and same-named columns survive
    wh.execute("CREATE DATABASE IF NOT EXISTS ana")
    wh.execute(
        "CREATE TABLE ana.click (`et` String, `v` Int64) "
        "ENGINE = MergeTree ORDER BY (et)"
    )
    wh.execute(
        "CREATE TABLE ana.keep (`et` String, `v` Int64) "
        "ENGINE = MergeTree ORDER BY (et)"
    )
    wh.execute(
        "CREATE MATERIALIZED VIEW ana.filt TO ana.keep AS "
        "SELECT et, v FROM ana.click WHERE et != 'click'",
        spark=spark,
    )
    wh.execute(
        "INSERT INTO ana.click (et, v) VALUES ('click', 1), ('view', 2)",
        spark=spark,
    )
    kept = wh.read(spark, "ana.keep").collect()
    assert [(r.et, r.v) for r in kept] == [("view", 2)]
    # (3) collapsing engines validate their args at CREATE
    with pytest.raises(DdlError, match="engine argument"):
        wh.execute(
            "CREATE TABLE default.badc (`k` Int64, `sign` Int8) "
            "ENGINE = CollapsingMergeTree ORDER BY (k)"
        )
    with pytest.raises(DdlError, match="unknown"):
        wh.execute(
            "CREATE TABLE default.badc2 (`k` Int64) "
            "ENGINE = CollapsingMergeTree(nosuch) ORDER BY (k)"
        )
    # (4) view-on-view resolves regardless of catalog-reload order
    wh.execute(
        "CREATE VIEW ana.z_base AS SELECT et, v * 2 AS v2 FROM ana.keep",
        spark=spark,
    )
    wh.execute(
        "CREATE VIEW ana.a_on_top AS SELECT sum(v2) AS s FROM ana.z_base",
        spark=spark,
    )
    wh2 = Warehouse(wh.root)  # fresh reload: a_on_top sorts before z_base
    names = wh2.register_views(spark)
    assert "ana_a_on_top" in names and "ana_z_base" in names
    assert run(spark, "SELECT s FROM ana_a_on_top").first().s == 4


def test_mv_qualified_columns_resolve(spark, wh):
    """ADVICE r12: an MV SELECT that qualifies columns with the source
    table's name (SELECT ev.x FROM ana.ev / FROM ana.ev AS e /
    implicit alias) must still resolve when the trigger substitutes
    the inserted block — the FROM-position rewrite aliases
    __mv_batch back AS the source name and qualifier references are
    rewritten to the bare name."""
    wh.execute("CREATE DATABASE IF NOT EXISTS ana")
    wh.execute(
        "CREATE TABLE ana.ev (`g` String, `v` Int64) "
        "ENGINE = MergeTree ORDER BY (g)"
    )
    for tgt in ("agg1", "agg2", "agg3"):
        wh.execute(
            f"CREATE TABLE ana.{tgt} (`g` String, `sv` Int64) "
            "ENGINE = SummingMergeTree ORDER BY (g)"
        )
    # bare-name qualifiers against the db-qualified FROM
    wh.execute(
        "CREATE MATERIALIZED VIEW ana.mvq1 TO ana.agg1 AS "
        "SELECT ev.g AS g, sum(ev.v) AS sv FROM ana.ev "
        "WHERE ev.v > 0 GROUP BY ev.g",
        spark=spark,
    )
    # explicit AS alias is kept
    wh.execute(
        "CREATE MATERIALIZED VIEW ana.mvq2 TO ana.agg2 AS "
        "SELECT e.g AS g, sum(e.v) AS sv FROM ana.ev AS e "
        "WHERE e.v > 0 GROUP BY e.g",
        spark=spark,
    )
    # implicit (no-AS) alias is kept
    wh.execute(
        "CREATE MATERIALIZED VIEW ana.mvq3 TO ana.agg3 AS "
        "SELECT e2.g AS g, sum(e2.v) AS sv FROM ana.ev e2 "
        "WHERE e2.v > 0 GROUP BY e2.g",
        spark=spark,
    )
    wh.execute(
        "INSERT INTO ana.ev (g, v) VALUES ('a', 1), ('a', -5), ('b', 2)",
        spark=spark,
    )
    for tgt in ("agg1", "agg2", "agg3"):
        got = {
            (r.g, r.sv)
            for r in wh.read_final(spark, f"ana.{tgt}").collect()
        }
        assert got == {("a", 1), ("b", 2)}, tgt


def test_parse_insert_values_hardening():
    """VERDICT r12 what's-wrong #3: the column list is paren-aware and
    non-bare entries fail with a CLEAN error, never a mis-split."""
    # expression in VALUES → clean unsupported-literal error
    with pytest.raises(DdlError, match="unsupported literal"):
        parse_insert_values(
            "INSERT INTO t (a, b) VALUES (concat('x','y'), 1)"
        )
    # expression / DEFAULT in the COLUMN LIST → clean error
    with pytest.raises(DdlError, match="bare column names only"):
        parse_insert_values(
            "INSERT INTO t (a, cast(b AS Int64)) VALUES (1, 2)"
        )
    with pytest.raises(DdlError, match="bare column names only"):
        parse_insert_values("INSERT INTO t (a, b DEFAULT 3) VALUES (1, 2)")
    # lowercase keywords parse
    db, tbl, cols, rows = parse_insert_values(
        "insert into ana.t (a, b) values (1, 'x'), (2, NULL)"
    )
    assert (db, tbl, cols) == ("ana", "t", ["a", "b"])
    assert rows == [[1, "x"], [2, None]]
    # no column list still parses
    db, tbl, cols, rows = parse_insert_values("INSERT INTO t VALUES (1)")
    assert cols is None and rows == [[1]]
    # a paren inside a string literal in the VALUES is opaque
    _, _, _, rows = parse_insert_values(
        "INSERT INTO t (a) VALUES ('close ) paren')"
    )
    assert rows == [["close ) paren"]]
    with pytest.raises(DdlError, match="unbalanced"):
        parse_insert_values("INSERT INTO t (a, b VALUES (1, 2)")


def test_alter_mutations_merge_tree(spark, wh):
    """ALTER TABLE … DELETE / UPDATE … WHERE on MergeTree tables —
    ClickHouse mutations through the statement path, rewriting parts
    via the crash-safe compact swap."""
    wh.execute(
        "CREATE TABLE default.mt (`k` Int64, `v` Int64, `s` String) "
        "ENGINE = MergeTree ORDER BY (k)"
    )
    wh.execute(
        "INSERT INTO default.mt (k, v, s) VALUES "
        "(1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c'), (4, 40, 'd')",
        spark=spark,
    )
    assert wh.execute(
        "ALTER TABLE default.mt DELETE WHERE v >= 40", spark=spark
    ).startswith("mutated")
    assert wh.read(spark, "default.mt").count() == 3
    wh.execute(
        "ALTER TABLE default.mt UPDATE v = v * 100, s = upper(s) "
        "WHERE k <= 2",
        spark=spark,
    )
    rows = {
        r.k: (r.v, r.s) for r in wh.read(spark, "default.mt").collect()
    }
    assert rows == {1: (1000, "A"), 2: (2000, "B"), 3: (30, "c")}
    # dialect constructs in the predicate go through the shim
    wh.execute(
        "ALTER TABLE default.mt DELETE WHERE modulo(k, 2) = 1", spark=spark
    )
    assert {r.k for r in wh.read(spark, "default.mt").collect()} == {2}
    # guards: sorting-key mutation and missing WHERE
    with pytest.raises(DdlError, match="ORDER BY key"):
        wh.execute("ALTER TABLE default.mt UPDATE k = 9 WHERE v = 1",
                   spark=spark)
    with pytest.raises(DdlError, match="WHERE"):
        wh.execute("ALTER TABLE default.mt DELETE", spark=spark)


def test_alter_update_assignments_read_pre_mutation_row(spark, wh):
    """ADVICE r13: ClickHouse (like standard SQL UPDATE) evaluates
    EVERY assignment against the PRE-mutation row — ``UPDATE a = b,
    b = a`` swaps.  A chained withColumn let the second assignment
    read the first's NEW value (a = old_b, b = old_b)."""
    wh.execute(
        "CREATE TABLE default.swp (`k` Int64, `a` Int64, `b` Int64) "
        "ENGINE = MergeTree ORDER BY (k)"
    )
    wh.execute(
        "INSERT INTO default.swp (k, a, b) VALUES (1, 10, 20), (2, 3, 4)",
        spark=spark,
    )
    wh.execute(
        "ALTER TABLE default.swp UPDATE a = b, b = a WHERE k = 1",
        spark=spark,
    )
    rows = {r.k: (r.a, r.b) for r in wh.read(spark, "default.swp").collect()}
    assert rows == {1: (20, 10), 2: (3, 4)}


def test_keeper_map_claim_flow_as_literal_statements(spark, wh):
    """The reference importer's coordination flow (repo/importer.py:
    136-175) as LITERAL statements: optimistic UPDATE claim with the
    worker_id = '' guard, verify-read SELECT, losing claimant gets
    0 rows matched, post-import DELETE releases."""
    from clickhub_spark.sql_compat import run

    wh.execute(
        "CREATE TABLE default.tasks (`repo_name` String, `priority` Int64, "
        "`scheduled` Float64, `started_time` Float64, `worker_id` String) "
        "ENGINE = KeeperMap('tasks') PRIMARY KEY repo_name"
    )
    wh.execute(
        "INSERT INTO default.tasks (repo_name, priority) "
        "VALUES ('apache/spark', 1)",
    )
    # the literal claim statement (importer.py:146-147)
    got = wh.execute(
        "ALTER TABLE default.tasks UPDATE worker_id = 'w1', "
        "started_time = '2024-01-01 00:00:00' "
        "WHERE repo_name = 'apache/spark' AND worker_id = ''",
        spark=spark,
    )
    assert got == "claimed 1"
    # verify-read (importer.py:151): the table is a queryable view
    wh.register_views(spark)
    owner = run(
        spark,
        "SELECT worker_id FROM default_tasks "
        "WHERE repo_name = 'apache/spark'",
    ).first()["worker_id"]
    assert owner == "w1"
    # the losing claimant's conditional UPDATE matches 0 rows
    got = wh.execute(
        "ALTER TABLE default.tasks UPDATE worker_id = 'w2', "
        "started_time = '2024-01-01 00:00:01' "
        "WHERE repo_name = 'apache/spark' AND worker_id = ''",
        spark=spark,
    )
    assert got == "claimed 0"
    wh.register_views(spark)
    assert run(
        spark,
        "SELECT worker_id FROM default_tasks "
        "WHERE repo_name = 'apache/spark'",
    ).first()["worker_id"] == "w1"
    # release (importer.py:175) — delete whether success or failure
    wh.execute(
        "ALTER TABLE default.tasks DELETE WHERE repo_name = 'apache/spark'",
        spark=spark,
    )
    wh.register_views(spark)
    assert run(spark, "SELECT count() AS n FROM default_tasks").first().n == 0
    # a re-schedule after release works (the row is gone, not claimed)
    wh.execute(
        "INSERT INTO default.tasks (repo_name, priority) "
        "VALUES ('apache/spark', 2)",
    )
    # unsupported predicate shapes raise with the supported form
    with pytest.raises(DdlError, match="repo_name"):
        wh.execute(
            "ALTER TABLE default.tasks UPDATE worker_id = 'w' "
            "WHERE priority = 2",
            spark=spark,
        )


def test_sample_by_round_trip_and_sample_offset(spark, wh):
    """``SAMPLE BY`` is table metadata (ClickHouse reads SAMPLE …
    OFFSET's key from it): parse → SHOW CREATE round-trip, and the
    registered view serves ``SAMPLE k OFFSET m`` as the deterministic
    md5 hash-range slice — disjoint strata that union back to the
    whole table."""
    wh.execute(
        "CREATE TABLE git.sb (`k` Int64, `v` Int64) ENGINE = MergeTree "
        "ORDER BY (k) SAMPLE BY k"
    )
    assert wh.table_def("git.sb").sample_by == "k"
    assert "SAMPLE BY k" in wh.execute("SHOW CREATE TABLE git.sb")
    # reload keeps it
    assert Warehouse(wh.root).table_def("git.sb").sample_by == "k"
    wh.execute(
        "INSERT INTO git.sb (k, v) VALUES "
        + ", ".join(f"({i}, {i * 10})" for i in range(200)),
        spark=spark,
    )
    wh.register_views(spark)
    from clickhub_spark.sql_compat import run

    halves = [
        run(spark, f"SELECT k FROM git_sb SAMPLE 1/2 OFFSET {o}").collect()
        for o in ("0", "1/2")
    ]
    ks = sorted(r.k for h in halves for r in h)
    assert ks == list(range(200))  # disjoint strata cover the table
    assert 40 < len(halves[0]) < 160  # md5 splits roughly in half
    # repeatable: same slice selects the same rows
    again = run(spark, "SELECT k FROM git_sb SAMPLE 1/2 OFFSET 0").collect()
    assert sorted(r.k for r in again) == sorted(r.k for r in halves[0])


def test_rename_column_instant_with_mixed_files(spark, wh):
    """RENAME COLUMN is an INSTANT metadata change (ClickHouse's
    model — renames are not mutations): files written before the
    rename keep the old column name, and schema-on-read coalesces
    through the recorded history.  A later OPTIMIZE rewrites every
    file to the current names and clears the history."""
    wh.execute(
        "CREATE TABLE git.rn (`k` Int64, `v` Int64) ENGINE = MergeTree "
        "ORDER BY (k)"
    )
    wh.execute("INSERT INTO git.rn (k, v) VALUES (1, 10), (2, 20)", spark=spark)
    assert wh.execute("ALTER TABLE git.rn RENAME COLUMN v TO val") == "ok"
    # instant: no rewrite happened, old files still carry `v`
    rows = {r.k: r.val for r in wh.read(spark, "git.rn").collect()}
    assert rows == {1: 10, 2: 20}
    # new writes use the new name; mixed files still read correctly
    wh.execute("INSERT INTO git.rn (k, val) VALUES (3, 30)", spark=spark)
    rows = {r.k: r.val for r in wh.read(spark, "git.rn").collect()}
    assert rows == {1: 10, 2: 20, 3: 30}
    assert "`val` Int64" in wh.execute("SHOW CREATE TABLE git.rn")
    # reload keeps the history
    td2 = Warehouse(wh.root).table_def("git.rn")
    assert next(c for c in td2.columns if c.name == "val").renamed_from == ["v"]
    # OPTIMIZE rewrites to current names (the explicit read schema is
    # what makes the mixed-name file set lossless) and clears history
    assert wh.execute("OPTIMIZE TABLE git.rn", spark=spark) == "optimized 3"
    td3 = wh.table_def("git.rn")
    assert next(c for c in td3.columns if c.name == "val").renamed_from == []
    rows = {r.k: r.val for r in wh.read(spark, "git.rn").collect()}
    assert rows == {1: 10, 2: 20, 3: 30}
    # rename CYCLE back to an on-disk spelling (v -> val -> v2 -> v):
    # the target name must leave the history or normalize would
    # coalesce-and-drop the live column (round-15 hostile probe)
    wh.execute("ALTER TABLE git.rn RENAME COLUMN val TO v2")
    wh.execute("ALTER TABLE git.rn RENAME COLUMN v2 TO v")
    wh.execute("INSERT INTO git.rn (k, v) VALUES (4, 40)", spark=spark)
    assert {r.k: r.v for r in wh.read(spark, "git.rn").collect()} == {
        1: 10, 2: 20, 3: 30, 4: 40,
    }
    assert next(
        c for c in wh.table_def("git.rn").columns if c.name == "v"
    ).renamed_from == ["v2", "val"]
    wh.execute("ALTER TABLE git.rn RENAME COLUMN v TO val")
    # guards
    with pytest.raises(DdlError, match="does not exist"):
        wh.execute("ALTER TABLE git.rn RENAME COLUMN nope TO x")
    assert wh.execute(
        "ALTER TABLE git.rn RENAME COLUMN IF EXISTS nope TO x"
    ) == "absent"
    with pytest.raises(DdlError, match="key"):
        wh.execute("ALTER TABLE git.rn RENAME COLUMN k TO kk")


def test_modify_column_rewrites_with_cast(spark, wh):
    """MODIFY COLUMN is the data-REWRITING alter (exactly ClickHouse,
    where it is a mutation rewriting parts with the cast applied):
    the declared type changes AND every file is rewritten through the
    crash-safe swap."""
    wh.execute(
        "CREATE TABLE git.mc (`k` Int64, `v` Int64) ENGINE = MergeTree "
        "ORDER BY (k)"
    )
    wh.execute("INSERT INTO git.mc (k, v) VALUES (1, 10), (2, 20)", spark=spark)
    assert wh.execute(
        "ALTER TABLE git.mc MODIFY COLUMN v String", spark=spark
    ) == "ok"
    assert "`v` String" in wh.execute("SHOW CREATE TABLE git.mc")
    df = wh.read(spark, "git.mc")
    assert dict(df.dtypes)["v"] == "string"
    assert {r.k: r.v for r in df.collect()} == {1: "10", 2: "20"}
    # reload keeps the new type
    assert Warehouse(wh.root).table_def("git.mc").columns[1].ch_type == "String"
    # composes with a prior instant rename: the rewrite normalizes
    # old-name files and clears the history
    wh.execute("ALTER TABLE git.mc RENAME COLUMN v TO s")
    wh.execute("ALTER TABLE git.mc MODIFY COLUMN s Int64", spark=spark)
    td = wh.table_def("git.mc")
    assert next(c for c in td.columns if c.name == "s").renamed_from == []
    assert {r.k: r.s for r in wh.read(spark, "git.mc").collect()} == {1: 10, 2: 20}
    with pytest.raises(DdlError, match="does not exist"):
        wh.execute("ALTER TABLE git.mc MODIFY COLUMN nope Int32", spark=spark)


def test_detach_attach_partition(spark, wh):
    """DETACH takes a partition offline with ONE rename (no data
    read, any table size); ATTACH is the reverse.  Readers never see
    the detached directory."""
    import os

    wh.execute(
        "CREATE TABLE git.da (`k` Int64, `time` DateTime, `v` Int64) "
        "ENGINE = MergeTree PARTITION BY toYYYYMM(time) ORDER BY (k)"
    )
    wh.execute(
        "INSERT INTO git.da (k, time, v) VALUES "
        "(1, '2024-01-05 00:00:00', 10), (2, '2024-02-01 00:00:00', 20), "
        "(3, '2024-02-09 00:00:00', 30)",
        spark=spark,
    )
    assert wh.execute("ALTER TABLE git.da DETACH PARTITION '202402'") == (
        "detached partition 202402"
    )
    assert {r.k for r in wh.read(spark, "git.da").collect()} == {1}
    tdir = os.path.join(wh.root, "git", "da")
    assert os.path.isdir(
        os.path.join(tdir, "detached", "_partition_id=202402")
    )
    # system.detached_parts lists what DETACH parked
    from clickhub_spark.sql_compat import run

    wh.register_system_views(spark)
    det = run(
        spark,
        "SELECT `table`, partition_id, rows FROM system.detached_parts",
    ).collect()
    # partition_id carries the relative part-dir name, the same
    # convention system.parts uses (introspect.table_parts)
    assert [(r["table"], r.partition_id, r.rows) for r in det] == [
        ("da", "_partition_id=202402", 2)
    ]
    # attach restores it, byte-identical
    assert wh.execute("ALTER TABLE git.da ATTACH PARTITION '202402'") == (
        "attached partition 202402"
    )
    assert {r.k for r in wh.read(spark, "git.da").collect()} == {1, 2, 3}
    # absent partitions are a no-op, not an error
    assert wh.execute("ALTER TABLE git.da DETACH PARTITION '209901'").startswith(
        "detached 0"
    )
    assert wh.execute("ALTER TABLE git.da ATTACH PARTITION '209901'").startswith(
        "attached 0"
    )
    # traversal guard applies here too
    with pytest.raises(DdlError, match="invalid partition value"):
        wh.execute("ALTER TABLE git.da DETACH PARTITION '2024/..'")
    wh.execute(
        "CREATE TABLE git.nopart (`k` Int64) ENGINE = MergeTree ORDER BY (k)"
    )
    with pytest.raises(DdlError, match="PARTITION BY"):
        wh.execute("ALTER TABLE git.nopart DETACH PARTITION '1'")


# --------------------------------------------------------------------------
# CREATE TABLE clauses read whole, up to the next clause keyword
# --------------------------------------------------------------------------

_CLAUSE_BASE = (
    "CREATE TABLE ana.c (`k` Int64, `ts` DateTime) ENGINE = MergeTree "
)


@pytest.mark.parametrize(
    "tail, field, stored",
    [
        ("PARTITION BY k % 3 ORDER BY (k)", "partition_expr", "k % 3"),
        (
            "PARTITION BY toYYYYMM(toDate(ts)) ORDER BY (k)",
            "partition_expr",
            "toYYYYMM(toDate(ts))",
        ),
        ("ORDER BY (k, toDate(ts))", "order_by", ["k", "toDate(ts)"]),
        (
            "ORDER BY (k) SAMPLE BY intHash32(k) % 10",
            "sample_by",
            "intHash32(k) % 10",
        ),
    ],
)
def test_create_table_clause_read_whole(tail, field, stored):
    assert getattr(parse_create_table(_CLAUSE_BASE + tail), field) == stored


def test_partition_by_expression_makes_one_dir_per_value(spark, wh):
    import os

    wh.execute("CREATE DATABASE ana")
    wh.execute(
        "CREATE TABLE ana.m (`k` Int64) ENGINE = MergeTree "
        "PARTITION BY k % 3 ORDER BY (k)"
    )
    wh.insert(spark, "ana.m", spark.range(50).withColumnRenamed("id", "k"))
    data = os.path.join(wh.root, "ana", "m", "data")
    assert sorted(d for d in os.listdir(data) if d.startswith("_partition_id=")) == [
        "_partition_id=0", "_partition_id=1", "_partition_id=2"
    ]


# --------------------------------------------------------------------------
# The statement table: every form, every table-name spelling
# --------------------------------------------------------------------------

#: spelling → (database, how ``name`` is written)
_SPELLINGS = {
    "backticked": ("ana", "`ana`.`{}`"),
    "dotted": ("ana", "ana.{}"),
    "bare": ("default", "{}"),
}

#: (form, setup, statement, expected status) — ``{t}``/``{u}``/``{v}``
#: are the table names ``t``/``u``/``v`` in the case's spelling, ``{q}``
#: ``{qu}``/``{qv}`` their ``db.name``, ``{db}`` the database.  setup:
#: None (empty database), "table" (``t`` exists), "rows" (``t`` holds
#: k = 1..4 in partitions 0 and 1), "detached" (partition 1 detached),
#: "view" (``v`` is a view over ``t``).
_FORMS = [
    ("create_table", None,
     "CREATE TABLE {t} (`k` Int64, `v` Int64) ENGINE = MergeTree ORDER BY (k)",
     "ok"),
    ("create_table_as", None,
     "CREATE TABLE {t} ENGINE = MergeTree ORDER BY (k) AS SELECT 1 AS k",
     "created {q} as select"),
    ("create_view", "table", "CREATE VIEW {v} AS SELECT k FROM {t}",
     "created view {qv}"),
    ("create_materialized_view", "table",
     "CREATE MATERIALIZED VIEW {v} TO {t} AS SELECT k, v FROM {t}",
     "created view {qv}"),
    ("drop_table", "table", "DROP TABLE {t}", "ok"),
    ("drop_view", "view", "DROP VIEW {v}", "ok"),
    ("truncate", "rows", "TRUNCATE TABLE {t}", "ok"),
    ("insert_values", "table", "INSERT INTO {t} (k, v) VALUES (5, 50)",
     "inserted 1"),
    ("insert_select", "table", "INSERT INTO {t} (k, v) SELECT 5, 50",
     "inserted select into {q}"),
    ("alter_delete", "rows", "ALTER TABLE {t} DELETE WHERE k = 1",
     "mutated to 3"),
    ("alter_update", "rows", "ALTER TABLE {t} UPDATE v = 0 WHERE k = 1",
     "mutated to 4"),
    ("drop_partition", "rows", "ALTER TABLE {t} DROP PARTITION 1",
     "dropped partition 1"),
    ("detach_partition", "rows", "ALTER TABLE {t} DETACH PARTITION '1'",
     "detached partition 1"),
    ("attach_partition", "detached", "ALTER TABLE {t} ATTACH PARTITION '1'",
     "attached partition 1"),
    ("add_column", "table", "ALTER TABLE {t} ADD COLUMN `w` String", "ok"),
    ("drop_column", "table", "ALTER TABLE {t} DROP COLUMN v", "ok"),
    ("modify_column", "rows", "ALTER TABLE {t} MODIFY COLUMN v Float64", "ok"),
    ("rename_column", "table", "ALTER TABLE {t} RENAME COLUMN v TO w", "ok"),
    ("optimize", "rows", "OPTIMIZE TABLE {t} FINAL DEDUPLICATE", "optimized 4"),
    ("show_databases", "table", "SHOW DATABASES", None),
    ("show_tables", "table", "SHOW TABLES{from_db}", "t"),
    ("show_create", "table", "SHOW CREATE TABLE {t}", None),
    ("describe", "table", "DESCRIBE TABLE {t}", "k\tInt64\nv\tInt64"),
    ("desc", "table", "DESC {t}", "k\tInt64\nv\tInt64"),
    ("exists", "table", "EXISTS TABLE {t}", "1"),
    ("rename_table", "table", "RENAME TABLE {t} TO {u}", "renamed 1"),
]


@pytest.mark.parametrize("spelling", list(_SPELLINGS))
@pytest.mark.parametrize(
    "form, setup, stmt, want", _FORMS, ids=[f[0] for f in _FORMS]
)
def test_statement_forms_take_every_table_spelling(
    spark, wh, form, setup, stmt, want, spelling
):
    """Each statement form names its table(s) through the one
    table-name grammar: a backticked, a dotted and a bare name (the
    ``default`` database) all reach the same table."""
    db, spell = _SPELLINGS[spelling]
    names = {k: spell.format(k) for k in ("t", "u", "v")}
    quals = {"q": f"{db}.t", "qu": f"{db}.u", "qv": f"{db}.v"}
    from_db = "" if db == "default" else " FROM " + spell.split(".")[0]
    fmt = {**names, **quals, "db": db, "from_db": from_db}
    if setup is not None:
        wh.execute(
            f"CREATE TABLE {db}.t (`k` Int64, `v` Int64) ENGINE = MergeTree "
            "PARTITION BY k % 2 ORDER BY (k)"
        )
    if setup in ("rows", "detached"):
        wh.execute(
            f"INSERT INTO {db}.t VALUES (1, 10), (2, 20), (3, 30), (4, 40)",
            spark=spark,
        )
    if setup == "detached":
        wh.execute(f"ALTER TABLE {db}.t DETACH PARTITION '1'")
    if setup == "view":
        wh.execute(f"CREATE VIEW {db}.v AS SELECT k FROM {db}_t")
    out = wh.execute(stmt.format(**fmt), spark=spark)
    if want is not None:
        assert out == want.format(**fmt)
    q = quals["q"]
    if form == "show_databases":
        assert db in out.split("\n")
    elif form == "show_create":
        assert out.startswith(f"CREATE TABLE {q} (")
    elif form in ("create_table", "create_table_as"):
        assert wh.has_table(q)
    elif form == "create_materialized_view":
        td = wh.table_def(quals["qv"])
        assert (td.mv_target, td.mv_source) == (q, q)
    elif form in ("drop_table", "drop_view"):
        assert not wh.has_table(quals["qv" if form == "drop_view" else "q"])
    elif form == "rename_table":
        assert (wh.has_table(q), wh.has_table(quals["qu"])) == (False, True)
    elif form in ("truncate", "alter_delete", "drop_partition",
                  "detach_partition", "attach_partition"):
        left = {"truncate": set(), "alter_delete": {2, 3, 4},
                "drop_partition": {2, 4}, "detach_partition": {2, 4},
                "attach_partition": {1, 2, 3, 4}}[form]
        data = wh._read(spark, wh.table_def(q))
        assert (set() if data is None else {r.k for r in data.collect()}) == left
    elif form in ("add_column", "drop_column", "rename_column", "modify_column"):
        cols = [(c.name, c.ch_type) for c in wh.table_def(q).columns]
        assert cols == {
            "add_column": [("k", "Int64"), ("v", "Int64"), ("w", "String")],
            "drop_column": [("k", "Int64")],
            "rename_column": [("k", "Int64"), ("w", "Int64")],
            "modify_column": [("k", "Int64"), ("v", "Float64")],
        }[form]


def test_unmatched_statement_names_its_verb(wh):
    """A statement whose verb the table owns but whose form it does not
    is ``unparseable <verb>``; any other text is not a statement."""
    for stmt, verb in [
        ("ALTER TABLE t FREEZE", "ALTER"),
        ("create table t", "CREATE"),
        ("OPTIMIZE t", "OPTIMIZE"),
        ("SHOW PROCESSLIST", "SHOW"),
        ("DESC", "DESC"),
    ]:
        with pytest.raises(DdlError, match=f"^unparseable {verb}: "):
            wh.execute(stmt)
    with pytest.raises(DdlError, match="not a DDL/DML statement"):
        wh.execute("WITH 1 AS x SELECT x")


def test_statement_trailing_semicolon(spark, wh):
    """Every form takes an optional trailing ``;`` — the grammar ends
    each statement the same way."""
    wh.execute("CREATE DATABASE ana;")
    wh.execute("CREATE TABLE ana.t (`k` Int64) ENGINE = MergeTree ORDER BY (k);")
    assert wh.execute("INSERT INTO ana.t VALUES (1), (2);", spark=spark) == (
        "inserted 2"
    )
    assert wh.execute("ALTER TABLE ana.t DELETE WHERE k = 1;", spark=spark) == (
        "mutated to 1"
    )
    assert wh.execute("DROP TABLE ana.t ;") == "ok"


def test_table_name_grammar_spelled_once():
    """Layout guard: ddl.py spells the table-name grammar once, defaults
    the database in one place, and keeps no second CREATE path; the CLI
    keeps no verb list of its own."""
    import inspect
    import re

    from clickhub_spark import __main__ as cli
    from clickhub_spark import ddl

    src = inspect.getsource(ddl)
    assert src.count(r"`?\.)?") == 1
    assert len(re.findall(r"""or ["']default["']""", src)) == 1
    assert "_CTAS_RE" not in src and "re.sub(" not in inspect.getsource(
        ddl.Warehouse.execute
    )
    assert '"OPTIMIZE"' not in inspect.getsource(cli)


def test_cli_routes_every_table_verb(spark, tmp_path, capsys, monkeypatch):
    """`sql --file` sends each statement whose leading word the
    statement table owns to Warehouse.execute — one statement per
    verb, in any case — and everything else to the SELECT shim."""
    from clickhub_spark import ddl
    from clickhub_spark.__main__ import main

    stmts = [
        "CREATE DATABASE x", "drop table x.t", "TRUNCATE x.t",
        "INSERT INTO x.t VALUES (1)", "ALTER TABLE x.t DROP COLUMN c",
        "optimize TABLE x.t", "SHOW TABLES", "DESCRIBE x.t", "desc x.t",
        "EXISTS x.t", "RENAME TABLE x.t TO x.u",
    ]
    routed = []
    monkeypatch.setattr(
        ddl.Warehouse, "execute", lambda self, s, spark=None: routed.append(s) or "routed"
    )
    boot = tmp_path / "verbs.sql"
    boot.write_text(";\n".join(stmts) + ";\nSELECT 41 + 1 AS answer\n")
    rc = main(["--data-dir", str(tmp_path / "data"), "sql", "--file",
               str(boot), "--format", "csv"])
    assert rc in (0, None)
    assert [s.strip() for s in routed] == stmts
    assert {s.split()[0].upper() for s in stmts} == ddl.STATEMENT_VERBS
    out = capsys.readouterr().out
    assert out.count("routed") == len(stmts) and "answer\n42" in out


# --------------------------------------------------------------------------
# CTAS is a front end to CREATE TABLE
# --------------------------------------------------------------------------


@pytest.fixture()
def ana_src(spark, wh):
    wh.execute("CREATE DATABASE ana")
    wh.execute(
        "CREATE TABLE ana.src (`k` Int64, `u` Int64, `s` Int8) "
        "ENGINE = MergeTree ORDER BY (k)"
    )
    wh.insert(
        spark, "ana.src",
        spark.range(30).selectExpr("id AS k", "id * 7 AS u", "CAST(1 AS TINYINT) AS s"),
    )
    return wh


def test_ctas_keeps_every_create_table_clause(spark, ana_src):
    import os

    wh = ana_src
    out = wh.execute(
        "CREATE TABLE ana.c ENGINE = MergeTree PARTITION BY k % 3 "
        "PRIMARY KEY (k) ORDER BY (k, u) SAMPLE BY u "
        "SETTINGS index_granularity = 1024 AS SELECT k, u FROM ana_src",
        spark=spark,
    )
    assert out == "created ana.c as select"
    td = wh.table_def("ana.c")
    assert (td.partition_expr, td.primary_key, td.order_by, td.sample_by) == (
        "k % 3", ["k"], ["k", "u"], "u"
    )
    assert td.settings == {"index_granularity": "1024"}
    data = os.path.join(wh.root, "ana", "c", "data")
    assert sorted(d for d in os.listdir(data) if d.startswith("_partition_id=")) == [
        "_partition_id=0", "_partition_id=1", "_partition_id=2"
    ]
    assert wh.read(spark, "ana.c").count() == 30


def test_ctas_collapsing_engine_validated_like_create_table(spark, ana_src):
    wh = ana_src
    wh.execute(
        "CREATE TABLE ana.col ENGINE = CollapsingMergeTree(s) ORDER BY (k) "
        "AS SELECT k, s FROM ana_src",
        spark=spark,
    )
    assert wh.read_final(spark, "ana.col").count() == 30
    with pytest.raises(
        DdlError,
        match=r"CollapsingMergeTree engine args reference unknown columns \['s'\]",
    ):
        wh.execute(
            "CREATE TABLE ana.col2 ENGINE = CollapsingMergeTree(s) "
            "ORDER BY (k) AS SELECT k FROM ana_src",
            spark=spark,
        )


@pytest.mark.parametrize(
    "stmt, err",
    [
        ("CREATE TABLE ana.bad ENGINE = MergeTree ORDER BY (nope) "
         "AS SELECT k FROM ana_src", r"ORDER BY references unknown columns \['nope'\]"),
        ("CREATE TABLE ana.bad ENGINE = MergeTree AS SELECT k FROM ana_src",
         "MergeTree requires ORDER BY"),
        ("CREATE TABLE ana.bad ENGINE = VersionedCollapsingMergeTree(s) "
         "ORDER BY (k) AS SELECT k, s FROM ana_src", "needs 2 engine argument"),
        ("CREATE TABLE ana.bad ENGINE = KeeperMap('q') PRIMARY KEY k "
         "AS SELECT k FROM ana_src", "CTAS supports MergeTree engines"),
        ("CREATE TABLE ana.bad ENGINE = MergeTree ORDER BY (k) "
         "AS SELECT k, map(1, 2) AS m FROM ana_src", "no ClickHouse type mapping"),
    ],
)
def test_ctas_failing_validation_leaves_nothing(spark, ana_src, stmt, err):
    import os

    wh = ana_src
    with pytest.raises(DdlError, match=err):
        wh.execute(stmt, spark=spark)
    assert not wh.has_table("ana.bad")
    assert not os.path.exists(os.path.join(wh.root, "ana", "bad"))
    assert not Warehouse(wh.root).has_table("ana.bad")


@pytest.mark.parametrize("form", ["create_table", "create_table_as"])
def test_order_by_tuple_is_a_keyless_sorting_key(spark, ana_src, form):
    """``ORDER BY tuple()`` — ClickHouse's keyless MergeTree — through
    both CREATE forms, INSERT, FINAL read, OPTIMIZE and SHOW CREATE."""
    wh = ana_src
    if form == "create_table":
        wh.execute(
            "CREATE TABLE ana.kl (`k` Int64, `u` Int64) "
            "ENGINE = ReplacingMergeTree(u) ORDER BY tuple()"
        )
        wh.execute("INSERT INTO ana.kl SELECT k, u FROM ana_src", spark=spark)
    else:
        wh.execute(
            "CREATE TABLE ana.kl ENGINE = ReplacingMergeTree(u) "
            "ORDER BY tuple() AS SELECT k, u FROM ana_src",
            spark=spark,
        )
    assert wh.table_def("ana.kl").order_by == []
    wh.execute("INSERT INTO ana.kl (k, u) VALUES (99, 1)", spark=spark)
    assert wh.read(spark, "ana.kl").count() == 31
    # every row shares the empty key: FINAL keeps the highest version
    assert [tuple(r) for r in wh.read_final(spark, "ana.kl").collect()] == [(29, 203)]
    assert wh.execute("OPTIMIZE TABLE ana.kl FINAL", spark=spark) == "optimized 1"
    assert wh.read(spark, "ana.kl").count() == 1
    # an emptied keyless table has no FINAL row (not one all-NULL row)
    wh.execute("ALTER TABLE ana.kl DELETE WHERE k >= 0", spark=spark)
    assert wh.read_final(spark, "ana.kl").collect() == []
    stmt = wh.execute("SHOW CREATE TABLE ana.kl")
    assert stmt.endswith("ORDER BY tuple()")
    assert parse_create_table(stmt).order_by == []
    with pytest.raises(DdlError, match="MergeTree requires ORDER BY"):
        wh.execute("CREATE TABLE ana.no (`k` Int64) ENGINE = MergeTree")


def test_rename_table_forgets_sample_key(spark, wh):
    """RENAME TABLE drops the source's SAMPLE BY registration the way
    DROP TABLE does: a new table under the old name with no SAMPLE BY
    must not be sliced by the old key."""
    from clickhub_spark.sql_compat import run

    wh.execute("CREATE DATABASE ana")
    wh.execute(
        "CREATE TABLE ana.t (`k` Int64, `u` Int64) ENGINE = MergeTree "
        "ORDER BY (k, u) SAMPLE BY u"
    )
    wh.execute("INSERT INTO ana.t VALUES (1, 2), (3, 4)", spark=spark)
    wh.register_views(spark)
    wh.execute("RENAME TABLE ana.t TO ana.t_old")
    wh.execute(
        "CREATE TABLE ana.t (`k` Int64, `v` Int64) ENGINE = MergeTree ORDER BY (k)"
    )
    wh.execute("INSERT INTO ana.t VALUES (1, 2)", spark=spark)
    wh.register_views(spark)
    with pytest.raises(Exception, match="needs a sampling key"):
        run(spark, "SELECT count() FROM ana_t SAMPLE 1/2 OFFSET 1/2").collect()


def test_ctas_failing_at_write_leaves_nothing(spark, ana_src):
    """A SELECT that fails only when the first insert runs (an ANSI
    cast error) removes the table again, so the same CTAS with a valid
    SELECT succeeds instead of answering ``already exists``."""
    import os

    wh = ana_src
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        wh.execute(
            "CREATE TABLE ana.c ENGINE = MergeTree ORDER BY (k) "
            "AS SELECT k, CAST('x' AS INT) + k AS bad FROM ana_src",
            spark=spark,
        )
    assert not wh.has_table("ana.c")
    assert not os.path.exists(os.path.join(wh.root, "ana", "c"))
    assert wh.execute(
        "CREATE TABLE ana.c ENGINE = MergeTree ORDER BY (k) "
        "AS SELECT k, k + 1 AS bad FROM ana_src",
        spark=spark,
    ) == "created ana.c as select"
    assert wh.read(spark, "ana.c").count() == 30


@pytest.mark.parametrize(
    "stmt", ["RENAME TABLE ana.t TO ana.t2", "DROP TABLE ana.t"]
)
def test_drop_and_rename_forget_session_views(spark, wh, stmt):
    """DROP and RENAME unregister the old ``db_t`` / ``db_t_final``
    views: reading the old name fails as table-not-found, not on the
    moved or deleted files."""
    from clickhub_spark.sql_compat import run

    wh.execute("CREATE DATABASE ana")
    wh.execute(
        "CREATE TABLE ana.t (`k` Int64, `v` Int64) "
        "ENGINE = ReplacingMergeTree ORDER BY (k)"
    )
    wh.execute("INSERT INTO ana.t VALUES (1, 2), (1, 3)", spark=spark)
    assert {"ana_t", "ana_t_final"} <= set(wh.register_views(spark))
    wh.execute(stmt, spark=spark)
    for view in ("ana_t", "ana_t_final"):
        with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
            run(spark, f"SELECT count() FROM {view}").collect()


def test_same_named_tables_keep_their_own_sample_keys(spark, wh):
    """``a.t SAMPLE BY u`` and ``b.t SAMPLE BY w`` each slice on their
    own key, the bare name ``t`` holds neither, and dropping ``b.t``
    leaves ``a_t``'s key in place."""
    import hashlib
    from unittest import mock

    from clickhub_spark import sql_compat

    def half(view):
        sql = f"SELECT k FROM {view} SAMPLE 1/2 OFFSET 0"
        return sorted(r.k for r in sql_compat.run(spark, sql).collect())

    def want(key_of):
        return sorted(
            k for k in range(200)
            if hashlib.md5(str(key_of(k)).encode()).hexdigest()[:8] < "80000000"
        )

    rows = ", ".join(f"({i}, {i}, {1000 - i})" for i in range(200))
    with mock.patch.dict(sql_compat._SAMPLE_KEYS, clear=True):
        for db, key in (("a", "u"), ("b", "w")):
            wh.execute(f"CREATE DATABASE {db}")
            wh.execute(
                f"CREATE TABLE {db}.t (`k` Int64, `u` Int64, `w` Int64) "
                f"ENGINE = MergeTree ORDER BY (k) SAMPLE BY {key}"
            )
            wh.execute(f"INSERT INTO {db}.t VALUES {rows}", spark=spark)
        wh.register_views(spark)
        assert half("a_t") == want(lambda k: k)
        assert half("b_t") == want(lambda k: 1000 - k)
        with pytest.raises(ValueError, match="needs a sampling key for 't'"):
            sql_compat.translate("SELECT k FROM t SAMPLE 1/2 OFFSET 0")
        wh.execute("DROP TABLE b.t", spark=spark)
        assert half("a_t") == want(lambda k: k)
