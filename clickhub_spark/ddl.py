"""ClickHouse DDL/DML statement front-end — executes the reference's
CREATE / INSERT statements verbatim against the Spark warehouse.

The compat shim (sql_compat.py) covers every SELECT the reference app
issues; this module covers the remaining statement classes the
reference issues once at setup / enqueue time, so a user can point
the reference's *literal* bootstrap scripts at this engine:

- ``CREATE DATABASE IF NOT EXISTS git`` (reference create_db.py:30)
- ``CREATE TABLE … ENGINE = KeeperMap('git_queue') PRIMARY KEY
  repo_name`` for the work/clone queues (create_db.py:37-53,
  incl. the trailing comma in its column list)
- ``CREATE TABLE git.{commits,file_changes,line_changes} … ENGINE =
  ReplacingMergeTree ORDER BY (…)`` (reference types.json schemas)
- ``CREATE TABLE git.github_events … ENGINE = MergeTree ORDER BY
  (event_type, repo_name, created_at) SETTINGS …``
  (create_db.py:69-128)
- ``INSERT INTO git.new_queue (repo_name) VALUES ('…')``
  (reference test.py:35)

Design: DDL parses to a :class:`TableDef` (ClickHouse column types →
Spark ``StructType`` using the same widths the hand-built catalog
uses — catalog.py:132-135: UInt32/64→Long, UInt8/Int8→Integer,
Enum8→label String, LowCardinality unwrapped).  Engines dispatch to
the machinery that already implements their semantics Spark-first:

- MergeTree family   → sort-clustered zstd parquet via
  ``sources.writer.write_sorted`` (ORDER BY = the cluster key, so
  min/max row-group pruning plays the role of the primary index);
- ReplacingMergeTree → the same, plus ``read_final`` through
  ``operators.dedup.final_view`` (keys = ORDER BY, version = the
  MATERIALIZED now() column, exactly catalog.FINAL_KEYS's shape);
- KeeperMap          → ``queue.WorkQueue`` (the atomic rename-claim
  filesystem queue that already models KeeperMap CAS semantics).

Table metadata persists as ``_ddl.json`` beside the data so a new
session (or a crashed one) reloads the warehouse from disk — the
analog of ClickHouse's metadata/*.sql files.

Statement text is split with the shared lexical primitives of
sqltext.py (string literals, bracket depth, matching close paren,
top-level separators) — the same rules the SELECT shim uses.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from clickhub_spark.sqltext import (
    find_code,
    find_top,
    matching_close,
    split_quoted,
    split_top,
)


class DdlError(ValueError):
    """Statement rejected — unparseable or violating table state."""


# --------------------------------------------------------------------------
# ClickHouse type → Spark type
# --------------------------------------------------------------------------

#: scalar name → Spark type, matching the hand-built catalog's widths
#: (catalog.py:132-135 widens UInt32 to Long; UInt8 flags stay Integer).
_SCALARS: dict[str, DataType] = {
    "String": StringType(),
    "UUID": StringType(),
    "IPv4": StringType(),
    "IPv6": StringType(),
    "Bool": BooleanType(),
    "Boolean": BooleanType(),
    "Int8": IntegerType(),
    "UInt8": IntegerType(),
    "Int16": IntegerType(),
    "UInt16": IntegerType(),
    "Int32": IntegerType(),
    "UInt32": LongType(),
    "Int64": LongType(),
    # UInt64 has no lossless Spark integral type; LongType preserves
    # the reference workload's actual range (comment ids, counters).
    "UInt64": LongType(),
    "Float32": FloatType(),
    "Float64": DoubleType(),
    "Date": DateType(),
    "Date32": DateType(),
    "DateTime": TimestampType(),
}


@dataclass
class ColumnDef:
    name: str
    ch_type: str  # raw ClickHouse type text, round-trips via JSON
    spark_type: DataType
    enum_labels: dict[int, str] | None = None
    materialized: str | None = None  # MATERIALIZED expression text
    default: str | None = None  # DEFAULT expression text
    #: prior names from RENAME COLUMN (newest first) — rename is an
    #: INSTANT metadata change like ClickHouse's, so parquet written
    #: before it still carries an old name; reads coalesce through
    #: this history, and any full rewrite (OPTIMIZE, MODIFY COLUMN)
    #: clears it
    renamed_from: list[str] = field(default_factory=list)


@dataclass
class TableDef:
    database: str
    name: str
    columns: list[ColumnDef]
    engine: str
    engine_args: list[str] = field(default_factory=list)
    order_by: list[str] = field(default_factory=list)
    primary_key: list[str] = field(default_factory=list)
    settings: dict[str, str] = field(default_factory=dict)
    if_not_exists: bool = False
    #: raw ClickHouse PARTITION BY expression (e.g. ``toYYYYMM(time)``)
    #: — materialized at write as the hive partition dir
    #: ``_partition_id`` (ClickHouse's virtual column of that name)
    partition_expr: str | None = None
    #: raw ClickHouse SAMPLE BY expression — registered with
    #: sql_compat.set_sample_key so ``SAMPLE k OFFSET m`` renders its
    #: deterministic hash-range slice over this key
    sample_by: str | None = None
    #: engine "View" / "MaterializedView": the stored SELECT text
    select: str | None = None
    #: engine "MaterializedView": the ``TO db.table`` target and the
    #: source table whose INSERTs trigger the view
    mv_target: str | None = None
    mv_source: str | None = None

    @property
    def qualified(self) -> str:
        return f"{self.database}.{self.name}"

    def ingest_schema(self) -> StructType:
        """Schema the caller inserts — MATERIALIZED columns excluded
        (they are populated at write time, like the reference's
        ``updated_at DateTime MATERIALIZED now()``)."""
        return StructType(
            [
                StructField(c.name, c.spark_type, True)
                for c in self.columns
                if c.materialized is None
            ]
        )

    def full_schema(self) -> StructType:
        return StructType(
            [StructField(c.name, c.spark_type, True) for c in self.columns]
        )

    def version_columns(self) -> list[str]:
        """ReplacingMergeTree version: ClickHouse without an explicit
        engine-arg version keeps the last-inserted row; the ingest-time
        MATERIALIZED DateTime column is that insertion order."""
        return [c.name for c in self.columns if c.materialized is not None]


def _read_schema(td: TableDef) -> StructType:
    """The declared schema EXTENDED with every column's rename
    history (at the column's current type — a type only changes via
    MODIFY COLUMN, which rewrites the files and clears the history).
    An explicit union schema is what makes mixed-name parquet safe:
    Spark's sampled-footer read of a mixed directory silently DROPS
    whichever spelling the sampled file lacks (verified live — plain
    read of {a}-file + {b}-file returned only ``a`` and lost row 2's
    value)."""
    fields = [
        StructField(c.name, c.spark_type, True) for c in td.columns
    ]
    declared = {c.name for c in td.columns}
    for c in td.columns:
        for old in c.renamed_from:
            if old not in declared:
                fields.append(StructField(old, c.spark_type, True))
                declared.add(old)
    return StructType(fields)


def _normalize_renames(df: DataFrame, td: TableDef) -> DataFrame:
    """Coalesce each renamed column through its historical names
    (newest first — files written before the rename carry an old
    name, files written after carry the current one; no file carries
    both non-NULL) and drop the historical columns."""
    for c in td.columns:
        hist = [
            h for h in c.renamed_from
            if h in df.columns and h != c.name
        ]
        if not hist:
            continue
        df = df.withColumn(
            c.name, F.coalesce(F.col(c.name), *[F.col(h) for h in hist])
        ).drop(*hist)
    return df


def ch_type_of(dt: DataType) -> str:
    """Spark type → ClickHouse type text (the reverse of
    :func:`parse_type`, for CTAS-derived schemas).  Signed widths only
    — Spark has no unsigned integers, so a round-trip of an unsigned
    source type lands on the signed type of the same storage width
    (the documented catalog.py trade)."""
    from pyspark.sql.types import (
        ArrayType, BooleanType, ByteType, DateType, DecimalType,
        DoubleType, FloatType, IntegerType, LongType, ShortType,
        StringType, TimestampType,
    )

    if isinstance(dt, ArrayType):
        return f"Array({ch_type_of(dt.elementType)})"
    if isinstance(dt, DecimalType):
        return f"Decimal({dt.precision}, {dt.scale})"
    for py_t, ch in (
        (LongType, "Int64"), (IntegerType, "Int32"), (ShortType, "Int16"),
        (ByteType, "Int8"), (DoubleType, "Float64"), (FloatType, "Float32"),
        (StringType, "String"), (BooleanType, "Bool"), (DateType, "Date"),
        (TimestampType, "DateTime"),
    ):
        if isinstance(dt, py_t):
            return ch
    raise DdlError(f"no ClickHouse type mapping for {dt.simpleString()}")


def create_statement(td: TableDef) -> str:
    """Serialize a TableDef back to its CREATE TABLE statement
    (``SHOW CREATE TABLE``); round-trips through
    :func:`parse_create_table`."""
    cols = []
    for c in td.columns:
        ent = f"`{c.name}` {c.ch_type}"
        if c.materialized is not None:
            ent += f" MATERIALIZED {c.materialized}"
        if c.default is not None:
            ent += f" DEFAULT {c.default}"
        cols.append(ent)
    out = (
        f"CREATE TABLE {td.database}.{td.name} ({', '.join(cols)}) "
        f"ENGINE = {td.engine}"
    )
    if td.engine_args:
        out += "(" + ", ".join(td.engine_args) + ")"
    if td.partition_expr:
        out += f" PARTITION BY {td.partition_expr}"
    if td.sample_by:
        out += f" SAMPLE BY {td.sample_by}"
    if td.primary_key:
        out += f" PRIMARY KEY ({', '.join(td.primary_key)})"
    if td.order_by:
        out += f" ORDER BY ({', '.join(td.order_by)})"
    if td.settings:
        out += " SETTINGS " + ", ".join(
            f"{k} = {v}" for k, v in td.settings.items()
        )
    return out


def _check_partition_value(value: str) -> None:
    """A partition value names a FILESYSTEM DIRECTORY
    (``_partition_id=<value>``): reject path metacharacters so a
    quoted value like ``'202401/..'`` cannot traverse out of the data
    dir (rmtree-ing the whole table).  Hive partition values here come
    from ``CAST(<partition expr> AS STRING)`` — word chars, dots and
    dashes cover every real value; anything else is hostile input."""
    if not value or not re.fullmatch(r"[\w.\-]+", value) or ".." in value:
        raise DdlError(f"invalid partition value {value!r}")


def parse_type(ch: str) -> tuple[DataType, dict[int, str] | None]:
    """ClickHouse type text → (Spark type, enum labels or None)."""
    ch = ch.strip()
    m = re.fullmatch(r"(\w+)\s*(?:\((.*)\))?", ch, re.DOTALL)
    if not m:
        raise DdlError(f"unparseable type: {ch!r}")
    base, inner = m.group(1), m.group(2)
    if base in ("LowCardinality", "Nullable"):
        # dictionary encoding / nullability are physical attributes in
        # Spark (parquet handles both); the logical type is the inner.
        if inner is None:
            raise DdlError(f"{base} needs an inner type: {ch!r}")
        return parse_type(inner)
    if base in ("Enum8", "Enum16"):
        labels: dict[int, str] = {}
        for entry in split_top(inner or ""):
            em = re.fullmatch(r"\s*'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)\s*", entry)
            if not em:
                raise DdlError(f"bad enum entry {entry!r} in {ch!r}")
            labels[int(em.group(2))] = em.group(1).replace("\\'", "'")
        # query-visible type is the label string (catalog.py:262 and
        # the Enum-label predicate queries, SURVEY §2 B8)
        return StringType(), labels
    if base == "FixedString":
        return StringType(), None
    if base in ("DateTime", "DateTime64"):
        # timezone / precision arguments don't change the Spark type
        return TimestampType(), None
    if base == "Decimal":
        args = split_top(inner or "")
        if len(args) != 2:
            raise DdlError(f"Decimal needs (precision, scale): {ch!r}")
        return DecimalType(int(args[0]), int(args[1])), None
    if base in ("Decimal32", "Decimal64", "Decimal128"):
        prec = {"Decimal32": 9, "Decimal64": 18, "Decimal128": 38}[base]
        return DecimalType(prec, int((inner or "0").strip())), None
    if base == "Array":
        elem, _ = parse_type(inner or "")
        return ArrayType(elem, True), None
    if base == "Map":
        args = split_top(inner or "")
        if len(args) != 2:
            raise DdlError(f"Map needs (key, value): {ch!r}")
        k, _ = parse_type(args[0])
        v, _ = parse_type(args[1])
        return MapType(k, v, True), None
    if base == "Tuple":
        fields = []
        for i, entry in enumerate(split_top(inner or "")):
            nm = re.match(r"`?(\w+)`?\s+(.+)", entry, re.DOTALL)
            if nm:
                fname, ftype = nm.group(1), nm.group(2)
            else:
                fname, ftype = f"_{i + 1}", entry
            t, _ = parse_type(ftype)
            fields.append(StructField(fname, t, True))
        return StructType(fields), None
    if base in _SCALARS and inner is None:
        return _SCALARS[base], None
    if base in _SCALARS:  # e.g. DateTime('UTC') handled above; others odd
        raise DdlError(f"type {base} takes no arguments: {ch!r}")
    raise DdlError(f"unsupported ClickHouse type: {ch!r}")


# --------------------------------------------------------------------------
# CREATE TABLE parsing
# --------------------------------------------------------------------------

#: column modifiers that terminate the type expression
_MODIFIERS = ("MATERIALIZED", "DEFAULT", "ALIAS", "CODEC", "TTL", "COMMENT")


def _parse_column(entry: str) -> ColumnDef:
    m = re.match(r"\s*(?:`([^`]+)`|(\w+))\s+(.*)", entry, re.DOTALL)
    if not m:
        raise DdlError(f"unparseable column entry: {entry!r}")
    name = m.group(1) or m.group(2)
    rest = m.group(3).strip()
    # the first top-level modifier keyword ends the type expression
    materialized = default = None
    mod = find_top(rest, rf"(?i)\b({'|'.join(_MODIFIERS)})\b")
    cut = mod.start() if mod else len(rest)
    first_mod = mod.group(1).upper() if mod else None
    type_text = rest[:cut].strip()
    tail = rest[cut:].strip()
    if first_mod == "MATERIALIZED":
        materialized = tail[len("MATERIALIZED") :].strip()
    elif first_mod == "DEFAULT":
        default = tail[len("DEFAULT") :].strip()
    # ALIAS/CODEC/TTL/COMMENT tails don't affect the stored schema
    spark_type, labels = parse_type(type_text)
    return ColumnDef(name, type_text, spark_type, labels, materialized, default)


def _key_list(text: str) -> list[str]:
    text = text.strip()
    if text.startswith("(") and text.endswith(")"):
        text = text[1:-1]
    return [c.strip().strip("`") for c in split_top(text)]


def parse_create_table(sql: str) -> TableDef:
    """Parse a ClickHouse ``CREATE TABLE`` statement verbatim —
    tolerates the reference's trailing column comma
    (create_db.py:44) and arbitrary whitespace/newlines."""
    m = re.match(
        r"\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"(?:`?(\w+)`?\.)?`?(\w+)`?\s*\(",
        sql,
        re.IGNORECASE,
    )
    if not m:
        raise DdlError(f"not a CREATE TABLE statement: {sql[:80]!r}")
    if_not_exists = m.group(1) is not None
    database = m.group(2) or "default"
    name = m.group(3)
    start = m.end() - 1
    end = matching_close(sql, start)
    if end is None:
        raise DdlError("unbalanced parens in CREATE TABLE")
    body = sql[start + 1 : end]
    columns = [_parse_column(entry) for entry in split_top(body)]
    if not columns:
        raise DdlError("CREATE TABLE with empty column list")
    tail = sql[end + 1 :]

    em = re.search(r"ENGINE\s*=\s*(\w+)\s*(\(([^)]*)\))?", tail, re.IGNORECASE)
    if not em:
        raise DdlError("CREATE TABLE without ENGINE clause")
    engine = em.group(1)
    engine_args = (
        [a.strip().strip("'") for a in split_top(em.group(3))]
        if em.group(3)
        else []
    )

    def clause(kw: str) -> list[str]:
        cm = re.search(
            kw + r"\s+(\([^)]*\)|[\w`.]+)", tail, re.IGNORECASE
        )
        return _key_list(cm.group(1)) if cm else []

    order_by = clause(r"ORDER\s+BY")
    primary_key = clause(r"PRIMARY\s+KEY")
    pm = re.search(
        r"PARTITION\s+BY\s+(\w+\s*\([^)]*\)|\([^)]*\)|[\w`]+)",
        tail,
        re.IGNORECASE,
    )
    partition_expr = pm.group(1).strip().strip("`") if pm else None
    sb = re.search(
        r"SAMPLE\s+BY\s+(\w+\s*\([^)]*\)|\([^)]*\)|[\w`]+)",
        tail,
        re.IGNORECASE,
    )
    sample_by = sb.group(1).strip().strip("`") if sb else None
    settings: dict[str, str] = {}
    sm = re.search(r"SETTINGS\s+(.*)$", tail, re.IGNORECASE | re.DOTALL)
    if sm:
        for kv in split_top(sm.group(1)):
            k, _, v = kv.partition("=")
            if k.strip():
                settings[k.strip()] = v.strip()
    return TableDef(
        database=database,
        name=name,
        columns=columns,
        engine=engine,
        engine_args=engine_args,
        order_by=order_by,
        primary_key=primary_key or order_by[:1],
        settings=settings,
        if_not_exists=if_not_exists,
        partition_expr=partition_expr,
        sample_by=sample_by,
    )


# --------------------------------------------------------------------------
#: ``INSERT INTO db.t [(cols)] SELECT …`` — the ETL form; the source
#: SELECT runs through the dialect shim against the session's views
#: (incl. the warehouse's own), columns match by POSITION like the
#: server.
_INSERT_SELECT_RE = re.compile(
    r"\s*INSERT\s+INTO\s+(?:`?(\w+)`?\.)?`?(\w+)`?\s*"
    r"(?:\(([^)]*)\)\s*)?(SELECT\b.*|WITH\b.*)$",
    re.IGNORECASE | re.DOTALL,
)

#: ``CREATE TABLE db.t ENGINE = … [ORDER BY …] AS SELECT …`` — the
#: schema is derived from the SELECT result (ch_type_of), then the
#: result is the first inserted batch.
_CTAS_RE = re.compile(
    r"\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(?:`?(\w+)`?\.)?`?(\w+)`?\s+"
    r"(ENGINE\s*=.*?)\s+AS\s+(SELECT\b.*|WITH\b.*)$",
    re.IGNORECASE | re.DOTALL,
)


# INSERT … VALUES parsing (reference test.py:35)
# --------------------------------------------------------------------------


def parse_insert_values(sql: str):
    """``INSERT INTO db.tbl (c1, c2) VALUES (…), (…)`` → (db, table,
    cols, rows of python literals).  Covers the literal forms the
    dialect uses: single-quoted strings, ints, floats, NULL.

    The column list runs to its matching close paren (VERDICT r12
    "what's wrong" #3: a ``[^)]*`` regex mis-split the list at the
    first ``)`` inside a parenthesized entry); entries that are
    not bare column names — expressions, DEFAULT — are rejected with
    a clear error rather than mis-parsed."""
    m = re.match(
        r"\s*INSERT\s+INTO\s+(?:`?(\w+)`?\.)?`?(\w+)`?\s*(.*)$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise DdlError(f"not an INSERT … VALUES statement: {sql[:80]!r}")
    database = m.group(1) or "default"
    table = m.group(2)
    rest = m.group(3).lstrip()
    cols = None
    if rest.startswith("("):
        # everything inside the matching close paren is the column
        # list; VALUES must follow
        i = matching_close(rest, 0)
        if i is None:
            raise DdlError(
                f"unbalanced column list in INSERT: {sql[:80]!r}"
            )
        after = rest[i + 1 :].lstrip()
        mv = re.match(r"VALUES\b(.*)$", after, re.IGNORECASE | re.DOTALL)
        if not mv:
            raise DdlError(
                f"not an INSERT … VALUES statement: {sql[:80]!r}"
            )
        entries = split_top(rest[1:i])
        bad = [e for e in entries if not re.fullmatch(r"`?\w+`?", e)]
        if bad:
            raise DdlError(
                "INSERT column list supports bare column names only "
                f"(got {bad[0]!r}) — DEFAULT/expression entries are "
                "not supported; use INSERT … SELECT for computed "
                "columns"
            )
        cols = [e.strip("`") for e in entries]
        rest = mv.group(1)
    else:
        mv = re.match(r"VALUES\b(.*)$", rest, re.IGNORECASE | re.DOTALL)
        if not mv:
            raise DdlError(
                f"not an INSERT … VALUES statement: {sql[:80]!r}"
            )
        rest = mv.group(1)
    rows = []
    for tup in split_top(rest.strip()):
        tup = tup.strip()
        if not (tup.startswith("(") and tup.endswith(")")):
            raise DdlError(f"bad VALUES tuple: {tup!r}")
        rows.append([_literal(v) for v in split_top(tup[1:-1])])
    if not rows:
        raise DdlError("INSERT with no VALUES tuples")
    return database, table, cols, rows


def _literal(text: str):
    text = text.strip()
    if text.upper() == "NULL":
        return None
    if text.startswith("'") and text.endswith("'"):
        return text[1:-1].replace("\\'", "'").replace("''", "'")
    if re.fullmatch(r"-?\d+", text):
        return int(text)
    if re.fullmatch(r"-?\d*\.\d+([eE][+-]?\d+)?", text):
        return float(text)
    raise DdlError(f"unsupported literal in VALUES: {text!r}")


# --------------------------------------------------------------------------
# Materialized-view block trigger — the ONE implementation of
# ClickHouse's insert-trigger semantics (README.md:247-268): the MV
# SELECT runs over the INSERTED BLOCK ONLY, never the source table.
# Used by Warehouse._trigger_mvs (DDL-defined MVs) and by
# streaming/freshness.py's stars maintenance (the streaming transport
# of the same loop) so the two paths cannot drift (VERDICT r12 #8).
# --------------------------------------------------------------------------


def mv_block_output(
    spark,
    mv_select: str,
    source_q: str,
    batch: "DataFrame",
    rewrite_refs=None,
):
    """Run an MV SELECT over one inserted block and return the output
    DataFrame.  ``source_q`` is the db-qualified source the SELECT
    reads FROM; references to it are substituted with the block.

    Table-position references (after FROM/JOIN) — db.tbl, db_tbl, or
    the bare name — become ``__mv_batch AS <name>`` (an explicit or
    implicit alias already present is kept), so column qualifiers
    like ``ev.x`` still resolve (ADVICE r12); remaining db.tbl /
    db_tbl occurrences are column QUALIFIERS, rewritten to the bare
    name.  String literals are never touched.  ``rewrite_refs`` lets
    the caller map OTHER table references (e.g. the Warehouse's
    db.tbl → db_tbl view names) before execution."""
    from clickhub_spark.sql_compat import run as _run

    db, name = source_q.split(".", 1)
    _kw = (
        "WHERE|GROUP|ORDER|HAVING|LIMIT|JOIN|INNER|LEFT|"
        "RIGHT|FULL|CROSS|ON|USING|UNION|INTERSECT|EXCEPT|"
        "SETTINGS|QUALIFY|PREWHERE|SAMPLE|FINAL|WINDOW|"
        "FORMAT|ARRAY"
    )
    table_ref = re.compile(
        rf"(\b(?:FROM|JOIN)\s+)"
        rf"(?:{db}\.{name}|{db}_{name}|{name})\b"
        rf"(\s+AS\s+\w+|\s+(?!(?:{_kw})\b)[A-Za-z_]\w*)?",
        re.IGNORECASE,
    )

    def _sub_table(mm: "re.Match[str]") -> str:
        alias = mm.group(2) or f" AS {name}"
        return f"{mm.group(1)}__mv_batch{alias}"

    segs = split_quoted(mv_select)
    for k, (lit, txt) in enumerate(segs):
        if lit:
            continue
        txt = table_ref.sub(_sub_table, txt)
        txt = re.sub(rf"\b{db}\.{name}\b", name, txt)
        txt = re.sub(rf"\b{db}_{name}\b", name, txt)
        segs[k] = (False, txt)
    sel = "".join(t for _, t in segs)
    # inside foreachBatch the micro-batch frame belongs to a CLONED
    # session whose temp-view catalog is separate from the outer one —
    # register and run on the batch's own session (`spark` is kept in
    # the signature for call-site symmetry, but the batch knows best)
    session = batch.sparkSession
    batch.createOrReplaceTempView("__mv_batch")
    if rewrite_refs is not None:
        sel = rewrite_refs(sel)
    return _run(session, sel)


# --------------------------------------------------------------------------
# Warehouse — the executor
# --------------------------------------------------------------------------

_MERGE_TREE_ENGINES = {
    "MergeTree",
    "ReplacingMergeTree",
    "SummingMergeTree",
    "CollapsingMergeTree",
    "VersionedCollapsingMergeTree",
    "AggregatingMergeTree",
    "GraphiteMergeTree",
}


class Warehouse:
    """Executes DDL/DML statements against a directory-backed catalog.

    Layout: ``{root}/{db}/{table}/_ddl.json`` (metadata) +
    ``{root}/{db}/{table}/data/`` (sort-clustered parquet) or
    ``…/queue/`` (KeeperMap job files).  Metadata is written before
    data, so a table either exists with a schema or not at all.
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._tables: dict[str, TableDef] = {}
        self._queues: dict[str, object] = {}
        self._reload()

    # -- persistence -------------------------------------------------------

    def _dir(self, db: str, table: str) -> str:
        return os.path.join(self.root, db, table)

    def _reload(self) -> None:
        for meta in sorted(
            __import__("glob").glob(os.path.join(self.root, "*", "*", "_ddl.json"))
        ):
            with open(meta, encoding="utf-8") as f:
                d = json.load(f)
            td = _tabledef_from_json(d)
            self._tables[td.qualified] = td

    def _persist(self, td: TableDef) -> None:
        path = self._dir(td.database, td.name)
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, "_ddl.json.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(_tabledef_to_json(td), f, indent=1)
        os.replace(tmp, os.path.join(path, "_ddl.json"))
        self._bump_catalog()

    def _bump_catalog(self) -> None:
        """Invalidate the system-view cache (any metadata or data
        change)."""
        self._catalog_version = getattr(self, "_catalog_version", 0) + 1

    # -- statement dispatch --------------------------------------------------

    def execute(self, sql: str, spark: SparkSession | None = None) -> str:
        """Execute one DDL/DML statement; returns a short status tag.
        SELECTs belong to sql_compat.run — rejected here explicitly."""
        head = sql.strip().split(None, 2)
        verb = (head[0].upper() if head else "") + (
            " " + head[1].upper() if len(head) > 1 else ""
        )
        if verb.startswith("CREATE DATABASE"):
            return self._create_database(sql)
        if verb.startswith(("CREATE VIEW", "CREATE MATERIALIZED")):
            return self._create_view(sql, spark)
        if verb.startswith(("DROP VIEW", "DROP MATERIALIZED")):
            return self._drop_table(
                re.sub(
                    r"DROP\s+(MATERIALIZED\s+)?VIEW", "DROP TABLE", sql,
                    count=1, flags=re.IGNORECASE,
                )
            )
        if verb.startswith("CREATE TABLE"):
            m_ctas = _CTAS_RE.match(sql)
            if m_ctas:
                return self._create_table_as(m_ctas, spark)
            return self._create_table(sql)
        if verb.startswith("DROP TABLE"):
            return self._drop_table(sql)
        if verb.startswith("TRUNCATE"):
            return self._truncate(sql)
        if verb.startswith("INSERT"):
            m_sel = _INSERT_SELECT_RE.match(sql)
            if m_sel:
                return self._insert_select(m_sel, spark)
            return self._insert(sql, spark)
        if verb.startswith("ALTER TABLE"):
            if re.match(
                r"\s*ALTER\s+TABLE\s+(?:`?\w+`?\.)?`?\w+`?\s+(DELETE|UPDATE)\b",
                sql,
                re.IGNORECASE,
            ):
                return self._mutate(sql, spark)
            m_drop = re.match(
                r"\s*ALTER\s+TABLE\s+(?:`?(\w+)`?\.)?`?(\w+)`?\s+"
                r"DROP\s+PARTITION\s+(?:'([^']*)'|(\w+))\s*$",
                sql,
                re.IGNORECASE,
            )
            if m_drop:
                return self._drop_partition(m_drop)
            m_det = re.match(
                r"\s*ALTER\s+TABLE\s+(?:`?(\w+)`?\.)?`?(\w+)`?\s+"
                r"(DETACH|ATTACH)\s+PARTITION\s+(?:'([^']*)'|(\w+))\s*$",
                sql,
                re.IGNORECASE,
            )
            if m_det:
                return self._detach_attach_partition(m_det)
            return self._alter(sql, spark)
        if verb.startswith("OPTIMIZE"):
            return self._optimize(sql, spark)
        if verb.startswith("SHOW"):
            return self._show(sql)
        if verb.startswith(("DESCRIBE", "DESC")):
            return self._describe(sql)
        if verb.startswith("EXISTS"):
            return self._exists(sql)
        if verb.startswith("RENAME"):
            return self._rename(sql)
        raise DdlError(
            f"not a DDL/DML statement (SELECTs go through sql_compat.run): "
            f"{sql[:60]!r}"
        )

    def _create_database(self, sql: str) -> str:
        m = re.match(
            r"\s*CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s*$",
            sql,
            re.IGNORECASE,
        )
        if not m:
            raise DdlError(f"unparseable CREATE DATABASE: {sql!r}")
        path = os.path.join(self.root, m.group(2))
        if os.path.exists(path) and not m.group(1):
            raise DdlError(f"database {m.group(2)} already exists")
        os.makedirs(path, exist_ok=True)
        return "ok"

    def _create_table(self, sql: str) -> str:
        td = parse_create_table(sql)
        if td.qualified in self._tables:
            if td.if_not_exists:
                return "exists"
            raise DdlError(f"table {td.qualified} already exists")
        if td.engine == "KeeperMap":
            if not td.primary_key:
                raise DdlError("KeeperMap requires PRIMARY KEY")
        elif td.engine in _MERGE_TREE_ENGINES:
            if not td.order_by:
                raise DdlError(f"{td.engine} requires ORDER BY")
            known = {c.name for c in td.columns}
            missing = [k for k in td.order_by if k not in known]
            if missing:
                raise DdlError(f"ORDER BY references unknown columns {missing}")
            # the collapsing engines take their sign/version from the
            # engine args — validate at CREATE like the server does,
            # instead of an IndexError when read_final first runs
            need = {"CollapsingMergeTree": 1, "VersionedCollapsingMergeTree": 2}
            n_req = need.get(td.engine)
            if n_req is not None:
                args = self._engine_arg_cols(td)
                if len(args) < n_req:
                    raise DdlError(
                        f"{td.engine} needs {n_req} engine argument(s) "
                        f"(sign{', version' if n_req == 2 else ''}), "
                        f"got {args}"
                    )
                unknown_args = [a for a in args[:n_req] if a not in known]
                if unknown_args:
                    raise DdlError(
                        f"{td.engine} engine args reference unknown "
                        f"columns {unknown_args}"
                    )
        else:
            raise DdlError(f"unsupported engine {td.engine}")
        self._persist(td)
        self._tables[td.qualified] = td
        return "ok"

    def _drop_table(self, sql: str) -> str:
        m = re.match(
            r"\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(?:`?(\w+)`?\.)?`?(\w+)`?\s*$",
            sql,
            re.IGNORECASE,
        )
        if not m:
            raise DdlError(f"unparseable DROP TABLE: {sql!r}")
        db, name = m.group(2) or "default", m.group(3)
        q = f"{db}.{name}"
        if q not in self._tables:
            if m.group(1):
                return "absent"
            raise DdlError(f"table {q} does not exist")
        shutil.rmtree(self._dir(db, name), ignore_errors=True)
        self._tables.pop(q)
        self._queues.pop(q, None)
        # drop the table's sampling-key registrations too — a stale
        # key would silently slice a LATER same-named table by the
        # wrong column (review r15)
        from clickhub_spark.sql_compat import _SAMPLE_KEYS

        _SAMPLE_KEYS.pop(name.lower(), None)
        _SAMPLE_KEYS.pop(f"{db}_{name}".lower(), None)
        self._bump_catalog()
        return "ok"

    def _truncate(self, sql: str) -> str:
        m = re.match(
            r"\s*TRUNCATE\s+(?:TABLE\s+)?(?:`?(\w+)`?\.)?`?(\w+)`?\s*$",
            sql,
            re.IGNORECASE,
        )
        if not m:
            raise DdlError(f"unparseable TRUNCATE: {sql!r}")
        db, name = m.group(1) or "default", m.group(2)
        td = self._require(f"{db}.{name}")
        for sub in ("data", "queue"):
            shutil.rmtree(
                os.path.join(self._dir(td.database, td.name), sub),
                ignore_errors=True,
            )
        self._bump_catalog()
        return "ok"

    def _insert(self, sql: str, spark: SparkSession | None) -> str:
        db, table, cols, rows = parse_insert_values(sql)
        td = self._require(f"{db}.{table}")
        if td.engine == "KeeperMap":
            # enqueue semantics (reference test.py:35 inserts into
            # new_queue to schedule a repo): key column is PRIMARY KEY
            key = td.primary_key[0]
            names = cols or [c.name for c in td.columns]
            if key not in names:
                raise DdlError(f"KeeperMap INSERT must provide {key}")
            ki = names.index(key)
            pi = names.index("priority") if "priority" in names else None
            q = self.queue(f"{db}.{table}")
            for row in rows:
                q.schedule(
                    row[ki], priority=int(row[pi]) if pi is not None else 0
                )
            return f"scheduled {len(rows)}"
        if spark is None:
            raise DdlError("INSERT into a MergeTree table needs a SparkSession")
        schema = td.ingest_schema()
        names = cols or [f.name for f in schema.fields]
        unknown = [n for n in names if n not in schema.fieldNames()]
        if unknown:
            raise DdlError(f"INSERT references unknown columns {unknown}")
        # VALUES literals arrive as python str/int/float/None; route
        # through strings and CAST so '2024-01-01 00:00:00' coerces to
        # TimestampType exactly like a ClickHouse server would
        as_str = StructType(
            [StructField(n, StringType(), True) for n in names]
        )
        df = spark.createDataFrame(
            [tuple(None if v is None else str(v) for v in r) for r in rows],
            schema=as_str,
        ).select(*[F.col(n).cast(schema[n].dataType).alias(n) for n in names])
        self._finish_insert(spark, td, df, names)
        return f"inserted {len(rows)}"

    def _finish_insert(
        self, spark: SparkSession, td: TableDef, df: DataFrame, names: list[str]
    ) -> None:
        """Shared INSERT tail: fill omitted columns with their DEFAULT
        (ClickHouse computes defaults on INSERT), else NULL, so the
        stored schema is stable; then append in ingest-schema order."""
        schema = td.ingest_schema()
        defaults = {c.name: c.default for c in td.columns}
        for f_ in schema.fields:
            if f_.name not in names:
                fill = (
                    F.expr(defaults[f_.name]).cast(f_.dataType)
                    if defaults.get(f_.name) is not None
                    else F.lit(None).cast(f_.dataType)
                )
                df = df.withColumn(f_.name, fill)
        self.insert(
            spark, td.qualified, df.select(*[f.name for f in schema.fields])
        )

    def _insert_select(self, m: re.Match, spark: SparkSession | None) -> str:
        """``INSERT INTO db.t [(cols)] SELECT …`` — the source SELECT
        runs through the dialect shim against the session's registered
        views (incl. this warehouse's own tables), then columns match
        by POSITION with server-style casts, exactly like ClickHouse's
        INSERT SELECT."""
        if spark is None:
            raise DdlError("INSERT … SELECT needs a SparkSession")
        from clickhub_spark.sql_compat import run as _run

        db, table = m.group(1) or "default", m.group(2)
        td = self._require(f"{db}.{table}")
        if td.engine == "KeeperMap":
            raise DdlError("INSERT … SELECT into KeeperMap is not supported")
        schema = td.ingest_schema()
        names = (
            [c.strip().strip("`") for c in split_top(m.group(3))]
            if m.group(3)
            else [f.name for f in schema.fields]
        )
        unknown = [n for n in names if n not in schema.fieldNames()]
        if unknown:
            raise DdlError(f"INSERT references unknown columns {unknown}")
        self.register_views(spark)
        src = _run(spark, m.group(4))
        if len(src.columns) != len(names):
            raise DdlError(
                f"INSERT … SELECT provides {len(src.columns)} columns, "
                f"target list has {len(names)}"
            )
        src = src.toDF(*names).select(
            *[F.col(n).cast(schema[n].dataType).alias(n) for n in names]
        )
        self._finish_insert(spark, td, src, names)
        return f"inserted select into {td.qualified}"

    def _create_table_as(self, m: re.Match, spark: SparkSession | None) -> str:
        """``CREATE TABLE db.t ENGINE = … [ORDER BY …] AS SELECT …`` —
        the column set comes from the SELECT result (Spark types →
        ClickHouse text via ch_type_of), the result is the first
        batch.  MergeTree-family engines only."""
        if spark is None:
            raise DdlError("CREATE TABLE … AS SELECT needs a SparkSession")
        from clickhub_spark.sql_compat import run as _run

        if_not_exists = m.group(1) is not None
        db, name = m.group(2) or "default", m.group(3)
        if f"{db}.{name}" in self._tables:
            if if_not_exists:
                return "exists"
            raise DdlError(f"table {db}.{name} already exists")
        clauses = m.group(4)
        em = re.search(r"ENGINE\s*=\s*(\w+)", clauses, re.IGNORECASE)
        engine = em.group(1) if em else "MergeTree"
        if engine not in _MERGE_TREE_ENGINES:
            raise DdlError(f"CTAS supports MergeTree engines, not {engine}")
        if engine in ("CollapsingMergeTree", "VersionedCollapsingMergeTree"):
            raise DdlError(
                f"CTAS does not parse {engine}'s sign/version engine "
                f"args — CREATE TABLE explicitly, then INSERT … SELECT"
            )
        # capture through the next clause keyword (or end), so an
        # unparenthesized multi-key ORDER BY k1, k2 is not silently
        # truncated to its first key (which would dedup on the wrong
        # key in every _final read)
        om = re.search(
            r"ORDER\s+BY\s+(.+?)(?:\s+(?:PARTITION\s+BY|PRIMARY\s+KEY|"
            r"SETTINGS)\b.*)?$",
            clauses,
            re.IGNORECASE | re.DOTALL,
        )
        order_by = _key_list(om.group(1).strip()) if om else []
        if order_by == ["tuple()"]:
            order_by = []
        self.register_views(spark)
        src = _run(spark, m.group(5))
        cols = []
        for f_ in src.schema.fields:
            ch = ch_type_of(f_.dataType)
            spark_type, labels = parse_type(ch)
            cols.append(ColumnDef(f_.name, ch, spark_type, labels))
        missing = [k for k in order_by if k not in {c.name for c in cols}]
        if missing:
            raise DdlError(f"ORDER BY references absent columns {missing}")
        td = TableDef(
            database=db, name=name, columns=cols, engine=engine,
            order_by=order_by, if_not_exists=if_not_exists,
        )
        os.makedirs(self._dir(db, name), exist_ok=True)
        self._persist(td)
        self._tables[td.qualified] = td
        names = [c.name for c in cols]
        src = src.select(
            *[F.col(n).cast(td.ingest_schema()[n].dataType).alias(n) for n in names]
        )
        self._finish_insert(spark, td, src, names)
        return f"created {td.qualified} as select"

    # -- introspection statements --------------------------------------------

    def _show(self, sql: str) -> str:
        s = sql.strip().rstrip(";").strip()
        if re.fullmatch(r"SHOW\s+DATABASES", s, re.IGNORECASE):
            on_disk = (
                d for d in os.listdir(self.root)
                if os.path.isdir(os.path.join(self.root, d))
            )
            return "\n".join(
                sorted({td.database for td in self._tables.values()} | set(on_disk))
            )
        m = re.fullmatch(
            r"SHOW\s+TABLES(?:\s+FROM\s+`?(\w+)`?)?", s, re.IGNORECASE
        )
        if m:
            db = m.group(1) or "default"
            return "\n".join(
                sorted(
                    td.name for td in self._tables.values() if td.database == db
                )
            )
        m = re.fullmatch(
            r"SHOW\s+CREATE\s+TABLE\s+(?:`?(\w+)`?\.)?`?(\w+)`?",
            s,
            re.IGNORECASE,
        )
        if m:
            return create_statement(
                self._require(f"{m.group(1) or 'default'}.{m.group(2)}")
            )
        raise DdlError(f"unsupported SHOW form: {sql[:60]!r}")

    def _describe(self, sql: str) -> str:
        m = re.fullmatch(
            r"(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?(?:`?(\w+)`?\.)?`?(\w+)`?\s*;?\s*",
            sql.strip(),
            re.IGNORECASE,
        )
        if not m:
            raise DdlError(f"unparseable DESCRIBE: {sql[:60]!r}")
        td = self._require(f"{m.group(1) or 'default'}.{m.group(2)}")
        lines = []
        for c in td.columns:
            extra = ""
            if c.materialized is not None:
                extra = f"\tMATERIALIZED\t{c.materialized}"
            elif c.default is not None:
                extra = f"\tDEFAULT\t{c.default}"
            lines.append(f"{c.name}\t{c.ch_type}{extra}")
        return "\n".join(lines)

    def _exists(self, sql: str) -> str:
        m = re.fullmatch(
            r"EXISTS\s+(?:TABLE\s+)?(?:`?(\w+)`?\.)?`?(\w+)`?\s*;?\s*",
            sql.strip(),
            re.IGNORECASE,
        )
        if not m:
            raise DdlError(f"unparseable EXISTS: {sql[:60]!r}")
        return "1" if f"{m.group(1) or 'default'}.{m.group(2)}" in self._tables else "0"

    def _rename(self, sql: str) -> str:
        """``RENAME TABLE a.b TO c.d[, …]`` — move the table directory
        (metadata travels inside it) and re-persist under the new
        identity; an instant metadata operation like the engine's."""
        m = re.fullmatch(
            r"RENAME\s+TABLE\s+(.+)", sql.strip().rstrip(";"),
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise DdlError(f"unparseable RENAME TABLE: {sql[:60]!r}")
        moves = []
        for pair in split_top(m.group(1)):
            pm = re.fullmatch(
                r"\s*(?:`?(\w+)`?\.)?`?(\w+)`?\s+TO\s+"
                r"(?:`?(\w+)`?\.)?`?(\w+)`?\s*",
                pair,
                re.IGNORECASE,
            )
            if not pm:
                raise DdlError(f"unparseable RENAME pair: {pair!r}")
            src = f"{pm.group(1) or 'default'}.{pm.group(2)}"
            dst_db, dst_name = pm.group(3) or "default", pm.group(4)
            dst = f"{dst_db}.{dst_name}"
            self._require(src)
            if dst in self._tables:
                raise DdlError(f"RENAME target {dst} already exists")
            moves.append((src, dst_db, dst_name))
        import shutil

        for src, dst_db, dst_name in moves:
            td = self._tables.pop(src)
            old_dir = self._dir(td.database, td.name)
            os.makedirs(os.path.join(self.root, dst_db), exist_ok=True)
            shutil.move(old_dir, self._dir(dst_db, dst_name))
            td.database, td.name = dst_db, dst_name
            self._tables[td.qualified] = td
            self._persist(td)
            self._queues.pop(src, None)
        return f"renamed {len(moves)}"

    # -- views and materialized views ------------------------------------------

    def _create_view(self, sql: str, spark: SparkSession | None) -> str:
        """``CREATE VIEW db.v AS SELECT …`` (a stored SELECT,
        registered as a session view) and ``CREATE MATERIALIZED VIEW
        db.mv TO db.target AS SELECT …`` — ClickHouse's INSERT-trigger
        semantics: every INSERT into the FROM table runs the SELECT
        over the INSERTED BLOCK only and appends the result to the
        target (no global recompute; aggregates land as partial states
        the target engine merges on read, e.g. SummingMergeTree).
        The implicit-inner-table form (no TO) is not supported."""
        m = re.match(
            r"\s*CREATE\s+(MATERIALIZED\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?"
            r"(?:`?(\w+)`?\.)?`?(\w+)`?\s*"
            r"(?:TO\s+(?:`?(\w+)`?\.)?`?(\w+)`?\s+)?AS\s+(SELECT\b.*|WITH\b.*)$",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise DdlError(f"unparseable CREATE VIEW: {sql[:80]!r}")
        materialized = m.group(1) is not None
        db, name = m.group(3) or "default", m.group(4)
        if f"{db}.{name}" in self._tables:
            if m.group(2):
                return "exists"
            raise DdlError(f"view {db}.{name} already exists")
        select = m.group(7).strip()
        mv_target = mv_source = None
        if materialized:
            if m.group(6) is None:
                raise DdlError(
                    "CREATE MATERIALIZED VIEW needs an explicit TO table "
                    "(implicit .inner tables are not supported)"
                )
            mv_target = f"{m.group(5) or 'default'}.{m.group(6)}"
            self._require(mv_target)
            fm = re.search(
                r"\bFROM\s+(?:`?(\w+)`?\.)?`?(\w+)`?", select, re.IGNORECASE
            )
            if not fm:
                raise DdlError("MATERIALIZED VIEW SELECT needs a FROM table")
            mv_source = f"{fm.group(1) or 'default'}.{fm.group(2)}"
        elif m.group(6) is not None:
            raise DdlError("TO is only valid for MATERIALIZED VIEW")
        td = TableDef(
            database=db,
            name=name,
            columns=[],
            engine="MaterializedView" if materialized else "View",
            select=select,
            mv_target=mv_target,
            mv_source=mv_source,
        )
        os.makedirs(self._dir(db, name), exist_ok=True)
        self._persist(td)
        self._tables[td.qualified] = td
        if spark is not None:
            self.register_views(spark)
        return f"created view {td.qualified}"

    def _rewrite_table_refs(self, sql: str) -> str:
        """``db.table`` references to THIS warehouse's tables become
        their registered ``db_table`` view names (the dialect shim
        only strips the reference's git./default. prefixes).  String
        literals are inert (a 'db.table' constant stays verbatim)."""
        segs = split_quoted(sql)
        for k, (lit, txt) in enumerate(segs):
            if lit:
                continue
            for q in self._tables:
                db, name = q.split(".", 1)
                txt = re.sub(rf"\b{db}\.{name}\b", f"{db}_{name}", txt)
            segs[k] = (False, txt)
        return "".join(t for _, t in segs)

    def _trigger_mvs(
        self, spark: SparkSession, source_q: str, batch: DataFrame
    ) -> None:
        """Run every MATERIALIZED VIEW whose FROM is ``source_q`` over
        the inserted block and append to its target — chained views
        recurse naturally (a target's own views fire on its insert);
        the depth guard turns a definition cycle into a loud error."""
        mvs = [
            td for td in self._tables.values()
            if td.engine == "MaterializedView" and td.mv_source == source_q
        ]
        if not mvs:
            return
        self._mv_depth = getattr(self, "_mv_depth", 0) + 1
        try:
            if self._mv_depth > 10:
                raise DdlError(
                    f"materialized-view chain deeper than 10 at {source_q} "
                    f"(definition cycle?)"
                )
            for mv in mvs:
                out = mv_block_output(
                    spark,
                    mv.select,
                    source_q,
                    batch,
                    rewrite_refs=self._rewrite_table_refs,
                )
                tgt = self._require(mv.mv_target)
                schema = tgt.ingest_schema()
                names = [f.name for f in schema.fields if f.name in out.columns]
                if not names:
                    raise DdlError(
                        f"MV {mv.qualified}: SELECT columns {out.columns} "
                        f"share no names with target {tgt.qualified}"
                    )
                # ClickHouse matches MV output to the target BY NAME
                aligned = out.select(
                    *[F.col(n).cast(schema[n].dataType).alias(n) for n in names]
                )
                self._finish_insert(spark, tgt, aligned, names)
        finally:
            self._mv_depth -= 1

    def _alter(self, sql: str, spark: SparkSession | None = None) -> str:
        """``ALTER TABLE t ADD COLUMN [IF NOT EXISTS] name Type
        [DEFAULT expr]`` / ``DROP COLUMN [IF EXISTS] name`` /
        ``RENAME COLUMN [IF EXISTS] a TO b`` — pure metadata updates,
        like ClickHouse's instant ALTERs: no data rewrite.  ADDed
        columns read as their DEFAULT (or NULL) from pre-ALTER parquet
        files via the schema-on-read projection in :meth:`read`;
        DROPped columns simply leave the read schema (parquet ignores
        extra file columns); RENAMEd columns record the old name in
        the column's ``renamed_from`` history, which reads coalesce
        through until the next full rewrite clears it.

        ``MODIFY COLUMN name NewType`` is the one data-REWRITING form
        here — exactly ClickHouse, where MODIFY COLUMN is a mutation
        that rewrites parts with the cast applied (only metadata-ish
        changes like comments are instant there)."""
        m = re.match(
            r"\s*ALTER\s+TABLE\s+(?:`?(\w+)`?\.)?`?(\w+)`?\s+"
            r"(ADD|DROP|MODIFY|RENAME)\s+COLUMN\s+"
            r"(IF\s+(?:NOT\s+)?EXISTS\s+)?(.*)$",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise DdlError(
                f"unsupported ALTER TABLE form (ADD/DROP/MODIFY/RENAME "
                f"COLUMN, DROP/DETACH/ATTACH PARTITION, DELETE, UPDATE): "
                f"{sql[:80]!r}"
            )
        db, name, action, guarded, rest = (
            m.group(1) or "default",
            m.group(2),
            m.group(3).upper(),
            m.group(4) is not None,
            m.group(5).strip().rstrip(";").strip(),
        )
        td = self._require(f"{db}.{name}")
        if action == "DROP":
            col = rest.strip().strip("`")
            present = any(c.name == col for c in td.columns)
            if not present:
                if guarded:
                    return "absent"
                raise DdlError(f"column {col!r} does not exist on {td.qualified}")
            if col in td.order_by or col in td.primary_key:
                raise DdlError(f"cannot drop key column {col!r}")
            td.columns = [c for c in td.columns if c.name != col]
            self._persist(td)
            return "ok"
        if action == "RENAME":
            return self._rename_column(td, rest, guarded)
        if action == "MODIFY":
            return self._modify_column(td, rest, spark)
        cdef = _parse_column(rest)
        if any(c.name == cdef.name for c in td.columns):
            if guarded:
                return "exists"
            raise DdlError(f"column {cdef.name!r} already exists on {td.qualified}")
        if any(cdef.name in c.renamed_from for c in td.columns):
            # re-using a previously-renamed name: pre-rename files
            # still PHYSICALLY carry this column name, so the new
            # column would read the renamed column's old values out
            # of them (ghost data — review r15).  Normalize the files
            # to the declared names first; afterwards the new column
            # reads NULL/DEFAULT from every file, like ClickHouse.
            if spark is None:
                raise DdlError(
                    f"ADD COLUMN {cdef.name!r} re-uses a renamed "
                    f"column's old name — needs a SparkSession to "
                    f"normalize the files first"
                )
            self._normalize_table_files(td, spark)
        td.columns.append(cdef)
        self._persist(td)
        return "ok"

    def _rename_column(self, td: TableDef, rest: str, guarded: bool) -> str:
        """``RENAME COLUMN [IF EXISTS] a TO b`` — instant metadata
        change (ClickHouse renames are not mutations): the old name
        goes into ``renamed_from`` and schema-on-read coalesces
        through it for files written before the rename."""
        rm = re.match(r"`?(\w+)`?\s+TO\s+`?(\w+)`?\s*$", rest, re.IGNORECASE)
        if not rm:
            raise DdlError(f"unparseable RENAME COLUMN: {rest!r}")
        old, new = rm.group(1), rm.group(2)
        src = next((c for c in td.columns if c.name == old), None)
        if src is None:
            if guarded:
                return "absent"
            raise DdlError(f"column {old!r} does not exist on {td.qualified}")
        if any(c.name == new for c in td.columns):
            raise DdlError(f"column {new!r} already exists on {td.qualified}")
        if old in td.order_by or old in td.primary_key or old in (
            self._engine_arg_cols(td)
        ):
            raise DdlError(f"cannot rename key/engine column {old!r}")
        # dangling-reference guard (review r15): the old name may be
        # baked into expression metadata that is evaluated by name on
        # every later read/insert
        refs = [("PARTITION BY", td.partition_expr), ("SAMPLE BY", td.sample_by)]
        refs += [
            (f"column {c.name!r} DEFAULT", c.default) for c in td.columns
        ] + [
            (f"column {c.name!r} MATERIALIZED", c.materialized)
            for c in td.columns
        ]
        for what, expr in refs:
            if expr and re.search(rf"\b{re.escape(old)}\b", expr):
                raise DdlError(
                    f"cannot rename {old!r}: referenced by {what} ({expr})"
                )
        src.name = new
        # a rename CYCLE (v -> val -> v) makes the target name an
        # on-disk spelling again: drop it from the history or the
        # normalize pass would coalesce-and-drop the live column
        # (found by round-15 hostile probing)
        src.renamed_from = [old, *[h for h in src.renamed_from if h != new]]
        self._persist(td)
        return "ok"

    def _modify_column(
        self, td: TableDef, rest: str, spark: SparkSession | None
    ) -> str:
        """``MODIFY COLUMN name NewType`` — the ClickHouse mutation:
        rewrite the parts with the cast applied (through the same
        crash-safe swap OPTIMIZE uses), then update the declared
        type.  The rewrite reads through :meth:`read` (declared
        schema + rename history), so mixed-name files from an earlier
        instant RENAME are normalized — and the histories cleared —
        as a side effect."""
        cdef = _parse_column(rest)
        tgt = next((c for c in td.columns if c.name == cdef.name), None)
        if tgt is None:
            raise DdlError(
                f"column {cdef.name!r} does not exist on {td.qualified}"
            )
        if spark is None:
            raise DdlError("MODIFY COLUMN needs a SparkSession")
        if self._has_detached(td):
            # detached files would keep the OLD type (and any old
            # names) past this rewrite and fail or mis-read after a
            # later ATTACH (review r15)
            raise DdlError(
                f"{td.qualified} has detached partitions — ATTACH or "
                f"DROP them before MODIFY COLUMN rewrites the table"
            )
        data = os.path.join(self._dir(td.database, td.name), "data")
        if os.path.isdir(data):
            from clickhub_spark.sources.writer import compact

            schema = _read_schema(td)

            def transform(df, _td=td, _c=cdef):  # noqa: ANN001
                df = _normalize_renames(df, _td)
                return df.withColumn(
                    _c.name, F.col(_c.name).cast(_c.spark_type)
                )

            compact(
                spark,
                data,
                sort_cols=list(td.order_by),
                partition_by=(
                    ["_partition_id"] if td.partition_expr is not None
                    else None
                ),
                transform=transform,
                read_schema=schema,
            )
        tgt.ch_type = cdef.ch_type
        tgt.spark_type = cdef.spark_type
        tgt.enum_labels = cdef.enum_labels
        for c in td.columns:
            c.renamed_from = []  # every file now carries current names
        self._persist(td)
        self._bump_catalog()
        return "ok"

    def _drop_partition(self, m: re.Match) -> str:
        """``ALTER TABLE t DROP PARTITION <value>`` — remove the whole
        ``_partition_id=<value>`` directory: no data read, no rewrite,
        O(1) filesystem metadata work (the MergeTree partition-drop,
        the reference's retention story at scale; the TTL analog
        operators/mutate.drop_expired_partitions does the same by
        cutoff).  Whole-directory removal is atomic from a reader's
        LISTING perspective; in-flight readers of the dropped
        partition fail like any vacuumed table — run during a
        maintenance window, same as the reference.  The value is
        validated against path traversal before any filesystem use
        ('202401/..' would otherwise resolve to the data dir itself
        and rmtree the whole table)."""
        import shutil as _shutil

        db, name = m.group(1) or "default", m.group(2)
        value = m.group(3) if m.group(3) is not None else m.group(4)
        _check_partition_value(value)
        td = self._require(f"{db}.{name}")
        if td.partition_expr is None:
            raise DdlError("DROP PARTITION requires a PARTITION BY table")
        part = os.path.join(
            self._dir(td.database, td.name), "data", f"_partition_id={value}"
        )
        # the partition's mutation scratch siblings
        # (_mutpart__partition_id_<v>[.__prev/.__old/.__mutating_*/…])
        # go too: they leak disk otherwise, and a crash-stranded
        # .__old for this value would be RESURRECTED by recover_table
        # on a later mutation of the same partition value (ADVICE r14)
        import glob as _glob

        data_dir = os.path.join(self._dir(td.database, td.name), "data")
        scratch = os.path.join(data_dir, f"_mutpart__partition_id_{value}")
        stale = [p for p in [scratch, *_glob.glob(scratch + ".*")]
                 if os.path.isdir(p)]
        if not os.path.isdir(part):
            for p in stale:
                _shutil.rmtree(p, ignore_errors=True)
            return f"dropped 0 partitions (no partition {value})"
        _shutil.rmtree(part)
        for p in stale:
            _shutil.rmtree(p, ignore_errors=True)
        self._bump_catalog()
        return f"dropped partition {value}"

    def _detach_attach_partition(self, m: re.Match) -> str:
        """``ALTER TABLE t DETACH PARTITION v`` / ``ATTACH PARTITION
        v`` — move the ``_partition_id=<v>`` directory out of (into)
        the data dir, under the table's ``detached/`` sibling:
        ClickHouse's take-a-partition-offline primitive (backup,
        quarantine, re-ingest), O(1) filesystem metadata at any table
        size — one rename, no data read.  Readers never see detached
        data (it lives outside the data root); ATTACH is the reverse
        rename and fails if the partition already exists in data."""
        db, name = m.group(1) or "default", m.group(2)
        action = m.group(3).upper()
        value = m.group(4) if m.group(4) is not None else m.group(5)
        _check_partition_value(value)
        td = self._require(f"{db}.{name}")
        if td.partition_expr is None:
            raise DdlError(f"{action} PARTITION requires a PARTITION BY table")
        tdir = self._dir(td.database, td.name)
        live = os.path.join(tdir, "data", f"_partition_id={value}")
        parked = os.path.join(tdir, "detached", f"_partition_id={value}")
        src, dst = (live, parked) if action == "DETACH" else (parked, live)
        if not os.path.isdir(src):
            return f"{action.lower()}ed 0 partitions (no partition {value})"
        if os.path.isdir(dst):
            raise DdlError(
                f"partition {value} already present at the "
                f"{action.lower()} destination"
            )
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        self._bump_catalog()
        return f"{action.lower()}ed partition {value}"

    def _mutate(self, sql: str, spark: SparkSession | None) -> str:
        """ClickHouse mutations as statements:

        - ``ALTER TABLE t DELETE WHERE p`` / ``ALTER TABLE t UPDATE
          a = e, … WHERE p`` on a MergeTree table rewrite the parts
          through writer.compact's crash-safe swap (the mutation IS a
          forced merge in ClickHouse too); predicates/expressions run
          through the dialect shim.
        - On a KeeperMap table they execute the reference importer's
          LITERAL coordination statements (repo/importer.py:146-147,
          175): ``UPDATE worker_id = 'w', started_time = '…' WHERE
          repo_name = 'r' AND worker_id = ''`` is the key-specific
          CAS claim (queue.claim_key — 'claimed 0' when another
          worker won, exactly the 0-rows-matched UPDATE), and
          ``DELETE WHERE repo_name = 'r'`` is the release.
        - ``… DELETE/UPDATE … IN PARTITION <value> WHERE p`` on a
          PARTITION BY table routes to the partition-PRUNED rewrite
          (operators/mutate.delete/update_where_partitioned): only the
          named ``_partition_id`` directory is read and swapped — the
          100 TB mutation shape, flat-time-certified by
          ``tools/scale mutation_pruned``.
        """
        from clickhub_spark.sql_compat import translate as _translate

        m = re.match(
            r"\s*ALTER\s+TABLE\s+(?:`?(\w+)`?\.)?`?(\w+)`?\s+"
            r"(DELETE|UPDATE)\b\s*(.*)$",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        db, name = m.group(1) or "default", m.group(2)
        td = self._require(f"{db}.{name}")
        kind, rest = m.group(3).upper(), m.group(4).strip()
        in_partition: str | None = None
        # the keyword inside a string literal is data, not clause (a
        # predicate like note = 'IN PARTITION 5 WHERE x' must not
        # silently rescope the mutation)
        pm = find_code(
            rest, r"(?is)\bIN\s+PARTITION\s+(?:'([^']*)'|(\w+))\s+(?=WHERE\s)"
        )
        if pm:
            in_partition = pm.group(1) if pm.group(1) is not None else pm.group(2)
            rest = (rest[: pm.start()].strip() + " " + rest[pm.end():].strip()).strip()
            if td.partition_expr is None:
                raise DdlError("IN PARTITION requires a PARTITION BY table")
            _check_partition_value(in_partition)
        if kind == "DELETE":
            wm = re.match(r"WHERE\s+(.*)$", rest, re.IGNORECASE | re.DOTALL)
            if not wm:
                raise DdlError("ALTER TABLE … DELETE needs a WHERE clause")
            pred = wm.group(1).strip()
            assigns: dict[str, str] = {}
        else:
            um = re.match(
                r"(.*?)\s+WHERE\s+(.*)$", rest, re.IGNORECASE | re.DOTALL
            )
            if not um:
                raise DdlError("ALTER TABLE … UPDATE needs a WHERE clause")
            assigns = {}
            for entry in split_top(um.group(1)):
                am = re.match(r"(?s)`?(\w+)`?\s*=\s*(.+)$", entry.strip())
                if not am:
                    raise DdlError(f"bad UPDATE assignment: {entry!r}")
                assigns[am.group(1)] = am.group(2).strip()
            pred = um.group(2).strip()
        if td.engine == "KeeperMap":
            return self._mutate_keeper(td, kind, assigns, pred)
        if td.engine not in _MERGE_TREE_ENGINES:
            raise DdlError(
                f"mutations apply to MergeTree/KeeperMap tables, not "
                f"{td.engine}"
            )
        if spark is None:
            raise DdlError("a MergeTree mutation needs a SparkSession")
        data = os.path.join(self._dir(td.database, td.name), "data")
        if not os.path.isdir(data):
            return "empty"
        # mutations read/rewrite the raw files: normalize any pending
        # instant-RENAME history first, or the sampled-footer read
        # would silently drop whichever spelling it lacks — permanent
        # data loss (review r15)
        self._normalize_table_files(td, spark)
        cols = {c.name for c in td.columns}
        bad = [c for c in assigns if c not in cols]
        if bad:
            raise DdlError(f"UPDATE references unknown columns {bad}")
        if any(c in td.order_by for c in assigns):
            raise DdlError(
                "UPDATE of an ORDER BY key column is not allowed "
                "(ClickHouse rejects sorting-key mutations)"
            )
        pred_sql = _translate(pred)
        if in_partition is not None:
            from clickhub_spark.operators.mutate import (
                delete_where_partitioned,
                update_where_partitioned,
            )

            if kind == "DELETE":
                n = delete_where_partitioned(
                    spark, data, "_partition_id", [in_partition],
                    F.coalesce(F.expr(pred_sql), F.lit(False)),
                    sort_cols=list(td.order_by),
                )
            else:
                n = update_where_partitioned(
                    spark, data, "_partition_id", [in_partition],
                    F.coalesce(F.expr(pred_sql), F.lit(False)),
                    {c: F.expr(_translate(e)) for c, e in assigns.items()},
                    sort_cols=list(td.order_by),
                )
            self._bump_catalog()
            return f"mutated partition {in_partition} to {n}"

        def transform(df, _p=pred_sql, _a=assigns):  # noqa: ANN001
            cond = F.expr(_p)
            if kind == "DELETE":
                return df.where(~F.coalesce(cond, F.lit(False)))
            # ClickHouse (like standard SQL UPDATE) evaluates EVERY
            # assignment expression against the PRE-mutation row:
            # ``UPDATE a = b, b = a`` swaps.  One select with all
            # assignments — a chained withColumn would let a later
            # assignment read an earlier one's new value (ADVICE r13).
            out = [
                F.when(cond, F.expr(_translate(_a[c.name])))
                .otherwise(F.col(c.name))
                .alias(c.name)
                if c.name in _a
                else F.col(c.name)
                for c in df.schema.fields
            ]
            return df.select(*out)

        from clickhub_spark.sources.writer import compact

        n = compact(
            spark,
            data,
            sort_cols=list(td.order_by),
            partition_by=(
                ["_partition_id"] if td.partition_expr is not None else None
            ),
            transform=transform,
        )
        self._bump_catalog()
        return f"mutated to {n}"

    def _mutate_keeper(
        self, td: TableDef, kind: str, assigns: dict[str, str], pred: str
    ) -> str:
        """The importer's coordination statements over the queue
        backend (see _mutate docstring).  Supported predicate shape:
        ``repo_name = '<r>' [AND worker_id = '<w>']`` — other
        predicates raise naming the supported form."""
        key = td.primary_key[0]
        pm = re.fullmatch(
            rf"`?{key}`?\s*=\s*'([^']*)'"
            r"(?:\s+AND\s+`?worker_id`?\s*=\s*'([^']*)')?",
            pred.strip(),
            re.IGNORECASE,
        )
        if not pm:
            raise DdlError(
                f"KeeperMap mutation supports `{key} = '<key>' [AND "
                f"worker_id = '<w>']` predicates; got {pred[:60]!r}"
            )
        repo, guard = pm.group(1), pm.group(2)
        q = self.queue(td.qualified)
        if kind == "DELETE":
            worker = guard
            if worker is None:
                job = next(
                    (j for j in q.list_jobs() if j.repo_name == repo), None
                )
                worker = job.worker_id if job else ""
            q.release(repo, worker)
            return "released"
        if guard != "":
            raise DdlError(
                "KeeperMap UPDATE is the optimistic claim — the WHERE "
                "must guard worker_id = '' (repo/importer.py:146-147)"
            )
        wid = assigns.get("worker_id")
        if not wid:
            raise DdlError("KeeperMap UPDATE must assign worker_id")
        wid = wid.strip("'")
        job = q.claim_key(repo, wid)
        return f"claimed {1 if job else 0}"

    def _detached_dir(self, td: TableDef) -> str:
        return os.path.join(self._dir(td.database, td.name), "detached")

    def _has_detached(self, td: TableDef) -> bool:
        det = self._detached_dir(td)
        return os.path.isdir(det) and any(os.scandir(det))

    def _normalize_table_files(self, td: TableDef, spark: SparkSession) -> None:
        """Rewrite the table's files to the DECLARED column names when
        an instant RENAME left old-name files behind — any path that
        reads raw parquet (mutations, ADD COLUMN re-using a historical
        name) must run through this first: Spark's sampled-footer read
        of a mixed-name file set silently drops whichever spelling the
        sampled file lacks (review r15).  Clears the histories; no-op
        without history.  Refuses when DETACHed partitions exist —
        they would keep old-name files past the history clear and read
        as NULL after ATTACH."""
        if not any(c.renamed_from for c in td.columns):
            return
        if self._has_detached(td):
            raise DdlError(
                f"{td.qualified} has detached partitions holding "
                f"pre-rename column names — ATTACH or DROP them before "
                f"an operation that rewrites the files"
            )
        data = os.path.join(self._dir(td.database, td.name), "data")
        if os.path.isdir(data):
            from clickhub_spark.sources.writer import compact

            compact(
                spark,
                data,
                sort_cols=list(td.order_by),
                partition_by=(
                    ["_partition_id"] if td.partition_expr is not None
                    else None
                ),
                transform=lambda df, _td=td: _normalize_renames(df, _td),
                read_schema=_read_schema(td),
            )
        for c in td.columns:
            c.renamed_from = []
        self._persist(td)
        self._bump_catalog()

    def _optimize(self, sql: str, spark: SparkSession | None) -> str:
        """``OPTIMIZE TABLE t [FINAL] [DEDUPLICATE]`` — the MergeTree
        background-merge, on demand: compacts the part files (writer.
        compact's crash-safe swap), applying the engine's merge
        semantics while rewriting — ReplacingMergeTree FINAL collapses
        to the latest version per ORDER BY key; DEDUPLICATE drops
        full-row duplicates."""
        m = re.match(
            r"\s*OPTIMIZE\s+TABLE\s+(?:`?(\w+)`?\.)?`?(\w+)`?"
            r"(\s+FINAL)?(\s+DEDUPLICATE)?\s*$",
            sql,
            re.IGNORECASE,
        )
        if not m:
            raise DdlError(f"unparseable OPTIMIZE TABLE: {sql[:80]!r}")
        db, name = m.group(1) or "default", m.group(2)
        final, dedup = m.group(3) is not None, m.group(4) is not None
        td = self._require(f"{db}.{name}")
        if td.engine not in _MERGE_TREE_ENGINES:
            raise DdlError(f"OPTIMIZE applies to MergeTree tables, not {td.engine}")
        if spark is None:
            raise DdlError("OPTIMIZE needs a SparkSession")
        data = os.path.join(self._dir(td.database, td.name), "data")
        if not os.path.isdir(data):
            return "empty"
        transform = None
        if final and td.engine == "ReplacingMergeTree":
            from clickhub_spark.operators.dedup import final_view

            keys = list(td.order_by)
            # ENGINE-ARG version first — ReplacingMergeTree(ver) must
            # collapse by ver, exactly like read_final; falling back
            # to keys here silently kept an ARBITRARY row per key
            # (found by the r13 concurrency race test)
            version = (
                self._engine_arg_cols(td)
                or td.version_columns()
                or keys
            )

            def transform(df, _k=keys, _v=version):  # noqa: ANN001
                return final_view(df, keys=_k, version=_v)

        if dedup:
            inner = transform

            def transform(df, _inner=inner):  # noqa: ANN001
                return (_inner(df) if _inner else df).distinct()

        from clickhub_spark.sources.writer import compact

        inner2 = transform

        def transform(df, _inner=inner2, _td=td):  # noqa: ANN001
            # normalize any instant-RENAME history first: the merge
            # rewrites every file to the declared column names (and
            # the explicit read schema below keeps mixed-name file
            # sets lossless)
            df = _normalize_renames(df, _td)
            return _inner(df) if _inner else df

        if any(c.renamed_from for c in td.columns) and self._has_detached(td):
            # clearing the history while detached partitions hold
            # old-name files would make a later ATTACH read NULLs
            # (review r15)
            raise DdlError(
                f"{td.qualified} has detached partitions holding "
                f"pre-rename column names — ATTACH or DROP them before "
                f"OPTIMIZE rewrites the table"
            )
        n = compact(
            spark,
            data,
            sort_cols=list(td.order_by),
            partition_by=(
                ["_partition_id"] if td.partition_expr is not None else None
            ),
            transform=transform,
            read_schema=_read_schema(td),
        )
        if any(c.renamed_from for c in td.columns):
            for c in td.columns:
                c.renamed_from = []
            self._persist(td)
        self._bump_catalog()
        return f"optimized {n}"

    # -- table access --------------------------------------------------------

    def _require(self, qualified: str) -> TableDef:
        if qualified not in self._tables:
            raise DdlError(f"table {qualified} does not exist")
        return self._tables[qualified]

    def has_table(self, qualified: str) -> bool:
        return qualified in self._tables

    def table_def(self, qualified: str) -> TableDef:
        return self._require(qualified)

    def queue(self, qualified: str):
        """KeeperMap table → the filesystem WorkQueue backing it."""
        td = self._require(qualified)
        if td.engine != "KeeperMap":
            raise DdlError(f"{qualified} is not a KeeperMap table")
        if qualified not in self._queues:
            from clickhub_spark.queue import WorkQueue

            self._queues[qualified] = WorkQueue(
                os.path.join(self._dir(td.database, td.name), "queue")
            )
        return self._queues[qualified]

    def insert(self, spark: SparkSession, qualified: str, df: DataFrame) -> None:
        """Append a batch: align to the ingest schema, stamp
        MATERIALIZED now() columns, sort-cluster on ORDER BY."""
        from clickhub_spark.sources.writer import write_sorted

        td = self._require(qualified)
        if td.engine not in _MERGE_TREE_ENGINES:
            raise DdlError(f"{qualified} ({td.engine}) is not insertable parquet")
        expect = [f.name for f in td.ingest_schema().fields]
        if list(df.columns) != expect:
            missing = set(expect) - set(df.columns)
            if missing:
                raise DdlError(f"INSERT missing columns {sorted(missing)}")
            df = df.select(*expect)
        for c in td.columns:
            if c.materialized is not None:
                if c.materialized.replace(" ", "") == "now()":
                    df = df.withColumn(c.name, F.current_timestamp())
                else:
                    df = df.withColumn(c.name, F.expr(c.materialized))
        partition_by = None
        if td.partition_expr is not None:
            # materialize ClickHouse's _partition_id virtual column as
            # the hive partition dir: queries filtering on it get
            # PartitionFilters pruning (the MergeTree partition-prune
            # analog); the expression runs through the dialect shim so
            # toYYYYMM(time)-style forms work verbatim
            from clickhub_spark.sql_compat import translate  # noqa: PLC0415

            df = df.withColumn(
                "_partition_id",
                F.expr(translate(td.partition_expr)).cast("string"),
            )
            partition_by = "_partition_id"
        write_sorted(
            df,
            os.path.join(self._dir(td.database, td.name), "data"),
            partition_by=partition_by,
            sort_cols=list(td.order_by),
        )
        self._bump_catalog()
        # ClickHouse materialized views fire per inserted block
        self._trigger_mvs(spark, qualified, df)

    def read(self, spark: SparkSession, qualified: str) -> DataFrame:
        """Schema-on-read projection: the DECLARED schema drives the
        scan, so pre-ALTER files serve ADDed columns as NULL (then
        their DEFAULT below — ClickHouse computes defaults on read
        for old parts the same way) and DROPped columns are simply
        not read."""
        td = self._require(qualified)
        data = os.path.join(self._dir(td.database, td.name), "data")
        # concurrency contract (writer.compact): on Linux the OPTIMIZE
        # swap is one atomic renameat2 exchange and this branch is
        # unreachable mid-swap; on fallback platforms the swap is two
        # renames, so a reader can observe the dir missing for an
        # instant.  Wait it out (bounded) when swap markers prove a
        # mutation is in flight; NEVER "recover" here — renaming
        # .__old back while the writer is between its two renames
        # would make the writer's second rename fail and strand the
        # new data (only the next MUTATION may call recover_table).
        if not os.path.isdir(data):
            import glob as _glob
            import time as _time

            for _ in range(100):
                if os.path.isdir(data):
                    break
                if not (
                    os.path.isdir(f"{data}.__old")
                    or _glob.glob(f"{data}.__compact_*")
                    or _glob.glob(f"{data}.__mutating_*")
                ):
                    break  # genuinely empty table — fail fast below
                _time.sleep(0.05)
        df = spark.read.schema(_read_schema(td)).parquet(data)
        df = _normalize_renames(df, td)
        for c in td.columns:
            if c.default is not None:
                df = df.withColumn(
                    c.name,
                    F.coalesce(
                        F.col(c.name), F.expr(c.default).cast(c.spark_type)
                    ),
                )
        return df

    def _engine_arg_cols(self, td: TableDef) -> list[str]:
        """Engine-argument column names — ``ReplacingMergeTree(ver)``,
        ``SummingMergeTree((a, b))``, ``CollapsingMergeTree(sign)``."""
        out: list[str] = []
        for a in td.engine_args:
            out.extend(
                x.strip().strip("`") for x in a.strip("() ").split(",") if x.strip()
            )
        return out

    def read_final(self, spark: SparkSession, qualified: str) -> DataFrame:
        """Merge-on-read FINAL view per engine:

        - ReplacingMergeTree: last row per ORDER BY key, version = the
          engine-arg column, else the MATERIALIZED ingest timestamp
          (catalog.FINAL_KEYS's shape);
        - SummingMergeTree: numeric non-key columns summed per key
          (engine args narrow the summed set); all-zero-sum rows drop,
          non-summed extras take min() (the engine keeps an arbitrary
          one — min is the deterministic analog);
        - CollapsingMergeTree / VersionedCollapsingMergeTree: the
          engine-exact collapse (operators/collapsing.py), sign (and
          version) from the engine args."""
        from pyspark.sql.types import NumericType

        from clickhub_spark.operators.dedup import final_view

        td = self._require(qualified)
        df = self.read(spark, qualified)
        keys = list(td.order_by)
        args = self._engine_arg_cols(td)
        if td.engine == "ReplacingMergeTree":
            version = args or td.version_columns() or keys
            return final_view(df, keys=keys, version=version)
        if td.engine == "SummingMergeTree":
            numeric = [
                c.name
                for c in td.columns
                if isinstance(c.spark_type, NumericType) and c.name not in keys
            ]
            sum_cols = args or numeric
            others = [
                c.name for c in td.columns
                if c.name not in keys and c.name not in sum_cols
            ]
            agg = [F.sum(c).alias(c) for c in sum_cols] + [
                F.min(c).alias(c) for c in others
            ]
            out = df.groupBy(*keys).agg(*agg)
            if sum_cols:
                keep = None
                for c in sum_cols:
                    cond = F.col(c) != 0
                    keep = cond if keep is None else (keep | cond)
                out = out.where(keep)
            return out.select(*[c.name for c in td.columns])
        if td.engine == "CollapsingMergeTree":
            from clickhub_spark.operators.collapsing import collapse_final

            sign = args[0]
            order = td.version_columns() or keys
            return collapse_final(df, keys=keys, sign=sign, order=order)
        if td.engine == "VersionedCollapsingMergeTree":
            from clickhub_spark.operators.collapsing import (
                collapse_final_versioned,
            )

            sign, version = args[0], args[1]
            order = td.version_columns() or [version]
            # ClickHouse requires the version as the LAST ORDER BY
            # component; the collapse keys are the prefix before it
            cell_keys = [k for k in keys if k != version]
            return collapse_final_versioned(
                df, keys=cell_keys, sign=sign, version=version, order=order
            )
        return df

    #: engines whose read_final differs from the raw read
    _FINAL_ENGINES = {
        "ReplacingMergeTree",
        "SummingMergeTree",
        "CollapsingMergeTree",
        "VersionedCollapsingMergeTree",
    }

    def register_views(self, spark: SparkSession) -> list[str]:
        """Register ``db_table`` (and ``db_table_final`` where the
        engine merges on read) temp views for sql_compat SELECTs.
        Stored Views register after tables (their SELECTs read them);
        a MATERIALIZED VIEW's name reads its TO target, like the
        engine."""
        out = []
        for q, td in self._tables.items():
            if td.engine == "KeeperMap":
                # coordination state as a queryable view — the
                # reference's verify-read (`SELECT worker_id FROM
                # task_table WHERE repo_name = …`, importer.py:151)
                # runs verbatim; the key column takes the declared
                # PRIMARY KEY name
                base = f"{td.database}_{td.name}"
                key = td.primary_key[0]
                jobs = self.queue(q).list_jobs()
                spark.createDataFrame(
                    [
                        (
                            j.repo_name,
                            int(j.priority),
                            float(j.scheduled),
                            float(j.started_time),
                            j.worker_id,
                        )
                        for j in jobs
                    ],
                    f"`{key}` string, priority int, scheduled double, "
                    "started_time double, worker_id string",
                ).createOrReplaceTempView(base)
                out.append(base)
                continue
            if td.engine not in _MERGE_TREE_ENGINES:
                continue
            base = f"{td.database}_{td.name}"
            data_dir = os.path.join(self._dir(td.database, td.name), "data")
            if not os.path.isdir(data_dir):
                continue
            self.read(spark, q).createOrReplaceTempView(base)
            if td.sample_by:
                # the declared SAMPLE BY key powers SAMPLE … OFFSET's
                # deterministic hash-range render (ClickHouse's model:
                # the sampling key is table metadata, not query text)
                from clickhub_spark.sql_compat import set_sample_key

                set_sample_key(base, td.sample_by)
                set_sample_key(td.name, td.sample_by)
            out.append(base)
            if td.engine in self._FINAL_ENGINES:
                self.read_final(spark, q).createOrReplaceTempView(f"{base}_final")
                out.append(f"{base}_final")
        # views may reference each other; a fixpoint loop registers in
        # dependency order regardless of catalog-reload order — a view
        # whose SELECT can't resolve (its dependency never registers)
        # is SKIPPED, matching the engine's error-at-query-time posture
        # rather than one broken view aborting every registration
        pending = [
            td for td in self._tables.values()
            if td.engine in ("View", "MaterializedView")
        ]
        while pending:
            progressed = False
            still = []
            for td in pending:
                base = f"{td.database}_{td.name}"
                try:
                    if td.engine == "MaterializedView":
                        tgt = self._tables.get(td.mv_target)
                        if tgt is None:
                            continue
                        data_dir = os.path.join(
                            self._dir(tgt.database, tgt.name), "data"
                        )
                        if not os.path.isdir(data_dir):
                            continue
                        self.read(spark, td.mv_target).createOrReplaceTempView(
                            base
                        )
                    else:
                        from clickhub_spark.sql_compat import run as _run

                        _run(
                            spark, self._rewrite_table_refs(td.select)
                        ).createOrReplaceTempView(base)
                except Exception:  # noqa: BLE001 — resolve next round
                    still.append(td)
                    continue
                out.append(base)
                progressed = True
            if not progressed:
                break
            pending = still
        out.extend(self.register_system_views(spark))
        return out

    def register_system_views(self, spark: SparkSession) -> list[str]:
        """The engine's introspection relations, from warehouse
        metadata + parquet footers (introspect.table_parts — no data
        scan): ``system.tables`` / ``system.columns`` /
        ``system.parts`` / ``system.databases``, reachable from the
        dialect as ``SELECT … FROM system.tables`` (translate maps the
        qualifier to these ``system_*`` view names).  Cached per
        (session, catalog version): register_views runs after every
        CLI statement, and re-reading every parquet footer each time
        would make metadata cost scale with script length (review
        finding)."""
        cache_key = (id(spark), getattr(self, "_catalog_version", 0))
        if getattr(self, "_sys_views_key", None) == cache_key:
            return ["system_tables", "system_columns", "system_parts",
                    "system_databases", "system_detached_parts"]
        from clickhub_spark.introspect import table_parts

        tbl_rows, col_rows, part_rows, det_rows = [], [], [], []
        for td in self._tables.values():
            data = os.path.join(self._dir(td.database, td.name), "data")
            total_rows = total_bytes = 0
            for p in (table_parts(data) if os.path.isdir(data) else []):
                part_rows.append(
                    (td.database, td.name, p.partition, p.file,
                     p.rows, p.bytes, p.row_groups, True)
                )
                total_rows += p.rows
                total_bytes += p.bytes
            det = os.path.join(self._dir(td.database, td.name), "detached")
            for p in (table_parts(det) if os.path.isdir(det) else []):
                det_rows.append(
                    (td.database, td.name, p.partition, p.file,
                     p.rows, p.bytes)
                )
            tbl_rows.append(
                (td.database, td.name, td.engine, total_rows, total_bytes)
            )
            for i, c in enumerate(td.columns, 1):
                col_rows.append(
                    (td.database, td.name, c.name, c.ch_type, i,
                     c.default, c.materialized)
                )
        for name, rows, schema in (
            (
                "system_tables", tbl_rows,
                "database string, name string, engine string, "
                "total_rows long, total_bytes long",
            ),
            (
                "system_columns", col_rows,
                "database string, table string, name string, type string, "
                "position int, default_expression string, "
                "materialized_expression string",
            ),
            (
                "system_parts", part_rows,
                "database string, table string, partition_id string, "
                "name string, rows long, bytes_on_disk long, "
                "row_groups int, active boolean",
            ),
            (
                "system_databases",
                [(d,) for d in sorted({t.database for t in self._tables.values()})],
                "name string",
            ),
            (
                # ClickHouse's system.detached_parts — what ALTER
                # TABLE … DETACH PARTITION parked, awaiting ATTACH
                "system_detached_parts", det_rows,
                "database string, table string, partition_id string, "
                "name string, rows long, bytes_on_disk long",
            ),
        ):
            spark.createDataFrame(rows, schema).createOrReplaceTempView(name)
        self._sys_views_key = cache_key
        return ["system_tables", "system_columns", "system_parts",
                "system_databases", "system_detached_parts"]


def _tabledef_to_json(td: TableDef) -> dict:
    return {
        "database": td.database,
        "name": td.name,
        "engine": td.engine,
        "engine_args": td.engine_args,
        "order_by": td.order_by,
        "primary_key": td.primary_key,
        "settings": td.settings,
        "partition_expr": td.partition_expr,
        "sample_by": td.sample_by,
        "select": td.select,
        "mv_target": td.mv_target,
        "mv_source": td.mv_source,
        "columns": [
            {
                "name": c.name,
                "type": c.ch_type,
                "materialized": c.materialized,
                "default": c.default,
                "renamed_from": c.renamed_from,
            }
            for c in td.columns
        ],
    }


def _tabledef_from_json(d: dict) -> TableDef:
    cols = []
    for c in d["columns"]:
        spark_type, labels = parse_type(c["type"])
        cols.append(
            ColumnDef(
                c["name"],
                c["type"],
                spark_type,
                labels,
                c.get("materialized"),
                c.get("default"),
                renamed_from=c.get("renamed_from", []),
            )
        )
    return TableDef(
        database=d["database"],
        name=d["name"],
        columns=cols,
        engine=d["engine"],
        engine_args=d.get("engine_args", []),
        order_by=d.get("order_by", []),
        primary_key=d.get("primary_key", []),
        settings=d.get("settings", {}),
        partition_expr=d.get("partition_expr"),
        sample_by=d.get("sample_by"),
        select=d.get("select"),
        mv_target=d.get("mv_target"),
        mv_source=d.get("mv_source"),
    )
