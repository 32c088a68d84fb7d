"""Point UPDATE / DELETE on parquet tables — copy-on-write rewrite
(SURVEY §2.I5-I6: the reference issues ``ALTER TABLE … UPDATE
worker_id=… WHERE …`` for queue claims, repo/importer.py:146-147, and
``DELETE FROM … WHERE repo_name=…`` for release, repo/importer.py:175;
test fixtures also INSERT/DELETE rows, reference test.py:36-42).

ClickHouse mutations rewrite whole parts in the background; the Spark
analog rewrites the table (or, at scale, only the partitions whose
files can contain matching rows — pass ``partition_col`` + values and
everything else is untouched).  Writes go to a temp dir then swap in
ONE atomic ``renameat2(RENAME_EXCHANGE)`` (VERDICT r13 item 4): a
concurrent reader never sees a half-written table NOR a missing path,
and the displaced generation is parked at ``<path>.__prev`` so
executors mid-scan keep their file handles until the next mutation
retires it.  On platforms without the syscall the swap falls back to
two renames, whose brief path-not-found window readers must retry —
the legacy contract ``recover_table`` repairs after a crash.

Scale notes: mutations here are for the small coordination/metadata
tables (the queue holds ≤10k rows, reference config.yml:11).  Fact
tables never mutate — they append, and visibility semantics come from
the FINAL dedup view (operators/dedup.final_view), which is the
100 TB-correct pattern the reference itself uses (ReplacingMergeTree
absorbs re-imports; nothing rewrites terabytes in place).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession


#: renameat2(RENAME_EXCHANGE) support — False only when the syscall
#: itself is absent (ENOSYS / no libc symbol), which is process-global
_EXCHANGE_OK: bool | None = None
#: EINVAL/ENOTSUP are PER-FILESYSTEM verdicts (e.g. one table on NFS
#: must not downgrade every other table's swap to the non-atomic
#: two-rename fallback — ADVICE r14); keyed on st_dev
_EXCHANGE_DEV_OK: dict[int, bool] = {}


def exchange_dirs(a: str, b: str) -> bool:
    """Atomically EXCHANGE two directories via Linux ``renameat2(2)``
    with RENAME_EXCHANGE — the copy-on-write swap without the
    two-rename window: the table path NEVER transiently disappears,
    so concurrent readers cannot observe path-not-found (VERDICT r13
    item 4; the alternative — a version-pointer file — needs every
    reader to resolve the pointer, while the exchange keeps plain
    ``spark.read.parquet(path)`` correct).  Returns False when the
    platform/filesystem lacks the syscall (non-Linux, kernel <3.15,
    some network filesystems) — callers fall back to the documented
    two-rename + recover_table contract."""
    global _EXCHANGE_OK
    if _EXCHANGE_OK is False:
        return False
    try:
        dev = os.stat(a).st_dev
    except OSError:
        dev = None
    if dev is not None and _EXCHANGE_DEV_OK.get(dev) is False:
        return False
    import ctypes
    import errno as _errno

    try:
        libc = ctypes.CDLL(None, use_errno=True)
        fn = libc.renameat2
        fn.argtypes = [
            ctypes.c_int,
            ctypes.c_char_p,
            ctypes.c_int,
            ctypes.c_char_p,
            ctypes.c_uint,
        ]
    except (OSError, AttributeError):
        _EXCHANGE_OK = False  # no syscall anywhere: process-global
        return False
    at_fdcwd, rename_exchange = -100, 2
    rc = fn(at_fdcwd, os.fsencode(a), at_fdcwd, os.fsencode(b), rename_exchange)
    if rc == 0:
        _EXCHANGE_OK = True
        if dev is not None:
            _EXCHANGE_DEV_OK[dev] = True
        return True
    err = ctypes.get_errno()
    if err == _errno.ENOSYS:
        _EXCHANGE_OK = False  # kernel lacks renameat2: global verdict
        return False
    if err == _errno.EXDEV:
        # a cross-device PAIR can't exchange — that says nothing
        # about this filesystem's support, so don't cache (review
        # r15: caching it downgraded every later same-fs swap)
        return False
    if err in (_errno.EINVAL, getattr(_errno, "ENOTSUP", 95)):
        # this FILESYSTEM can't exchange — remember per device only
        if dev is not None:
            _EXCHANGE_DEV_OK[dev] = False
        return False
    raise OSError(err, os.strerror(err), a)


def recover_table(path: str, old: str | None = None) -> bool:
    """Crash recovery for the copy-on-write swap: if a previous
    mutation died between its two renames, the table dir is missing
    and the data sits at the FIXED ``<path>.__old`` name (or the
    caller's ``old`` override for partition-scoped swaps) — restore
    it.  Returns True if a recovery happened.  Called automatically
    at the start of every mutation; exposed for readers that find the
    path missing."""
    old = old or f"{path}.__old"
    if not os.path.exists(path) and os.path.isdir(old):
        os.rename(old, path)
        return True
    return False


def _rewrite(
    spark: SparkSession,
    path: str,
    transform,
    scratch_base: str | None = None,
    sort_cols: list[str] | None = None,
    compression: str | None = None,
) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    base = scratch_base or path
    recover_table(path, old=f"{base}.__old")
    _clean_stale_tmps(base)
    df = spark.read.parquet(path)
    # count observed ON the write job (the incremental_append pattern):
    # a separate count() action would run the full transform twice
    obs = Observation()
    out = transform(df)
    if sort_cols:
        # keep the MergeTree sorted-parts invariant through the
        # rewrite (the whole-table route gets this from compact)
        out = out.sortWithinPartitions(*sort_cols)
    out = out.observe(obs, F.count(F.lit(1)).alias("n"))
    tmp = f"{base}.__mutating_{uuid.uuid4().hex[:8]}"
    w = out.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.parquet(tmp)
    n = obs.get["n"]
    _swap(path, tmp, base=base)
    return n


def _clean_stale_tmps(base: str) -> None:
    """Remove stranded scratch generations from CRASHED swaps: a death
    between the atomic exchange and the ``.__prev`` park leaves the
    displaced data at a random ``.__mutating_``/``.__compact_`` name
    that no reader needs (the table itself is intact after the
    exchange) but that leaks disk and makes Warehouse.read's
    swap-in-flight wait heuristic spin.  Safe under the documented
    single-mutator contract: any such sibling existing when a NEW
    mutation starts must be a crash leftover."""
    import glob as _glob

    for stale in _glob.glob(f"{base}.__mutating_*") + _glob.glob(
        f"{base}.__compact_*"
    ):
        shutil.rmtree(stale, ignore_errors=True)


def _swap(path: str, tmp: str, base: str | None = None) -> None:
    """Publish ``tmp`` as the table at ``path``.  Preferred route: one
    atomic renameat2 RENAME_EXCHANGE — the path never transiently
    disappears, so a concurrent reader can never hit path-not-found
    (VERDICT r13 item 4).  The displaced OLD data (now at ``tmp``) is
    parked at the fixed ``<base>.__prev`` for ONE generation instead
    of deleted immediately: an executor mid-scan on old file handles
    keeps its files until the NEXT mutation retires them.  ``base``
    defaults to ``path``; partition-scoped swaps pass an
    UNDERSCORE-prefixed sibling so the parked/temp dirs stay invisible
    to hive partition discovery (Spark skips ``_*`` paths — a
    ``day=3.__prev`` sibling would otherwise be discovered as a bogus
    partition value).  Fallback (no renameat2): the documented
    two-rename + recover_table contract, where readers wait out the
    brief window."""
    base = base or path
    if exchange_dirs(tmp, path):
        prev = f"{base}.__prev"
        shutil.rmtree(prev, ignore_errors=True)  # retire generation N-2
        os.rename(tmp, prev)
        return
    # FIXED old name (not a random suffix): a crash between the two
    # renames leaves the data at a deterministic location that
    # recover_table restores — random suffixes made the stranded dir
    # unidentifiable.
    old = f"{base}.__old"
    shutil.rmtree(old, ignore_errors=True)  # leftover from a crashed rmtree
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def delete_where(spark: SparkSession, path: str, predicate: Column) -> int:
    """DELETE FROM <path> WHERE predicate; returns remaining row count."""
    return _rewrite(spark, path, lambda df: df.where(~predicate))


def update_where(
    spark: SparkSession, path: str, predicate: Column, assignments: dict[str, Column]
) -> int:
    """UPDATE <path> SET col=expr, … WHERE predicate (copy-on-write)."""
    from pyspark.sql import functions as F

    def transform(df: DataFrame) -> DataFrame:
        for col, expr in assignments.items():
            df = df.withColumn(col, F.when(predicate, expr).otherwise(F.col(col)))
        return df

    return _rewrite(spark, path, transform)


def _mutate_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    values: list,
    transform,
    sort_cols: list[str] | None = None,
) -> int:
    """Partition-pruned mutation on a hive-layout table
    (``<path>/<partition_col>=<value>/``): rewrite ONLY the partitions
    named in ``values`` — each through its own atomic ``_swap`` — and
    never read, shuffle, or rewrite the rest.  This is the 100 TB
    mutation shape (ClickHouse's mutations likewise rewrite only the
    parts whose min/max index can match): cost scales with TOUCHED
    data, not table size — ``tools/scale mutation_pruned`` certifies
    ~flat delete time as the table grows 10x with fixed partition
    size.  The partition column is a dir name, not a stored column:
    it is re-materialized as a literal for the transform's predicate
    and dropped again before the write.  Returns surviving rows
    across the touched partitions."""
    from pyspark.sql import functions as F

    total = 0
    for v in values:
        part = os.path.join(path, f"{partition_col}={v}")
        if not os.path.isdir(part):
            continue
        # scratch dirs UNDERSCORE-prefixed so hive partition discovery
        # never sees the temp/parked generations as partition values
        scratch = os.path.join(path, f"_mutpart_{partition_col}_{v}")
        total += _rewrite(
            spark,
            part,
            lambda df, _v=v: transform(
                df.withColumn(partition_col, F.lit(_v))
            ).drop(partition_col),
            scratch_base=scratch,
            sort_cols=sort_cols,
            compression="zstd",
        )
    return total


def delete_where_partitioned(
    spark: SparkSession,
    path: str,
    partition_col: str,
    values: list,
    predicate: Column,
    sort_cols: list[str] | None = None,
) -> int:
    """DELETE … WHERE on a hive-partitioned table touching only the
    ``values`` partitions (see ``_mutate_partitions``).  The predicate
    may reference ``partition_col``.  Returns surviving rows in the
    touched partitions."""
    return _mutate_partitions(
        spark, path, partition_col, values,
        lambda df: df.where(~predicate), sort_cols=sort_cols,
    )


def update_where_partitioned(
    spark: SparkSession,
    path: str,
    partition_col: str,
    values: list,
    predicate: Column,
    assignments: dict[str, Column],
    sort_cols: list[str] | None = None,
) -> int:
    """UPDATE … WHERE on a hive-partitioned table touching only the
    ``values`` partitions (see ``_mutate_partitions``).  All
    assignments evaluate against the pre-mutation row (one select,
    the ClickHouse/standard-SQL contract)."""
    from pyspark.sql import functions as F

    def transform(df: DataFrame) -> DataFrame:
        return df.select(
            *[
                F.when(predicate, assignments[f.name])
                .otherwise(F.col(f.name))
                .alias(f.name)
                if f.name in assignments
                else F.col(f.name)
                for f in df.schema.fields
            ]
        )

    return _mutate_partitions(
        spark, path, partition_col, values, transform, sort_cols=sort_cols
    )


def insert_rows(spark: SparkSession, path: str, rows: DataFrame) -> None:
    """INSERT INTO <path> (append; dedup visibility via FINAL view)."""
    rows.write.mode("append").parquet(path)


def optimize_final(
    spark: SparkSession,
    path: str,
    keys: list[str],
    version: list[str],
    target_files: int = 8,
) -> int:
    """``OPTIMIZE TABLE … FINAL`` analog: physically rewrite the table
    keeping only the latest version per key (the dedup the FINAL view
    applies at read time), sorted and compacted.  Run it when the
    duplicate ratio makes the read-time dedup's shuffle noticeable —
    after it, FINAL reads are scans.  Same writers-paused /
    transient-path-not-found contract as ``compact``.  Returns the
    surviving row count."""
    from clickhub_spark.operators.dedup import final_view

    return _rewrite(
        spark,
        path,
        lambda df: final_view(df, keys=keys, version=version)
        .repartition(target_files)
        .sortWithinPartitions(*keys),
    )


def optimize_final_collapsing(
    spark: SparkSession,
    path: str,
    keys: list[str],
    sign: str,
    order: list[str],
    target_files: int = 8,
) -> int:
    """``OPTIMIZE TABLE … FINAL`` for a CollapsingMergeTree-style
    sign-changelog table: physically collapse the changelog
    (operators/collapsing.py semantics — net>0 keeps the last state,
    net<0 keeps the first cancel, net=0 vanishes unless the changelog
    ends on a state, which keeps the engine's (first cancel, last
    state) pair), compacted and sorted by the key.  Idempotent: a
    collapsed table is a fixed point (a lone ±1 survives as itself; a
    kept cancel+state pair re-collapses to the same pair, the cancel
    ordering before the state).  Same writers-paused contract as
    ``compact``.  Returns the surviving row count."""
    from clickhub_spark.operators.collapsing import collapse_final

    return _rewrite(
        spark,
        path,
        lambda df: collapse_final(df, keys=keys, sign=sign, order=order)
        .repartition(target_files)
        .sortWithinPartitions(*keys),
    )


def apply_ttl(spark: SparkSession, path: str, ts_col: str, cutoff) -> int:
    """``TTL <ts_col> + INTERVAL …`` analog: drop rows older than
    ``cutoff`` (copy-on-write).  At 100 TB, date-partitioned tables
    should instead drop whole partition directories — this rewrite
    form is for the small state tables, same as the other mutations
    here.  Returns the surviving row count."""
    from pyspark.sql import functions as F

    return _rewrite(spark, path, lambda df: df.where(F.col(ts_col) >= F.lit(cutoff)))


def drop_expired_partitions(path: str, partition_col: str, cutoff: str) -> int:
    """The 100 TB TTL path ``apply_ttl``'s docstring promises:
    directory-level partition drops on a ``partition_col=value``
    hive-layout table — no data read, no rewrite, O(#partitions)
    filesystem metadata work (ClickHouse's `ALTER TABLE ... DROP
    PARTITION`, the reference's retention story at scale).

    ``cutoff`` compares against the partition directory's STRING value
    (hive partition values are strings); use zero-padded /
    ISO-formatted partition values so lexicographic order is temporal
    order — the same contract hive-style date partitioning already
    requires for pruning.  Returns the number of partitions dropped.
    Whole-directory removal is atomic per partition from a reader's
    perspective (a scan either lists the dir or doesn't); in-flight
    readers of a dropped partition fail like any vacuumed table —
    run during a maintenance window, same as the reference."""
    dropped = 0
    prefix = f"{partition_col}="
    for entry in sorted(os.listdir(path)):
        if not entry.startswith(prefix):
            continue
        value = entry[len(prefix):]
        if value < cutoff:
            shutil.rmtree(os.path.join(path, entry))
            dropped += 1
    return dropped


# --- snapshot versioning / time travel ------------------------------------
#
# The copy-on-write ops above REPLACE the table dir (old data deleted
# once the swap lands).  The snapshot layer below retains every
# version instead — the lakehouse time-travel contract (Iceberg/Delta
# shape, re-expressed on plain dirs): writers publish immutable
# version directories and flip ONE atomically-renamed pointer file;
# readers resolve the pointer (or an explicit version) and scan that
# directory.  Concurrent readers of v(N) are never disturbed by the
# publish of v(N+1) — snapshot isolation from immutability + rename
# atomicity, no lock.  Retention is explicit (prune_snapshots), never
# implicit.

_SNAPDIR = "_snapshots"
_POINTER = "_current"


def _snap_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _SNAPDIR, f"v{version:08d}")


def current_version(table_dir: str) -> int:
    """Latest published version, or -1 for an empty table dir."""
    ptr = os.path.join(table_dir, _POINTER)
    if not os.path.exists(ptr):
        return -1
    with open(ptr) as f:
        return int(f.read().strip())


def _publish(table_dir: str, version: int) -> None:
    ptr = os.path.join(table_dir, _POINTER)
    tmp = f"{ptr}.__tmp_{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.rename(tmp, ptr)  # atomic pointer flip


def snapshot_write(df: DataFrame, table_dir: str) -> int:
    """Publish ``df`` as the next version; returns the version id.
    The version dir is written fully before the pointer flips, so a
    crash mid-write leaves the table at the previous version."""
    v = current_version(table_dir) + 1
    path = _snap_path(table_dir, v)
    build = f"{path}.__build_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(build)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    os.rename(build, path)
    _publish(table_dir, v)
    return v


def read_snapshot(spark: SparkSession, table_dir: str, version: int | None = None) -> DataFrame:
    """Time-travel read: the current version by default, or any
    retained ``version``."""
    v = current_version(table_dir) if version is None else version
    if v < 0:
        raise ValueError(f"no published snapshot in {table_dir}")
    path = _snap_path(table_dir, v)
    if not os.path.isdir(path):
        raise ValueError(f"snapshot v{v} not retained in {table_dir}")
    return spark.read.parquet(path)


def snapshot_mutate(spark: SparkSession, table_dir: str, transform) -> int:
    """Copy-on-write into a NEW version (old versions untouched) —
    DELETE/UPDATE with history.  Returns the new version id."""
    return snapshot_write(transform(read_snapshot(spark, table_dir)), table_dir)


def prune_snapshots(table_dir: str, keep: int = 3) -> int:
    """Drop all but the newest ``keep`` versions (never the current
    one) and sweep any ``.__build_*`` leftovers from crashed writes;
    returns how many VERSIONS were removed.  ``keep=0`` retains only
    the current version.  Only ``v########`` dirs count as versions —
    a stale build dir must never occupy a keep slot (it would push a
    real retained version out)."""
    import re

    if keep < 0:
        raise ValueError(f"keep must be >= 0, got {keep}")
    snapdir = os.path.join(table_dir, _SNAPDIR)
    entries = sorted(os.listdir(snapdir))
    for e in entries:
        if "__build_" in e:
            shutil.rmtree(os.path.join(snapdir, e), ignore_errors=True)
    cur = current_version(table_dir)
    snaps = [e for e in entries if re.fullmatch(r"v\d{8}", e)]
    # keep=0 must mean "keep nothing but current", but snaps[:-0] is
    # [] (the ADVICE r5 short-circuit kept EVERYTHING) — slice only
    # for keep > 0
    candidates = snaps[:-keep] if keep > 0 else snaps
    victims = [s for s in candidates if s != f"v{cur:08d}"]
    for s in victims:
        shutil.rmtree(os.path.join(snapdir, s))
    return len(victims)


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
    keys: list[str],
) -> DataFrame:
    """Change-data-capture between two retained versions: one row per
    changed key with change_type ∈ {insert, delete, update}.  A full
    outer join on ``keys`` classifies rows; non-key columns are
    compared as a struct, so any column change is an update.  The
    changefeed a downstream incremental consumer replays instead of
    re-reading the whole table."""
    from pyspark.sql import functions as F

    a = read_snapshot(spark, table_dir, v_from)
    b = read_snapshot(spark, table_dir, v_to)
    # value columns = UNION of both versions' non-key columns, with
    # absences null-filled: a column ADDED between versions must make
    # its rows diff as updates (the backfill a consumer replays), and
    # a DROPPED column must not crash the select.
    val_cols = [c for c in a.columns if c not in keys]
    val_cols += [c for c in b.columns if c not in keys and c not in val_cols]
    # typed nulls for absences: an untyped NULL field would make the
    # two struct types unequal and break the comparison
    types = {**dict(a.dtypes), **dict(b.dtypes)}

    def pack(df):
        fields = [
            F.col(c).alias(c)
            if c in df.columns
            else F.lit(None).cast(types[c]).alias(c)
            for c in val_cols
        ]
        return df.select(*keys, F.struct(*fields).alias("__vals"))

    old = pack(a).withColumnRenamed("__vals", "__old")
    new = pack(b).withColumnRenamed("__vals", "__new")
    j = old.join(new, keys, "full_outer")
    change = (
        F.when(F.col("__old").isNull(), F.lit("insert"))
        .when(F.col("__new").isNull(), F.lit("delete"))
        .when(F.col("__old") != F.col("__new"), F.lit("update"))
    )
    return (
        j.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(*keys, "change_type", "__old", "__new")
    )
