"""Sorted/partitioned parquet writer + incremental high-water-mark
append — the MergeTree storage analog.

- ``write_sorted``: ``ORDER BY (repo_name, time, hash)`` clustering +
  sparse index (reference README.md:133-134, index_granularity 8192)
  maps to repartition-by-key + sortWithinPartitions before a parquet
  write: partition dirs give Catalyst partition pruning, the sort
  gives parquet row-group min/max skipping — the same two pruning
  levels the sparse primary index provides.

- ``incremental_append``: the reference's idempotent re-import
  (``SELECT max(time) WHERE repo_name=…`` then ``WHERE time >
  '{max_time}'`` — repo/importer.py:95,107).  Appending is safe under
  replay because reads go through the FINAL dedup view
  (operators/dedup.final_view), exactly like ReplacingMergeTree
  absorbing duplicate keys at merge.  One Spark job per import: the
  watermark comes from footers and the row count from the write.

- ``read_table``: the one table-read path — every open of a stored
  table directory, with one rule each for an absent table, a swap in
  flight, a dead swap, the schema, a part subset and errors.

- ``high_water_mark`` / ``footer_answers``: per-key questions answered
  from part footers (introspect.table_parts — each part's row count
  and per-column min/max/null count, the analog of a MergeTree part's
  primary and min/max index).  A part written by one import holds one
  repo, so its footer alone answers ``max(time)`` for that repo; Spark
  reads only the parts a footer cannot answer (INT96 timestamps,
  multi-repo parts left by compaction, partitioned layouts), and a
  question every footer answers runs no Spark job.

- ``compact``: the one table-rewrite path — the MergeTree merge
  behind compaction, OPTIMIZE … FINAL, mutations, TTL and the
  retention rollup (operators/mutate, operators/retention, ddl).

Scale notes (100 TB): partition column must be coarse (repo bucket /
date, not raw repo_name — 128k repos would mean 128k dirs,
reference repos.txt); `maxRecordsPerFile` bounds file sizes; writers
never coordinate — idempotency comes from append+dedup-view, not
locks.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from typing import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType, TimestampType

from clickhub_spark.introspect import ColumnStats, PartInfo, hidden, table_parts


def write_sorted(
    df: DataFrame,
    path: str,
    partition_by: str | None,
    sort_cols: list[str],
    mode: str = "append",
    compression: str = "zstd",
    bloom_cols: list[str] | None = None,
) -> None:
    """Cluster rows for pruning: partition dirs + in-file sort order.

    Default codec is zstd: at 100 TB the fact tables are storage- and
    scan-bandwidth-bound, and zstd's ~30% smaller files than snappy
    (on sorted analytics data) buy strictly more than its extra CPU —
    the same trade the reference's MergeTree makes with its ZSTD
    column codecs.

    ``bloom_cols`` writes a parquet bloom filter per listed column —
    the ClickHouse `INDEX ... TYPE bloom_filter` skip-index analog.
    The sort key already gives min/max row-group skipping; blooms
    cover POINT lookups on high-cardinality columns that are NOT in
    the sort prefix (actor id, session id), where min/max ranges span
    everything and would skip nothing.  The parquet reader consults
    the bloom before decompressing a row group, so at 100 TB an
    `actor_id = X` probe touches ~the row groups that contain X
    instead of every one.  Costs ~1 MB/row-group/column — list only
    columns that are genuinely probed by equality.  Note parquet-mr
    omits the bloom while a column stays fully dictionary-encoded
    (the dictionary is already an exact membership filter), so the
    option only materializes bytes on high-cardinality columns —
    which is the only place it helps anyway."""
    out = df
    if partition_by:
        out = out.repartition(F.col(partition_by))
    elif sort_cols:
        # Range-cluster BEFORE the in-file sort: sortWithinPartitions
        # alone leaves every output file spanning the full key range
        # (each pre-existing partition holds a slice of everything), so
        # min/max skipping prunes nothing table-wide.  repartitionByRange
        # gives files DISJOINT key ranges — a one-month predicate then
        # reads ~1/32 of the files instead of all of them, which is the
        # entire point of a sort-clustered copy at 100 TB.
        out = out.repartitionByRange(*[F.col(c) for c in sort_cols])
    if sort_cols:  # a keyless table (ORDER BY tuple()) keeps input order
        out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.mode(mode).option("compression", compression)
    for col in bloom_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def _settle(path: str) -> str | None:
    """The local directory of the stored table ``path`` after the swap
    rules of :func:`read_table`, or None when the table is absent."""
    from clickhub_spark.operators.mutate import recover_table, swap_in_flight

    local = path.removeprefix("file:")
    for _ in range(100):
        if os.path.isdir(local) or not swap_in_flight(local):
            break
        time.sleep(0.05)
    else:
        recover_table(local)
    if not os.path.isdir(local) or all(hidden(e) for e in os.listdir(local)):
        return None
    return local


def read_table(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    files: Sequence[str] | None = None,
) -> DataFrame | None:
    """Open the stored table directory ``path`` — the only function
    that does.  The read rules:

    - **Absent table:** ``None`` when there is no directory, or when it
      holds only entries Spark's file listing skips
      (introspect.hidden: ``.``-prefixed, or ``_``-prefixed without
      ``=`` — e.g. the ``_staging_*`` dir of an in-flight first
      ``incremental_append``).  Each caller decides what an absent
      table means for it.
    - **Swap in flight:** when the directory is missing but swap
      siblings exist (operators/mutate.swap_in_flight — the two-rename
      fallback of ``_swap`` is between its renames), wait for the
      writer to publish, polling for at most 5 s.
    - **Dead swap:** if the directory is still missing after the wait,
      no writer is alive: restore the half-swapped generation
      (operators/mutate.recover_table) and read it.
    - **Schema:** read under ``schema`` when given — the table's
      declared schema, which spares the footer-inference Spark job and
      keeps a mixed-schema file set (an instant RENAME COLUMN) whole.
    - **Part subset:** with ``files`` (data files of the table, as
      :func:`table_files` lists them), read only those, with
      ``basePath`` at the table directory so partition columns still
      come from the paths; ``None`` when ``files`` is empty.  The swap
      rules ran when the files were listed.
    - **Errors:** every other error propagates.  An unreadable table is
      an error, never "no rows"."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    if files is not None:
        if not files:
            return None
        return reader.option("basePath", path.removeprefix("file:")).parquet(*files)
    if _settle(path) is None:
        return None
    return reader.parquet(path)


def table_files(path: str) -> list[PartInfo] | None:
    """The data files :func:`read_table` reads for ``path``, each with
    its cached footer (introspect.table_parts; an unreadable footer is
    None, for Spark to read and raise on), after the same swap rules;
    None when the table is absent."""
    local = _settle(path)
    return None if local is None else table_parts(local, strict=False)


def _matches(stats: ColumnStats | None, schema: StructType | None, col: str) -> bool:
    """Whether footer ``stats`` carry exact bounds of the values Spark
    reads for ``col`` under ``schema`` (None: the footer's own type)."""
    if stats is None or stats.min is None:
        return False
    if schema is None:
        return True
    want = StringType() if stats.kind == "string" else TimestampType()
    return col in schema.fieldNames() and schema[col].dataType == want


def footer_answers(
    parts: list[PartInfo],
    key_col: str,
    col: str | None = None,
    key: str | None = None,
    schema: StructType | None = None,
) -> tuple[list[tuple[str, ColumnStats | None]], list[str]]:
    """Split ``parts`` for a per-key question into ``(answered, rest)``.

    ``answered`` holds ``(key, stats of col)`` for each part whose
    footer answers: an unpartitioned part whose ``key_col`` is a
    string with min = max and no NULL, and — when ``col`` is asked
    about — whose ``col`` has exact bounds (:func:`_matches`).
    ``rest`` lists the parts Spark must read: INT96 timestamps,
    multi-key parts left by compaction, partitioned layouts, a missing
    statistic or an unreadable footer.  Parts with no rows, and — when
    ``key`` is given — parts whose ``key_col`` range excludes it, are
    in neither list: they hold no row of the answer."""
    answered, rest = [], []
    for p in parts:
        f = p.footer
        if f is not None and f.rows == 0:
            continue
        ks = f.columns.get(key_col) if f is not None and not p.partition else None
        if not _matches(ks, schema, key_col) or ks.kind != "string" or ks.nulls is None:
            rest.append(p.path)
            continue
        if key is not None and not ks.min <= key <= ks.max:
            continue
        stats = None if col is None else f.columns.get(col)
        if ks.min == ks.max and ks.nulls == 0 and (col is None or _matches(stats, schema, col)):
            answered.append((ks.min, stats))
        else:
            rest.append(p.path)
    return answered, rest


def _footer_value(kind: str, raw):
    """A footer bound as Spark's ``collect`` returns it (a timestamp
    under the process ``TZ``, like ``TimestampType.fromInternal``)."""
    return TimestampType().fromInternal(raw) if kind == "timestamp" else raw


def _footer_literal(kind: str, raw) -> Column:
    """A footer bound as an exact Spark literal (micros, not a local
    datetime, so no ``TZ`` round trip can shift it)."""
    return F.timestamp_micros(F.lit(raw)) if kind == "timestamp" else F.lit(raw)


def high_water_mark(
    spark: SparkSession, path: str, time_col: str, key_col: str, key: str, schema=None
):
    """Read the incremental watermark (≙ SELECT max(time) … WHERE
    repo_name=…, reference repo/importer.py:95) under ``schema``.
    Returns None when the table doesn't exist yet or holds no rows for
    the key.

    Answered from part footers (:func:`footer_answers`, the part
    min/max index); only the parts a footer cannot answer are read by
    Spark, whose ``max`` is merged with the footer maximum in the same
    job.  When no part is left for Spark, no job runs."""
    parts = table_files(path)
    if parts is None:
        return None
    answered, rest = footer_answers(parts, key_col, time_col, key, schema)
    top = max(answered, key=lambda a: a[1].max, default=None)
    if not rest:
        return None if top is None else _footer_value(top[1].kind, top[1].max)
    hwm = F.max(time_col)
    if top is not None:
        hwm = F.greatest(hwm, _footer_literal(top[1].kind, top[1].max))
    row = (
        read_table(spark, path, schema, rest)
        .where(F.col(key_col) == key)
        .agg(hwm.alias("hwm"))
        .first()
    )
    return row.hwm if row else None


def incremental_append(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    time_col: str,
    key_col: str,
    key: str,
    sort_cols: list[str] | None = None,
) -> int:
    """Append only rows past the stored high-water mark for ``key``
    (≙ the `WHERE time > '{max_time}'` cut, repo/importer.py:107).
    Returns the number of rows appended.

    The count comes from an ``Observation`` on the staged write itself
    (the ingest-scale shape: no second pass over the input, and no
    pre-write action).  A write that observed 0 rows — a no-op replay —
    publishes nothing: its staging directory is removed, so replays
    add no empty part files.  With the watermark answered from part
    footers (:func:`high_water_mark`), an import is one Spark job.

    Concurrency: N worker PROCESSES append to one table (the
    start_workers fleet), and concurrent ``mode("append")`` jobs from
    separate Spark applications clobber each other's shared
    ``_temporary`` committer directory — one worker's files vanish.
    So each append writes to a private ``_staging_<uuid>`` dir first
    (underscore-prefixed → invisible to readers) and then publishes by
    renaming the part files into the table; part names carry a
    per-task UUID, so publishes never collide.  Publish is atomic per
    file, not per job — the same non-transactional-batch contract as
    the reference's INSERT loop (repo/importer.py:107), with the
    queue's insert-if-absent preventing two live jobs for one key.
    Local/NFS filesystems here; on an object store this function is
    the seam to swap for a committer or table format with atomic
    multi-file commit."""
    hwm = high_water_mark(spark, path, time_col, key_col, key, df.schema)
    fresh = df if hwm is None else df.where(F.col(time_col) > F.lit(hwm))
    obs = Observation()
    out = fresh.observe(obs, F.count(F.lit(1)).alias("n")).sortWithinPartitions(
        *(sort_cols or [time_col])
    )
    local = path.removeprefix("file:")
    staging = os.path.join(local, f"_staging_{uuid.uuid4().hex}")
    out.write.mode("overwrite").parquet(staging)
    n = int(obs.get["n"])
    try:
        if n:
            for name in os.listdir(staging):
                if name.startswith("part-"):
                    os.rename(os.path.join(staging, name), os.path.join(local, name))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return n


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Bucketed table write — the co-located-join layout (SURVEY §7
    M9: pre-shuffle once at write time, then every join/agg on the
    bucket column runs shuffle-free).  This is the Spark analog of
    sharding MergeTree tables by sort-key prefix: at 100 TB the big
    fact↔fact joins (lineitem↔orders) should both be bucketed on the
    join key so neither side exchanges at query time."""
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a previous session's managed-table dir survives the in-memory
    # catalog; remove it or saveAsTable raises LOCATION_ALREADY_EXISTS
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{warehouse}/{table.lower()}", ignore_errors=True)
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)


def compact(
    spark: SparkSession,
    path: str,
    sort_cols: Sequence[str] = (),
    target_files: int | None = 8,
    partition_by: list[str] | None = None,
    transform=None,
    read_schema=None,
    scratch_base: str | None = None,
) -> int:
    """The one table-rewrite path — the MergeTree merge analog behind
    compaction (streaming foreachBatch appends accumulate one file per
    micro-batch), OPTIMIZE … FINAL, mutations, TTL and the retention
    rollup: read ``path`` through :func:`read_table` (under
    ``read_schema`` when given; an absent table raises
    FileNotFoundError), apply ``transform``, write one zstd scratch
    dir, publish it with operators/mutate._swap.  Returns the rewritten
    row count, observed on the write job itself (no second pass over
    the table).

    Layout is the caller's: ``partition_by`` keeps a hive-partitioned
    layout (rows clustered by the partition columns, one file per
    partition, so partition-pruned readers keep pruning); otherwise
    ``target_files`` sorted files, or — ``target_files=None`` — the
    input partitioning kept (a mutation leaves the file layout alone).
    ``scratch_base`` relocates the scratch/parked siblings (partition
    rewrites pass operators/mutate.partition_base).

    An explicit ``read_schema`` makes MIXED-schema file sets safe (an
    instant RENAME COLUMN leaves old-name files behind): Spark's
    sampled-footer schema silently DROPS whichever spelling the
    sampled file lacks.

    Concurrency contract: run with WRITERS PAUSED (exactly like
    MergeTree merges, which lock the parts they rewrite) — a file
    appended between the snapshot read and the swap would be lost.
    The swap is one atomic renameat2 RENAME_EXCHANGE where the
    platform supports it (Linux — a reader never sees the path
    missing, and the displaced data is parked one generation at
    ``<path>.__prev`` for in-flight scans); on platforms without it
    the fallback is two renames with a transient path-not-found
    window that read_table waits out.  A previous swap that died
    mid-rename is recovered, and its stranded scratch swept, before
    the read (operators/mutate.prepare_rewrite)."""
    from clickhub_spark.operators.mutate import _swap, prepare_rewrite, scratch_dir

    base = scratch_base or path
    prepare_rewrite(path, base)
    df = read_table(spark, path, read_schema)
    if df is None:
        raise FileNotFoundError(f"no table to rewrite at {path!r}")
    if transform is not None:
        df = transform(df)
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    sort = list(sort_cols)
    if partition_by:
        df = df.repartition(*[F.col(c) for c in partition_by])
        sort = [*partition_by, *sort]
    elif target_files:
        df = df.repartition(target_files)
    if sort:
        df = df.sortWithinPartitions(*sort)
    writer = df.write.mode("overwrite").option("compression", "zstd")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    tmp = scratch_dir(base)
    writer.parquet(tmp)
    n = obs.get["n"]
    _swap(path, tmp, base=base)
    return n


def write_zordered(
    df: DataFrame,
    path: str,
    zcols: list[str],
    bits: int = 8,
    mode: str = "overwrite",
    compression: str = "zstd",
    target_files: int | None = None,
) -> None:
    """Z-order (Morton-curve) clustered write — multi-column data
    skipping where a single sort key can't help.

    A sort-clustered copy (write_sorted) gives disjoint per-file
    ranges on the SORT PREFIX only: a predicate on the second column
    alone still reads every file.  Z-ordering interleaves the bits of
    all ``zcols`` into one clustering value, so files get locality in
    EVERY listed dimension at once — per-file min/max spans shrink to
    roughly range/√nfiles per dimension (2 cols), and parquet
    row-group stats prune on whichever column the query filters.
    This is the layout Delta/Iceberg OPTIMIZE ZORDER produces, and the
    ClickHouse analog of a multi-column skipping index.

    Mechanics: each column is normalized to a ``bits``-wide bucket
    over its [min, max] (one tiny min/max aggregate — a bounded
    driver-side parameter read, same pattern as the IVF centroid
    collect), buckets are bit-interleaved JVM-side (shiftleft/
    shiftright/AND — codegen, no UDF), rows range-repartition on the
    z-value so files own DISJOINT z-ranges, then sort within files.
    Uniform bucketing is used (width_bucket semantics); heavily
    skewed columns deserve quantile buckets — compute boundaries with
    approxQuantile and bucket against them before interleaving.

    Columns must be numeric/orderable; NULLs land in bucket 0.
    ``target_files`` pins the output file count (an explicit
    repartition count, which AQE respects) — without it AQE's
    partition coalescing can merge a small table into one file,
    erasing the layout this function exists to produce."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"__mn_{c}") for c in zcols],
        *[F.max(c).cast("double").alias(f"__mx_{c}") for c in zcols],
    ).first()
    nb = 1 << bits
    buckets = []
    for c in zcols:
        mn = stats[f"__mn_{c}"] or 0.0
        mx = stats[f"__mx_{c}"] or 0.0
        span = (mx - mn) or 1.0
        b = F.least(
            F.lit(nb - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * nb),
            ),
        ).cast("long")
        buckets.append(F.coalesce(b, F.lit(0)))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(buckets):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(zcols) + j))
    range_args = ([target_files] if target_files else []) + [F.col("__z")]
    (
        df.withColumn("__z", z)
        .repartitionByRange(*range_args)
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )
