"""Storage introspection — the ``system.parts`` analog and the engine's
one parquet footer reader: per-file row counts, row groups and column
min/max/null-count statistics, read from parquet footers via pyarrow
(no Spark job, no data scan — footer metadata only, the same way
system.parts reads part headers).

The footers are also the per-part min/max index of the app path
(ClickHouse's primary and min/max part indexes): sources/writer.
high_water_mark and the Orchestrator's membership probe and
``update_all_repos`` answer from them and hand Spark only the parts a
footer cannot answer.  Two properties keep those answers exact:

- **Files read.** :func:`table_parts` lists exactly the files
  sources/writer.read_table reads — both apply :func:`hidden` — so an
  append still in its ``_staging_*`` directory is not counted.
- **Statistics kept.** Only UTF-8 string and INT64
  ``TIMESTAMP(µs, adjusted to UTC)`` columns carry statistics here;
  INT96 timestamps (Spark's default before
  ``outputTimestampType=TIMESTAMP_MICROS``) have none in the file.

Footers are cached by ``(path, size, mtime_ns)`` — a part file is
never rewritten in place, so the key changes whenever the bytes do —
in a bounded LRU that the server's request threads share."""

from __future__ import annotations

import json
import os
import threading
from collections import OrderedDict
from dataclasses import dataclass


def hidden(name: str) -> bool:
    """Spark's file-listing rule for one directory entry: ``.``-prefixed
    entries, and ``_``-prefixed ones that are not ``col=value``
    partition directories (``_staging_*``, ``_SUCCESS``,
    ``_temporary``), hold no table data.  The one rule behind both
    :func:`table_parts` and sources/writer.read_table."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


@dataclass(frozen=True)
class ColumnStats:
    """One column's footer statistics over every row group.

    ``kind`` is ``"string"`` (``min``/``max`` are ``str``) or
    ``"timestamp"`` (``min``/``max`` are raw epoch microseconds).
    ``min``/``max`` are None when some row group holding values has no
    min/max (or the column holds no value at all); ``nulls`` is None
    when some row group has no null count."""

    kind: str
    min: str | int | None
    max: str | int | None
    nulls: int | None


@dataclass(frozen=True)
class Footer:
    rows: int
    row_groups: int
    #: top-level string/timestamp columns only (see ColumnStats)
    columns: dict[str, ColumnStats]


@dataclass(frozen=True)
class PartInfo:
    path: str  # the data file
    partition: str  # relative partition dir ("" for unpartitioned files)
    bytes: int
    footer: Footer | None  # None: unreadable (only with strict=False)

    @property
    def file(self) -> str:
        return os.path.basename(self.path)

    @property
    def rows(self) -> int:
        return self.footer.rows

    @property
    def row_groups(self) -> int:
        return self.footer.row_groups


#: cached footers; the bound keeps a long-lived server or worker from
#: holding every footer it ever read
FOOTER_CACHE_MAX = 4096
_footers: OrderedDict[tuple, Footer] = OrderedDict()
_footers_lock = threading.Lock()


def _kind(col, legacy: bool) -> str | None:
    if col.path != col.name or col.max_repetition_level:
        return None  # nested or repeated: not a top-level column
    if col.physical_type == "BYTE_ARRAY" and col.logical_type.type == "STRING":
        return "string"
    if col.physical_type == "INT64" and col.logical_type.type == "TIMESTAMP" and not legacy:
        lt = json.loads(col.logical_type.to_json())
        if lt.get("isAdjustedToUTC") and lt.get("timeUnit") == "microseconds":
            return "timestamp"
    return None


def _column_stats(meta, j: int, kind: str) -> ColumnStats:
    lo = hi = None
    nulls = 0
    exact = True
    for i in range(meta.num_row_groups):
        rg = meta.row_group(i)
        s = rg.column(j).statistics
        if s is None or not s.has_null_count:
            return ColumnStats(kind, None, None, None)
        nulls += s.null_count
        if s.null_count == rg.num_rows:
            continue  # every value NULL: nothing to bound
        if not s.has_min_max:
            exact = False
            continue
        a, b = s.min_raw, s.max_raw
        if kind == "string":
            try:
                a, b = a.decode("utf-8"), b.decode("utf-8")
            except UnicodeDecodeError:
                exact = False
                continue
        lo = a if lo is None else min(lo, a)
        hi = b if hi is None else max(hi, b)
    if not exact:
        lo = hi = None
    return ColumnStats(kind, lo, hi, nulls)


def _read_footer(path: str) -> Footer:
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    # a Spark file written in LEGACY rebase mode stores rebased
    # (hybrid-calendar) values; its raw statistics are not what Spark reads
    legacy = any(k.startswith(b"org.apache.spark.legacy") for k in (meta.metadata or {}))
    columns = {}
    for j in range(meta.num_columns):
        col = meta.schema.column(j)
        kind = _kind(col, legacy)
        if kind is not None:
            columns[col.name] = _column_stats(meta, j, kind)
    return Footer(meta.num_rows, meta.num_row_groups, columns)


def footer(path: str, size: int, mtime_ns: int) -> Footer:
    """The footer of the part file ``path`` whose ``os.stat`` gave
    ``size``/``mtime_ns`` — from the cache when that key was read
    before.  An unreadable footer raises (and is not cached)."""
    key = (path, size, mtime_ns)
    with _footers_lock:
        hit = _footers.get(key)
        if hit is not None:
            _footers.move_to_end(key)
            return hit
    got = _read_footer(path)
    with _footers_lock:
        _footers[key] = got
        while len(_footers) > FOOTER_CACHE_MAX:
            _footers.popitem(last=False)
    return got


def table_parts(path: str, strict: bool = True) -> list[PartInfo]:
    """One PartInfo per data file under ``path`` — the files a Spark
    read of ``path`` reads: recursive through partition directories,
    skipping :func:`hidden` entries at every level.  A footer that
    cannot be read raises, or with ``strict=False`` leaves that part's
    ``footer`` None (the caller hands it to Spark, which raises if the
    file is really damaged)."""
    parts: list[PartInfo] = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not hidden(d))
        for f in sorted(files):
            if hidden(f):
                continue
            full = os.path.join(root, f)
            st = os.stat(full)
            try:
                foot = footer(full, st.st_size, st.st_mtime_ns)
            except Exception:
                if strict:
                    raise
                foot = None
            parts.append(
                PartInfo(
                    path=full,
                    partition=os.path.relpath(root, path).replace(".", ""),
                    bytes=st.st_size,
                    footer=foot,
                )
            )
    return parts


def table_stats(path: str) -> dict:
    """Aggregate table stats: {rows, bytes, files, partitions} —
    the numbers an operator checks before/after compact() or
    optimize_final()."""
    parts = table_parts(path)
    return {
        "rows": sum(p.rows for p in parts),
        "bytes": sum(p.bytes for p in parts),
        "files": len(parts),
        "partitions": len({p.partition for p in parts}),
    }
