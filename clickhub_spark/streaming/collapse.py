"""Streaming maintenance for a CollapsingMergeTree-style state table —
the CDC retract-stream shape: a changelog of ``+1`` state / ``-1``
cancel rows arrives continuously, and readers want the collapsed FINAL
view kept fresh (≙ ClickHouse absorbing inserts into a Collapsing
table and collapsing lazily at merge/FINAL time; engine family
reference README.md:132-134).

Same no-streaming-state design as the stars MV (streaming/
freshness.py): each micro-batch appends its batch-local ACCUMULATOR
(operators/collapsing.collapse_accumulate — the mergeable
(net, last_state, first_cancel) monoid, NOT the finalized view, which
is lossy and cannot be re-merged), and readers collapse partials with
``collapse_merge`` + ``collapse_finalize``.  State lives in the table,
bounded by keys-per-batch; the stream never holds a growing hash of
all keys — the 100 TB shape.

Exactly-once net accounting under at-least-once foreachBatch:

- A replayed batch OVERWRITES its own ``batch_id=<id>`` partition
  directory — rewrite, not double-count.
- Compaction folds partials into ``batch_id=-1`` AND records the
  highest real batch id folded in a ``_folded_through`` marker; the
  sink drops any (replayed) batch at or below the marker, whose rows
  are already inside the fold.  Without the marker, a crash between a
  batch's partial write and its checkpoint commit followed by a
  compaction would double that batch's net on replay.
- Batch ids are CHECKPOINT-LOCAL, so the marker also records the
  checkpoint's query id and the sink refuses to interpret it under a
  different checkpoint (raises instead of silently dropping new
  batches that happen to reuse folded ids — a reset checkpoint
  re-reads the WHOLE changelog, so neither dropping nor appending
  could be correct; the recovery is rebuild-from-changelog or
  restore the original checkpoint).  acc_path + checkpoint are a
  unit: relocate/copy them together (a copied checkpoint keeps its
  id and stays valid).
- The compaction swap is the one table-rewrite path's
  (operators/mutate._swap): an atomic exchange, or the fixed-name
  two-rename fallback.  A crash between its renames leaves the state
  at ``<acc_path>.__old``; the next compaction or maintenance run
  restores it before writing, and ``read_collapsed`` reads through
  sources/writer.read_table, which waits out a live swap and restores
  a dead one.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from clickhub_spark.operators.collapsing import (
    collapse_accumulate,
    collapse_finalize,
    collapse_merge,
)
from clickhub_spark.operators.mutate import (
    _swap,
    prepare_rewrite,
    recover_table,
    scratch_dir,
)
from clickhub_spark.sources.writer import read_table
from clickhub_spark.streaming.mv import read_event_stream

#: Spark readers skip leading-underscore files, so the marker rides
#: inside the accumulator dir without disturbing partition discovery
_MARKER = "_folded_through"


def _folded_through(acc_path: str) -> tuple[int, str | None]:
    """(highest folded batch id, checkpoint id the fold belongs to).

    Batch ids are CHECKPOINT-LOCAL: the marker is only a valid replay
    guard for the stream that produced those ids, so the fold records
    which checkpoint that was (round 9 — ADVICE r8 item 2: without the
    binding, a RESET checkpoint re-numbering from 0 would have its
    genuinely new batches silently dropped as 'replays').  Legacy
    plain-int markers load with checkpoint_id=None (unbound)."""
    try:
        with open(os.path.join(acc_path, _MARKER)) as fh:
            raw = fh.read().strip()
    except OSError:
        return -1, None
    try:
        obj = json.loads(raw)
    except json.JSONDecodeError:
        return -1, None
    if isinstance(obj, dict):
        return int(obj.get("folded_through", -1)), obj.get("checkpoint_id")
    if isinstance(obj, int):  # legacy bare-int marker
        return obj, None
    return -1, None


def _checkpoint_id(checkpoint: str) -> str | None:
    """The stream's stable identity: Spark writes ``<ck>/metadata``
    ({"id": uuid}) at query start and PRESERVES it across restarts —
    a relocated-but-copied checkpoint keeps its id (markers stay
    valid); a reset checkpoint gets a fresh one (markers must not
    apply)."""
    try:
        with open(os.path.join(checkpoint, "metadata")) as fh:
            return json.load(fh).get("id")
    except (OSError, json.JSONDecodeError):
        return None


def _bound_marker(acc_path: str, checkpoint: str) -> tuple[int, str | None]:
    """(highest folded batch id, ``checkpoint``'s id).  Batch ids are
    checkpoint-local, so a marker bound to a DIFFERENT checkpoint can
    distinguish nothing — dropping a batch loses new data, appending
    it double-counts the fold — and this raises instead.  The
    changelog table is the source of truth: the recovery is a rebuild
    (fresh acc_path + checkpoint) or restoring the original
    checkpoint."""
    folded, fold_ck = _folded_through(acc_path)
    mine = _checkpoint_id(checkpoint)
    if folded >= 0 and fold_ck is not None and fold_ck != mine:
        raise RuntimeError(
            f"accumulator {acc_path!r} was folded under checkpoint id "
            f"{fold_ck!r}, not {mine!r}; batch ids are checkpoint-local — "
            "restore the original checkpoint, or rebuild the state from "
            "the changelog with a fresh acc_path + checkpoint"
        )
    return folded, mine


def maintain_collapsed(
    spark: SparkSession,
    changelog_table: str,
    acc_path: str,
    checkpoint: str,
    schema: StructType,
    keys: Sequence[str],
    sign: str,
    order: Sequence[str],
    max_files: int = 10,
) -> None:
    """Advance the collapsed state to cover all changelog rows
    currently in the table: stream the NEW parquet files (file-source
    checkpoint = the state's high-water mark), append each batch's
    accumulator partial under its own overwrite-on-replay partition.
    Batches at or below the compaction marker are already folded and
    are dropped (see module docstring)."""
    recover_table(acc_path)
    stream = read_event_stream(spark, changelog_table, schema, max_files)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= _bound_marker(acc_path, checkpoint)[0]:
            return  # replay of a batch already inside the fold
        collapse_accumulate(batch_df, keys, sign, order).write.mode(
            "overwrite"
        ).parquet(f"{acc_path}/batch_id={batch_id}")

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_collapsed(
    spark: SparkSession,
    acc_path: str,
    keys: Sequence[str],
    order: Sequence[str],
    schema_hint: str | None = None,
) -> DataFrame:
    """The FINAL read view: merge all accumulator partials and
    finalize.  The read follows sources/writer.read_table's rules; only
    an absent table (before the first batch) falls back to the empty
    frame (``schema_hint`` required then) — read errors on an existing
    table propagate instead of masquerading as 'no data yet'."""
    partials = read_table(spark, acc_path)
    if partials is None:
        if schema_hint is None:
            raise FileNotFoundError(
                f"accumulator table {acc_path!r} does not exist; pass "
                "schema_hint to poll from t=0"
            )
        return spark.createDataFrame([], schema_hint)
    return collapse_finalize(collapse_merge(partials.drop("batch_id"), keys, order))


def compact_accumulator(
    spark: SparkSession,
    acc_path: str,
    keys: Sequence[str],
    order: Sequence[str],
    target_files: int = 8,
    *,
    checkpoint: str,
) -> int:
    """Fold every partial into a single merged accumulator partition
    (``batch_id=-1``) and advance the ``_folded_through`` marker to
    the highest real batch id folded, so a post-crash replay of any
    folded batch is dropped by the sink rather than double-counted.
    ``checkpoint`` (REQUIRED — an unbound marker with a null
    checkpoint id would bypass the sink's mismatch guard and silently
    drop genuinely-new batches after a checkpoint reset) is the
    maintenance stream's checkpoint dir, so the marker is BOUND to
    the checkpoint whose batch ids it records (the sink refuses to
    interpret it under any other checkpoint — batch ids are
    checkpoint-local).  Writers paused during the swap, same
    recovery, stale-scratch sweep, scratch names and swap as the one
    table-rewrite path sources/writer.compact — the fold keeps its own
    write only because the marker must land inside the scratch dir
    before the swap publishes it.  Returns surviving accumulator row
    count (= live key count)."""
    prepare_rewrite(acc_path)
    prev_folded, ck_id = _bound_marker(acc_path, checkpoint)
    partials = read_table(spark, acc_path)
    if partials is None:
        raise FileNotFoundError(f"no accumulator table at {acc_path!r}")
    # the marker must reflect batches whose DATA is in the fold: an
    # uncommitted batch dir (crash mid-write leaves no committed
    # part-files) must NOT advance it, or its replay would be dropped
    # and the batch lost — so derive it from the rows read, observed
    # on the write job itself
    obs = Observation()
    tmp = scratch_dir(acc_path)
    fold_obs = Observation()
    partials = partials.observe(
        fold_obs, F.max(F.col("batch_id")).alias("max_id")
    )
    collapse_merge(partials.drop("batch_id"), keys, order).observe(
        obs, F.count(F.lit(1)).alias("n")
    ).repartition(target_files).write.mode("overwrite").parquet(
        f"{tmp}/batch_id=-1"
    )
    n = obs.get["n"]
    max_id = fold_obs.get["max_id"]
    folded = max(max_id if max_id is not None else -1, prev_folded)
    with open(os.path.join(tmp, _MARKER), "w") as fh:
        json.dump({"folded_through": folded, "checkpoint_id": ck_id}, fh)
    _swap(acc_path, tmp)  # atomic exchange, or two-rename fallback
    return n
