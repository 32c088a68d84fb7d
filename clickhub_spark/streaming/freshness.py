"""End-to-end event freshness — the reference's full insert→MV loop
(reference README.md:247-268: events land in ``github_events``, the
``github_stars_mv`` materialized view keeps ``github_stars`` current
on every insert) as two chained Structured Streaming stages over one
warehouse:

  landing dir ──stream_ingest──▶ events table (parquet, append)
  events table ──stars MV stage──▶ stars partials (parquet, append)
  read_stars(): partial+final re-aggregation  (the SummingMergeTree
  read path, same contract as SURVEY §2.D7)

The MV stage keeps NO streaming aggregation state: each micro-batch
appends its batch-local per-key partial counts, and readers collapse
partials with a sum — exactly how SummingMergeTree absorbs inserts
and merges lazily.  That choice is the 100 TB shape: state lives in
the table (bounded by key cardinality per batch, compactable with
write_sorted), and the stream never holds a growing hash of all keys.
Because foreachBatch is at-least-once and the FINAL view is a plain
SUM (which would double-count a replayed partial, unlike the
ReplacingMergeTree dedup view), each batch writes to its own
``__batch_id=<id>`` subdirectory with overwrite semantics: a crash
between write and checkpoint commit replays the batch into the SAME
directory, overwriting — not duplicating — its partials.

``refresh()`` drains both stages with availableNow triggers — the
poll-loop analog of the reference worker: call it on a schedule (or
leave each stage running with a processingTime trigger in a live
deployment; the composition is identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from clickhub_spark.sources.writer import read_table
from clickhub_spark.streaming.ingest import stream_ingest
from clickhub_spark.streaming.mv import read_event_stream

#: landing-file schema for the events table (testdata events.parquet)
EVENTS_SCHEMA = (
    StructType()
    .add("event_id", "long")
    .add("ts", "timestamp")
    .add("user_id", "long")
    .add("event_type", "string")
    .add("value", "double")
    .add("props", "string")
)

#: the stars partials as stored (the MV SELECT's output)
STARS_SCHEMA = StructType().add("user_id", "long").add("stars", "long")


#: the stars MV SELECT, the reference's literal shape
#: (README.md:256-262) — executed per inserted block through
#: ddl.mv_block_output, the SAME implementation the Warehouse's
#: DDL-defined MVs fire (one MV semantics, two transports).
STARS_MV_SELECT = (
    "SELECT user_id, count() AS stars FROM ana.events "
    "WHERE event_type = '{event_type}' GROUP BY user_id"
)


def maintain_stars_mv(
    spark: SparkSession,
    events_table: str,
    stars_path: str,
    checkpoint: str,
    event_type: str = "view",
    max_files: int = 10,
) -> None:
    """Advance the stars MV to cover all events currently in the
    table: stream the NEW parquet files (file-source checkpoint =
    the MV's high-water mark), append per-batch partial counts.
    The per-block aggregation delegates to ddl.mv_block_output — the
    single insert-trigger implementation shared with DDL-defined
    MVs (VERDICT r12 #8), pinned equivalent to the ClickHouse-DDL
    route in tests/test_freshness.py."""
    from clickhub_spark.ddl import mv_block_output

    stream = read_event_stream(spark, events_table, EVENTS_SCHEMA, max_files)
    select_sql = STARS_MV_SELECT.format(event_type=event_type)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotent per batch: foreachBatch is at-least-once, and the
        # read view is a plain SUM, so a replayed batch must overwrite
        # itself rather than append a second copy of its partials.
        mv_block_output(
            spark, select_sql, "ana.events", batch_df
        ).write.mode("overwrite").parquet(
            f"{stars_path}/__batch_id={batch_id}"
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_stars(spark: SparkSession, stars_path: str) -> DataFrame:
    """The MV's read view: collapse appended partials (SummingMergeTree
    FINAL).  Returns an empty 2-column frame before the first event so
    callers can poll from t=0."""
    partials = read_table(spark, stars_path, STARS_SCHEMA)
    if partials is None:
        return spark.createDataFrame([], STARS_SCHEMA)
    return partials.groupBy("user_id").agg(F.sum("stars").alias("stars"))


def refresh(
    spark: SparkSession,
    landing_dir: str,
    warehouse: str,
    event_type: str = "view",
    max_files: int = 10,
) -> DataFrame:
    """One freshness cycle over ``warehouse``: ingest any new landing
    files into the events table, advance the stars MV over any new
    events, return the current MV view.  Idempotent — both stages are
    checkpointed under the warehouse, so a cycle with nothing new is a
    no-op (the reference worker's poll loop, repo/importer.py:161-179)."""
    stream_ingest(
        spark,
        landing_dir,
        EVENTS_SCHEMA,
        f"{warehouse}/events",
        f"{warehouse}/_ck/ingest",
        max_files=max_files,
    )
    maintain_stars_mv(
        spark,
        f"{warehouse}/events",
        f"{warehouse}/stars",
        f"{warehouse}/_ck/stars_mv",
        event_type=event_type,
        max_files=max_files,
    )
    return read_stars(spark, f"{warehouse}/stars")
