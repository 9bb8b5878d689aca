"""Streaming twin of the faithful pipeline (SURVEY.md §2.8 E1-E3).

The reference's incremental model is S3 ``ObjectCreated`` →
Lambda-per-object (zappa_settings.json:28-36, download_lambda.py:78-80):
each new HTML file is processed exactly once, producing exactly one
CSV. Spark's Structured Streaming **file source** is the idiomatic
replacement — new-file discovery, backpressure (``maxFilesPerTrigger``)
and exactly-once bookkeeping via the checkpoint directory all come from
the engine instead of hand-wired cloud events.

- E1 (incremental, exactly-once per file): ``readStream`` + checkpoint;
  the ``foreachBatch`` sink writes one ``<name>.csv`` per input file.
  Per micro-batch it runs one file-list job plus one bounded collect of
  the parsed rows, whatever the file count: no per-file jobs and no
  shuffle.
- E2 (scheduled micro-batch / cron): ``trigger(availableNow=True)`` —
  process everything outstanding, then stop; an external scheduler
  (the reference's weekly cron, zappa_settings.json:23-27) re-runs it.
- E3 (partial-failure tolerance): a file with zero listing cards does
  not fail the query — it is recorded on an error side-channel, the
  batch continues (mirrors the empty-input guard and the skip-a-page
  semantics, download_lambda.py:89-92,41-43).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from parcialbigdata_spark.pipeline.parse import compat_view, exploded_cards
from parcialbigdata_spark.pipeline.sink import _put_by_date, guard_compat_size
from parcialbigdata_spark.pipeline.storage import LocalObjectStore


def read_landing_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Whole-file streaming scan of the landing dir: one row per newly
    arrived HTML file (S4 in SURVEY.md §2.1)."""
    reader = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.html")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(landing_dir)
    return raw.select(F.col("_metadata.file_name").alias("source_file"), "value")


def _csv_batch_writer(store: LocalObjectStore, dest_bucket: str, error_bucket: str):
    """foreachBatch body: per input file in the micro-batch, either one
    header CSV (the faithful 1-in/1-out contract) or one error record.
    The bound check of :func:`~parcialbigdata_spark.pipeline.sink.guard_compat_size`
    runs before anything is written."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        raw_files = dict.fromkeys(r[0] for r in batch_df.select("source_file").collect())
        rows = guard_compat_size(compat_view(exploded_cards(batch_df)))
        _put_by_date(rows, store, dest_bucket)
        parsed_files = {f"{row[0]}.html" for row in rows}
        for f in raw_files:
            if f not in parsed_files:  # zero cards → error side-channel
                store.put_object(
                    Bucket=error_bucket,
                    Key=f.replace(".html", ".error.json"),
                    Body='{"status": "error", "message": "No listings found", '
                    f'"source": "{f}"}}',
                    ContentType="application/json",
                )

    return write_batch


def stream_landing_to_csv(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    store: LocalObjectStore | None = None,
    dest_bucket: str = "parcials",
    error_bucket: str = "errors",
    available_now: bool = True,
) -> StreamingQuery:
    """E1+E2+E3: landing HTML → per-file header CSV, exactly once.

    ``available_now=True`` is the cron-style drain-and-stop trigger;
    ``False`` runs continuously on new-file arrival."""
    store = store or LocalObjectStore()
    stream = read_landing_stream(spark, landing_dir)
    writer = (
        stream.writeStream.foreachBatch(_csv_batch_writer(store, dest_bucket, error_bucket))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_available_now(query: StreamingQuery, timeout_sec: float = 120.0) -> None:
    """Drain an availableNow query and stop (E2 helper)."""
    query.awaitTermination(timeout_sec)
    if query.isActive:
        query.stop()
