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
  :func:`run_available_now` bounds every such drain in the package and
  raises when one does not finish in time.
  :func:`drain_index_store` is the same drain for the streaming index
  stores.
- E3 (partial-failure tolerance): a file with zero listing cards does
  not fail the query — it is recorded on an error side-channel, the
  batch continues (mirrors the empty-input guard and the skip-a-page
  semantics, download_lambda.py:89-92,41-43).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

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
) -> StreamingQuery:
    """E1+E2+E3: landing HTML → per-file header CSV, exactly once, as a
    cron-style availableNow drain; bound it with :func:`run_available_now`."""
    store = store or LocalObjectStore()
    return (
        read_landing_stream(spark, landing_dir)
        .writeStream.foreachBatch(_csv_batch_writer(store, dest_bucket, error_bucket))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_available_now(
    query: StreamingQuery, timeout_sec: float = 120.0, label: str = "streaming query"
) -> None:
    """Drain an availableNow query (E2), failing loudly: wait up to
    ``timeout_sec``; if the query is still active, stop it and raise
    ``RuntimeError`` naming ``label``, because its sink then holds only
    part of the outstanding input. A query that failed raises its
    ``StreamingQueryException`` here. Every availableNow drain in the
    package is bounded by this one guard."""
    query.awaitTermination(timeout_sec)
    if query.isActive:
        query.stop()
        raise RuntimeError(
            f"{label}: availableNow drain did not finish within {timeout_sec}s; "
            "stopped it rather than return partial output"
        )


def drain_index_store(
    spark: SparkSession,
    stream_dir: str,
    out_dir: str | None,
    out_schema: Callable[[StructType], StructType],
    step: Callable,
    label: str,
    timeout: float,
) -> DataFrame:
    """The shared scaffold of the streaming index stores
    (``dedup_store.run_streaming_minhash_index``,
    ``ann_store.run_streaming_ivf_index``,
    ``media_store.run_streaming_phash_index``): drain ``stream_dir``, one
    parquet file per micro-batch in mtime order, through probe-then-ingest
    against a persisted index, and return the distributed output sink.

    ``out_schema`` maps the stream's schema (read from its first parquet
    file) to the output schema. ``step(batch_df, seed, cache)`` is the
    store's per-epoch work. It returns ``(out, ingest)``: the epoch's
    output relation (``None`` for an empty one) and a zero-argument
    callable that ingests the batch into the index. ``cache(df)``
    persists a relation for the rest of the epoch.

    The store contract:

    - There is no ``checkpointLocation``, so each call is a fresh build.
    - Epochs restart at 0 on every call, and the seed epoch
      (``epoch_id == 0``, so a re-run of epoch 0 also seeds) overwrites
      the index; later epochs append to it.
    - Each epoch's output is written with overwrite to its own
      ``<out_dir>/epoch_<id>`` before that epoch's ingest: a retried
      batch rewrites exactly its own directory, and nothing is collected
      to the driver. The result is a parquet read of every epoch dir.
    - ``out_dir=None`` uses a fresh temporary dir. A caller-supplied one
      is cleared of ``epoch_*`` entries first, so a previous longer
      run's epochs never reach the result.
    - Relations passed to ``cache`` are released on every exit from the
      epoch, failed ones included.
    - The drain is bounded by :func:`run_available_now`: past
      ``timeout`` it stops and raises instead of returning a partial
      output. A ``stream_dir`` with no ``.parquet`` file raises
      ``ValueError``."""
    files = sorted(f for f in os.listdir(stream_dir) if f.endswith(".parquet"))
    if not files:
        raise ValueError(f"no .parquet file in stream dir {stream_dir!r}")
    in_schema = spark.read.parquet(os.path.join(stream_dir, files[0])).schema
    schema = out_schema(in_schema)
    if out_dir is None:
        out_dir = tempfile.mkdtemp(prefix="index-store-")
    for stale in glob.glob(os.path.join(out_dir, "epoch_*")):
        shutil.rmtree(stale, ignore_errors=True)

    def per_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        caches: list[DataFrame] = []

        def cache(df: DataFrame) -> DataFrame:
            caches.append(df.persist())
            return caches[-1]

        try:
            out, ingest = step(batch_df, epoch_id == 0, cache)
            if out is None:  # an empty dir still carries files + schema
                out = batch_df.sparkSession.createDataFrame([], schema)
            out.write.mode("overwrite").parquet(os.path.join(out_dir, f"epoch_{epoch_id}"))
            ingest()
        finally:
            for c in reversed(caches):
                c.unpersist()

    query = (
        spark.readStream.schema(in_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .writeStream.foreachBatch(per_epoch)
        .trigger(availableNow=True)
        .start()
    )
    run_available_now(query, timeout, label)
    return spark.read.schema(schema).parquet(os.path.join(out_dir, "epoch_*"))
