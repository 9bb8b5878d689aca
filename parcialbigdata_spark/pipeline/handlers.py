"""Faithful entry points (reference: download_lambda.py:22-153).

Same three callables, same result dicts, same env-var config
(``S3_BUCKET`` / ``DEST_BUCKET``, default ``"parcials"``), same
continue-on-failure and empty-input semantics — with Spark doing the
parse/transform work instead of a per-listing Python loop. The module-
level ``object_store`` mirrors the reference's module-level
``s3_client`` so tests can swap it the same way the reference's tests
monkeypatch theirs (tests/test_download.py:60-67).
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from parcialbigdata_spark.pipeline.fetch import fetch_pages
from parcialbigdata_spark.pipeline.parse import compat_view, exploded_cards
from parcialbigdata_spark.pipeline.sink import csv_bytes, guard_compat_size
from parcialbigdata_spark.pipeline.storage import LocalObjectStore

#: Swap-able default store (reference: download_lambda.py:10).
object_store = LocalObjectStore()


def download_handler(event=None, context=None, *, http_get=None, store=None) -> dict:
    """Ingest: fetch pages 1-10, store one dated HTML object
    (download_lambda.py:22-58)."""
    html_content = fetch_pages(http_get=http_get)
    today = datetime.now(timezone.utc).strftime("%Y-%m-%d")
    filename = f"{today}.html"
    bucket = os.environ.get("S3_BUCKET", "parcials")
    s = store if store is not None else object_store
    s.put_object(Bucket=bucket, Key=filename, Body=html_content, ContentType="text/html")
    print(f"Archivo {filename} subido al bucket {bucket}")
    return {"status": "downloaded", "filename": filename}


def process_handler(event, context=None, *, spark: SparkSession | None = None, store=None) -> dict:
    """Transform: parse the event's HTML object into a header CSV
    (download_lambda.py:61-140).

    The extraction runs through the same Spark stages as the batch and
    streaming pipelines (``exploded_cards`` → ``compat_view``); one
    event = one file, so its rows come back in one bounded collect
    (:func:`~parcialbigdata_spark.pipeline.sink.guard_compat_size`) for
    the in-memory CSV, like the reference's StringIO buffer (``:122-128``).
    """
    record = event["Records"][0]
    source_bucket = record["s3"]["bucket"]["name"]
    object_key = record["s3"]["object"]["key"]

    s = store if store is not None else object_store
    html_content = s.get_object(Bucket=source_bucket, Key=object_key)["Body"].read().decode("utf-8")

    spark = spark or SparkSession.builder.getOrCreate()
    raw = spark.createDataFrame([(object_key, html_content)], "source_file string, value string")
    rows = guard_compat_size(compat_view(exploded_cards(raw)))

    if not rows:
        print("No se encontraron listados con la clase 'listing-card__content'")
        return {"status": "error", "message": "No listings found"}

    dest_bucket = os.environ.get("DEST_BUCKET", "parcials")
    csv_filename = object_key.replace(".html", ".csv")
    s.put_object(
        Bucket=dest_bucket,
        Key=csv_filename,
        Body=csv_bytes(rows),
        ContentType="text/csv",
    )
    print(f"Archivo CSV {csv_filename} subido al bucket {dest_bucket}")
    return {"status": "processed", "csv_filename": csv_filename}


def lambda_handler(event, context=None, **kwargs) -> dict:
    """Dispatcher: S3-shaped events → process, else → download
    (download_lambda.py:143-153)."""
    if "Records" in event and event["Records"] and "s3" in event["Records"][0]:
        return process_handler(event, context, **kwargs)
    return download_handler(event, context, **kwargs)
