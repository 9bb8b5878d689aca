"""Transform stage: HTML → listings DataFrame (download_lambda.py:61-140).

Spark shape (SURVEY.md §3.3): whole-file text scan → Arrow-batched
pandas UDF returning ``array<struct>`` of card fields → ``explode`` →
typed projection. Narrow transforms only — this pipeline needs ZERO
shuffles at any scale, its CSV sinks included (batch, per-event and
streaming); throughput scales linearly with executors.

The Python cost is the parse UDF, amortized per whole file, plus a fixed
cost per Python task. That fixed cost used to dominate: on a 4-core host
each task spent about 0.2 s of worker CPU before it read a row, in
PySpark's ``setup_spark_files`` re-reading ``pyspark.zip`` 16 times
(Python < 3.13), so a ``listings_etl`` pass's traced UDF time was 1.5–1.9 s
for a parse that takes 0.1 s over the whole corpus in one process. The package's
``pyworker`` module removes it on every reused worker (0.03–0.10 s per
task); only a worker's first task still pays.

Three layers:

- :func:`exploded_cards` — one row per listing card, raw scraped strings,
  real NULLs for missing fields (the reference's per-listing loop,
  download_lambda.py:98-119, as a vectorized UDF + explode).
- :func:`parse_listings` — the *engine* view: typed columns (DateType
  date, DecimalType price, int/double counts), NULLs preserved.
- :func:`compat_view` — the *reference-faithful* view: the exact
  6-column all-string relation with ``"N/A"`` sentinels and the header
  order of download_lambda.py:124-127. Raw strings pass through
  untouched so the CSV bytes match the reference (a typed round-trip
  would rewrite ``"45"`` as ``"45.0"``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from parcialbigdata_spark.pipeline.html_extract import FIELDS, extract_cards

#: One element per listing card; all-string like the scraped values.
CARD_SCHEMA = "array<struct<" + ",".join(f"{f}:string" for f in FIELDS) + ">>"

#: CSV header contract, in order (download_lambda.py:124-127).
CSV_COLUMNS = ["FechaDescarga", "Barrio", "Valor", "NumHabitaciones", "NumBanos", "mts2"]


def _extract_batches(batches: Iterator) -> Iterator:
    import pandas as pd  # noqa: F401  (worker-side import)

    for pdf in batches:
        pdf = pdf.copy()
        pdf["cards"] = [extract_cards(h) for h in pdf["value"]]
        yield pdf[["source_file", "cards"]]


def read_landing(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file scan of the landing dir: one row per HTML file
    (replaces the S3 get_object at download_lambda.py:83-84)."""
    return spark.read.text(path, wholetext=True).select(
        F.col("_metadata.file_name").alias("source_file"), "value"
    )


def exploded_cards(raw: DataFrame) -> DataFrame:
    """(source_file, value) → one raw-string row per listing card, in
    document order; missing fields are NULL (not ``"N/A"`` — sentinels
    are applied only at the compat edge)."""
    return (
        raw.mapInPandas(_extract_batches, f"source_file string, cards {CARD_SCHEMA}")
        .select("source_file", F.explode("cards").alias("card"))
        .select("source_file", *[f"card.{f}" for f in FIELDS])
    )


def parse_listings(raw: DataFrame) -> DataFrame:
    """Typed engine view of :func:`exploded_cards`.

    ``fecha_descarga`` is the filename minus ``.html`` cast to a date
    (download_lambda.py:95); ``valor`` keeps the raw scraped string and
    adds ``valor_num`` (digits-only → decimal) because the scraped price
    is locale-formatted text (``$ 250.000.000``).
    """
    cards = exploded_cards(raw)
    return cards.select(
        "source_file",
        F.to_date(F.regexp_replace("source_file", r"\.html$", ""), "yyyy-MM-dd").alias(
            "fecha_descarga"
        ),
        F.col("barrio"),
        F.col("valor"),
        F.regexp_replace("valor", r"[^0-9]", "").try_cast("decimal(18,2)").alias("valor_num"),
        F.col("num_habitaciones").try_cast("int").alias("num_habitaciones"),
        F.col("num_banos").try_cast("int").alias("num_banos"),
        F.col("mts2").try_cast("double").alias("mts2"),
    )


def compat_view(cards: DataFrame) -> DataFrame:
    """The reference's exact CSV relation over :func:`exploded_cards`
    output: 6 string columns, ``"N/A"`` for missing values
    (download_lambda.py:100-127)."""
    na = lambda c: F.coalesce(F.col(c), F.lit("N/A"))  # noqa: E731
    return cards.select(
        F.regexp_replace("source_file", r"\.html$", "").alias("FechaDescarga"),
        na("barrio").alias("Barrio"),
        na("valor").alias("Valor"),
        na("num_habitaciones").alias("NumHabitaciones"),
        na("num_banos").alias("NumBanos"),
        na("mts2").alias("mts2"),
    )
