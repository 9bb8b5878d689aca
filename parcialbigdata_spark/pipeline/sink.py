"""CSV sinks (reference: download_lambda.py:121-138).

- :func:`csv_bytes` / :func:`write_csv_per_source` — the *faithful*
  contract: exactly one named ``<name>.csv`` object per input
  ``<name>.html`` file (key rewrite, ``:132``), header row first
  (``:124-127``), serialized like ``csv.writer`` over ``StringIO``
  (``:122-128``, CRLF line endings included). A per-file listing set is
  tiny (≤ 10 pages of cards), so the driver-side sinks (this one, the
  streaming twin and ``process_handler``) take their rows with ONE
  bounded collect, :func:`guard_compat_size`, and split them by date on
  the driver — no per-date jobs, no shuffle. The bound makes a
  corpus-scale relation fail loudly before anything is written.

- :func:`write_csv_distributed` — the 100 TB path: plain distributed
  ``DataFrameWriter.csv`` with a header per part-file, partitioned by
  download date. Use when per-object naming parity stops mattering.
"""

from __future__ import annotations

import csv
from io import StringIO

from pyspark.sql import DataFrame

from parcialbigdata_spark.pipeline.parse import CSV_COLUMNS


# The faithful per-file sink materializes rows on the driver; its
# contract (reference download_lambda.py:121-138) is a handful of pages
# per file, so anything near this bound means the sink was pointed at a
# corpus-scale relation by mistake. 100k rows ≈ a few tens of MB — far
# above any legitimate compat batch, far below driver-OOM territory.
COMPAT_SINK_MAX_ROWS = 100_000


def guard_compat_size(compat: DataFrame, max_rows: int | None = None) -> list[tuple]:
    """The one bounded collect of the driver-side CSV sinks: return
    ``compat``'s rows in document order, or raise if there are more than
    ``max_rows`` (default :data:`COMPAT_SINK_MAX_ROWS`, read per call).

    ``limit(max_rows + 1).collect()`` stops scanning once the bound is
    exceeded, so an oversized input is rejected without a full scan and
    before any object is written. Route large relations through
    :func:`write_csv_distributed` instead."""
    max_rows = COMPAT_SINK_MAX_ROWS if max_rows is None else max_rows
    rows = compat.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"compat relation exceeds {max_rows} rows; the per-file CSV "
            "sink is the driver-side fidelity path for small per-date "
            "batches - use write_csv_distributed for corpus-scale output"
        )
    return [tuple(r) for r in rows]


def csv_bytes(rows: list[tuple]) -> str:
    """Header CSV exactly as the reference builds it in memory
    (csv.writer over StringIO, download_lambda.py:122-128)."""
    buf = StringIO()
    writer = csv.writer(buf)
    writer.writerow(CSV_COLUMNS)
    writer.writerows(rows)
    return buf.getvalue()


def write_csv_per_source(compat: DataFrame, store, dest_bucket: str) -> list[str]:
    """1-in/1-out sink: one ``<date>.csv`` object per source date.

    ``compat`` is the :func:`~parcialbigdata_spark.pipeline.parse.compat_view`
    relation; ``store`` is any object with the ``put_object`` surface
    (reference: s3_client.put_object, download_lambda.py:133-138).
    Returns the keys written, in date order; each object holds its
    date's rows in document order.
    """
    return _put_by_date(guard_compat_size(compat), store, dest_bucket)


def _put_by_date(rows: list[tuple], store, dest_bucket: str) -> list[str]:
    """Write collected compat rows as one ``<date>.csv`` per
    ``FechaDescarga`` (column 0): dates sorted, each date's rows in the
    order collected. Returns the keys written."""
    by_date: dict[str, list[tuple]] = {}
    for row in rows:
        by_date.setdefault(row[0], []).append(row)
    keys: list[str] = []
    for fecha in sorted(by_date):
        key = f"{fecha}.csv"
        store.put_object(
            Bucket=dest_bucket, Key=key, Body=csv_bytes(by_date[fecha]), ContentType="text/csv"
        )
        keys.append(key)
    return keys


def write_csv_distributed(compat: DataFrame, path: str) -> None:
    """Scale path: distributed CSV write, header per part-file, hive
    partitioning on the download date for pruning."""
    (
        compat.write.mode("overwrite")
        .option("header", True)
        .partitionBy("FechaDescarga")
        .csv(path)
    )


def write_csv_distributed_observed(compat: DataFrame, path: str) -> dict:
    """:func:`write_csv_distributed` plus an `Observation`: exact row
    and null-price counts are collected DURING the write action itself
    (Spark's observe() attaches aggregates to the running job), so the
    ingest ledger costs zero extra scans — the pattern every 100 TB
    sink should use instead of a count() re-scan. Returns the metric
    dict."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("csv_sink")
    observed = compat.observe(
        obs,
        F.count(F.lit(1)).alias("rows_written"),
        F.sum(F.when(F.col("Valor") == "N/A", 1).otherwise(0)).alias("na_valor_rows"),
    )
    (
        observed.write.mode("overwrite")
        .option("header", True)
        .partitionBy("FechaDescarga")
        .csv(path)
    )
    return obs.get
