"""parcialbigdata_spark — a PySpark-native analytics engine.

A ground-up rebuild of the data-processing capabilities of the reference
ETL pipeline (``juancho3104/parcialBigdata``, surveyed in SURVEY.md),
re-expressed Spark-first:

- ``pipeline``   — the faithful capability core: paginated HTTP ingest,
                   HTML listing extraction, per-file header-CSV sink
                   (reference: download_lambda.py:22-140).
- ``streaming``  — Structured Streaming file-source pipeline replacing the
                   S3-event trigger (reference: zappa_settings.json:28-36),
                   plus watermarked window analytics.
- ``operators``  — relational + LLM-data-pipeline operators (joins incl.
                   as-of/range, dedup families, similarity search).
- ``functions``  — scalar/text/vector expression builders (pure
                   pyspark.sql.functions — JVM-side, codegen-friendly).
- ``sources``    — table loaders and the multimodal binary-column plumbing.
- ``pyworker``   — imported for its effect: Python workers stop re-reading
                   ``pyspark.zip`` at every task start (Python < 3.13).

Everything is built on the public Apache Spark DataFrame/SQL API; Catalyst
and AQE do all plan optimization (SURVEY.md §4: no custom rules needed).
"""

from parcialbigdata_spark import pyworker  # noqa: F401  (installs itself)
from parcialbigdata_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
