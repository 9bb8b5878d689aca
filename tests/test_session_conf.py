"""Session config validation (r15): the Arrow per-batch byte-cap
override must be clamped to a sane band — a measured absurd value
(2^40) wedged the Arrow writer for minutes, so misconfiguration fails
loudly at session build instead of degrading every kernel downstream.
The validation tests are pure functions and need no Spark session; the
last two use the session fixture to pin how persisted relations are
partitioned."""

import pytest
from pyspark.sql import functions as F

from parcialbigdata_spark.session import _arrow_max_bytes


def _with_env(monkeypatch, value):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_ARROW_MAX_BYTES", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_ARROW_MAX_BYTES", value)


def test_default_is_64_mib(monkeypatch):
    _with_env(monkeypatch, None)
    assert _arrow_max_bytes() == 64 * 1024 * 1024


@pytest.mark.parametrize("v", ["1048576", "4194304", "1073741824"])
def test_band_edges_accepted(monkeypatch, v):
    _with_env(monkeypatch, v)
    assert _arrow_max_bytes() == int(v)


@pytest.mark.parametrize("v", ["1048575", str(1 << 40), "0", "-1"])
def test_out_of_band_raises(monkeypatch, v):
    _with_env(monkeypatch, v)
    with pytest.raises(ValueError, match="sane band"):
        _arrow_max_bytes()


def test_non_integer_raises(monkeypatch):
    _with_env(monkeypatch, "64m")
    with pytest.raises(ValueError, match="integer byte count"):
        _arrow_max_bytes()


def test_persisted_aggregate_coalesces_final_stage(spark):
    """A small persisted aggregate is coalesced by AQE instead of keeping
    all ``spark.sql.shuffle.partitions`` partitions for every reader."""
    agg = (
        spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count().persist()
    )
    try:
        agg.count()
        assert agg.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    finally:
        agg.unpersist()


def test_persisted_repartition_keeps_its_partition_count(spark):
    """``repartition(n, col)`` caches keep exactly n partitions and their
    hash partitioning, so a grouping on the key plans no exchange: the
    ``__pid`` caches of ``operators/scan.py`` rely on it."""
    parts = (
        spark.range(1000).withColumn("k", F.col("id") % 7).repartition(4, "k").persist()
    )
    try:
        parts.count()
        assert parts.rdd.getNumPartitions() == 4
        plan = parts.groupBy("k").count()._jdf.queryExecution().executedPlan().toString()
        assert "ENSURE_REQUIREMENTS" not in plan, plan
    finally:
        parts.unpersist()
