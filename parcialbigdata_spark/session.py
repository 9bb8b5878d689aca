"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case and is equally valid there:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- Arrow on (pandas UDFs are the only Python hot path we allow).
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle.
- ``shuffle.partitions`` defaults to ``max(cores, 16)``; AQE coalesces
  from that deliberately-high initial number, on a real cluster as
  locally, so we set the initial partition number high and let AQE
  shrink it. Persisted plans coalesce their final stage too
  (``canChangeCachedPlanOutputPartitioning``), so a small cached
  relation does not carry the initial number into every reader.
- The generated-code cache holds 1,000 classes
  (``spark.sql.codegen.cache.maxEntries``; Spark's default is 100). One
  warm pass of the MinHash index lifecycle plus its clusters query needs
  more than 100, so at the default a warm pass recompiled 68–145 classes
  with Janino and the JIT compiled each new class again. At 1,000 a warm
  pass reuses every class it has compiled before. The cache is static:
  it is sized at JVM start.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession


def _arrow_max_bytes() -> int:
    """Validated Arrow per-batch byte cap (r15). Default 64 MiB;
    ``SPARK_GRAFT_ARROW_MAX_BYTES`` overrides within [1 MiB, 1 GiB] —
    values outside that band are configuration mistakes (a plain Arrow
    binary column caps one batch at 2 GiB regardless, and a huge cap
    measurably wedges the Arrow writer), so they raise at session
    build instead of degrading every kernel downstream."""
    raw = os.environ.get("SPARK_GRAFT_ARROW_MAX_BYTES")
    if raw is None:
        return 64 * 1024 * 1024
    try:
        val = int(raw)
    except ValueError as exc:
        raise ValueError(
            f"SPARK_GRAFT_ARROW_MAX_BYTES must be an integer byte count; "
            f"got {raw!r}"
        ) from exc
    if not (1024 * 1024 <= val <= 1024 * 1024 * 1024):
        raise ValueError(
            f"SPARK_GRAFT_ARROW_MAX_BYTES={val} outside the sane band "
            f"[1 MiB, 1 GiB]; an Arrow binary column caps a batch at "
            f"2 GiB regardless, and absurd caps wedge the Arrow writer"
        )
    return val


def get_spark(app_name: str = "parcialbigdata-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    on a cluster, ``master`` comes from spark-submit and this arg is None.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism / correctness ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: the scale workhorse ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Persisted plans get AQE's final-stage coalescing as well. Under
        # Spark's default (false) a cached relation's last exchange keeps
        # the full shuffle.partitions count, and every stage reading a
        # small cache runs that many near-empty tasks. Safe for the caches
        # whose consumers rely on their partitioning: repartition(n, ...)
        # and repartitionByRange(n, ...) are REPARTITION_BY_NUM shuffles,
        # which AQE never coalesces.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Generated-code cache: a static conf, so it is set here, before
        # the JVM starts. One warm dedup-index pass compiles more classes
        # than the default 100 hold, so the LRU evicted them and every
        # pass recompiled them; 1,000 holds a whole pass.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Initial shuffle partitions: max(cores, 16), which AQE coalesces
        # down for small shuffles. Measured bench time rises
        # monotonically with extra partitions (pure task-scheduling
        # overhead at single-node scale: 64 partitions costs ~10% more
        # wall clock than 32 at sf0.1). On a 1000-executor cluster set
        # SPARK_GRAFT_SHUFFLE_PARTITIONS (or spark.sql.shuffle.partitions
        # via spark-submit) to ~2-3x total cores so AQE starts high and
        # coalesces; stragglers/skew make the high start worth it there.
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 16))),
        )
        # --- Python interop: Arrow everywhere ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Byte-bounded Arrow batches (r15, guide §4.2/§5): the media
        # decode kernels (wav/png/mp4 mapInPandas) move MB-sized blob
        # rows, where a 10k-ROW batch can be tens of GB of executor +
        # Python-worker memory at production blob sizes; Spark 4's
        # maxBytesPerBatch is the direct knob — 64 MB bounds the batch
        # by bytes while narrow numeric kernels keep hitting the row
        # cap first (local fixtures: row cap binds, bench unchanged;
        # decode-kernel MB/s/core flat across 4–256 MB caps). The
        # override is clamped to 1 GiB: a plain Arrow binary column
        # caps one batch at 2 GiB anyway, and a measured absurd value
        # (2^40) wedged the Arrow writer for minutes — fail loudly at
        # session build instead (same ADVICE-r14 discipline as the
        # EXTRA_CONF parsing).
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(_arrow_max_bytes()),
        )
        # --- scan sizing: 128 MB splits, the parquet sweet spot ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- broadcast joins for dims up to 64 MB (region/nation/part/
        #     supplier stay broadcast-able far beyond sf0.1) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # --- streaming state: RocksDB keeps state off-heap and spills
        #     to disk, so watermarked joins/aggs scale past executor
        #     memory (the default HDFS-backed in-memory store does not).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
    )
    # Free-form overrides for A/B tuning and cluster deployment:
    # SPARK_GRAFT_EXTRA_CONF="k=v;k=v" applies last, so any default
    # above can be overridden per run without code edits (the
    # spark-submit --conf equivalent for the driver-contract entry
    # points, which construct the session themselves).
    # ADVICE r14: overrides are LOGGED (stderr, like Spark's own WARNs)
    # so an env var left set cannot silently flip a correctness-pinned
    # default (e.g. ansi.enabled) for a bench/oracle run, and malformed
    # entries fail loudly instead of being dropped. Values containing
    # ';' cannot be expressed in this k=v;k=v format — by design; use
    # spark-submit --conf for those.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in extra.split(";"):
        kv = kv.strip()
        if not kv:
            continue
        if "=" not in kv:
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF: malformed entry {kv!r} (want k=v;k=v)"
            )
        k, v = kv.split("=", 1)
        print(
            f"parcialbigdata_spark.session: SPARK_GRAFT_EXTRA_CONF override "
            f"{k.strip()}={v.strip()}",
            file=sys.stderr,
        )
        builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()


def release_checkpoint(df: DataFrame) -> None:
    """Release the cached partitions of a ``localCheckpoint()``-ed
    DataFrame.

    ``DataFrame.unpersist()`` only clears CacheManager entries
    (``persist()`` caches); a checkpoint's backing RDD is invisible to
    it, so iterative operators that checkpoint per round would
    accumulate persisted RDDs until the ContextCleaner happens to GC
    them — unbounded executor storage growth on a long-running cluster
    job. This reaches the ``LogicalRDD`` behind the checkpointed plan
    and unpersists its RDD directly (non-blocking).

    Only call on a checkpoint that is genuinely superseded: the
    DataFrame's lineage was truncated, so any later action on it (or on
    a plan built over it that has not itself been materialized) fails
    with a missing-checkpoint-block error rather than recomputing.
    Falls back to ``unpersist()`` if the plan shape is unexpected
    (e.g. a future Spark renames the accessor) — never raises.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        df.unpersist()
