"""Watermarked window analytics over event streams (SURVEY.md §2.8 E4).

The reference has no time-windowed computation; these are the EXT
streaming operators over the ``events`` fixture (FIXTURES.md §B):
tumbling windows, session windows, streaming dedup, and a custom
stateful counter via ``applyInPandasWithState``.

Each builder takes a *streaming* DataFrame (``read_events_stream``
below reads the parquet fixture as a file stream, so an
``availableNow`` drain replays the whole table as micro-batches). The
outputs are deterministic once the stream is fully drained — which is
what lets the driver compare them against batch DuckDB oracles.

Scale note: every aggregation here keys its state by (window, user) —
state store size is bounded by watermark horizon × key cardinality,
and the shuffle carries partial aggregates. That is the standard
Structured Streaming scaling model; nothing custom.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from parcialbigdata_spark.streaming.pipeline import run_available_now

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a file stream (one-file parquet source).

    ``events.parquet`` may store TIMESTAMP(NANOS) — which the session's
    ``nanosAsLong`` setting surfaces as long — or plain TIMESTAMP(MICROS).
    A file stream needs an explicit schema, so probe the physical type
    with a batch read of the same file (footer-only, no data scan) and
    mirror the batch loader's handling (sources/tables.py) so the
    streaming and batch views agree to the microsecond."""
    import os

    physical = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    nanos = isinstance(physical["ts"].dataType, LongType)
    raw_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", LongType() if nanos else TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if not nanos:
        return raw
    # Integer DIV, exactly like the batch loader (sources/tables.py) — a
    # double division would lose precision above 2^53 ns.
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))


def streaming_hourly_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour window with watermark: count + value sum per
    (window, event_type). Late rows beyond the watermark are dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_sessions(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows (30-min inactivity gap) per user — the streaming
    twin of the batch sessionizer (queries.py sessionization_events).

    ``session_window`` end = last event + gap, so the session duration
    is ``end - start - gap``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start_epoch"),
            (F.unix_timestamp("w.end") - F.unix_timestamp("w.start") - F.lit(1800)).alias(
                "duration_sec"
            ),
            "n_events",
        )
    )


def streaming_dedup_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon
    (``dropDuplicatesWithinWatermark`` keeps state bounded)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def click_purchase_join(
    events: DataFrame, horizon: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked stream-stream inner join (E4): every click paired
    with the same user's purchases within ``horizon`` after it.

    Both sides carry a watermark and the join condition bounds event
    time in both directions — the two things Structured Streaming
    needs to know when buffered rows can be evicted, so state stays
    bounded by (watermark + horizon) × arrival rate. Shuffle is on
    user_id for both sides (one exchange each); output mode is append
    (inner stream-stream joins emit exactly-once per matched pair).

    Deterministic once drained, so the driver checks it against a
    plain batch self-join oracle."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {horizon}")),
            "inner",
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("secs_between"),
        )
    )


def click_purchase_join_outer(
    events: DataFrame, horizon: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join (E4): every click
    paired with the same user's purchases within ``horizon``, and
    clicks with NO such purchase emitted once — with NULL purchase
    columns — when the watermark proves no match can still arrive.

    The correctness trap vs the inner sibling
    (:func:`click_purchase_join`): inner matches emit as soon as both
    rows are buffered, but the null-extended rows are emitted by STATE
    EVICTION — a buffered click flushes only when the right-side
    watermark passes ``c_ts + horizon``. Watermarks advance at batch
    BOUNDARIES from the previous batch's max event time, so a
    single-batch ``availableNow`` drain never evicts anything and the
    "outer" part silently never happens; even multi-batch, the rows
    near the stream's end stay buffered at termination. Draining this
    join to a batch-equivalent answer therefore requires the SOURCE to
    deliver trailing batches whose event times push the watermark past
    every real click's horizon — the sentinel-file pattern the
    registered query (queries.py streaming_left_outer_join_events)
    builds, keeping this operator honest end to end.

    State is bounded exactly as in the inner join (both sides
    watermarked, both join-time bounds present); the extra cost of
    leftOuter is only that evicted-unmatched rows produce output."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {horizon}")),
            "leftOuter",
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("secs_between"),
        )
    )


_STATE_SCHEMA = "n bigint"
_COUNT_OUT_SCHEMA = "user_id bigint, n_events bigint"


def _count_fn(key, pdfs, state: GroupState):
    n = state.get[0] if state.exists else 0
    for pdf in pdfs:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})


_FIRST_DAYS_OUT_SCHEMA = "user_id bigint, day string"


def _first_seen_days_fn(key, pdfs, state: GroupState):
    seen = set(state.get[0]) if state.exists else set()
    fresh = []
    for pdf in pdfs:
        for d in pdf["day"]:
            if d not in seen:
                seen.add(d)
                fresh.append(d)
    state.update((sorted(seen),))
    if fresh:
        yield pd.DataFrame({"user_id": key[0], "day": sorted(fresh)})


def distinct_user_days(events: DataFrame) -> DataFrame:
    """Stateful streaming DISTINCT over (user, day) — the state layer
    of the lifecycle analytics (new-vs-returning, churn, retention)
    that batch computes with ``SELECT DISTINCT user_id, day``.

    ``applyInPandasWithState`` keyed by user; state is the user's
    set of already-emitted days (``array<string>``), so each (user,
    day) pair is emitted EXACTLY ONCE however the stream is
    micro-batched, and — unlike an append-mode classification — the
    operator stays correct under out-of-order arrival: a user's
    earlier day landing in a LATER batch still gets its own emission,
    and first-seen classification is deferred to a post-drain
    ``min(day)`` over the compact (user, day) store rather than frozen
    at emission time. State is bounded by the day horizon per user
    (~hundreds of strings); production variants TTL the set by
    watermark or swap it for a Bloom filter once the horizon is
    unbounded."""
    days = events.select(
        "user_id",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
    )
    return days.groupBy("user_id").applyInPandasWithState(
        _first_seen_days_fn,
        outputStructType=_FIRST_DAYS_OUT_SCHEMA,
        stateStructType="days array<string>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


from pyspark.sql.streaming.stateful_processor import StatefulProcessor  # noqa: E402


class _SpendProcessor(StatefulProcessor):
    """``transformWithState`` processor: exact running spend per user.

    State is a single BIGINT of integer cents — floats are converted
    per row with floor(x·100 + .5) (half-away rounding, matching
    DuckDB/Spark ``round``), so the accumulated total is exact integer
    arithmetic and independent of micro-batch splits. Alongside, a
    monotone ``n_seen`` row counter lets the drained update-mode output
    identify each key's final emission without assuming the total is
    monotone (refunds/negative values would break a max-based pick)."""

    def init(self, handle) -> None:
        self._cents = handle.getValueState("cents", "cents BIGINT")
        self._seen = handle.getValueState("seen", "seen BIGINT")

    def handleInputRows(self, key, rows, timerValues):
        import math

        cents = self._cents.get()[0] if self._cents.exists() else 0
        seen = self._seen.get()[0] if self._seen.exists() else 0
        for pdf in rows:
            for v in pdf["value"]:
                cents += int(math.floor(float(v) * 100.0 + 0.5))
            seen += len(pdf)
        self._cents.update((cents,))
        self._seen.update((seen,))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_seen": [seen], "total_cents": [cents]}
        )

    def close(self) -> None:
        pass


_SPEND_OUT_SCHEMA = "user_id bigint, n_seen bigint, total_cents bigint"


def _spend_fn(key, pdfs, state: GroupState):
    """applyInPandasWithState twin of ``_SpendProcessor`` — same exact
    integer-cents state transition, v1 state API."""
    import math

    cents, seen = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        for v in pdf["value"]:
            cents += int(math.floor(float(v) * 100.0 + 0.5))
        seen += len(pdf)
    state.update((cents, seen))
    yield pd.DataFrame({"user_id": [key[0]], "n_seen": [seen], "total_cents": [cents]})


def stateful_v2_available() -> bool:
    """``transformWithState``'s state server speaks protobuf between the
    JVM and a Python driver worker; without ``google.protobuf`` the
    worker crashes at schema validation. Probe once, up front."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_spend_per_user(events: DataFrame) -> DataFrame:
    """Custom stateful operator on the Spark 4 ``transformWithState``
    API (stateful v2): typed per-key state handles (ValueState here;
    ListState/MapState and timers for richer operators), RocksDB-backed
    like ``applyInPandasWithState`` but with explicit state evolution
    and TTL support — the forward-looking home for custom streaming
    state.

    Falls back to an ``applyInPandasWithState`` twin with the identical
    state transition when the runtime lacks ``google.protobuf`` (which
    the v2 state-server protocol requires) — output and semantics are
    the same either way, so the oracle check covers both paths."""
    if stateful_v2_available():
        return events.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_SpendProcessor(),
            outputStructType=_SPEND_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    return events.groupBy("user_id").applyInPandasWithState(
        _spend_fn,
        outputStructType=_SPEND_OUT_SCHEMA,
        stateStructType="cents bigint, seen bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_count_per_user(events: DataFrame) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): running
    event count per user, emitted once per micro-batch. State is one
    bigint per user — the minimal arbitrary-state example; richer
    per-key state (sketches, model snapshots) follows the same shape."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _count_fn,
            outputStructType=_COUNT_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_late_data_audit(
    spark: SparkSession,
    stream_dir: str,
    delay_secs: int = 3600,
    window_secs: int = 3600,
    quarantine_dir: str | None = None,
    timeout: float = 180.0,
):
    """Watermark / late-data AUDIT (E4 operational complement): drain
    the event file-stream batch-by-batch and, for every batch, count
    and ROUTE the rows a ``delay_secs`` watermark would make a
    downstream ``window_secs`` tumbling aggregation DROP — the rows
    Structured Streaming otherwise discards silently (visible only as
    an opaque ``numDroppedRows`` metric, with the rows themselves
    gone). Production wants both halves: the per-batch lateness
    profile (is a source's clock skewing? is the delay budget right?)
    and the quarantined rows for replay once the cause is fixed.

    The audit replicates the engine's watermark-advancement rule in
    integer-second space: before batch *i*,
    ``wm = max(event time over batches < i) − delay`` (the global
    maximum the driver tracks; batch 0 has no watermark), and a row is
    LATE iff its window END ≤ wm — the same condition under which the
    windowed agg's state for that window has been finalized and the
    row would be dropped. tests/test_round9_ops.py pins this replica
    against the engine itself: per-window admitted counts equal the
    sentinel-flushed ``streaming_hourly_counts`` output on the same
    file sequence. Integer-second arithmetic keeps the classification
    bit-identical in any engine (the DuckDB oracle replays it with a
    window max over the per-batch maxima).

    Scale: the per-batch classification is one scalar comparison per
    row (the watermark broadcasts as a literal — no state store, no
    keyed shuffle), the driver keeps ONE number (the running max), the
    audit relation is (batches × groups)-grained, and late rows stream
    to ``quarantine_dir`` as an append parquet sink — nothing
    data-sized ever lands on the driver. Returns
    ``(audit_df, quarantine_df)``: per-(batch, event_type) admitted /
    late counts with max lateness, and the routed late rows (empty
    relation when no quarantine dir is given)."""
    # TWO maxima, because the engine applies watermarks with a
    # one-extra-batch lag (verified empirically against
    # streaming_hourly_counts, and the reason the outer-join query
    # needs TWO sentinel files): the watermark filtering batch i is
    # computed from event times of batches ≤ i−2 — batch i−1's stats
    # are folded into the offset metadata only after its commit, and
    # take effect one trigger later. ``seen`` = max through the
    # previous batch; ``applied`` = max through the batch before that,
    # i.e. what the engine actually filters with.
    state = {"seen": None, "applied": None}
    audit_rows: list[tuple] = []

    def _audit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        wm = None if state["applied"] is None else state["applied"] - delay_secs
        ep = F.unix_timestamp("ts").cast("bigint")
        wend = (F.floor(ep / window_secs) + 1) * window_secs
        classified = batch_df.withColumn("__ep", ep).withColumn("__wend", wend)
        if wm is None:
            classified = classified.withColumn("__late", F.lit(False))
        else:
            classified = classified.withColumn("__late", F.col("__wend") <= F.lit(wm))
        classified = classified.withColumn(
            "__late_secs",
            F.when(F.col("__late"), F.lit(wm) - F.col("__wend")),
        )
        agg = (
            classified.groupBy("event_type")
            .agg(
                F.sum(F.when(~F.col("__late"), 1).otherwise(0)).alias("n_admitted"),
                F.sum(F.when(F.col("__late"), 1).otherwise(0)).alias("n_late"),
                F.max("__late_secs").alias("max_late_secs"),
                F.max("__ep").alias("__mx"),
            )
            .collect()
        )
        for r in agg:  # batches × groups rows — bounded, driver-safe
            # -1 (not NULL) when a batch/group had no late rows: a
            # nullable BIGINT lands as float64 at pandas-fetching
            # drivers, which mangles large exact lateness values.
            audit_rows.append(
                (int(epoch_id), r.event_type, int(r.n_admitted), int(r.n_late),
                 -1 if r.max_late_secs is None else int(r.max_late_secs))
            )
        if quarantine_dir is not None:
            (
                classified.filter(F.col("__late"))
                .drop("__ep", "__wend", "__late", "__late_secs")
                .write.mode("append")
                .parquet(quarantine_dir)
            )
        batch_max = max((r["__mx"] for r in agg if r["__mx"] is not None), default=None)
        state["applied"] = state["seen"]
        if batch_max is not None:
            state["seen"] = (
                batch_max if state["seen"] is None else max(state["seen"], batch_max)
            )

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_audit_batch)
        .trigger(availableNow=True)
        .start()
    )
    run_available_now(q, timeout, "late-data audit")
    audit = spark.createDataFrame(
        audit_rows,
        "batch_id int, event_type string, n_admitted bigint, n_late bigint, "
        "max_late_secs bigint",
    )
    if quarantine_dir is not None:
        import os

        if os.path.isdir(quarantine_dir):
            quarantine = spark.read.parquet(quarantine_dir)
        else:  # no batch had late rows — the sink dir was never created
            quarantine = spark.createDataFrame([], EVENTS_SCHEMA)
    else:
        quarantine = spark.createDataFrame([], EVENTS_SCHEMA)
    return audit, quarantine
