"""Structured Streaming tests: file-source landing → per-file CSV with
exactly-once semantics (E1), availableNow drain and its timeout guard
(E2), empty-input error side-channel (E3), the index-store scaffold, and
the watermarked-window builders (E4)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.errors import StreamingQueryException

from parcialbigdata_spark.pipeline import compat_view, exploded_cards, process_handler, sink
from parcialbigdata_spark.streaming import run_available_now, stream_landing_to_csv
from parcialbigdata_spark.streaming.ann_store import run_streaming_ivf_index
from parcialbigdata_spark.streaming.dedup_store import run_streaming_minhash_index
from parcialbigdata_spark.streaming.media_store import run_streaming_phash_index
from tests.test_fetch import RecordingStore
from tests.test_pipeline import GOLDEN_CARD, MISSING_FIELDS_CARD, _page


def test_stream_landing_to_csv(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "2026-08-01.html").write_text(_page(GOLDEN_CARD))
    (landing / "2026-08-02.html").write_text(_page(GOLDEN_CARD + MISSING_FIELDS_CARD))
    (landing / "2026-08-03.html").write_text("<html><body>vacío</body></html>")

    store = RecordingStore(str(tmp_path / "store"))
    run_available_now(stream_landing_to_csv(spark, str(landing), str(tmp_path / "ckpt"), store=store))

    csvs = {c["Key"]: c for c in store.put_calls if c["Bucket"] == "parcials"}
    errors = {c["Key"]: c for c in store.put_calls if c["Bucket"] == "errors"}
    assert set(csvs) == {"2026-08-01.csv", "2026-08-02.csv"}
    assert set(errors) == {"2026-08-03.error.json"}
    assert csvs["2026-08-01.csv"]["Body"].startswith(
        "FechaDescarga,Barrio,Valor,NumHabitaciones,NumBanos,mts2\r\n"
    )
    assert csvs["2026-08-02.csv"]["Body"].count("\r\n") == 3  # header + 2 rows
    assert "No listings found" in errors["2026-08-03.error.json"]["Body"]


def test_stream_exactly_once_on_restart(spark, tmp_path):
    """Checkpoint bookkeeping: a second availableNow run over the same
    landing dir reprocesses nothing; a new file is picked up once."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "2026-08-01.html").write_text(_page(GOLDEN_CARD))
    ckpt = str(tmp_path / "ckpt")
    store = RecordingStore(str(tmp_path / "store"))

    run_available_now(stream_landing_to_csv(spark, str(landing), ckpt, store=store))
    n_first = len(store.put_calls)
    assert n_first == 1

    run_available_now(stream_landing_to_csv(spark, str(landing), ckpt, store=store))
    assert len(store.put_calls) == n_first  # nothing reprocessed

    (landing / "2026-08-02.html").write_text(_page(GOLDEN_CARD))
    run_available_now(stream_landing_to_csv(spark, str(landing), ckpt, store=store))
    assert [c["Key"] for c in store.put_calls[n_first:]] == ["2026-08-02.csv"]


def test_streaming_hourly_matches_batch(spark):
    """E4: the drained tumbling-window aggregation equals the batch
    groupBy on the same fixture."""
    from parcialbigdata_spark.queries import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    streamed = QUERIES["streaming_hourly_events"](spark, sf_dir)
    batch = QUERIES["events_hourly_agg"](spark, sf_dir)
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_streaming_dedup(spark):
    from parcialbigdata_spark.queries import QUERIES

    row = QUERIES["streaming_dedup_events"](spark, "/root/testdata/sf0.001").first()
    assert row.n_events == row.n_distinct > 0


def test_stateful_running_counts(spark):
    """applyInPandasWithState: final per-user counts equal the batch
    groupBy count."""
    from parcialbigdata_spark.queries import QUERIES
    from parcialbigdata_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    sf_dir = "/root/testdata/sf0.001"
    streamed = {
        (r.user_id, r.n_events)
        for r in QUERIES["streaming_running_counts"](spark, sf_dir).collect()
    }
    batch = {
        (r.user_id, r.n)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert streamed == batch


def test_checkpoint_dir_created(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "2026-08-01.html").write_text(_page(GOLDEN_CARD))
    ckpt = tmp_path / "ckpt"
    store = RecordingStore(str(tmp_path / "store"))
    run_available_now(stream_landing_to_csv(spark, str(landing), str(ckpt), store=store))
    assert os.path.isdir(ckpt)


def test_stream_landing_jobs_per_epoch_pinned(spark, tmp_path):
    """One micro-batch costs a file-list job plus one bounded collect,
    whatever its file count: no per-file (per-date) jobs."""
    counts = {}
    for n in (3, 12):
        landing = tmp_path / f"landing{n}"
        landing.mkdir()
        for i in range(1, n):
            (landing / f"2026-08-{i:02d}.html").write_text(_page(GOLDEN_CARD + MISSING_FIELDS_CARD))
        (landing / f"2026-08-{n:02d}.html").write_text("<html><body>vacío</body></html>")
        store = RecordingStore(str(tmp_path / f"store{n}"))
        q = stream_landing_to_csv(spark, str(landing), str(tmp_path / f"ckpt{n}"), store=store)
        run_available_now(q)
        # streaming jobs carry the query's run id as their job group
        counts[n] = len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))
        assert sum(c["Bucket"] == "parcials" for c in store.put_calls) == n - 1
        assert [c["Key"] for c in store.put_calls if c["Bucket"] == "errors"] == [
            f"2026-08-{n:02d}.error.json"
        ]
    assert counts[3] == counts[12] <= 3, counts


def test_stream_landing_guard_trips_before_write(spark, tmp_path, monkeypatch):
    """The sink's row bound is read per call and checked before any
    object is written: an over-bound micro-batch fails the query and
    leaves no CSV behind."""
    monkeypatch.setattr(sink, "COMPAT_SINK_MAX_ROWS", 1)
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "2026-08-01.html").write_text(_page(GOLDEN_CARD + MISSING_FIELDS_CARD))
    store = RecordingStore(str(tmp_path / "store"))
    q = stream_landing_to_csv(spark, str(landing), str(tmp_path / "ckpt"), store=store)
    with pytest.raises(StreamingQueryException, match="exceeds 1 rows"):
        run_available_now(q)
    assert q.exception() is not None
    assert store.put_calls == []


def test_drain_timeout_raises_and_stops_query(spark):
    """A drain still running at its timeout is stopped and raises: a
    never-ending rate-source query cannot pass for a finished one."""
    q = spark.readStream.format("rate").load().writeStream.format("noop").start()
    try:
        with pytest.raises(RuntimeError, match="availableNow drain did not finish within 2s"):
            run_available_now(q, timeout_sec=2)
        assert not q.isActive
    finally:
        q.stop()


@pytest.mark.parametrize(
    "store",
    [
        lambda spark, d: run_streaming_minhash_index(spark, d, "t_bands", "t_sets"),
        lambda spark, d: run_streaming_ivf_index(spark, d, "t_cells", [[1.0, 0.0]]),
        lambda spark, d: run_streaming_phash_index(spark, d, "t_bands"),
    ],
    ids=["minhash", "ivf", "phash"],
)
def test_drain_index_store_empty_stream_dir_raises(spark, tmp_path, store):
    (tmp_path / "notes.txt").write_text("not a micro-batch")
    with pytest.raises(ValueError, match=re.escape(f"no .parquet file in stream dir '{tmp_path}'")):
        store(spark, str(tmp_path))


THIRD_CARD = """
<div class="listing-card__content">
  <span class="price__actual">$ 99</span>
  <div class="listing-card__location__geo">Suba</div>
</div>
"""


def test_per_file_csv_sinks_byte_identical(spark, tmp_path):
    """process_handler, write_csv_per_source and stream_landing_to_csv
    write the same bytes per file: header first, CRLF line endings, rows
    in document order (which no column sort reproduces here)."""
    files = {
        "2026-08-03.html": _page(GOLDEN_CARD),
        "2026-08-01.html": _page(MISSING_FIELDS_CARD + GOLDEN_CARD + THIRD_CARD),
        "2026-08-02.html": "<html><body>vacío</body></html>",
    }
    expected = {
        "2026-08-01.csv": (
            "FechaDescarga,Barrio,Valor,NumHabitaciones,NumBanos,mts2\r\n"
            "2026-08-01,Usaquén,N/A,N/A,N/A,N/A\r\n"
            '2026-08-01,"Chapinero, Bogotá",$ 250.000.000,2,1,45\r\n'
            "2026-08-01,Suba,$ 99,N/A,N/A,N/A\r\n"
        ),
        "2026-08-03.csv": (
            "FechaDescarga,Barrio,Valor,NumHabitaciones,NumBanos,mts2\r\n"
            '2026-08-03,"Chapinero, Bogotá",$ 250.000.000,2,1,45\r\n'
        ),
    }
    landing = tmp_path / "landing"
    landing.mkdir()
    handler_store = RecordingStore(str(tmp_path / "handler"))
    for name, html in files.items():
        (landing / name).write_text(html)
        handler_store.put_object("in", name, html)
    handler_store.put_calls.clear()

    for name in files:
        event = {"Records": [{"s3": {"bucket": {"name": "in"}, "object": {"key": name}}}]}
        process_handler(event, spark=spark, store=handler_store)
    by_handler = {c["Key"]: c["Body"] for c in handler_store.put_calls}

    batch_store = RecordingStore(str(tmp_path / "batch"))
    raw = spark.createDataFrame(list(files.items()), "source_file string, value string")
    keys = sink.write_csv_per_source(compat_view(exploded_cards(raw)), batch_store, "parcials")
    assert keys == ["2026-08-01.csv", "2026-08-03.csv"]
    by_batch = {c["Key"]: c["Body"] for c in batch_store.put_calls}

    stream_store = RecordingStore(str(tmp_path / "stream"))
    run_available_now(
        stream_landing_to_csv(spark, str(landing), str(tmp_path / "ckpt"), store=stream_store)
    )
    by_stream = {c["Key"]: c["Body"] for c in stream_store.put_calls if c["Bucket"] == "parcials"}

    assert by_handler == by_batch == by_stream == expected


def test_stream_stream_join_matches_batch(spark):
    """E4: the drained watermarked stream-stream join equals the batch
    self-join on the same fixture."""
    from pyspark.sql import functions as F

    from parcialbigdata_spark.queries import QUERIES
    from parcialbigdata_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    streamed = QUERIES["streaming_click_purchase_join"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    batch = c.join(
        p,
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 minutes")),
    ).select(
        F.col("cu").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_timestamp("pts") - F.unix_timestamp("cts")).alias("secs_between"),
    )
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b
    assert s, "no click->purchase pairs at sf0.001 — fixture assumption broken"


def test_watermark_drops_late_events(spark, tmp_path):
    """E4 semantics: an event arriving after the watermark has passed
    its window is DROPPED from the windowed aggregation. Two parquet
    files processed one per micro-batch (maxFilesPerTrigger=1): the
    first advances the watermark far past hour 10; the second delivers
    a late hour-10 event, which must not resurrect the closed window."""
    import pandas as pd
    from pyspark.sql import functions as F

    src = tmp_path / "events_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write(name, rows):
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).astype({"ts": "datetime64[us]"}).to_parquet(src / name)

    t = pd.Timestamp
    # Batch 1: one event at 10:00, plus one at 20:00 that drags the
    # 1-hour watermark to 19:00 — far past hour 10's close.
    write("a.parquet", [
        (1, t("2024-01-01 10:00:00"), 1, "click", 1.0, "{}"),
        (2, t("2024-01-01 20:00:00"), 1, "click", 1.0, "{}"),
    ])
    # Batch 2: neutral event. The 19:00 watermark takes effect, hour 10
    # is emitted (n=1) and its state evicted. (Eviction happens at
    # batch boundaries, so this intermediate batch is what closes the
    # window — dropping of late rows is only guaranteed AFTER eviction,
    # which is exactly the contract this test pins.)
    write("b.parquet", [
        (4, t("2024-01-01 21:00:00"), 1, "click", 1.0, "{}"),
    ])
    # Batch 3: a too-late hour-10 event — must be dropped, not
    # resurrect the closed window as a duplicate append row.
    write("c.parquet", [
        (3, t("2024-01-01 10:30:00"), 1, "click", 1.0, "{}"),
    ])
    # The file source orders batches by modification time — pin the
    # arrival order a → b → c.
    import time as _time

    now = _time.time()
    os.utime(src / "a.parquet", (now - 200, now - 200))
    os.utime(src / "b.parquet", (now - 100, now - 100))
    os.utime(src / "c.parquet", (now, now))

    events = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "HH").alias("hour"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    rows = spark.table("late_drop_test").collect()
    hour10 = [r for r in rows if r["hour"] == "10"]
    # Hour 10 closed once, with exactly the on-time event; the late one
    # (id 3) was dropped — no duplicate append row, no count bump.
    assert [r["n"] for r in hour10] == [1], rows


def test_running_spend_exact_cents_across_batch_splits(spark, tmp_path):
    """The spend state transition is exact integer cents, so the final
    per-user total is identical however the stream is micro-batched —
    here: whole-fixture drain vs a 1-file-per-trigger replay of the
    same rows split across three files."""
    import pyspark.sql.functions as F

    from parcialbigdata_spark.streaming.windows import (
        read_events_stream,
        running_spend_per_user,
    )

    sf_dir = "/root/testdata/sf0.001"
    whole = _drain_update(running_spend_per_user(read_events_stream(spark, sf_dir)))
    final_whole = {
        r["user_id"]: r["total_cents"]
        for r in whole.groupBy("user_id")
        .agg(F.max_by("total_cents", "n_seen").alias("total_cents"))
        .collect()
    }

    src = tmp_path / "split_src"
    src.mkdir()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"part{i}.parquet")
        )
    split_stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    split = _drain_update(running_spend_per_user(split_stream))
    final_split = {
        r["user_id"]: r["total_cents"]
        for r in split.groupBy("user_id")
        .agg(F.max_by("total_cents", "n_seen").alias("total_cents"))
        .collect()
    }
    assert final_whole == final_split
    assert len(final_whole) > 0


def _drain_update(sdf):
    import uuid

    name = f"spend_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    return sdf.sparkSession.table(name)


def test_stream_incremental_dedup_against_store(spark, tmp_path):
    """Dedup-at-arrival: batch 2 repeats a batch-1 doc (cross-batch dup,
    must be dropped via the store) and contains an in-batch dup (min id
    survives). Restarting on new files must not resurrect old docs."""
    import os
    import time

    from parcialbigdata_spark.streaming.dedup_store import stream_dedup_to_corpus

    src = tmp_path / "in"
    src.mkdir()
    schema = "doc_id bigint, text string"
    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")], schema
    ).coalesce(1).write.parquet(str(src / "b1.parquet"))
    spark.createDataFrame(
        [
            (3, "alpha  beta gamma"),   # dup of doc 1 after normalization
            (4, "eta theta iota"),
            (5, "eta theta iota"),      # in-batch dup: 4 survives
        ],
        schema,
    ).coalesce(1).write.parquet(str(src / "b2.parquet"))
    now = time.time()
    os.utime(src / "b1.parquet", (now - 100, now - 100))
    os.utime(src / "b2.parquet", (now, now))

    store, out, ckpt = (str(tmp_path / d) for d in ("store", "corpus", "ckpt"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = stream_dedup_to_corpus(stream, store, out, ckpt)
    q.awaitTermination(180)
    if q.isActive:
        q.stop()

    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 4}
    assert spark.read.parquet(store).count() == 3  # one fp per accepted doc


def test_stream_hll_partials_merge_and_replay_idempotence(spark, tmp_path):
    """Streaming HLL partial store: partials from separate micro-batch
    runs union to the true distinct count, and a replayed (duplicate)
    partial does not move the estimate — the at-least-once append
    contract is harmless by construction (register-max union)."""
    from pyspark.sql import functions as F

    from parcialbigdata_spark.streaming import sketch_store

    store = str(tmp_path / "store")
    # two "batches" with overlapping users, applied directly
    b1 = spark.createDataFrame(
        [("click", u) for u in range(0, 60)], "event_type string, user_id long"
    )
    b2 = spark.createDataFrame(
        [("click", u) for u in range(40, 100)], "event_type string, user_id long"
    )
    sketch_store.hll_partial_applier(store)(b1, 0)
    sketch_store.hll_partial_applier(store)(b2, 1)
    est = sketch_store.merged_estimates(spark, store).collect()[0]
    assert est["n_partials"] == 2
    assert abs(est["merged_est"] - 100) / 100 <= 0.10

    # replay batch 2: a third partial appears, estimate stays put
    sketch_store.hll_partial_applier(store)(b2, 1)
    est2 = sketch_store.merged_estimates(spark, store).collect()[0]
    assert est2["n_partials"] == 3
    assert est2["merged_est"] == est["merged_est"]


def test_streaming_hourly_agg_across_many_microbatches(spark, tmp_path):
    """Incremental window-state correctness: the SAME hourly aggregation
    drained over 4 micro-batches (maxFilesPerTrigger=1, events split
    across files out of original order) equals the one-shot batch
    answer — windows spanning batch boundaries must merge partial
    state, which a single-batch drain never exercises."""
    from pyspark.sql import functions as F

    from parcialbigdata_spark.sources.tables import load_table
    from parcialbigdata_spark.streaming.windows import streaming_hourly_counts

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    src = str(tmp_path / "events_split")
    # salt by event_id so each file holds an interleaved (not
    # time-contiguous) slice: every window gets rows from many batches
    ev.withColumn("__b", F.col("event_id") % 4).repartition(4, "__b").drop(
        "__b"
    ).write.parquet(src)
    files = sorted(str(p) for p in (tmp_path / "events_split").glob("*.parquet"))
    assert len(files) >= 3  # hash-partitioning may fold two salts together

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        # the batch loader surfaces ts as TIMESTAMP_NTZ; watermarks
        # need TIMESTAMP (same normalization read_events_stream does)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = streaming_hourly_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("hourly_mb")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("hourly_mb").collect()
    }

    batch = (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("tv"),
        )
    )
    expect = {
        (r["hour"], r["event_type"]): (r["n"], r["tv"]) for r in batch.collect()
    }
    assert got == expect


def test_streaming_sessions_merge_across_microbatches(spark, tmp_path):
    """Session-window MERGING across batch boundaries: one user's
    session arrives as interleaved fragments over several micro-batches
    (each later fragment extends or bridges earlier ones), and the
    drained result must equal the batch sessionizer's answer — the
    hardest stateful-merge path session_window has."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from parcialbigdata_spark.sources.tables import load_table
    from parcialbigdata_spark.streaming.windows import streaming_sessions

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    src = str(tmp_path / "events_split")
    ev.withColumn("__b", F.col("event_id") % 4).repartition(4, "__b").drop(
        "__b"
    ).write.parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    # effectively-infinite watermark: this test isolates cross-batch
    # session MERGING (fragments arrive out of time order across
    # batches); the late-drop contract is pinned separately by
    # test_watermark_drops_late_events.
    q = (
        streaming_sessions(stream, watermark="100 days")
        .writeStream.format("memory")
        .queryName("sessions_mb")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = {
        (r["user_id"], r["session_start_epoch"]): (r["duration_sec"], r["n_events"])
        for r in spark.table("sessions_mb").collect()
    }

    # batch truth: the repo's standard gap sessionizer
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    es = F.unix_timestamp("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        es.alias("es"),
        F.when(
            F.lag(es).over(w).isNull() | ((es - F.lag(es).over(w)) >= 1800), 1
        ).otherwise(0).alias("ns"),
    ).withColumn(
        "seq",
        F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    batch = flagged.groupBy("user_id", "seq").agg(
        F.min("es").alias("start"),
        (F.max("es") - F.min("es")).alias("dur"),
        F.count(F.lit(1)).alias("n"),
    )
    expect = {
        (r["user_id"], r["start"]): (r["dur"], r["n"]) for r in batch.collect()
    }
    assert got == expect


def test_distinct_user_days_exactly_once_across_out_of_order_batches(spark, tmp_path):
    """The lifecycle state operator emits each (user, day) exactly once
    even when a user's EARLIER day arrives in a LATER micro-batch — the
    arrival order that would corrupt any classify-at-emission design.
    Three files drained one per trigger: day 2 first, then day 1 (out
    of order, same user), then a repeat of day 2 (must not re-emit)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from parcialbigdata_spark.streaming.windows import distinct_user_days

    src = tmp_path / "events_src"
    src.mkdir()

    def write(name, rows):
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).astype({"ts": "datetime64[us]"}).to_parquet(src / name)

    t = pd.Timestamp
    write("a.parquet", [
        (1, t("2024-01-02 10:00:00"), 1, "click", 1.0, "{}"),
        (2, t("2024-01-02 11:00:00"), 2, "click", 1.0, "{}"),
    ])
    write("b.parquet", [
        (3, t("2024-01-01 09:00:00"), 1, "click", 1.0, "{}"),  # earlier day, later batch
    ])
    write("c.parquet", [
        (4, t("2024-01-02 12:00:00"), 1, "click", 1.0, "{}"),  # repeat day — no re-emit
    ])
    import time as _time

    now = _time.time()
    for i, name in enumerate(["a.parquet", "b.parquet", "c.parquet"]):
        os.utime(src / name, (now - 200 + 100 * i, now - 200 + 100 * i))

    events = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        distinct_user_days(events)
        .writeStream.format("memory")
        .queryName("ud_ooo_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    rows = sorted(tuple(r) for r in spark.table("ud_ooo_test").collect())
    # Exactly once per (user, day): user 1 on both days, user 2 on day 2.
    assert rows == [(1, "2024-01-01"), (1, "2024-01-02"), (2, "2024-01-02")]
