"""Round-9 operators: MIN/MAX maintenance under CDC retractions
(signed_minmax_refresh), and its loud-failure/degradation contracts."""

import random

import pytest
from pyspark.sql import functions as F

from parcialbigdata_spark.operators.incremental import signed_minmax_refresh


def _recompute(base_rows, change_rows):
    """Reference: apply signed changes to the base multiset, aggregate."""
    from collections import Counter, defaultdict

    ms = defaultdict(Counter)
    for k, v in base_rows:
        ms[k][v] += 1
    for k, v, m in change_rows:
        ms[k][v] += m
    out = {}
    for k, c in ms.items():
        vals = list(c.elements())
        if vals:
            out[k] = (
                len(vals),
                sum(int(v * 100 + 0.5) for v in vals),
                min(vals),
                max(vals),
            )
    return out


def test_minmax_refresh_equals_recompute_adversarial(spark):
    # deletes include every group's current minimum AND maximum;
    # inserts land both inside and outside the surviving range.
    base_rows = [("a", float(v)) for v in [1, 2, 3, 50, 60]] + [
        ("b", float(v)) for v in [10, 20, 30]
    ]
    change_rows = [
        ("a", 1.0, -1),  # delete current min
        ("a", 60.0, -1),  # delete current max
        ("a", 0.5, 1),  # new min via insert
        ("b", 30.0, -1),  # delete current max -> runner-up 20
        ("b", 25.0, 1),
    ]
    base = spark.createDataFrame(base_rows, "k string, v double")
    ch = spark.createDataFrame(change_rows, "k string, v double, m int")
    got = {
        r.k: (r.n, r.sum_cents, r.min_v, r.max_v)
        for r in signed_minmax_refresh(base, ch, ["k"], "v", "m", heap_k=2).collect()
    }
    assert got == _recompute(base_rows, change_rows)


def test_minmax_refresh_randomized_equals_recompute(spark):
    rng = random.Random(90210)
    base_rows = [
        (f"g{rng.randrange(4)}", float(rng.randrange(1, 40)))
        for _ in range(120)
    ]
    # retract a sample of actual base rows (valid CDC), insert fresh ones
    change_rows = [(*r, -1) for r in rng.sample(base_rows, 25)] + [
        (f"g{rng.randrange(4)}", float(rng.randrange(1, 40)), 1) for _ in range(15)
    ]
    base = spark.createDataFrame(base_rows, "k string, v double")
    ch = spark.createDataFrame(change_rows, "k string, v double, m int")
    got = {
        r.k: (r.n, r.sum_cents, r.min_v, r.max_v)
        for r in signed_minmax_refresh(
            base, ch, ["k"], "v", "m", heap_k=32
        ).collect()
    }
    assert got == _recompute(base_rows, change_rows)


def test_minmax_refresh_group_vanishes(spark):
    base = spark.createDataFrame([("a", 5.0), ("b", 7.0)], "k string, v double")
    ch = spark.createDataFrame([("a", 5.0, -1)], "k string, v double, m int")
    got = signed_minmax_refresh(base, ch, ["k"], "v", "m").collect()
    assert {r.k for r in got} == {"b"}


def test_minmax_refresh_heap_degrades_but_min_stays_exact(spark):
    # heap_k=2 over a 5-row group: deleting one tracked runner-up
    # shrinks the heap to one entry, whose head is still the exact min
    # (values outside the heap are >= the old k-th smallest).
    base = spark.createDataFrame(
        [("a", float(v)) for v in [1, 2, 3, 4, 5]], "k string, v double"
    )
    ch = spark.createDataFrame([("a", 1.0, -1)], "k string, v double, m int")
    row = signed_minmax_refresh(base, ch, ["k"], "v", "m", heap_k=2).collect()[0]
    assert row.min_v == 2.0 and row.min_heap == [2.0]
    assert row.max_v == 5.0 and row.max_heap == [5.0, 4.0]


def test_minmax_refresh_heap_exhaustion_raises(spark):
    # both tracked minima die while base rows remain: the true min is
    # unknowable from bounded state -> loud failure, not a wrong answer.
    base = spark.createDataFrame(
        [("a", float(v)) for v in [1, 2, 3, 4, 5]], "k string, v double"
    )
    ch = spark.createDataFrame(
        [("a", 1.0, -1), ("a", 2.0, -1)], "k string, v double, m int"
    )
    with pytest.raises(Exception, match="heap exhausted"):
        signed_minmax_refresh(base, ch, ["k"], "v", "m", heap_k=2).collect()


def test_minmax_refresh_negative_count_raises(spark):
    base = spark.createDataFrame([("a", 5.0)], "k string, v double")
    ch = spark.createDataFrame(
        [("zzz", 1.0, -1)], "k string, v double, m int"
    )
    with pytest.raises(Exception, match="no matching base row"):
        signed_minmax_refresh(base, ch, ["k"], "v", "m").collect()


def test_minmax_refresh_rejects_bad_multiplicity(spark):
    base = spark.createDataFrame([("a", 5.0)], "k string, v double")
    ch = spark.createDataFrame([("a", 1.0, 2)], "k string, v double, m int")
    with pytest.raises(Exception, match="must be \\+1 or -1"):
        signed_minmax_refresh(base, ch, ["k"], "v", "m").collect()


def test_minmax_refresh_duplicate_values_multiset_semantics(spark):
    # retracting ONE instance of a duplicated value must leave the
    # other instance as the min (array_remove would drop both).
    base = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("a", 9.0)], "k string, v double"
    )
    ch = spark.createDataFrame([("a", 1.0, -1)], "k string, v double, m int")
    row = signed_minmax_refresh(base, ch, ["k"], "v", "m", heap_k=3).collect()[0]
    assert (row.n, row.min_v, row.max_v) == (2, 1.0, 9.0)


# ------------------------------------------- cross-run dedup-index store


@pytest.fixture()
def _idx_tables(spark):
    yield "t9_idx_bands", "t9_idx_sets"
    spark.sql("DROP TABLE IF EXISTS t9_idx_bands")
    spark.sql("DROP TABLE IF EXISTS t9_idx_sets")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE_TEXT = "the quick brown fox jumps over the lazy dog again and again today"


def test_minhash_index_probe_finds_history_dups(spark, _idx_tables):
    from parcialbigdata_spark.operators import dedup

    bands_t, sets_t = _idx_tables
    history = _docs(
        spark,
        [(1, BASE_TEXT), (2, "completely different words about spark shuffles here")],
    )
    batch = _docs(spark, [(10, BASE_TEXT + " extra"), (11, "nothing shared at all zz qq")])
    dedup.minhash_index_ingest(history, "doc_id", "text", bands_t, sets_t, k_shingle=2)
    got = dedup.minhash_index_probe(
        batch, "doc_id", "text", bands_t, sets_t, threshold=0.5, k_shingle=2
    ).collect()
    assert {(r.new_id, r.old_id) for r in got} == {(10, 1)}
    assert all(r.jaccard_sim >= 0.5 for r in got)


def test_minhash_index_append_maintains_across_batches(spark, _idx_tables):
    # batch2 must match a batch1 document WITHOUT any re-ingest of
    # history — the index was maintained by the batch1 append.
    from parcialbigdata_spark.operators import dedup

    bands_t, sets_t = _idx_tables
    history = _docs(spark, [(1, "some old corpus content entirely unrelated")])
    b1_text = "fresh crawl page with shared boilerplate navigation footer text"
    batch1 = _docs(spark, [(10, b1_text)])
    batch2 = _docs(spark, [(20, b1_text + " minor edit")])
    dedup.minhash_index_ingest(history, "doc_id", "text", bands_t, sets_t, k_shingle=2)
    p1 = dedup.minhash_index_probe(
        batch1, "doc_id", "text", bands_t, sets_t, threshold=0.5, k_shingle=2
    ).collect()
    assert p1 == []  # batch1 is new content
    dedup.minhash_index_ingest(
        batch1, "doc_id", "text", bands_t, sets_t, k_shingle=2, append=True
    )
    p2 = dedup.minhash_index_probe(
        batch2, "doc_id", "text", bands_t, sets_t, threshold=0.5, k_shingle=2
    ).collect()
    assert {(r.new_id, r.old_id) for r in p2} == {(20, 10)}


def test_minhash_index_probe_shuffles_only_batch_side(spark, _idx_tables):
    # The stored band table is bucketed on band_hash: the probe join's
    # executed plan must contain NO exchange on the stored-side scan
    # subtree (only the batch side may shuffle).
    from parcialbigdata_spark.operators import dedup

    bands_t, sets_t = _idx_tables
    history = _docs(
        spark, [(i, f"history doc {i} shares very little") for i in range(20)]
    )
    batch = _docs(spark, [(100, BASE_TEXT)])
    dedup.minhash_index_ingest(history, "doc_id", "text", bands_t, sets_t, k_shingle=2)
    out = dedup.minhash_index_probe(
        batch, "doc_id", "text", bands_t, sets_t, threshold=0.2, k_shingle=2
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every line between the stored-table FileScan and the join must be
    # exchange-free on the stored side: assert no Exchange directly
    # above the bucketed scan by checking the scan reports its bucket
    # layout and the plan has no exchange whose child scans the table.
    import re

    assert re.search(r"FileScan parquet.*t9_idx_bands", plan, re.I), plan
    stored_scan_chunks = [
        c for c in plan.split("+-") if re.search(r"t9_idx_bands", c, re.I)
    ]
    assert stored_scan_chunks, plan
    # SelectedBucketsCount present == Spark planned the bucketed read
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan


def test_minhash_index_shared_batch_relations_equivalent(spark, _idx_tables):
    """r15: a probe+append sharing precomputed band/set relations
    (minhash_batch_relations) must return and STORE exactly what the
    unshared path does, and mismatched relations must fail loudly."""
    from parcialbigdata_spark.operators import dedup

    bands_t, sets_t = _idx_tables
    history = _docs(
        spark, [(1, BASE_TEXT), (2, "other spark words entirely here now")]
    )
    batch = _docs(
        spark, [(10, BASE_TEXT + " tail"), (11, "unrelated qq zz content")]
    )
    dedup.minhash_index_ingest(
        history, "doc_id", "text", bands_t, sets_t, k_shingle=2
    )
    rows = dedup.shingle_rows(batch, "doc_id", "text", 2).persist()
    bb, sh = dedup.minhash_batch_relations(rows, "doc_id")
    bb, sh = bb.persist(), sh.persist()
    shared = dedup.minhash_index_probe(
        batch, "doc_id", "text", bands_t, sets_t, threshold=0.5, k_shingle=2,
        precomputed_rows=rows, precomputed_bands=bb, precomputed_sets=sh,
    ).collect()
    plain = dedup.minhash_index_probe(
        batch, "doc_id", "text", bands_t, sets_t, threshold=0.5, k_shingle=2
    ).collect()
    assert sorted(map(tuple, shared)) == sorted(map(tuple, plain))
    # Stored state: append via shared relations == append that
    # re-derives everything, into a twin pair of tables.
    dedup.minhash_index_ingest(
        batch, "doc_id", "text", bands_t, sets_t, k_shingle=2, append=True,
        precomputed_bands=bb, precomputed_sets=sh,
    )
    try:
        dedup.minhash_index_ingest(
            history, "doc_id", "text", "t9_idxb2", "t9_idxs2", k_shingle=2
        )
        dedup.minhash_index_ingest(
            batch, "doc_id", "text", "t9_idxb2", "t9_idxs2", k_shingle=2,
            append=True,
        )
        for got_t, exp_t, setlike in (
            (bands_t, "t9_idxb2", False),
            (sets_t, "t9_idxs2", True),
        ):
            def snap(t):
                rws = spark.table(t).collect()
                if setlike:
                    return sorted((r[0], tuple(sorted(r[1]))) for r in rws)
                return sorted(map(tuple, rws))
            assert snap(got_t) == snap(exp_t), got_t
    finally:
        spark.sql("DROP TABLE IF EXISTS t9_idxb2")
        spark.sql("DROP TABLE IF EXISTS t9_idxs2")
    for c in (bb, sh, rows):
        c.unpersist()
    with pytest.raises(ValueError, match="precomputed_bands"):
        dedup.minhash_index_ingest(
            batch, "doc_id", "text", bands_t, sets_t, append=True,
            precomputed_bands=rows,
        )
    with pytest.raises(ValueError, match="precomputed_sets"):
        dedup.minhash_index_probe(
            batch, "doc_id", "text", bands_t, sets_t, precomputed_sets=rows
        )


# ------------------------------------------- streaming late-data audit


def _write_event_files(spark, base, batches):
    """Write each batch (list of event tuples) as one mtime-ordered
    parquet file in base/stream; returns the stream dir."""
    import glob
    import os
    import shutil
    import time

    from parcialbigdata_spark.streaming.windows import EVENTS_SCHEMA

    stream_dir = os.path.join(base, "stream")
    os.makedirs(stream_dir, exist_ok=True)
    now = time.time()
    for i, rows in enumerate(batches):
        tmp = os.path.join(base, f"w{i}")
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(stream_dir, f"b{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (now - 600 + 60 * i, now - 600 + 60 * i))
    return stream_dir


def _ts(h, m=0):
    from datetime import datetime

    return datetime(2024, 1, 1, h, m)


def test_late_audit_classification_and_quarantine(spark, tmp_path):
    from parcialbigdata_spark.streaming.windows import run_late_data_audit

    batches = [
        # batch 0: no watermark yet -> everything admitted; max ts 05:30
        [
            (1, _ts(0, 10), 1, "click", 1.0, None),
            (2, _ts(5, 30), 1, "click", 1.0, None),
        ],
        # batch 1: the 05:30-derived watermark has NOT applied yet
        # (one-extra-batch lag) -> everything admitted
        [
            (3, _ts(2, 0), 1, "click", 1.0, None),
        ],
        # batch 2: wm = 05:30 - 1h = 04:30 now applies
        [
            (4, _ts(2, 30), 1, "click", 1.0, None),  # wend 03:00 <= wm -> late
            (5, _ts(3, 59), 1, "click", 1.0, None),  # wend 04:00 <= wm -> late
            (6, _ts(4, 15), 1, "click", 1.0, None),  # wend 05:00 >  wm -> admitted
            (7, _ts(5, 45), 1, "click", 1.0, None),  # admitted
        ],
    ]
    base = str(tmp_path)
    stream_dir = _write_event_files(spark, base, batches)
    qdir = str(tmp_path / "quarantine")
    audit, quarantine = run_late_data_audit(
        spark, stream_dir, delay_secs=3600, window_secs=3600, quarantine_dir=qdir
    )
    got = {(r.batch_id, r.event_type): (r.n_admitted, r.n_late, r.max_late_secs)
           for r in audit.collect()}
    # wm 04:30 (epoch secs); late row wend 03:00 -> lateness 5400s
    assert got[(0, "click")] == (2, 0, -1)
    assert got[(1, "click")] == (1, 0, -1)
    assert got[(2, "click")] == (2, 2, 5400)
    assert {r.event_id for r in quarantine.collect()} == {4, 5}


def test_late_audit_replica_matches_engine_drops(spark, tmp_path):
    # The audit's admit/late rule must agree with what the engine's own
    # watermarked tumbling aggregation keeps: run streaming_hourly_counts
    # on the SAME file sequence (plus a far-future flush sentinel so all
    # windows emit in append mode) and compare per-window counts with
    # the rule's prediction.
    from parcialbigdata_spark.streaming.windows import (
        EVENTS_SCHEMA,
        run_late_data_audit,
        streaming_hourly_counts,
    )

    batches = [
        [
            (1, _ts(0, 10), 1, "click", 1.0, None),
            (2, _ts(5, 30), 1, "click", 1.0, None),
        ],
        [(3, _ts(2, 0), 1, "click", 1.0, None)],   # lag: still admitted
        [
            (4, _ts(2, 30), 1, "click", 1.0, None),   # dropped (wm 04:30)
            (5, _ts(3, 59), 1, "click", 1.0, None),   # dropped
            (6, _ts(4, 15), 1, "click", 1.0, None),   # admitted
            (7, _ts(5, 45), 1, "click", 1.0, None),   # admitted
        ],
        [(99, _ts(23, 0), -1, "flush", 0.0, None)],
    ]
    base = str(tmp_path)
    stream_dir = _write_event_files(spark, base, batches)
    audit, _ = run_late_data_audit(
        spark, stream_dir, delay_secs=3600, window_secs=3600
    )
    per_batch = {(r.batch_id, r.event_type): (r.n_admitted, r.n_late)
                 for r in audit.collect()}
    assert per_batch[(1, "click")] == (1, 0)
    assert per_batch[(2, "click")] == (2, 2)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    agg = streaming_hourly_counts(stream, watermark="1 hour")
    name = "t9_late_agg"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    engine = {
        (r.hour, r.event_type): r.n_events
        for r in spark.table(name).collect()
        if r.event_type == "click"
    }
    # admitted rows by the audit rule, re-bucketed into hour windows:
    # 00:10, 05:30 (b0), 02:00 (b1 — lag), 04:15, 05:45 (b2); the
    # engine must count exactly these (02:30 and 03:59 dropped).
    assert engine == {
        ("2024-01-01 00:00:00", "click"): 1,
        ("2024-01-01 02:00:00", "click"): 1,
        ("2024-01-01 04:00:00", "click"): 1,
        ("2024-01-01 05:00:00", "click"): 2,
    }


# ------------------------------------------- containment join / CDC extract


def test_containment_is_asymmetric_doc_in_doc(spark):
    from parcialbigdata_spark.operators import dedup

    inner = "alpha beta gamma delta"
    outer = (
        "zero one two three four five six seven eight nine ten eleven "
        "twelve alpha beta gamma delta thirteen fourteen fifteen sixteen"
    )
    df = spark.createDataFrame(
        [(1, inner), (2, outer)], "doc_id long, text string"
    )
    got = {
        (r.id_inner, r.id_outer): r.containment
        for r in dedup.ngram_containment_pairs(
            df, "doc_id", "text", threshold=0.5, k_shingle=2
        ).collect()
    }
    # all 3 of the inner doc's 2-shingles appear in the outer doc ->
    # containment 1.0 inner->outer; the reverse direction is tiny.
    assert got == {(1, 2): 1.0}


def test_containment_mutual_near_dups_emit_both_directions(spark):
    from parcialbigdata_spark.operators import dedup

    t = "one two three four five six"
    df = spark.createDataFrame(
        [(1, t), (2, t + " seven")], "doc_id long, text string"
    )
    got = {(r.id_inner, r.id_outer) for r in dedup.ngram_containment_pairs(
        df, "doc_id", "text", threshold=0.8, k_shingle=2
    ).collect()}
    assert got == {(1, 2), (2, 1)}


def test_snapshot_to_changes_minimal_and_composes(spark):
    from parcialbigdata_spark.operators.incremental import (
        signed_agg_refresh,
        snapshot_to_changes,
    )

    old = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("a", 2.0), ("b", 3.0)], "k string, v double"
    )
    new = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 2.0), ("c", 9.0)], "k string, v double"
    )
    ch = snapshot_to_changes(old, new)
    rows = sorted(tuple(r) for r in ch.collect())
    # minimal: one -1 for the lost duplicate 'a'/1.0, one +1 for the
    # extra 'a'/2.0, -1 b, +1 c — unchanged rows never appear.
    assert rows == [("a", 1.0, -1), ("a", 2.0, 1), ("b", 3.0, -1), ("c", 9.0, 1)]
    refreshed = {
        (r.k, r.n, r.sum_cents)
        for r in signed_agg_refresh(old, ch, ["k"], "v", "mult").collect()
    }
    direct = {
        (r.k, r.n, r.sum_cents)
        for r in new.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("v") * 100 + 0.5).cast("bigint")).alias("sum_cents"),
        )
        .collect()
    }
    assert refreshed == direct


def test_snapshot_to_changes_null_rows_and_multiplicity(spark):
    from parcialbigdata_spark.operators.incremental import snapshot_to_changes

    old = spark.createDataFrame([("a", None), ("a", None)], "k string, v double")
    new = spark.createDataFrame([("a", None)], "k string, v double")
    rows = [tuple(r) for r in snapshot_to_changes(old, new).collect()]
    assert rows == [("a", None, -1)]
    # 3 copies inserted at once -> three +1 rows
    old2 = spark.createDataFrame([], "k string, v double")
    new2 = spark.createDataFrame([("x", 1.0)] * 3, "k string, v double")
    rows2 = [tuple(r) for r in snapshot_to_changes(old2, new2).collect()]
    assert rows2 == [("x", 1.0, 1)] * 3


def test_snapshot_to_changes_rejects_column_mismatch(spark):
    from parcialbigdata_spark.operators.incremental import snapshot_to_changes

    a = spark.createDataFrame([(1,)], "x long")
    b = spark.createDataFrame([(1,)], "y long")
    with pytest.raises(ValueError, match="column mismatch"):
        snapshot_to_changes(a, b)


# ---------------------------------------- r9: label-propagation communities


def test_lpa_splits_communities_components_merge(spark):
    # Two triangles bridged by one edge: connected_components merges
    # everything into one component; LPA keeps the two densely-linked
    # triangles apart (the bridge is outvoted by each side's closed
    # neighborhood).
    from parcialbigdata_spark.operators.graph import (
        connected_components,
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src bigint, dst bigint",
    )
    comm = {
        r.node: r.community for r in label_propagation(edges, rounds=4).collect()
    }
    assert comm == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}
    cc = {
        r.node: r.component
        for r in connected_components(edges, src="src", dst="dst").collect()
    }
    assert set(cc.values()) == {1}


def test_lpa_deterministic_and_direction_invariant(spark):
    # Symmetrization: reversing every input edge yields identical
    # communities; repeated runs are bit-identical (fixed rounds,
    # min-label tie-break — no RNG anywhere).
    from parcialbigdata_spark.operators.graph import label_propagation

    fwd = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 10), (30, 40)], "src bigint, dst bigint"
    )
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    a = sorted(map(tuple, label_propagation(fwd, rounds=3).collect()))
    b = sorted(map(tuple, label_propagation(rev, rounds=3).collect()))
    c = sorted(map(tuple, label_propagation(fwd, rounds=3).collect()))
    assert a == b == c


# ------------------------- r9: calibration audit / recursive (c,l)-diversity


def test_reliability_bins_gaps_and_clamp(spark):
    from parcialbigdata_spark.operators.diagnostics import reliability_bins

    rows = (
        # bin 9 via clamp: conf = 1.0 -> floor(10.0) = 10, clamped to 9
        [(1.0, 1)] * 4
        # bin 5: mean conf 0.535, observed rate 0.25 -> gap 0.285
        + [(0.5, 1), (0.5, 0), (0.55, 0), (0.59, 0)]
        # bin 0: perfectly calibrated at 0
        + [(0.05, 0), (0.05, 0)]
    )
    df = spark.createDataFrame(rows, "conf double, y int")
    got = {r.bin: r for r in reliability_bins(df, "conf", "y").collect()}
    assert set(got) == {0, 5, 9}
    assert got[9].n_rows == 4 and got[9].abs_gap == 0.0
    assert got[5].avg_conf == 0.535 and got[5].pos_rate == 0.25
    assert got[5].abs_gap == 0.285
    assert got[0].pos_rate == 0.0 and got[0].abs_gap == 0.05


def test_recursive_cl_diversity_catches_skew_min_l_misses(spark):
    from parcialbigdata_spark.operators.privacy import (
        recursive_cl_diversity_report,
    )

    rows = (
        # class A: counts (98, 1, 1) -> l = 3 distinct (plain l-diversity
        # happy) but r1 = 98 >= 2 * tail_2 = 4 -> recursive (2,2) violated
        [("A", "x")] * 98
        + [("A", "y"), ("A", "z")]
        # class B: counts (2, 2, 2) -> r1 = 2 < 2 * tail_2 = 8 -> fine
        + [("B", "x"), ("B", "x"), ("B", "y"), ("B", "y"), ("B", "z"), ("B", "z")]
    )
    df = spark.createDataFrame(rows, "qi string, s string")
    got = {
        (r.c, r.l): r
        for r in recursive_cl_diversity_report(df, ["qi"], "s").collect()
    }
    v22 = got[(2, 2)]
    assert v22.classes_violating == 1 and v22.records_exposed == 100
    assert v22.n_classes == 2
    # (2,3): tail_3 of A is 1 -> 98 >= 2 still violated; B's tail_3 = 2,
    # r1 = 2 < 4 -> fine
    assert got[(2, 3)].classes_violating == 1
    # plain distinct-count l-diversity would pass class A at l = 3
    distinct_l = {
        r.qi: r.l
        for r in df.groupBy("qi").agg(F.count_distinct("s").alias("l")).collect()
    }
    assert distinct_l["A"] == 3


# ------------------------------ r9: streaming minhash dedup-at-arrival


_MINHASH_TEXT = "the quick brown fox jumps over the lazy dog again and again"
#: Three micro-batches; duplicates exist WITHIN batch 0 (1~2) and ACROSS
#: batches (3 in b1 ~ 1, 2 in b0; 4 in b2 ~ 1, 2, 3).
_MINHASH_BATCHES = [
    [(1, _MINHASH_TEXT), (2, _MINHASH_TEXT)],
    [(3, _MINHASH_TEXT + " extra")],
    [(4, _MINHASH_TEXT + " extra words here")],
]


def _minhash_stream(spark, base, batches):
    """Write one parquet file per micro-batch under ``base/stream``; the
    pinned mtimes give the file source the list order."""
    import glob
    import os
    import shutil
    import time as _time

    stream_dir = os.path.join(base, "stream")
    os.makedirs(stream_dir)
    now = _time.time()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        tmp = os.path.join(base, f"w{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(stream_dir, f"b{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (now - 60 + 10 * i, now - 60 + 10 * i))
    return stream_dir


def test_streaming_minhash_index_probes_history_only(spark, tmp_path):
    # The online probe must emit only new-vs-history pairs: the first
    # batch seeds silently, within-batch pairs never appear, and batch 2
    # sees batch 1's rows as history.
    import os

    from parcialbigdata_spark.streaming.dedup_store import (
        run_streaming_minhash_index,
    )

    stream_dir = _minhash_stream(spark, str(tmp_path / "run1"), _MINHASH_BATCHES)
    bands_t, sets_t = "t_stream_idx_bands", "t_stream_idx_sets"
    pairs_dir = str(tmp_path / "pairs")
    # Pin the r10 scale contract: the pair path never collects to the
    # driver — pairs go batch → distributed parquet sink → read. Any
    # DataFrame.collect() during the run is the r9 anti-pattern
    # regressing.
    from pyspark.sql import DataFrame as _DF

    real_collect = _DF.collect

    def _no_collect(self):
        raise AssertionError(
            "DataFrame.collect() inside run_streaming_minhash_index — "
            "the pair path must stay distributed"
        )

    try:
        _DF.collect = _no_collect
        try:
            pairs = run_streaming_minhash_index(
                spark, stream_dir, bands_t, sets_t, threshold=0.3,
                k_shingle=2, pairs_dir=pairs_dir,
            )
        finally:
            _DF.collect = real_collect
        got = {(r.new_id, r.old_id) for r in pairs.collect()}
        # no (1,2)/(2,1): within-batch; no (x, newer): probe is vs history
        assert got == {(3, 1), (3, 2), (4, 1), (4, 2), (4, 3)}
        # Sink layout: one overwrite dir per epoch (replay idempotence —
        # a retried batch rewrites exactly its own directory).
        epochs = sorted(d for d in os.listdir(pairs_dir) if d.startswith("epoch_"))
        assert epochs == ["epoch_0", "epoch_1", "epoch_2"]

        # A second, shorter run into the same pairs_dir: the first run's
        # epoch_2 pairs must not leak into its result.
        stream_dir = _minhash_stream(spark, str(tmp_path / "run2"), _MINHASH_BATCHES[:2])
        pairs = run_streaming_minhash_index(
            spark, stream_dir, bands_t, sets_t, threshold=0.3,
            k_shingle=2, pairs_dir=pairs_dir,
        )
        assert {(r.new_id, r.old_id) for r in pairs.collect()} == {(3, 1), (3, 2)}
        epochs = sorted(d for d in os.listdir(pairs_dir) if d.startswith("epoch_"))
        assert epochs == ["epoch_0", "epoch_1"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {bands_t}")
        spark.sql(f"DROP TABLE IF EXISTS {sets_t}")


def test_streaming_minhash_index_releases_caches_on_failure(spark, tmp_path, monkeypatch):
    """An epoch whose ingest fails still releases the relations it
    cached (the shingle rows and the band/set relations), and the drain
    raises instead of returning."""
    from pyspark.errors import StreamingQueryException

    from parcialbigdata_spark.operators import dedup
    from parcialbigdata_spark.streaming.dedup_store import (
        run_streaming_minhash_index,
    )

    real_ingest = dedup.minhash_index_ingest

    def ingest_fails_on_append(*args, append=False, **kwargs):
        if append:
            raise RuntimeError("injected ingest failure")
        return real_ingest(*args, append=append, **kwargs)

    monkeypatch.setattr(dedup, "minhash_index_ingest", ingest_fails_on_append)
    spark.catalog.clearCache()  # start from an empty cache manager
    stream_dir = _minhash_stream(spark, str(tmp_path), _MINHASH_BATCHES)
    bands_t, sets_t = "t_stream_fail_bands", "t_stream_fail_sets"
    try:
        with pytest.raises(StreamingQueryException, match="injected ingest failure"):
            run_streaming_minhash_index(
                spark, stream_dir, bands_t, sets_t, threshold=0.3, k_shingle=2,
                pairs_dir=str(tmp_path / "pairs"),
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {bands_t}")
        spark.sql(f"DROP TABLE IF EXISTS {sets_t}")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_streaming_minhash_index_jobs_per_drain_pinned(spark, tmp_path):
    """The 3-batch drain submits a fixed number of Spark jobs, counted
    under the streaming query's run id: a different count means an epoch
    gained or lost an action."""
    from pyspark.sql.streaming import StreamingQueryListener

    from parcialbigdata_spark.streaming.dedup_store import (
        run_streaming_minhash_index,
    )

    run_ids = []

    class RunIds(StreamingQueryListener):
        def onQueryStarted(self, event):
            run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    stream_dir = _minhash_stream(spark, str(tmp_path), _MINHASH_BATCHES)
    bands_t, sets_t = "t_stream_jobs_bands", "t_stream_jobs_sets"
    listener = RunIds()
    spark.streams.addListener(listener)
    try:
        run_streaming_minhash_index(
            spark, stream_dir, bands_t, sets_t, threshold=0.3, k_shingle=2,
            pairs_dir=str(tmp_path / "pairs"),
        )
    finally:
        spark.streams.removeListener(listener)
        spark.sql(f"DROP TABLE IF EXISTS {bands_t}")
        spark.sql(f"DROP TABLE IF EXISTS {sets_t}")
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    (run_id,) = run_ids
    jobs = len(sc.statusTracker().getJobIdsForGroup(run_id))
    assert jobs == 29, f"{jobs} jobs per drain"


# ----------------------------------------------- r9: property tests


from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    old_rows=st.lists(
        st.tuples(st.sampled_from("abc"), st.integers(0, 5)), max_size=25
    ),
    new_rows=st.lists(
        st.tuples(st.sampled_from("abc"), st.integers(0, 5)), max_size=25
    ),
)
@settings(max_examples=10, deadline=None)
def test_snapshot_to_changes_property(spark, old_rows, new_rows):
    """For ANY pair of multisets: applying the extracted signed batch
    to the old snapshot yields exactly the new multiset, and the batch
    size equals the multiset symmetric difference (minimality)."""
    from collections import Counter

    from parcialbigdata_spark.operators.incremental import snapshot_to_changes

    old = spark.createDataFrame(old_rows, "k string, v int") if old_rows else (
        spark.createDataFrame([], "k string, v int")
    )
    new = spark.createDataFrame(new_rows, "k string, v int") if new_rows else (
        spark.createDataFrame([], "k string, v int")
    )
    ch = snapshot_to_changes(old, new).collect()
    co, cn = Counter(old_rows), Counter(new_rows)
    applied = Counter(co)
    for r in ch:
        applied[(r.k, r.v)] += r.mult
    applied = +applied  # drop zero/negative counts (none should exist)
    assert applied == cn
    sym_diff = sum((co - cn).values()) + sum((cn - co).values())
    assert len(ch) == sym_diff


@given(
    edges=st.lists(
        st.tuples(st.integers(1, 8), st.integers(1, 8)), min_size=1, max_size=16
    ),
    rounds=st.integers(1, 3),
)
@settings(max_examples=8, deadline=None)
def test_lpa_matches_reference_simulation(spark, edges, rounds):
    """For ANY small graph: the distributed LPA equals a literal
    single-machine simulation of the same fixed-rounds rule (closed
    neighborhood, max count, min-label tie-break)."""
    from collections import Counter, defaultdict

    from parcialbigdata_spark.operators.graph import label_propagation

    e = {(a, b) for a, b in edges if a != b}
    if not e:
        return
    adj = defaultdict(set)
    for a, b in e:
        adj[a].add(b)
        adj[b].add(a)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n in adj:
            votes = Counter(labels[m] for m in adj[n])
            votes[labels[n]] += 1
            best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            nxt[n] = best
        labels = nxt
    df = spark.createDataFrame(sorted(e), "src bigint, dst bigint")
    got = {r.node: r.community for r in label_propagation(df, rounds=rounds).collect()}
    assert got == labels


def test_minmax_refresh_same_batch_insert_and_retract_cancel(spark):
    # Compacted CDC: a row inserted then deleted between snapshots
    # arrives as (+1, -1) of the SAME value. The pair must cancel —
    # without batch netting the insertion enters the merged heap while
    # the retraction no-ops against the base, yielding min 5 instead
    # of 10.
    base = spark.createDataFrame([("k", 10.0)], "k string, v double")
    ch = spark.createDataFrame(
        [("k", 5.0, 1), ("k", 5.0, -1)], "k string, v double, m int"
    )
    row = signed_minmax_refresh(base, ch, ["k"], "v", "m", heap_k=4).collect()[0]
    assert (row.n, row.min_v, row.max_v) == (1, 10.0, 10.0)
    assert row.min_heap == [10.0]
    # asymmetric counts of the same value must net, not cancel outright
    ch2 = spark.createDataFrame(
        [("k", 5.0, 1), ("k", 5.0, 1), ("k", 5.0, -1)], "k string, v double, m int"
    )
    row2 = signed_minmax_refresh(base, ch2, ["k"], "v", "m", heap_k=4).collect()[0]
    assert (row2.n, row2.min_v, row2.max_v) == (2, 5.0, 10.0)


def test_minmax_refresh_null_mult_raises(spark):
    base = spark.createDataFrame([("k", 10.0)], "k string, v double")
    ch = spark.createDataFrame(
        [("k", 5.0, None)], "k string, v double, m int"
    )
    with pytest.raises(Exception, match="must be \\+1 or -1"):
        signed_minmax_refresh(base, ch, ["k"], "v", "m").collect()


# --------------------------------------------- r9: Theil-Sen robust trend


def test_theilsen_robust_to_outlier_ols_is_not(spark):
    # y = 2x + 1 exactly, except one wild outlier. Theil-Sen recovers
    # the true slope/intercept exactly; OLS on the same points does not.
    from parcialbigdata_spark.operators.timeseries import theilsen_by_group

    pts = [("g", float(x), 2.0 * x + 1.0) for x in range(1, 12)] + [
        ("g", 12.0, 500.0)
    ]
    df = spark.createDataFrame(pts, "g string, x double, y double")
    row = theilsen_by_group(df, ["g"], "x", "y").collect()[0]
    assert row.slope == 2.0 and row.intercept == 1.0
    assert row.n_points == 12 and row.n_pairs == 12 * 11 // 2
    # least squares on the same data is dragged far off the truth
    from pyspark.sql import functions as SF

    m = df.agg(
        SF.avg("x").alias("mx"), SF.avg("y").alias("my"),
        SF.avg(SF.col("x") * SF.col("y")).alias("mxy"),
        SF.avg(SF.col("x") * SF.col("x")).alias("mxx"),
    ).first()
    ols_slope = (m.mxy - m.mx * m.my) / (m.mxx - m.mx * m.mx)
    assert abs(ols_slope - 2.0) > 5


def test_theilsen_group_size_guard(spark):
    from parcialbigdata_spark.operators.timeseries import theilsen_by_group

    df = spark.createDataFrame(
        [("g", float(i), float(i)) for i in range(30)], "g string, x double, y double"
    )
    with pytest.raises(ValueError, match="pre-sample"):
        theilsen_by_group(df, ["g"], "x", "y", max_group_rows=10)
