"""Tests of the benchmark's own parts: seeded generators, the output
digest, span self time, the recall contract and the process-tree RSS.

Run from the checkout root: ``python3 -m pytest layerbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import os
import signal
import sys
import time

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from layerbench import checks, inputs  # noqa: E402
from layerbench.spans import Span, self_times  # noqa: E402


def _tree_hash(path: str) -> str:
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_listings_generator_is_deterministic_per_seed(tmp_path):
    a = inputs.write_listings(str(tmp_path / "a"), seed=5, n_files=12, n_cards=300)
    b = inputs.write_listings(str(tmp_path / "b"), seed=5, n_files=12, n_cards=300)
    c = inputs.write_listings(str(tmp_path / "c"), seed=6, n_files=12, n_cards=300)
    assert a == b
    assert _tree_hash(str(tmp_path / "a")) == _tree_hash(str(tmp_path / "b"))
    assert _tree_hash(str(tmp_path / "a")) != _tree_hash(str(tmp_path / "c"))
    assert sum(len(rows) for rows in a["files"].values()) == 300
    assert a["empty"] and not set(a["empty"]) & set(a["files"])


def test_listings_ledger_matches_the_card_extractor(tmp_path):
    from parcialbigdata_spark.pipeline.html_extract import extract_cards

    ledger = inputs.write_listings(str(tmp_path), seed=9, n_files=10, n_cards=200)
    for name in os.listdir(tmp_path):
        with open(tmp_path / name, encoding="utf-8") as f:
            cards = extract_cards(f.read())
        got = sorted(
            (name[:-5], *[inputs.NA if c[k] is None else c[k]
                          for k in ("barrio", "valor", "num_habitaciones", "num_banos", "mts2")])
            for c in cards
        )
        assert got == sorted(map(tuple, ledger["files"].get(name, [])))


def test_documents_generator_is_deterministic(tmp_path):
    assert inputs.write_documents(str(tmp_path / "a"), 300) == 300
    inputs.write_documents(str(tmp_path / "b"), 300)
    assert _tree_hash(str(tmp_path / "a")) == _tree_hash(str(tmp_path / "b"))


def test_arrival_split_is_seeded_and_matches_its_sql():
    import duckdb

    ids = np.arange(5000)
    a, b = inputs.arrival_of(ids, 1), inputs.arrival_of(ids, 2)
    assert (a == inputs.arrival_of(ids, 1)).all() and (a != b).any()
    assert 0.55 < (a == 0).mean() < 0.65
    sql = inputs.arrival_bucket_sql("i", 1)
    buckets = [r[0] for r in duckdb.sql(f"SELECT {sql} FROM range(5000) t(i) ORDER BY i").fetchall()]
    want = np.where(np.array(buckets) <= 5, 0, 1)
    assert (want == a).all()


def test_self_time_adds_up():
    spans = [
        Span("root", None, 0.0, 10.0),
        Span("child", 0, 1.0, 4.0),
        Span("grandchild", 1, 2.0, 3.0),
        Span("child", 0, 5.0, 9.0),
    ]
    selfs = self_times(spans)
    assert selfs == pytest.approx([3.0, 2.0, 1.0, 4.0])
    assert sum(selfs) == pytest.approx(spans[0].end - spans[0].start)


def _fork_sleeper(name: str | None) -> int:
    """Fork a child that renames itself to ``name`` (as a thread's fork
    carries that thread's name) and sleeps without exec'ing."""
    pid = os.fork()
    if pid == 0:
        if name is not None:
            with open("/proc/self/comm", "w") as f:
                f.write(name)
        time.sleep(30)
        os._exit(0)
    return pid


def test_tree_rss_counts_an_unexeced_thread_fork_once():
    from layerbench import procstat

    renamed, plain = _fork_sleeper("Executor task"), _fork_sleeper(None)
    try:
        deadline = time.time() + 10
        while time.time() < deadline:
            with open(f"/proc/{renamed}/comm") as f:
                if f.read().strip() == "Executor task":
                    break
            time.sleep(0.05)
        assert procstat._unexeced_thread_fork(renamed, os.getpid())
        assert not procstat._unexeced_thread_fork(plain, os.getpid())
    finally:
        for pid in (renamed, plain):
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)


def test_jaccard_oracle_and_recall_contract():
    texts = ["a b c d e", "a b c d e f", "x y z", "A  b c d e"]
    sets = checks.shingle_sets(texts)
    assert sets[0] == sets[3]
    pairs = checks.jaccard_pairs(sets, np.array([1, 3]), np.array([0, 2]), np.arange(4), 0.2)
    assert sorted(pairs) == [(1, 0, 0.8), (3, 0, 1.0)]
    assert checks.lsh_miss_allowance([0.95] * 30) == 0
    assert checks.lsh_miss_allowance([0.7] * 30) >= 1
    assert checks.check_pairs([(1, 0, 0.8), (3, 0, 1.0)], pairs) is None
    assert "false pair" in checks.check_pairs([(1, 2, 0.5)], pairs)
    many = [(i, 0, 0.96) for i in range(10, 20)]
    assert checks.check_pairs(many[:-2], many) is None
    assert "missed" in checks.check_pairs(many[:5], many)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]").appName("layerbench-tests")
        .config("spark.ui.enabled", "false").getOrCreate()
    )
    yield session
    session.stop()


def test_digest_is_stable_across_passes_and_partitionings(spark):
    rows = [(i, f"s{i % 7}", i / 3.0, None if i % 5 else "x") for i in range(200)]
    df = spark.createDataFrame(rows, "k long, s string, v double, n string")
    first = checks.digest(df)
    assert first == checks.digest(df)  # a second pass over the same plan
    assert first == checks.digest(df.repartition(7).orderBy("s"))
    assert first == checks.rows_digest(spark, rows, ["k", "s", "v", "n"], df.schema)
    assert first != checks.digest(df.limit(199))
    changed = [(k, s, v + (1e-3 if k == 3 else 0.0), n) for k, s, v, n in rows]
    assert first != checks.rows_digest(spark, changed, ["k", "s", "v", "n"], df.schema)
