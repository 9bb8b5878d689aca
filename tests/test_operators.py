"""Operator-level unit tests: as-of join NULL semantics, quadratic-join
guards, LSH bucket caps, text-function edge cases, vector math."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from parcialbigdata_spark.functions import text as T
from parcialbigdata_spark.operators import corpus, dedup, joins, similarity


def test_as_of_join_backward(spark):
    left = spark.createDataFrame(
        [(1, 10), (1, 25), (2, 10)], "k int, t int"
    )
    right = spark.createDataFrame(
        [(1, 5, "a"), (1, 20, "b"), (2, 50, "z")], "k int, t int, v string"
    )
    out = {
        (r.k, r.t): r.v
        for r in joins.as_of_join(left, right, on="k", left_time="t", right_time="t").collect()
    }
    assert out == {(1, 10): "a", (1, 25): "b", (2, 10): None}


def test_as_of_join_null_value_not_mixed(spark):
    """The ADVICE regression: when the most recent right row has a NULL
    value column, that NULL must be carried — not backfilled from an
    older right row (all carried columns come from ONE right row)."""
    left = spark.createDataFrame([(1, 30)], "k int, t int")
    right = spark.createDataFrame(
        [(1, 10, "old", 100.0), (1, 20, None, 200.0)],
        "k int, t int, v string, w double",
    )
    row = joins.as_of_join(left, right, on="k", left_time="t", right_time="t").first()
    assert row.v is None  # from the t=20 row — NOT "old" from t=10
    assert row.w == 200.0


def test_as_of_join_forward(spark):
    left = spark.createDataFrame([(1, 10)], "k int, t int")
    right = spark.createDataFrame([(1, 5, "a"), (1, 15, "b")], "k int, t int, v string")
    row = joins.as_of_join(
        left, right, on="k", left_time="t", right_time="t", direction="forward"
    ).first()
    assert row.v == "b"


def test_ngram_jaccard_unblocked_guard(spark):
    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e").alias("text")
    )
    with pytest.raises(ValueError, match="O\\(n²\\)"):
        dedup.ngram_jaccard_pairs(df, "doc_id", "text", max_unblocked_rows=50)
    # explicit opt-out runs
    out = dedup.ngram_jaccard_pairs(df, "doc_id", "text", max_unblocked_rows=0, threshold=0.9)
    assert out.count() == 100 * 99 // 2  # identical docs → all pairs


def test_minhash_finds_exact_dups(spark):
    rows = [(i, "the quick brown fox jumps over the lazy dog every day") for i in range(3)]
    rows += [(10, "completely different text about spark query engines and shuffles")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_near_dups(df, "doc_id", "text", threshold=0.9).collect()
    }
    assert pairs == {(0, 1), (0, 2), (1, 2)}


def test_minhash_max_bucket_caps_degenerate(spark):
    """100 identical docs with max_bucket=10: every band bucket has 100
    members → all dropped → zero candidate pairs."""
    df = spark.createDataFrame(
        [(i, "same text repeated in every document here") for i in range(100)],
        "doc_id long, text string",
    )
    out = dedup.minhash_candidate_pairs(df, "doc_id", "text", max_bucket=10)
    assert out.count() == 0


def test_simhash_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "unrelated words entirely someplace")],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_near_dups(df, "doc_id", "text", max_hamming=0).collect()
    assert {(r.id_a, r.id_b, r.hamming) for r in pairs} == {(1, 2, 0)}


def test_md5_hash60_matches_duckdb(spark):
    """The engine-portable token hash must agree bit-for-bit with its
    DuckDB twin — this equality is the entire basis of the simhash and
    winnowing oracles."""
    import duckdb

    words = ["hello", "wörld", "", "a b", "ñandú", "0", "the the"]
    got = {
        r.w: r.h
        for r in spark.createDataFrame([(w,) for w in words], "w string")
        .select("w", dedup.md5_hash60(F.col("w")).alias("h"))
        .collect()
    }
    con = duckdb.connect()
    for w in words:
        (want,) = con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", [w]
        ).fetchone()
        assert got[w] == want, w


def test_simhash_md5_variant_same_exact_dup_behavior(spark):
    """hash_fn=md5_hash60 preserves the core property: identical docs
    at Hamming 0, nothing else at max_hamming=0."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "unrelated words entirely someplace")],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_near_dups(
        df, "doc_id", "text", max_hamming=0, hash_fn=dedup.md5_hash60
    ).collect()
    assert {(r.id_a, r.id_b, r.hamming) for r in pairs} == {(1, 2, 0)}


def test_canonical_dedup_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "bye")], "doc_id long, text string"
    )
    out = {r.survivor_id: r.dup_count for r in dedup.canonical_dedup(df, "doc_id", "text").collect()}
    assert out == {1: 2, 3: 1}


def test_ann_topk_dim_mismatch_raises(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="dim"):
        similarity.ann_topk(df, [1.0, 2.0])


def test_ann_topk_finds_identical_vector(spark):
    """A row equal to the query must land in the query's bucket and
    rank first with cosine 1.0."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(50)]
    q = vecs[17][1]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    top = similarity.ann_topk(df, q, k=1, nbits=4).first()
    assert top.vec_id == 17
    assert top.cosine_sim == pytest.approx(1.0)


def test_embedding_near_dup_max_bucket(spark):
    """Identical vectors all share every band bucket; the cap drops the
    degenerate bucket instead of emitting O(n²) pairs."""
    vec = [1.0] * 8
    df = spark.createDataFrame([(i, vec) for i in range(50)], "vec_id long, embedding array<float>")
    out = similarity.embedding_near_dup_pairs(df, dim=8, max_bucket=10)
    assert out.count() == 0


def test_tokens_empty_and_whitespace(spark):
    df = spark.createDataFrame([("",), ("   ",), ("a b",)], "t string")
    rows = df.select(T.token_count("t").alias("n")).collect()
    assert [r.n for r in rows] == [0, 0, 2]


def test_shingles_empty_doc_no_jaccard_one(spark):
    df = spark.createDataFrame([("",), ("",)], "t string")
    rows = df.select(T.shingles("t").alias("sh")).collect()
    assert all(r.sh == [] for r in rows)


def test_quality_and_langid(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog went to the house of cards which is made of paper and glue",),
            ("el perro de la casa que los gatos",),
            ("!!!???...",),
        ],
        "t string",
    )
    rows = df.select(T.lang_id("t").alias("lang"), T.quality_score("t").alias("q")).collect()
    assert rows[0].lang == "en" and rows[1].lang == "es"
    assert rows[2].q < 0.5


def test_vector_cosine(spark):
    from parcialbigdata_spark.functions import vectors as V

    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])], "a array<float>, b array<float>")
    sims = [r.c for r in df.select(F.round(V.cosine("a", "b"), 6).alias("c")).collect()]
    assert sims[0] == pytest.approx(0.0)
    assert sims[1] == pytest.approx(1.0)


def test_range_join_broadcast(spark):
    left = spark.createDataFrame([(1, 5.0), (2, 15.0)], "id int, v double")
    bands = spark.createDataFrame([("lo", 0.0, 10.0), ("hi", 10.0, 20.0)], "name string, lo double, hi double")
    out = {
        r.id: r.name
        for r in joins.range_join(
            left, bands, (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi")), broadcast_right=True
        ).collect()
    }
    assert out == {1: "lo", 2: "hi"}


def test_ivf_topk_finds_identical_vector(spark):
    """IVF: the query's own cell is probed first, so an identical corpus
    vector must surface with cosine 1.0."""
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    centroids = similarity.ivf_fit_centroids(df, n_centroids=8)
    assert len(centroids) == 8
    top = similarity.ivf_topk(df, vecs[42][1], centroids, k=1, nprobe=1).first()
    assert top.vec_id == 42
    assert abs(top.cosine_sim - 1.0) < 1e-6


def test_ivf_centroids_deterministic(spark):
    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    c1 = similarity.ivf_fit_centroids(df, n_centroids=4)
    c2 = similarity.ivf_fit_centroids(df, n_centroids=4)
    assert c1 == c2


def test_winnow_guaranteed_collision_on_shared_run(spark):
    # Two docs sharing a run of window + k - 1 = 6 tokens must share at
    # least one winnowed fingerprint (the SIGMOD'03 coverage guarantee);
    # a doc with disjoint vocabulary must not collide.
    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five"),
            (2, f"{shared} six seven eight nine ten"),
            (3, "completely different words nothing common here at all"),
        ],
        ["doc_id", "text"],
    )
    pairs = dedup.winnow_overlap_pairs(
        df, "doc_id", "text", k_shingle=3, window=4, min_shared=1, max_bucket=0
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_winnow_density(spark):
    # Winnowing must select strictly fewer fingerprints than there are
    # k-grams (density ~ 2/(window+1)), but at least one per document.
    df = spark.createDataFrame(
        [(1, " ".join(f"tok{i}" for i in range(100)))], ["doc_id", "text"]
    )
    n_fp = dedup.winnow_fingerprints(df, "doc_id", "text", 3, 4).count()
    n_grams = 98
    assert 1 <= n_fp < n_grams
    # selected set is deterministic across runs
    n_fp2 = dedup.winnow_fingerprints(df, "doc_id", "text", 3, 4).count()
    assert n_fp == n_fp2


def test_connected_components_known_graph(spark):
    """Chain 1-2-3-4, triangle 10-11-12, isolated pair 20-21."""
    from parcialbigdata_spark.operators.graph import connected_components, dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    clusters = {
        r["component"]: (r["survivor_id"], r["cluster_size"])
        for r in dedup_clusters(pairs).collect()
    }
    assert clusters == {1: (1, 4), 10: (10, 3), 20: (20, 2)}


def test_connected_components_assume_distinct_identical(spark):
    """assume_distinct=True must return the same labeling even when
    the input carries duplicate and reversed edges (min-label
    propagation is invariant to edge multiplicity — the flag only
    skips the dedup Exchange, r14)."""
    from parcialbigdata_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 3), (3, 2), (10, 11), (20, 21), (20, 21)],
        ["id_a", "id_b"],
    )
    base = {
        r["node"]: r["component"] for r in connected_components(pairs).collect()
    }
    fast = {
        r["node"]: r["component"]
        for r in connected_components(pairs, assume_distinct=True).collect()
    }
    assert base == fast == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


@pytest.mark.parametrize("algorithm", ["label", "star"])
def test_connected_components_nonconvergence_raises(spark, algorithm):
    """A capped run raises, and releases its round state first: a caller
    that catches and retries must not accumulate checkpoint RDDs."""
    from parcialbigdata_spark.operators.graph import connected_components

    # A 6-chain needs ~5 rounds of min-propagation and more than one
    # star alternation; cap at 1 must raise.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], ["id_a", "id_b"]
    )
    before = _n_persisted(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1, algorithm=algorithm)
    assert _n_persisted(spark) <= before, "round state leaked on failure"


def test_connected_components_nonconvergence_raises_spark_path(spark, monkeypatch):
    """The same check with the driver finish disabled, so the label
    rounds' release on failure stays covered."""
    from parcialbigdata_spark.operators import graph

    monkeypatch.setattr(graph, "CC_DRIVER_MAX_EDGES", 0)
    test_connected_components_nonconvergence_raises(spark, "label")


def test_shortest_paths_nonconvergence_raises(spark):
    """SSSP capped below the diameter raises and releases its round
    state, like the CC loops above."""
    from parcialbigdata_spark.operators.graph import shortest_paths

    # Directed 1 -> 2 -> ... -> 7: the frontier is still non-empty
    # after two rounds.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "src BIGINT, dst BIGINT"
    )
    before = _n_persisted(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        shortest_paths(edges, source=1, max_iter=2)
    assert _n_persisted(spark) <= before, "round state leaked on failure"


def test_connected_components_random_graphs_match_union_find(spark):
    """Randomized cross-check: Spark min-label propagation must agree
    with a driver-side union-find on arbitrary small graphs."""
    import random

    from parcialbigdata_spark.operators.graph import connected_components

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        n_nodes = 60
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(70)
        ]
        edges = [(a, b) for a, b in edges if a != b]

        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for e in edges for x in e}
        expected = {x: find(x) for x in touched}
        # find() compresses to the min id because unions always attach
        # the larger root under the smaller one.

        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
        assert got == expected, f"seed {seed}"


def test_decontaminate_flags_overlap_and_keeps_clean(spark):
    corpus_df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # shares 5-grams w/ bench
            (2, "one two three four five six"),          # disjoint
            (3, ""),                                     # empty → 0 grams, kept
        ],
        "doc_id int, text string",
    )
    bench_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id int, text string"
    )
    out = {
        r.doc_id: (r.matched_grams, r.contaminated)
        for r in corpus.decontaminate(corpus_df, bench_df, "doc_id", "text", k=5).collect()
    }
    assert out[1] == (1, True)   # exactly the one shared 5-gram
    assert out[2] == (0, False)
    assert out[3] == (0, False)  # empty doc survives with zero matches


def test_chunk_documents_windows_and_edges(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g"),  # 7 tokens → starts 0,3,6 with stride 3
            (2, "x"),              # single token → one short chunk
            (3, "   "),            # whitespace-only → no chunks
        ],
        "doc_id int, text string",
    )
    rows = corpus.chunk_documents(df, "doc_id", "text", chunk_tokens=4, stride=3).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_text, r.n_tokens))
    assert by_doc[1] == [(0, "a b c d", 4), (1, "d e f g", 4), (2, "g", 1)]
    assert by_doc[2] == [(0, "x", 1)]
    assert 3 not in by_doc
    with pytest.raises(ValueError):
        corpus.chunk_documents(df, stride=0)


def test_redact_pii_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b@x.io or 555-123-4567 from 10.0.0.1 twice a.b@x.io")],
        "doc_id int, text string",
    )
    row = df.select(
        T.redact_pii("text").alias("red"),
        T.pii_count("text", "email").alias("e"),
        T.pii_count("text", "phone").alias("p"),
        T.pii_count("text", "ipv4").alias("i"),
    ).first()
    assert row.red == "mail [EMAIL] or [PHONE] from [IPV4] twice [EMAIL]"
    assert (row.e, row.p, row.i) == (2, 1, 1)


def test_repetition_ratios(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam ham"), (2, "all words differ here"), (3, "")],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: (round(r.dt, 6), round(r.tt, 6), round(r.db, 6))
        for r in df.select(
            "doc_id",
            T.dup_token_ratio("text").alias("dt"),
            T.top_token_ratio("text").alias("tt"),
            T.dup_bigram_ratio("text").alias("db"),
        ).collect()
    }
    # doc 1: 4 tokens, 2 distinct → dup 0.5; top 'spam' 3/4; bigrams
    # [spam spam, spam spam, spam ham] → 3 grams, 2 distinct → 1/3.
    assert out[1] == (0.5, 0.75, round(1 / 3, 6))
    assert out[2] == (0.0, 0.25, 0.0)
    assert out[3] == (0.0, 0.0, 0.0)


def test_pack_chunks_budget_overflow_bound(spark):
    """Greedy packing invariant: every pack except a stream's last holds
    >= budget tokens only via its final (straddling) chunk — i.e. pack
    tokens < budget + max_chunk, and tokens before the last chunk of a
    pack are < budget."""
    df = spark.createDataFrame(
        [("a", i, 10 + (i % 3)) for i in range(40)],
        "part string, idx int, n_tokens int",
    )
    packed = corpus.pack_chunks(df, "part", ["idx"], budget=32).collect()
    by_pack: dict[int, list] = {}
    for r in sorted(packed, key=lambda r: r.idx):
        by_pack.setdefault(r.pack_id, []).append(r.n_tokens)
    assert len(by_pack) > 1
    max_chunk = 12
    for pid, toks in by_pack.items():
        assert sum(toks) < 32 + max_chunk
        assert sum(toks[:-1]) < 32
    # Packs are dense: consecutive ids from 0.
    assert sorted(by_pack) == list(range(len(by_pack)))


def test_simhash_max_bucket_caps_degenerate(spark):
    """Identical docs share every chunk bucket; the cap drops those
    degenerate buckets instead of emitting O(n²) pairs (exact dedup is
    the pass responsible for identical docs)."""
    df = spark.createDataFrame(
        [(i, "same words in every single document") for i in range(50)],
        "doc_id long, text string",
    )
    assert dedup.simhash_near_dups(df, "doc_id", "text", max_bucket=10).count() == 0
    # With the cap off, the pairs come back.
    assert dedup.simhash_near_dups(df, "doc_id", "text", max_bucket=0).count() == 50 * 49 // 2


def test_quantize_int8_roundtrip_error_bound(spark):
    """Symmetric int8 quantization: every element's reconstruction error
    is <= scale/254 + eps (half a quantization step)."""
    from parcialbigdata_spark.functions import vectors as V

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    scale = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    out = (
        df.withColumn("scale", scale)
        .withColumn("q", V.quantize_int8("embedding"))
        .withColumn("deq", V.dequantize_int8("q", F.col("scale")))
        .collect()
    )
    for r in out:
        assert all(isinstance(v, int) and -127 <= v <= 127 for v in r.q)
        step = (r.scale / 127.0) if r.scale else 0.0
        for x, xh in zip(r.embedding, r.deq):
            assert abs(x - xh) <= step / 2 + 1e-9
    assert out[1].q == [0, 0, 0, 0]  # zero vector stays zeros


def test_shared_window_pairs_exact_guarantee(spark):
    """shared_window_pairs finds every pair sharing an exact >=k-token
    run (each such run contains a k-window on both sides) and never
    pairs docs whose longest shared run is < k tokens."""
    run = " ".join(f"shared{i}" for i in range(5))  # 5-token run
    df = spark.createDataFrame(
        [
            (1, f"aa bb {run} cc dd"),
            (2, f"{run} xx yy zz ww"),
            (3, f"pp qq {' '.join(f'shared{i}' for i in range(4))} rr ss tt"),  # only 4
            (4, "totally different vocabulary with no overlap at all here"),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r.id_a, r.id_b): r.n_shared_windows
        for r in dedup.shared_window_pairs(df, "doc_id", "text", k_tokens=5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1  # exactly one shared 5-window
    # doc 3 shares only a 4-token run with 1 and 2 → below k, no pair
    assert all(3 not in p and 4 not in p for p in pairs)


def test_shared_window_pairs_bucket_cap_drops_hot_window(spark):
    """A window shared by more docs than max_bucket contributes no
    pairs (boilerplate is exact-dedup's job)."""
    boiler = " ".join(f"b{i}" for i in range(5))
    rows = [(i, f"unique{i} {boiler} tail{i}") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    n_uncapped = dedup.shared_window_pairs(df, "doc_id", "text", k_tokens=5).count()
    n_capped = dedup.shared_window_pairs(
        df, "doc_id", "text", k_tokens=5, max_bucket=5
    ).count()
    assert n_uncapped == 15  # C(6,2)
    assert n_capped == 0


def test_pq_adc_exact_on_reconstructed_vectors(spark):
    """ADC identity: when a corpus vector IS a concatenation of
    sub-centroids, its ADC distance equals its true squared distance to
    the query — so over such a corpus, PQ ranking == exact ranking."""
    import numpy as np

    from parcialbigdata_spark.operators import similarity

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 8)).astype("float64")
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(base)],
        "vec_id bigint, embedding array<double>",
    )
    books = similarity.pq_fit(df, m=4, k_codes=4, sample_size=40)
    # Rebuild each corpus row from its own codes → exactly representable.
    codes = {
        r["vec_id"]: r["codes"] for r in similarity.pq_encode(df, books).collect()
    }
    recon_rows = []
    for i in range(len(base)):
        v = []
        for s, c in enumerate(codes[i]):
            v.extend(books[s][c])
        recon_rows.append((i, [float(x) for x in v]))
    recon = spark.createDataFrame(recon_rows, "vec_id bigint, embedding array<double>")

    q = [float(x) for x in rng.normal(size=8)]
    got = {r["vec_id"]: r["adc_dist2"] for r in similarity.pq_topk(recon, q, books, k=40).collect()}
    qa = np.asarray(q)
    for vid, adc in got.items():
        true = float(((np.asarray(dict(recon_rows)[vid]) - qa) ** 2).sum())
        assert abs(adc - true) < 1e-4, (vid, adc, true)


def test_pq_encode_codes_in_range_and_deterministic(spark):
    from parcialbigdata_spark.operators import similarity
    from parcialbigdata_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = similarity.pq_fit(emb, m=8, k_codes=16)
    a = similarity.pq_encode(emb, books).collect()
    b = similarity.pq_encode(emb, books).collect()
    assert {r["vec_id"]: r["codes"] for r in a} == {r["vec_id"]: r["codes"] for r in b}
    assert all(0 <= c < 16 for r in a for c in r["codes"])
    assert all(len(r["codes"]) == 8 for r in a)


def test_as_of_join_tolerance_masks_stale_matches(spark):
    """tolerance: a right row older than the window yields NULLs, a
    fresh one matches — same rows either way, only the mask differs."""
    from datetime import datetime

    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 10)), (2, datetime(2024, 3, 1))], ["k", "t"]
    )
    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 8), 100.0), (2, datetime(2024, 1, 1), 200.0)],
        ["k", "t", "v"],
    )
    rows = {
        r["k"]: r["v"]
        for r in joins.as_of_join(
            left, right, on="k", left_time="t", right_time="t", tolerance="7 days"
        ).collect()
    }
    assert rows[1] == 100.0   # 2 days old, within 7d
    assert rows[2] is None    # 60 days old, masked


def test_as_of_join_tolerance_accepts_timedelta_and_rejects_garbage(spark):
    """A timedelta builds the same mask as its string form; a malformed
    string fails fast with ValueError instead of a Catalyst parse error
    (ADVICE r2)."""
    from datetime import datetime, timedelta

    import pytest

    left = spark.createDataFrame([(1, datetime(2024, 1, 10))], ["k", "t"])
    right = spark.createDataFrame([(1, datetime(2024, 1, 8), 100.0)], ["k", "t", "v"])
    row = joins.as_of_join(
        left, right, on="k", left_time="t", right_time="t", tolerance=timedelta(days=7)
    ).first()
    assert row["v"] == 100.0
    for bad in ("7 fortnights", "7; DROP TABLE x", "", "days 7", timedelta(days=-1)):
        with pytest.raises(ValueError):
            joins.as_of_join(
                left, right, on="k", left_time="t", right_time="t", tolerance=bad
            ).first()


def test_boilerplate_prune_drops_shared_segments(spark):
    """A segment shared by two docs is pruned from both; unique
    segments survive; the reassembly digest reflects exactly the kept
    text in order."""
    import hashlib

    shared = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [
            (1, shared + " u1a u1b u1c u1d u1e u1f u1g u1h u1i u1j"),
            (2, shared + " u2a u2b u2c u2d u2e u2f u2g u2h u2i u2j"),
            (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in corpus.boilerplate_prune(
            df, segment_tokens=10, max_doc_freq=1
        ).collect()
    }
    assert got[1].n_segments == 2 and got[1].n_pruned == 1
    assert got[1].kept_tokens == 10
    assert got[1].kept_md5 == hashlib.md5(
        b"u1a u1b u1c u1d u1e u1f u1g u1h u1i u1j"
    ).hexdigest()
    # doc 3 shares nothing: everything kept, digest == its own text
    assert got[3].n_pruned == 0 and got[3].kept_tokens == 12
    assert got[3].kept_md5 == hashlib.md5(
        b"w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    ).hexdigest()


def test_boilerplate_prune_all_pruned_doc_hashes_empty(spark):
    import hashlib

    same = "a b c d e f g h i j"
    df = spark.createDataFrame(
        [(1, same), (2, same)], "doc_id long, text string"
    )
    rows = corpus.boilerplate_prune(df, segment_tokens=10).collect()
    assert {r.kept_md5 for r in rows} == {hashlib.md5(b"").hexdigest()}
    assert all(r.kept_tokens == 0 and r.n_pruned == 1 for r in rows)


def test_pagerank_scaled_star_graph_exact(spark):
    """Hub-and-spoke: hub 'h' <-> spokes a,b,c (bidirectional). Exact
    integer replay of one iteration by hand pins the arithmetic."""
    from parcialbigdata_spark.operators.graph import pagerank_scaled

    edges = spark.createDataFrame(
        [("h", x) for x in "abc"] + [(x, "h") for x in "abc"],
        ["src", "dst"],
    )
    got = {
        r.node: (r.out_degree, r.rank_scaled)
        for r in pagerank_scaled(edges, iterations=1).collect()
    }
    scale = 1_000_000_000_000
    n = 4
    init, base = scale // n, ((15 * scale) // 100) // n
    # hub receives each spoke's whole rank (out_degree 1); spokes
    # receive a third of the hub's.
    hub_rank = base + (85 * (3 * (init // 1))) // 100
    spoke_rank = base + (85 * (init // 3)) // 100
    assert got["h"] == (3, hub_rank)
    assert all(got[x] == (1, spoke_rank) for x in "abc")
    # mass never exceeds 1.0 in scaled units
    assert sum(r for _, r in got.values()) <= scale


def test_pagerank_rejects_zero_iterations(spark):
    import pytest

    from parcialbigdata_spark.operators.graph import pagerank_scaled

    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with pytest.raises(ValueError, match="iterations"):
        pagerank_scaled(edges, iterations=0)


def test_minhash_oracle_fixture_equality_holds(spark):
    """FIXTURE-DEPENDENT ORACLE GUARD (ADVICE r3).

    The minhash_near_dups_documents oracle is the EXHAUSTIVE exact-
    Jaccard pair set; the registered query is banded LSH, whose recall
    is < 1 in general - their equality is an empirical property of the
    current documents fixture (every >=0.2-Jaccard pair happens to
    collide in some band). If the fixture or threshold changes, this
    test fails HERE with a readable symmetric difference instead of an
    opaque value-hash mismatch at the driver gate. Fix = re-verify the
    fixture, then re-measure LSH recall and re-justify (or re-point)
    the oracle."""
    from pyspark.sql import functions as F

    from parcialbigdata_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_near_dups(
            docs, "doc_id", "text", threshold=0.2, k_shingle=2
        ).collect()
    }

    # Exact side: inverted shingle index (pairs sharing no shingle have
    # Jaccard 0 and cannot pass 0.2), exact |intersection| / |union|.
    sh = dedup.shingle_rows(docs, "doc_id", "text", k_shingle=2).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.withColumnsRenamed({"doc_id": "id_a", "__s": "sa"})
    b = sh.withColumnsRenamed({"doc_id": "id_b", "__s": "sb"})
    inter = (
        a.join(b, (F.col("sa") == F.col("sb")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    exact = {
        (r.id_a, r.id_b)
        for r in (
            inter.join(sizes.withColumnsRenamed({"doc_id": "id_a", "n": "na"}), "id_a")
            .join(sizes.withColumnsRenamed({"doc_id": "id_b", "n": "nb"}), "id_b")
            .withColumn(
                "j",
                F.round(
                    F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6
                ),
            )
            .filter(F.col("j") >= 0.2)
            .collect()
        )
    }

    missed = exact - lsh
    extra = lsh - exact
    assert not missed and not extra, (
        "minhash LSH != exhaustive exact-Jaccard on the current fixture "
        f"(missed by LSH: {sorted(missed)[:10]}, not in exact: {sorted(extra)[:10]}). "
        "The driver oracle for minhash_near_dups_documents RELIES on this "
        "empirical equality - see this test's docstring for how to proceed."
    )
