"""Deduplication operators for training-data pipelines (SURVEY.md §2.10).

Four families, all designed scale-first:

- **Exact**: hash-groupBy on a canonical fingerprint. One shuffle on the
  16-byte md5 — the minimum possible data movement for exact dedup.
- **MinHash + LSH**: word-shingle → k minhashes → b bands → candidate
  pairs share a band bucket → exact Jaccard verification. Signatures
  are computed with Spark's ``xxhash64`` over exploded shingle rows and
  a partial-aggregated groupBy — every operator stays inside
  whole-stage codegen (no UDF, no MLlib vector conversion).
- **SimHash**: 64-bit sign-of-weighted-sum fingerprint, pure SQL
  (aggregate over token bit-vectors), banding on 16-bit chunks for
  candidate generation, ``bit_count(a XOR b)`` Hamming verification.
- **N-gram Jaccard**: exact Jaccard over distinct shingle sets, used as
  the verifier for LSH candidates, or brute within small blocks.

At 100 TB: the LSH self-joins shuffle on (band_index, band_hash); hot
buckets (boilerplate docs) are the classic skew source — AQE skew-join
splitting handles moderate skew, and ``max_bucket`` hard-caps
pathological buckets (dropping them is standard practice: a bucket with
10^5 identical-boilerplate docs is better handled by exact dedup first).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from parcialbigdata_spark.functions import text as T
from parcialbigdata_spark.session import release_checkpoint

# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal (arbitrary survivor)."""
    return df.dropDuplicates(cols)


def canonical_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact text dedup with a deterministic survivor (min id per
    normalized-text fingerprint) and a duplicate count.

    One shuffle, on the md5 fingerprint — not the full text — so shuffle
    volume is O(16 bytes/doc) regardless of document size."""
    return (
        df.select(F.col(id_col), T.fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# ------------------------------------------------------------- MinHash
#
# Performance note (measured at sf0.01): building signatures as nested
# higher-order-function lambdas (transform-over-transform on the shingle
# array) runs ~100× slower than the equivalent explode → columnar hash →
# groupBy(min) pipeline, because HOF lambdas are evaluated interpreted
# (no whole-stage codegen) and the shingle expression is re-evaluated
# inside every lambda. The explode/agg shape below keeps every operator
# inside codegen; the groupBy is map-side partial-aggregated, so the
# shuffle carries one num_hashes-wide row per (doc × partition).
#
# Plan-building cost: every PySpark Column call is at least 3 py4j round
# trips, and on PySpark 4 ``F.col`` or a Column method costs about 11
# more, because ``_with_origin`` captures the Python call site. Built with
# the Column API, the 32-hash signature aggregate took about 1,300 round
# trips (160 ms) per call, a fixed driver cost that rivals its Spark jobs
# at the streaming store's batch size. Expressions that grow with
# ``num_hashes``/``bands`` (the signature folds, the band structs) and
# the set and bucket-cap expressions are therefore written as SQL text
# (``F.expr``/``selectExpr``), which Spark parses into the same plan:
# ``minhash_batch_relations`` fell from about 2,200 to 180 round trips
# and from 255 to 61 ms per call (4-core host, warm session). A
# caller-supplied column name is quoted by :func:`_sql_name`. Plumbing
# of a fixed width (renames, join keys) stays in the Column API.


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, k_shingle: int = 3, with_pos: bool = False
) -> DataFrame:
    """(id, shingle) rows — one row per word k-shingle occurrence.

    Built as posexplode(tokens) → ``lead`` window per document instead
    of materializing the shingle array with higher-order functions: the
    window shape stays inside whole-stage codegen and costs one sort of
    skinny (id, pos, token) rows, vs ~1 ms/row of interpreted lambda
    evaluation for the array construction. Rows are NOT deduplicated
    (fine for MinHash: min over a multiset equals min over its set).
    Documents shorter than ``k_shingle`` tokens contribute their whole
    token sequence as one shingle (same fallback as
    ``functions.text.shingles``)."""
    from pyspark.sql import Window

    ex = df.select(
        F.col(id_col),
        F.posexplode(T.tokens(T.normalize(text_col))).alias("__pos", "__t"),
    )
    w = Window.partitionBy(id_col).orderBy("__pos")
    parts = [F.col("__t")] + [F.lead("__t", j).over(w) for j in range(1, k_shingle)]
    full = F.concat_ws(" ", *parts)
    # lead() is NULL near the end of a doc; concat_ws skips NULLs, so the
    # tail rows would emit partial shingles. A row's shingle is complete
    # iff its last lead is non-NULL, and the short-doc fallback (doc with
    # < k tokens contributes its whole token run at pos 0) is exactly the
    # pos==0 row whose last lead is NULL — so the single predicate
    # (last-lead NOT NULL) OR (pos == 0) covers both cases with no
    # per-document count window (one window pass instead of two).
    complete = parts[-1].isNotNull() if k_shingle > 1 else F.lit(True)
    out = ex.select(
        F.col(id_col), full.alias("__s"), F.col("__pos"), complete.alias("__c")
    ).filter(F.col("__c") | (F.col("__pos") == 0))
    return out.select(id_col, "__s", "__pos") if with_pos else out.select(id_col, "__s")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    k_shingle: int = 3,
) -> DataFrame:
    """(id, m0..m{num_hashes-1}) MinHash signature columns. The shingle
    string is hashed ONCE (``xxhash64(shingle)``); hash function *i* is
    ``xxhash64(i, base)`` — an integer remix, so the 32-function family
    costs one string hash + 32 int hashes per shingle instead of 32
    string hashes. All JVM-side, fully codegen'd."""
    return _signatures_from_rows(shingle_rows(df, id_col, text_col, k_shingle), id_col, num_hashes)


def _sql_name(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _signatures_from_rows(rows: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, __s) shingle rows → (id, m0..m{n-1}) signature columns."""
    hashed = rows.selectExpr(_sql_name(id_col), "xxhash64(__s) AS __h")
    return hashed.groupBy(id_col).agg(
        *[F.expr(f"min(xxhash64({i}, __h)) AS m{i}") for i in range(num_hashes)]
    )


def _banded_rows(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band_idx, band_hash) LSH band rows. Band *b*'s bucket key
    is ``xxhash64(m_{b·r}, …, m_{b·r+r-1})`` — variadic column
    hashing, no array construction."""
    r = num_hashes // bands
    structs = ", ".join(
        f"named_struct('band_idx', {b}, 'band_hash',"
        f" xxhash64({', '.join(f'm{b * r + j}' for j in range(r))}))"
        for b in range(bands)
    )
    qid = _sql_name(id_col)
    return sigs.selectExpr(qid, f"explode(array({structs})) AS band").selectExpr(
        qid, "band.band_idx", "band.band_hash"
    )


def _cap_buckets(bb: DataFrame, max_bucket: int) -> DataFrame:
    """Drop degenerate LSH band buckets: a COUNT window over the band
    rows' own (band_idx, band_hash) partitioning — one shuffle the
    downstream band join reuses — instead of a separate groupBy +
    filter join. Shared by the within-corpus candidate stage, the
    bucketed-table writer, and the persisted-index ingest (one cap
    semantic, one place to change it)."""
    if not max_bucket:
        return bb
    bucket_n = F.expr("count(1) OVER (PARTITION BY band_idx, band_hash)")
    return bb.withColumn("__n", bucket_n).filter(f"__n <= {int(max_bucket)}").drop("__n")


def _hashed_sets(rows: DataFrame, id_col: str) -> DataFrame:
    """(id, __s) shingle rows → (id, sh): each document's distinct
    ``xxhash64`` shingle hashes, the exact-Jaccard verify side."""
    return rows.groupBy(id_col).agg(F.expr("collect_set(xxhash64(__s)) AS sh"))


def _candidate_pairs_from_sigs(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    max_bucket: int,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) that share ≥1 LSH band
    (band rows via :func:`_banded_rows`). ``max_bucket``
    drops degenerate buckets before the quadratic self-join — at web
    scale a single boilerplate bucket would otherwise emit billions of
    pairs. The cap is a COUNT window over the self-join's own
    (band_idx, band_hash) partitioning — one shuffle that the join then
    reuses — instead of a separate groupBy + filter join (which costs an
    extra shuffle and an extra join). The banded relation is persisted:
    both self-join sides would otherwise recompute the signatures."""
    bb = _cap_buckets(_banded_rows(sigs, id_col, num_hashes, bands), max_bucket)
    bb = bb.persist()
    a = bb.alias("a")
    b = bb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) that share ≥1 LSH band
    (see :func:`_candidate_pairs_from_sigs` for the plan shape)."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, k_shingle)
    return _candidate_pairs_from_sigs(sigs, id_col, num_hashes, bands, max_bucket)


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard over two distinct-shingle arrays."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return inter / F.greatest(union, F.lit(1))


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard ≥ threshold.
    Returns (id_a, id_b, jaccard_sim). The shingle rows are computed
    ONCE (persisted) and feed both the signature stage and the
    verification arrays — tokenizing the corpus twice would double the
    dominant map cost. Verification runs over HASHED shingles
    (``xxhash64``, 8-byte longs): Jaccard over the hashed sets equals
    Jaccard over the strings up to 64-bit collisions (~n²·2⁻⁶⁴ —
    negligible), and the collect_set/join shuffles move fixed-width
    ints instead of arbitrary-length shingle text. The hashed-set
    relation is persisted (both pair sides read it); AQE broadcasts the
    small candidate side so the set relation never reshuffles."""
    rows = shingle_rows(df, id_col, text_col, k_shingle).persist()
    sigs = _signatures_from_rows(rows, id_col, num_hashes)
    cands = _candidate_pairs_from_sigs(sigs, id_col, num_hashes, bands, max_bucket=10_000)
    sh = _hashed_sets(rows, id_col).persist()
    out = (
        cands.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
        .select("id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= threshold)
    )
    return out


def bucketed_band_self_join(spark, table: str, id_col: str) -> DataFrame:
    """(id_a < id_b) band-sharing pairs from a band table bucketed on
    ``band_hash``: both join sides scan the same bucketed files, whose
    HashPartitioning(band_hash) satisfies the join's clustered
    distribution — the executed plan has NO Exchange (a partition-local
    sort may appear; that is not a shuffle). Pairs are NOT
    deduplicated here (two shared bands → two rows); callers
    ``distinct()`` when they need set semantics."""
    stored = spark.table(table)
    a, b = stored.alias("a"), stored.alias("b")
    return a.join(
        b,
        (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))


def minhash_near_dups_bucketed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    num_buckets: int = 8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """``minhash_near_dups`` with the quadratic band self-join served
    from a BUCKETED table — the shuffle-elimination pattern for any
    similarity family that re-joins the same blocked relation.

    The (id, band_idx, band_hash) band rows are written once with
    ``bucketBy(num_buckets, band_hash) + sortBy(band_hash)``
    (sources/warehouse.py); both sides of the self-join then scan the
    SAME bucketed files, whose ``HashPartitioning(band_hash)``
    already satisfies the join's clustered distribution — the
    executed join plan contains ZERO Exchange nodes
    (tests/test_round7_ops.py pins this). At 100 TB this is the
    difference between shuffling the multi-TB band relation TWICE per
    run and shuffling it ONCE at ingest, amortized across every
    re-run (dedup is rerun per corpus snapshot; the band relation is
    append-friendly). Siblings: ``minhash_near_dups`` (same
    semantics, exchange-per-run) and ``sources/warehouse.py``'s
    fact-table bucketing (same storage layout, equi-join use case).

    ``max_bucket`` degenerate-bucket capping happens BEFORE the write
    (a count window on the band key — the one shuffle this pipeline
    pays, at ingest, not at query time). Output and oracle are
    identical to ``minhash_near_dups``: candidates are verified by
    exact Jaccard, so the blocking strategy is invisible in the
    result."""
    spark = df.sparkSession
    rows = shingle_rows(df, id_col, text_col, k_shingle).persist()
    sigs = _signatures_from_rows(rows, id_col, num_hashes)
    bb = _cap_buckets(_banded_rows(sigs, id_col, num_hashes, bands), max_bucket)
    from parcialbigdata_spark.sources.warehouse import write_bucketed

    write_bucketed(bb, table, "band_hash", num_buckets=num_buckets)
    cands = bucketed_band_self_join(spark, table, id_col).distinct()
    sh = _hashed_sets(rows, id_col).persist()
    return (
        cands.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k_shingle: int = 3,
    block_col: str | None = None,
    max_unblocked_rows: int = 20_000,
) -> DataFrame:
    """Exact n-gram Jaccard pairs (id_a < id_b, jaccard_sim ≥
    ``threshold``), optionally restricted to pairs sharing
    ``block_col`` (e.g. lang|source). The result is exactly the
    brute-force blocked all-pairs answer — the candidate stage is a
    **complete** prefix filter, never a probabilistic one — which is
    what lets the cluster-family oracles (dedup_clusters /
    golden_record / incremental_clusters) define truth by exact
    Jaccard at ANY threshold.

    Candidate-and-count stage (r8 — replaces the r7 full-corpus
    ``F.broadcast`` self-join that VERDICT r7 flagged as the repo's
    one 100 TB scale-killer: broadcasting the whole shingled corpus
    exceeds any broadcast cap, and blocking by a fixed-cardinality
    key is quadratic per block): the sparse set-intersection join —

    - shingles hash to int64 once (``functions.text.shingle_hashes``;
      Jaccard over the hashed sets equals Jaccard over the strings up
      to negligible 64-bit collisions) and explode to (id, element)
      rows;
    - the self-join on (block, element) emits one row per SHARED
      element per pair, so ``count(*)`` per (id_a, id_b) IS the exact
      intersection size — no verify pass, no array materialization —
      and ``J = inter / (|a| + |b| − inter)`` closes the formula with
      the two set sizes riding along every exploded row (r11 — the r10
      form re-aggregated them and joined them back, two extra joins);
    - complete by construction at any threshold > 0: a qualifying
      pair shares ≥1 element, so it appears in the join; pairs sharing
      nothing never materialize (the brute-force plan compared even
      disjoint pairs).

    Scale shape: NOTHING is broadcast (tests/test_round8_ops.py pins
    the executed intersection join to a co-partitioned zero-exchange
    ShuffledHashJoin — r11 replaced the "no hints" pin with an explicit
    ``shuffle_hash`` hint after the checkpointed layout's stale size
    estimate let the planner broadcast the exploded relation at sf10);
    the candidate shuffle keys on
    (block, element) — vocabulary-cardinality, not the #blocks key
    that capped the r7 shuffled plan at #blocks tasks — and the
    count-agg is map-side combined, so the post-shuffle relation is
    pair-grained. The quadratic term is Σ_element cnt² — bounded on
    real corpora by rare-element skew, and hot boilerplate elements
    should be removed by exact dedup first (same guidance as the
    minhash family's ``max_bucket``). spread() lifts an under-split
    scan to cluster parallelism before the CPU-heavy tokenize+shingle
    map (no-op whenever splits >= cores).

    vs the siblings: :func:`setsim_join_prefix` (prefix filter,
    rarest-first order) wins at HIGH thresholds where the prefix
    shrinks to a fraction of the set but pays a frequency pass and an
    array-verify join; at the LOW thresholds this operator serves
    (the t=0.05 cluster family: dedup_clusters / golden_record /
    incremental_clusters), a prefix would cover ~(1−t) of every set,
    so counting over ALL elements costs the same join and deletes the
    verify stage entirely. :func:`minhash_near_dups` trades the exact
    guarantee for banded candidates when even the intersection join
    is too hot.

    ``max_unblocked_rows``: unblocked duplicate-heavy corpora still
    have O(n²) OUTPUT (every pair qualifies); the guard keeps ad-hoc
    unblocked calls honest (set 0/None to override). ``threshold``
    must be > 0 (Jaccard-0 pairs never co-occur in the element
    join; they are also not a meaningful dedup question)."""
    if threshold <= 0:
        raise ValueError("ngram_jaccard_pairs requires threshold > 0")
    if block_col is None and max_unblocked_rows:
        n = df.count()
        if n > max_unblocked_rows:
            raise ValueError(
                f"ngram_jaccard_pairs without block_col can be O(n²); input "
                f"has {n} rows > max_unblocked_rows={max_unblocked_rows}. "
                f"Pass a block_col or use minhash_near_dups."
            )
    overlap = _sparse_pair_overlap(df, id_col, text_col, k_shingle, block_col)
    return (
        overlap.select(
            "id_a",
            "id_b",
            F.round(
                F.col("__inter")
                / (F.col("__sz_a") + F.col("__sz_b") - F.col("__inter")),
                6,
            ).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


_SPARSE_MATERIALIZE_KEY = "spark.parcialbigdata.sparse.materialize"
# "shuffle_hash" (default) pins the zero-exchange hash join the
# checkpointed stats would otherwise mis-plan (r11 verdict); "auto"
# drops the hint for skewed corpora (see _sparse_pair_overlap).
_SPARSE_JOIN_KEY = "spark.parcialbigdata.sparse.join"


def _materialize_sparse(rows: DataFrame) -> DataFrame:
    """Materialization strategy for the exploded-shingle relation (r11,
    verdict #1). The r10 same-session A/B suggested ``persist()`` wins
    at sf10; a COLD replication this round reversed it decisively and
    explains why: a DataFrame ``persist`` wraps the relation in an
    AQE-planned InMemoryRelation whose output partitioning is opaque to
    consumers, so every join side re-shuffles the largest intermediate
    in the pipeline from scratch — executed-plan exchange count 44 vs
    the checkpoint's 12 at sf0.1, and 452.9 s vs 77.9 s cold at sf10
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true``
    did not recover it). A ``DISK_ONLY`` localCheckpoint was also
    measured (120.2 s): worse than MEMORY_AND_DISK at a heap that
    fits. ``localCheckpoint(eager=True)`` — LogicalRDD retains the
    hash partitioning, exact stats feed AQE — is therefore the right
    strategy at EVERY measured size, and size-based switching is
    falsified, not implemented.

    ``canChangeCachedPlanOutputPartitioning=true`` is now the session
    default (``session.get_spark``): it lets AQE coalesce the final
    stage of small persisted relations. r11's measurement above still
    stands — the flag does not close this path's exchange gap — and the
    checkpoint strategy here is unchanged.

    The conf knob stays for the one environment where the checkpoint
    is genuinely wrong: ``localCheckpoint`` blocks are
    non-recomputable, so on a cluster with dynamic allocation /
    spot executors a lost executor kills the query. Set
    ``spark.parcialbigdata.sparse.materialize=persist`` there to trade
    the extra exchanges for fault tolerance (blocks recompute from
    lineage)."""
    spark = rows.sparkSession
    mode = spark.conf.get(_SPARSE_MATERIALIZE_KEY, "checkpoint").strip().lower()
    if mode == "persist":
        from pyspark import StorageLevel

        return rows.persist(StorageLevel.MEMORY_AND_DISK)
    return rows.localCheckpoint(eager=True)


def _sparse_pair_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int,
    block_col: str | None,
) -> DataFrame:
    """The sparse set-intersection stage shared by
    :func:`ngram_jaccard_pairs` and :func:`ngram_containment_pairs`:
    (id_a < id_b, __inter, __sz_a, __sz_b) with exact intersection
    sizes over distinct hashed shingles — complete for any pair
    sharing ≥ 1 element, nothing broadcast (see the callers for the
    plan-shape contract).

    Precondition (ADVICE r11): ``id_col`` must be unique per input row
    (per (block, row) when ``block_col`` is set). ``__sz`` is the
    per-ROW distinct-shingle count riding each exploded row and is
    collapsed per pair as ``max()``; an id spanning multiple rows
    would take the LARGEST row's size as its set size instead of the
    union's (the r10 form counted exploded rows per id across all
    rows, a different — also wrong — denominator). The callers feed
    one document per row, where the two definitions coincide.

    Skew caveat (ADVICE r11): the ``shuffle_hash`` hint below pins a
    non-spilling hash build per partition; a pathologically hot
    (block, __h) key concentrates one partition's build side far
    beyond the average and can OOM where sort-merge would spill
    through. Distinct-per-document shingle hashes make a single hash
    value's rows at most one per document, so "hot key" here means a
    boilerplate shingle shared by a large fraction of the corpus —
    exactly what the callers' stopword-like guidance says to strip
    first. For corpora where that isn't possible, set
    ``spark.parcialbigdata.sparse.join=auto`` to drop the hint and
    let AQE pick (and skew-split) the join."""
    from parcialbigdata_spark.sources.tables import spread

    keys = [block_col] if block_col else []
    hs = T.shingle_hashes(T.tokens(T.normalize(F.col(text_col))), k_shingle)
    # The set size rides along every exploded row (r11): the r10 form
    # re-derived it as groupBy(id).count() over the exploded relation
    # and joined it back TWICE (sz_a, sz_b) — a partial-agg emitting up
    # to one row per (partition, doc) of shuffle, with both join-backs
    # inheriting the checkpoint's stale pre-explode size estimate (so
    # Catalyst broadcast them regardless of true size). 8 extra bytes
    # per exploded row delete the aggregation and both joins.
    #
    # The array-form base is PERSISTED for the duration of the eager
    # materialization because size() and explode() cannot share one
    # computation through projections alone: CollapseProject inlines
    # the alias into BOTH consumers (Generate embeds its generator
    # input), so the CPU-heaviest expression in the pipeline —
    # tokenize+shingle+hash — ran once per consumer (verified: 3×
    # zip_with/array_distinct in the optimized plan; interleaved
    # min-of-3 at sf1: 33.3 s duplicated vs 16.8 s persisted vs 25.9 s
    # for the r10 sizes-join shape). The cache lives only until the
    # checkpoint materializes (unpersist below); under
    # materialize=persist (lazy) the early unpersist merely forfeits
    # this optimization, never correctness.
    base = (
        spread(df)
        .select(F.col(id_col), *[F.col(c) for c in keys], hs.alias("__hs"))
        .persist()
    )
    rows = _materialize_sparse(
        base.select(
            F.col(id_col),
            *[F.col(c) for c in keys],
            F.size(F.col("__hs")).alias("__sz"),
            F.explode(F.col("__hs")).alias("__h"),
        )
        # Hash-partitioned on the join key BEFORE the materialization
        # (LogicalRDD / InMemoryRelation both retain the partitioning):
        # the a/b sides of the self-join below then both read the
        # materialized layout with NO exchange — the r8 version shuffled
        # the exploded relation (the largest intermediate in the
        # pipeline) twice, once per join side.
        .repartition(*[F.col(c) for c in [*keys, "__h"]])
    )
    base.unpersist()
    a = rows.select(
        F.col(id_col).alias("id_a"), F.col("__sz").alias("__sz_a"), *keys, "__h"
    )
    # shuffle_hash hint (r11): the checkpointed LogicalRDD carries the
    # PRE-materialization Catalyst estimate (measured 254 KB at sf0.1
    # for a relation that explodes to ~180 M rows at sf10), so the
    # planner saw a "25 MB" build side at sf10 and BROADCAST the
    # largest intermediate in the pipeline — the true cause of the r10
    # 16.5× superlinear residual. Both sides are already hash-
    # partitioned on the join key, so the hinted ShuffledHashJoin is
    # zero-exchange and sort-free: per-partition builds that scale
    # with the partition count knob, never with total data on one node.
    b = rows.select(
        F.col(id_col).alias("id_b"), F.col("__sz").alias("__sz_b"), *keys, "__h"
    )
    # Escape hatch for hot-shingle skew (docstring above): "auto"
    # drops the hint so AQE may fall back to a spilling sort-merge.
    if (
        df.sparkSession.conf.get(_SPARSE_JOIN_KEY, "shuffle_hash").strip().lower()
        == "shuffle_hash"
    ):
        b = b.hint("shuffle_hash")
    return (
        a.join(b, [*keys, "__h"])
        .filter(F.col("id_a") < F.col("id_b"))
        # __sz_a/__sz_b are functionally dependent on id_a/id_b, so
        # they ride as max() aggregates (deterministic: every row of a
        # group carries the identical value) rather than extra grouping
        # keys — measured at sf10 (interleaved min-of-3): the 4-key
        # grouping ran 2× slower with wild GC-shaped variance (21.8 to
        # 134 s) vs the 2-key form's stable 11.3 s, the narrow keys
        # keeping the partial-agg hash maps small.
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("__inter"),
            F.max("__sz_a").alias("__sz_a"),
            F.max("__sz_b").alias("__sz_b"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    k_shingle: int = 3,
    block_col: str | None = None,
    max_unblocked_rows: int = 20_000,
) -> DataFrame:
    """ASYMMETRIC n-gram containment pairs — the doc-in-doc detector
    Jaccard structurally misses: ``containment(inner → outer) =
    |inner ∩ outer| / |inner|``, so a short document fully quoted
    inside a long one scores ≈ 1.0 while its Jaccard is ≈
    |inner|/|outer| (arbitrarily small). Boilerplate-wrapped articles,
    quote-heavy posts, and excerpt pages are exactly this shape, and
    LLM dedup pipelines treat high containment as a near-dup signal in
    its own right (the suffix-array substring dedup of Lee et al. 2022
    is the positional cousin; ``winnow_fingerprints`` covers the
    fixed-window form here).

    Returns DIRECTIONAL rows (id_inner, id_outer, containment ≥
    ``threshold``) — both directions of a pair can qualify (mutual
    near-dups) and the relation is deliberately not symmetric.
    Same candidate stage as :func:`ngram_jaccard_pairs`
    (:func:`_sparse_pair_overlap` — sparse intersection join on
    (block, element), nothing broadcast, complete at any threshold >
    0 because a qualifying pair shares ≥ ⌈t·|inner|⌉ ≥ 1 elements),
    then each undirected overlap row emits its two directions with
    the matching denominator. Same ``max_unblocked_rows`` guard and
    blocking guidance as the Jaccard sibling."""
    if threshold <= 0:
        raise ValueError("ngram_containment_pairs requires threshold > 0")
    if block_col is None and max_unblocked_rows:
        n = df.count()
        if n > max_unblocked_rows:
            raise ValueError(
                f"ngram_containment_pairs without block_col can be O(n²); "
                f"input has {n} rows > max_unblocked_rows="
                f"{max_unblocked_rows}. Pass a block_col."
            )
    overlap = _sparse_pair_overlap(df, id_col, text_col, k_shingle, block_col)
    # Both directions from ONE overlap row via inline — the r10 form
    # unioned two projections of `overlap`, which duplicated the entire
    # sparse-intersection subtree in the plan (the heaviest join in the
    # pipeline ran twice; ReuseExchange does not collapse it because
    # the duplicated aggregations re-plan independently). Measured at
    # sf10 cold: 77.9 s → see R11_NOTES.md for the single-pass number.
    return (
        overlap.select(
            F.inline(
                F.array(
                    F.struct(
                        F.col("id_a").alias("id_inner"),
                        F.col("id_b").alias("id_outer"),
                        F.round(
                            F.col("__inter") / F.greatest(F.col("__sz_a"), F.lit(1)),
                            6,
                        ).alias("containment"),
                    ),
                    F.struct(
                        F.col("id_b").alias("id_inner"),
                        F.col("id_a").alias("id_outer"),
                        F.round(
                            F.col("__inter") / F.greatest(F.col("__sz_b"), F.lit(1)),
                            6,
                        ).alias("containment"),
                    ),
                )
            )
        )
        .filter(F.col("containment") >= threshold)
    )


# ---------------------------------------------------- winnowing (rolling hash)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    window: int = 4,
    hash_fn: "Callable[[Column], Column]" = F.xxhash64,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003): hash every k-gram with a rolling position, keep the
    minimum hash of each window of ``window`` consecutive k-grams, and
    return the distinct selected values per document as ``(id, fp)``.

    Guarantee: any run of ``window + k_shingle - 1`` shared tokens
    between two documents contributes at least one common fingerprint,
    while only ~``2/(window+1)`` of all k-gram hashes are retained —
    the standard plagiarism/near-dup fingerprinting density/coverage
    trade-off.

    Plan shape: the k-gram rows reuse :func:`shingle_rows` (one window
    sort per document); the min-of-window is a ROWS frame over the same
    (id, pos) ordering, so Catalyst evaluates both window specs in a
    single sort pass — no extra shuffle. Everything stays in
    whole-stage codegen; fingerprints shuffle as 8-byte ints."""
    from pyspark.sql import Window

    rows = shingle_rows(df, id_col, text_col, k_shingle, with_pos=True)
    w = Window.partitionBy(id_col).orderBy("__pos").rowsBetween(0, window - 1)
    return (
        rows.select(F.col(id_col), F.min(hash_fn(F.col("__s"))).over(w).alias("fp"))
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_bucket: int = 10_000,
    hash_fn: "Callable[[Column], Column]" = F.xxhash64,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowed fingerprints:
    ``(id_a, id_b, shared_fps)``. The self-join shuffles on the 8-byte
    fingerprint; ``max_bucket`` drops degenerate fingerprints (shared
    boilerplate) before the quadratic bucket join, same cap discipline
    as the MinHash LSH path."""
    from pyspark.sql import Window

    fps = winnow_fingerprints(df, id_col, text_col, k_shingle, window, hash_fn=hash_fn)
    if max_bucket:
        # COUNT window on the join key — the self-join reuses this
        # shuffle's partitioning, vs. an extra groupBy + filter join.
        fp_n = F.count(F.lit(1)).over(Window.partitionBy("fp"))
        fps = fps.withColumn("__n", fp_n).filter(F.col("__n") <= max_bucket).drop("__n")
    fps = fps.persist()
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


# ------------------------------------------------------------- SimHash


def md5_hash60(c: Column) -> Column:
    """Engine-portable 60-bit token hash: the first 15 hex chars of
    md5, parsed as an integer. Unlike ``xxhash64`` it has an exact
    DuckDB twin (``('0x' || substr(md5(t),1,15))::BIGINT``), which is
    what lets a SimHash built from it be oracle-checked bit-for-bit.
    15 hex chars = 60 bits < 2⁶³, so the conv→bigint cast is exact and
    non-negative. ~3-5× more hash cost per token than xxhash64 — use
    only where cross-engine replay matters; the scale default stays
    xxhash64."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_fn: "Callable[[Column], Column]" = F.xxhash64,
) -> DataFrame:
    """(id, sh) with a 64-bit SimHash per document.

    Shape: explode tokens → one ``xxhash64`` per token → groupBy(id)
    with SWAR-packed bit counters → sign bits packed into a bigint.
    Instead of 64 ``sum(±1)`` lanes, each aggregate bigint packs FOUR
    16-bit one-counts (bit *b* of the token hash accumulated at offset
    ``16·(b mod 4)``), so the agg carries 16 columns + a token count
    rather than 64 — 4× narrower shuffle rows and generated code. Sign
    recovery: bit *b* is set iff ``2·cnt_b > n_tokens`` (identical to
    the ±1 formulation's ``w_b > 0``). Counters are 16-bit, so
    documents are capped at 65 535 tokens — far above any sane chunking
    for near-dup fingerprints (chunk first if you have longer docs).

    Everything stays inside whole-stage codegen; the groupBy is
    map-side partial-aggregated. (A higher-order ``aggregate`` over the
    token array was ~100× slower: HOF lambdas evaluate interpreted.)

    Documents with no tokens hash to 0, preserved via left join.

    ``hash_fn`` maps a token column to a 64-bit-or-narrower integer
    hash (default ``xxhash64``; pass :func:`md5_hash60` for the
    DuckDB-replayable variant — its 4 always-zero top bits simply pin
    the 4 top sign-lanes to 0 on both engines)."""
    toks = df.select(F.col(id_col), F.explode(T.tokens(T.normalize(text_col))).alias("__t"))
    h = toks.select(id_col, hash_fn(F.col("__t")).alias("__h"))

    def packed_term(g: int) -> F.Column:
        # Four bit-counters per bigint: bits 4g..4g+3 at 16-bit offsets.
        term = F.lit(0).cast("bigint")
        for j in range(4):
            bit = F.shiftright(F.col("__h"), 4 * g + j).bitwiseAND(F.lit(1)).cast("bigint")
            term = term + F.shiftleft(bit, 16 * j)
        return term

    lanes = h.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(packed_term(g)).alias(f"p{g}") for g in range(16)],
    )
    sh = F.lit(0).cast("bigint")
    for b in range(64):
        g, j = divmod(b, 4)
        cnt = F.shiftright(F.col(f"p{g}"), 16 * j).bitwiseAND(F.lit(0xFFFF))
        sh = sh + F.when(
            cnt * 2 > F.col("__n"), F.shiftleft(F.lit(1).cast("bigint"), b)
        ).otherwise(F.lit(0).cast("bigint"))
    return df.select(id_col).join(lanes.select(id_col, sh.alias("sh")), id_col, "left").fillna(
        {"sh": 0}
    )


def simhash_signatures_long(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_fn: "Callable[[Column], Column]" = F.xxhash64,
    chunk_tokens: int = 32_768,
) -> DataFrame:
    """Truncation-free SimHash for documents beyond the 65,535-token cap
    of :func:`simhash_signatures` (SCALE.md §8 → lifted in r4).

    The per-bit one-counts are associative sums, so the signature can be
    built chunk-then-merge: ``posexplode`` gives each token a position,
    ``pos div chunk_tokens`` a hard ≤32,768-token chunk — level 1
    aggregates (doc, chunk) with the same SWAR-packed 16-bit lanes
    (exact: a chunk counter never exceeds 32,768), level 2 merges chunk
    lane-sums per doc into 32-bit lanes (2 counters per bigint, 32
    columns) before the sign fold. Result is BIT-IDENTICAL to the
    single-pass signature on a truncation-free engine for any document
    up to 2³¹−1 tokens (the offset-32 lane of a *signed* bigint must
    not reach its sign bit; ~8 TB of text in one row — effectively
    unbounded); equality with the classic path under the cap and
    chunk-split invariance are property-tested.

    Cost vs the classic path: one extra narrow agg level. The level-1
    groupBy keys are (id, chunk) — same shuffle key cardinality order —
    and level-2 input is ≤ total_tokens/chunk_tokens rows per doc.
    Use the classic path when every doc is known to fit the cap."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(T.tokens(T.normalize(text_col))).alias("__pos", "__t"),
    )
    h = toks.select(
        id_col,
        (F.col("__pos") / chunk_tokens).cast("bigint").alias("__chunk"),
        hash_fn(F.col("__t")).alias("__h"),
    )

    def packed_term(g: int) -> F.Column:
        term = F.lit(0).cast("bigint")
        for j in range(4):
            bit = F.shiftright(F.col("__h"), 4 * g + j).bitwiseAND(F.lit(1)).cast("bigint")
            term = term + F.shiftleft(bit, 16 * j)
        return term

    level1 = h.groupBy(id_col, "__chunk").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(packed_term(g)).alias(f"p{g}") for g in range(16)],
    )

    def lane16(b: int) -> F.Column:
        g, j = divmod(b, 4)
        return F.shiftright(F.col(f"p{g}"), 16 * j).bitwiseAND(F.lit(0xFFFF))

    def merged_term(k: int) -> F.Column:
        # Counters 2k (offset 0) and 2k+1 (offset 32) re-packed wide.
        return lane16(2 * k) + F.shiftleft(lane16(2 * k + 1), 32)

    level2 = level1.groupBy(id_col).agg(
        F.sum("__n").alias("__n"),
        *[F.sum(merged_term(k)).alias(f"q{k}") for k in range(32)],
    )
    sh = F.lit(0).cast("bigint")
    for b in range(64):
        k, j = divmod(b, 2)
        cnt = F.shiftright(F.col(f"q{k}"), 32 * j).bitwiseAND(F.lit(0xFFFFFFFF))
        sh = sh + F.when(
            cnt * 2 > F.col("__n"), F.shiftleft(F.lit(1).cast("bigint"), b)
        ).otherwise(F.lit(0).cast("bigint"))
    return df.select(id_col).join(level2.select(id_col, sh.alias("sh")), id_col, "left").fillna(
        {"sh": 0}
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    max_bucket: int = 10_000,
    hash_fn: "Callable[[Column], Column]" = F.xxhash64,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit hash into four 16-bit
    chunks — by pigeonhole any pair with Hamming distance ≤ 3 agrees on
    at least one chunk — join on chunk equality, verify exact Hamming.
    Returns (id_a, id_b, hamming). The signature relation is persisted
    (both self-join sides read it). ``max_bucket`` drops degenerate
    chunk buckets (boilerplate corpora collapse many docs onto one
    16-bit chunk value) before the quadratic self-join, with the same
    COUNT-window-on-the-join-key trick as the MinHash/winnowing paths —
    the cap shares the join's own shuffle."""
    h = simhash_signatures(df, id_col, text_col, hash_fn=hash_fn).persist()
    chunks = h.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright(F.col("sh"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select(id_col, "sh", "c.chunk_idx", "c.chunk_val")
    if max_bucket:
        from pyspark.sql import Window

        bucket_n = F.count(F.lit(1)).over(Window.partitionBy("chunk_idx", "chunk_val"))
        chunks = chunks.withColumn("__n", bucket_n).filter(
            F.col("__n") <= max_bucket
        ).drop("__n")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        # Hamming filter BEFORE the distinct: far-apart collision pairs
        # (the common case) die per-partition instead of shuffling into
        # the dedup exchange.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ------------------------------------------- exact shared-substring windows


def shared_window_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_tokens: int = 15,
    max_bucket: int = 100,
) -> DataFrame:
    """Document pairs sharing an EXACT run of ``k_tokens`` normalized
    tokens — the fixed-window form of suffix-array substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): any shared substring of >= k tokens contains at
    least one shared k-token window, so window-equality join finds
    every such pair (no sampling miss, unlike winnowing's 2/(w+1)
    retention).

    Plan: tokenize once (projected column) → slide windows row-locally
    → distinct (id, md5(window)) → self-join on the 16-byte digest
    with the standard count-window ``max_bucket`` cap (boilerplate
    windows shared by >max_bucket docs are exact-dedup's job, and an
    uncapped hot window is a quadratic pair bomb). md5 rather than
    xxhash64 keeps the digest engine-portable, so the DuckDB oracle
    reproduces the join exactly. Returns (id_a, id_b,
    n_shared_windows); docs shorter than ``k_tokens`` emit nothing.

    At 100 TB the shuffle carries (id, 16 B digest) rows — window text
    never moves — and the cap bounds every join bucket."""
    from parcialbigdata_spark.sources.tables import spread

    # The tokenize + per-position window transform is the CPU-heavy
    # narrow map; spread() lifts an under-split scan to cluster
    # parallelism first (no-op whenever splits >= cores — r7 sf1
    # profile: the 2-split documents scan serialized this map on 2/32
    # cores, the same bin-packing artifact as the bpe stage).
    toks = spread(df).select(
        F.col(id_col), T.tokens(T.normalize(F.col(text_col))).alias("__toks")
    )
    n = F.size("__toks")
    win = F.transform(
        F.sequence(F.lit(0), n - k_tokens),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, k_tokens))),
    )
    w = (
        toks.filter(n >= k_tokens)
        .select(F.col(id_col), F.explode(F.array_distinct(win)).alias("h"))
    )
    from pyspark.sql import Window as W

    capped = (
        w.withColumn("__cnt", F.count(F.lit(1)).over(W.partitionBy("h")))
        .filter(F.col("__cnt") <= max_bucket)
        .drop("__cnt")
    )
    a = capped.select(F.col(id_col).alias("id_a"), "h")
    b = capped.select(F.col(id_col).alias("id_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )


# ----------------------------------------- prefix-filtered set-sim join


def setsim_join_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k_shingle: int = 2,
) -> DataFrame:
    """Prefix-filtered set-similarity self-join — the AllPairs/SSJoin/
    PPJoin family (Chaudhuri, Ganti & Kaushik, *A Primitive Operator
    for Similarity Joins*, ICDE'06; Bayardo, Ma & Srikant, *Scaling Up
    All Pairs Similarity Search*, WWW'07; Xiao et al., *Efficient
    Similarity Joins for Near Duplicate Detection*, WWW'08).

    Unlike MinHash/SimHash LSH, the prefix filter is **complete** —
    zero false negatives: if ``J(a, b) >= t`` then ``|a ∩ b| >=
    ⌈t·|a|⌉``, so by pigeonhole *any* ``|a| − ⌈t·|a|⌉ + 1`` elements of
    ``a`` must hit the intersection; ordering every set by one global
    rare-first order (frequency asc, element asc) and keeping each
    set's first ``|s| − ⌈t·|s|⌉ + 1`` elements as its prefix therefore
    guarantees two qualifying sets share a prefix element. The output
    is exactly the brute-force all-pairs result — which is what makes
    this operator oracle-checkable at ANY threshold/fixture, where LSH
    variants need recall attestations.

    Three cascaded candidate filters, each conservative (complete):

    - **prefix**: pairs must share a prefix element (pigeonhole above);
    - **length**: ``min(|a|,|b|) >= t·max(|a|,|b|)`` — size-discrepant
      sets cannot reach ``t``;
    - **positional** (PPJoin, WWW'08): both sets are sorted by the SAME
      global order, so shared elements appear in the same relative
      sequence in both; for the first shared prefix element at sorted
      positions ``(ra, rb)`` every other shared element lies after it
      in BOTH sets, hence ``overlap <= 1 + min(|a|−ra, |b|−rb)``,
      which must reach ``⌈t/(1+t)·(|a|+|b|)⌉`` (the overlap form of
      Jaccard ≥ t). The ceil argument is nudged by −1e-9 so float
      round-up can only weaken the prune, never break completeness.

    Plan (all codegen, no interpreted HOF lambdas in the hot path):
    shingles come from ``shingle_rows`` (posexplode + lead window —
    measured ~10× faster than the array-HOF construction at sf0.1) and
    the exploded (id, element) relation is the single shared input to
    the frequency agg, the per-set rank window, and the collect_set
    verification arrays. The join key stays the element itself, so no
    global rank assignment (no single-partition window) is needed; the
    frequency relation is vocabulary-sized and broadcast. At 100 TB
    the quadratic term is bounded by the largest prefix-element bucket
    — the WWW'07 result is that rare-first ordering keeps these
    near-linear on real corpora.

    The exploded (id, element) relation feeds FOUR consumers (size agg,
    frequency agg, rank window, verification arrays); it is
    ``localCheckpoint``-ed so all four read one materialized relation —
    without it each consumer replays the shingle build and the
    end-to-end query measures ~5× slower (sf0.1: 79 s → 16 s). Same
    lineage discipline as ``connected_components``; swap for reliable
    ``checkpoint()`` on a cluster with executor loss."""
    rows = (
        shingle_rows(df, id_col, text_col, k_shingle)
        .distinct()
        .localCheckpoint(eager=True)
    )
    sz = rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    freq = rows.groupBy("__s").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window as W

    rank_w = W.partitionBy(id_col).orderBy("cnt", "__s")
    ranked = (
        rows.join(F.broadcast(freq), "__s")
        .join(sz, id_col)
        .withColumn("rn", F.row_number().over(rank_w))
    )
    # −1e-9 nudge: float round-UP of t·sz (e.g. 0.3·10 → 3.0000…04 →
    # ceil 4) would SHORTEN the prefix below the pigeonhole requirement
    # and break completeness; the nudge can only lengthen it.
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)) + 1
    ).cast("int")
    prefixes = ranked.filter(F.col("rn") <= prefix_len).select(
        F.col(id_col), "sz", "rn", "__s"
    )
    a = prefixes.select(
        F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), F.col("rn").alias("ra"), "__s"
    )
    b = prefixes.select(
        F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), F.col("rn").alias("rb"), "__s"
    )
    overlap_req = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("sz_a") + F.col("sz_b"))
        - F.lit(1e-9)
    )
    cand = (
        a.join(b, "__s")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.least("sz_a", "sz_b") >= F.lit(threshold) * F.greatest("sz_a", "sz_b"))
        )
        # First shared element in the global order minimizes ra and rb
        # SIMULTANEOUSLY (shared subsequences agree in both sets), so
        # the two mins come from the same element.
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.min("ra").alias("ra"), F.min("rb").alias("rb"))
        .filter(
            F.lit(1) + F.least(F.col("sz_a") - F.col("ra"), F.col("sz_b") - F.col("rb"))
            >= overlap_req
        )
        .select("id_a", "id_b")
    )
    # Verification arrays hold HASHED shingles (r15 — the discipline
    # minhash_near_dups has used since r2): Jaccard over the hashed
    # sets equals Jaccard over the strings up to 64-bit collisions
    # (~n²·2⁻⁶⁴, negligible), and the collect_set shuffle + the
    # per-candidate array_intersect/array_union move and compare
    # fixed-width longs instead of k-gram text. Candidate generation
    # above stays on the string element (its frequency order and set
    # sizes define the prefix-filter completeness proof verbatim).
    sets_df = rows.groupBy(id_col).agg(
        F.collect_set(F.xxhash64("__s")).alias("els")
    )
    ea = sets_df.select(F.col(id_col).alias("id_a"), F.col("els").alias("els_a"))
    eb = sets_df.select(F.col(id_col).alias("id_b"), F.col("els").alias("els_b"))
    out = (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("els_a"), F.col("els_b")), 6).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )
    # Materialize the (tiny) verified pair result and release the
    # (corpus × shingles)-sized exploded relation: without this every
    # call retains the big checkpoint until the ContextCleaner happens
    # to GC it (same storage discipline as operators/graph.py). The
    # returned relation is the one retained materialization — callers
    # with many calls in one session can release it via
    # session.release_checkpoint.
    out = out.localCheckpoint(eager=True)
    release_checkpoint(rows)
    return out


# ----------------------------------------------- Ed-Join (edit distance)


def editdist_join(
    df: DataFrame,
    name_col: str,
    max_dist: int = 1,
    q: int = 3,
) -> DataFrame:
    """Edit-distance self-join over DISTINCT strings, with two complete
    candidate-generation strategies picked by ``max_dist``:

    * ``max_dist <= 2`` — **deletion-neighborhood blocking** (the
      FastSS family: Bocek, Hunt & Stiller, *Fast Similarity Search in
      Large Dictionaries*, U. Zurich TR ifi-2007.02; popularized as
      SymSpell): explode every string into itself plus every variant
      reachable by deleting up to ``d`` characters, self-join on the
      variant, verify with exact ``levenshtein``. Completeness: align
      an optimal edit script between ``s`` and ``t``; deleting from
      ``s`` each position the script substitutes-or-deletes and from
      ``t`` each position it substitutes-or-inserts leaves the SAME
      string (the aligned common part), and each side deleted at most
      ``d`` characters — so any pair within distance ``d`` shares a
      ``<= d``-deletion variant and is generated. The candidate volume
      tracks the TRUE result size, not gram-bucket skew: measured on
      TPC-H customer names at sf0.1, 956k candidates for a 262,500-pair
      result vs 11.2M from the q-gram prefix filter below — the digit
      grams of ID-like names put ~1,134 names in every "rare" trigram
      bucket, a 42:1 over-generation the deletion index avoids by
      construction. Neighborhood size is ``O(len^d)`` per string
      (len+1 variants at d=1), constant per row — at 100 TB the
      explode is a linear map-side expansion and the only shuffle is
      the variant-key join, whose bucket sizes are bounded by how many
      strings actually collide near each other.

    * ``max_dist > 2`` — the rare-first **q-gram prefix filter** of
      Ed-Join (Xiao, Wang & Lin, *Ed-Join: an Efficient Algorithm for
      Similarity Joins with Edit Distance Constraints*, VLDB'08),
      where the deletion neighborhood would blow up as ``len^d``.
      One edit changes at most ``q`` character positions, so within
      distance ``d`` the distinct q-gram sets satisfy
      ``|A ∩ B| >= |A| − q·d``; keeping each string's ``q·d + 1``
      rarest grams (one global frequency order) guarantees a shared
      prefix gram for every qualifying pair — PROVIDED the shorter
      string carries at least ``q·d + 1`` distinct grams. Shorter
      strings get an exact alphabet-bounded cross bucket (any
      qualifying pair whose shorter member is sub-threshold has both
      members inside it, by the length filter).

    Both paths finish with the length lower bound
    (``|len(a) − len(b)| <= d``) and exact ``levenshtein`` verify —
    both engines implement Wagner–Fischer, so the result is
    oracle-checkable by brute force at any fixture size. The
    distinct-string reduction up front means duplicated names cost one
    comparison, not ``n²``. Sibling of
    ``queries.fuzzy_join_part_names``: that one blocks HEURISTICALLY
    on a domain token (fast, may miss pairs whose block token itself
    was edited); this operator is the COMPLETE variant — same
    relationship as MinHash-LSH (probabilistic) vs setsim_join_prefix
    (complete)."""
    from pyspark.sql import Window as W

    names = (
        df.select(F.col(name_col).alias("name"))
        .distinct()
        .withColumn("len", F.length("name"))
    )
    if max_dist <= 2:
        return _editdist_join_deletions(names, max_dist)
    grams = names.select(
        "name",
        "len",
        F.explode(
            F.array_distinct(
                F.expr(f"transform(sequence(1, greatest(length(name) - {q - 1}, 1)),"
                       f" i -> substring(name, i, {q}))")
            )
        ).alias("__g"),
    )
    freq = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("cnt"))
    rank_w = W.partitionBy("name").orderBy("cnt", "__g")
    prefix_len = F.lit(q * max_dist + 1)
    prefixes = (
        grams.join(F.broadcast(freq), "__g")
        .withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") <= prefix_len)
        .select("name", "len", "__g")
    )
    a = prefixes.select(F.col("name").alias("name_a"), F.col("len").alias("len_a"), "__g")
    b = prefixes.select(F.col("name").alias("name_b"), F.col("len").alias("len_b"), "__g")
    cand = (
        a.join(b, "__g")
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
        )
        .select("name_a", "name_b")
    )
    # Exact short-string bucket (see docstring): alphabet-bounded, so
    # the cross join is over a broadcastable constant-size relation.
    short_max = q * (max_dist + 1) + max_dist - 1
    shorts = names.filter(F.col("len") <= short_max)
    sa = shorts.select(F.col("name").alias("name_a"), F.col("len").alias("len_a"))
    sb = shorts.select(F.col("name").alias("name_b"), F.col("len").alias("len_b"))
    short_cand = (
        sa.crossJoin(F.broadcast(sb))
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
        )
        .select("name_a", "name_b")
    )
    return (
        cand.unionByName(short_cand)
        .distinct()
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
    )


def _editdist_join_deletions(names: DataFrame, max_dist: int) -> DataFrame:
    """Deletion-neighborhood candidate path of :func:`editdist_join`
    (see its docstring for the completeness argument and measured
    candidate counts). ``names`` is the distinct ``(name, len)``
    relation; emits verified ``(name_a, name_b, dist)`` pairs.

    The neighborhood is built by iterating the single-character
    deletion map ``d`` times entirely JVM-side (one ``transform`` HOF
    per level, no Python): level 0 is the string itself, level ``k``
    deletes one character from each level-``k−1`` variant. The
    ``array_distinct``-per-level plus the final per-(name, variant)
    ``distinct()`` keeps duplicate variants (e.g. deleting either 'a'
    of "aa") from double-counting join candidates.

    The variant STRING never leaves its producing expression (r15,
    guide §2.3 — shuffle keys, not payloads): each variant is reduced
    to ``xxhash64(__v)`` immediately after the explode, so the
    variant-distinct aggregation and the candidate self-join shuffle
    and compare 8-byte longs instead of ~name-length strings. A hash
    collision can only ADD a candidate pair, and every candidate is
    verified by exact ``levenshtein`` below — the result set is
    identical (no false negatives: equal variants always hash equal)."""
    # Level 0: the string itself.
    levels = [names.select("name", "len", F.col("name").alias("__v"))]
    del_map = (
        "transform(sequence(1, length(__v)),"
        " i -> concat(substring(__v, 1, i - 1), substring(__v, i + 1)))"
    )
    for _ in range(max_dist):
        levels.append(
            levels[-1]
            .filter(F.length("__v") > 0)  # sequence(1,0) would DESCEND
            .select(
                "name",
                "len",
                F.explode(F.expr(f"array_distinct({del_map})")).alias("__v"),
            )
        )
    variants = levels[0].select("name", "len", F.xxhash64("__v").alias("__vh"))
    for lv in levels[1:]:
        variants = variants.unionByName(
            lv.select("name", "len", F.xxhash64("__v").alias("__vh"))
        )
    variants = variants.repartition("__vh").distinct()
    va = variants.select(
        F.col("name").alias("name_a"), F.col("len").alias("len_a"), "__vh"
    )
    vb = variants.select(
        F.col("name").alias("name_b"), F.col("len").alias("len_b"), "__vh"
    )
    return (
        va.join(vb, "__vh")
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
        )
        .select("name_a", "name_b")
        .distinct()
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
    )


# ------------------------------------------- cross-run dedup-index store (r9)


def minhash_batch_relations(
    rows: DataFrame, id_col: str, num_hashes: int = 32, bands: int = 8
) -> tuple[DataFrame, DataFrame]:
    """The two per-batch index relations derived from ONE shingled
    batch (r15): the UNCAPPED (id, band_idx, band_hash) LSH band rows
    and the (id, sh) hashed-shingle-set relation. A probe-then-append
    caller computes these once, persists them, and passes them to
    :func:`minhash_index_probe` and :func:`minhash_index_ingest` as
    ``precomputed_bands``/``precomputed_sets`` — the signature
    aggregate (32 minhash folds over the shingle explode) and the
    collect_set aggregate then run once per batch instead of once per
    operator call (measured 0.62 s + 0.14 s per redundant pass at
    sf0.1). Returned bands are uncapped because the probe side joins
    raw band rows while ingest applies its per-batch ``max_bucket``
    cap itself — one relation serves both."""
    sigs = _signatures_from_rows(rows, id_col, num_hashes)
    return _banded_rows(sigs, id_col, num_hashes, bands), _hashed_sets(rows, id_col)


def _batch_relations_or_shared(
    rows: DataFrame | None,
    id_col: str,
    num_hashes: int,
    bands: int,
    precomputed_bands: DataFrame | None,
    precomputed_sets: DataFrame | None,
) -> tuple[DataFrame, DataFrame]:
    """The batch's (bands, sets): the caller's shared relations where
    given, the rest derived from ``rows`` by
    :func:`minhash_batch_relations`."""
    if precomputed_bands is not None and precomputed_sets is not None:
        return precomputed_bands, precomputed_sets
    bb, sh = minhash_batch_relations(rows, id_col, num_hashes, bands)
    return (
        bb if precomputed_bands is None else precomputed_bands,
        sh if precomputed_sets is None else precomputed_sets,
    )


def _check_batch_relations(
    caller: str,
    id_col: str,
    precomputed_bands: DataFrame | None,
    precomputed_sets: DataFrame | None,
) -> None:
    """Shape-check shared band/set relations (same ADVICE-r14
    discipline as ``precomputed_rows``: a mismatched relation must
    fail loudly, not write/verify wrong signatures)."""
    if precomputed_bands is not None and not (
        id_col in precomputed_bands.columns
        and "band_idx" in precomputed_bands.columns
        and "band_hash" in precomputed_bands.columns
    ):
        raise ValueError(
            f"{caller}: precomputed_bands must be the ({id_col}, band_idx,"
            f" band_hash) relation of THIS batch; got columns"
            f" {precomputed_bands.columns}"
        )
    if precomputed_sets is not None and not (
        id_col in precomputed_sets.columns and "sh" in precomputed_sets.columns
    ):
        raise ValueError(
            f"{caller}: precomputed_sets must be the ({id_col}, sh) relation"
            f" of THIS batch; got columns {precomputed_sets.columns}"
        )


def minhash_index_ingest(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands_table: str,
    sets_table: str,
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    num_buckets: int = 8,
    max_bucket: int = 10_000,
    append: bool = False,
    precomputed_rows: DataFrame | None = None,
    precomputed_bands: DataFrame | None = None,
    precomputed_sets: DataFrame | None = None,
) -> None:
    """Shingle + sign a corpus batch ONCE and persist its dedup index:
    the (id, band_idx, band_hash) LSH band relation bucketed on
    ``band_hash`` and the (id, sh) hashed-shingle-set relation bucketed
    on the id — the cross-RUN extension of
    :func:`minhash_near_dups_bucketed` (which amortizes the band
    shuffle across re-runs of ONE corpus). With ``append=True`` a new
    crawl batch's rows are ADDED to both tables, so the index is
    maintained by delta batches: at 100 TB the nightly batch is
    shingled once, probed against the whole history via the bucketed
    band join, and appended — the historical corpus is NEVER
    re-shingled, re-signed, or re-shuffled (the Gupta–Mumick
    maintenance discipline applied to a similarity index; exact-hash
    sibling: ``incremental_dedup_documents``'s fingerprint store,
    connectivity sibling: ``graph.incremental_components``).

    ``max_bucket`` caps degenerate buckets at ingest (boilerplate band
    keys would otherwise make every future probe quadratic in the hot
    bucket). The cap is per-batch; a bucket that only crosses the cap
    ACROSS batches is the documented residual (production re-compacts
    the index periodically, which re-applies the cap globally).

    ``precomputed_rows`` (r14): a caller that already shingled this
    exact batch — every probe-then-append cycle does — passes the
    persisted (id, __s) relation so the batch is tokenized and signed
    ONCE per micro-batch instead of once per operator call. The caller
    owns the persist lifecycle; semantics are unchanged (the same
    ``shingle_rows`` plan is what this function would build). The rows
    must be THIS batch shingled with THIS call's ``k_shingle``/
    ``text_col`` — both params are ignored when rows are supplied
    (ADVICE r14: shape-checked below so a mismatched relation fails
    loudly instead of writing wrong signatures).

    Ingest/append writes are UNSORTED (r15): ``sortBy`` cost at write
    time is never redeemed by this lifecycle — a bucket holds multiple
    files after the very first append, and Spark only exploits
    bucket-sortedness on single-file buckets, so every probe re-sorts
    (or broadcast-joins) regardless. Interleaved same-session A/B at
    sf0.1: sorted 5.00 s vs unsorted 4.77 s lifecycle floor, unsorted
    faster in all 3 trial pairs. Compaction keeps its sorted rewrite —
    that is the one place layout quality is worth restoring."""
    if precomputed_rows is not None and not (
        id_col in precomputed_rows.columns and "__s" in precomputed_rows.columns
    ):
        raise ValueError(
            f"minhash_index_ingest: precomputed_rows must be the "
            f"({id_col}, __s) shingle relation of THIS batch; got columns "
            f"{precomputed_rows.columns}"
        )
    _check_batch_relations(
        "minhash_index_ingest", id_col, precomputed_bands, precomputed_sets
    )
    # Only shingle when something still derives from the rows — a
    # caller sharing BOTH relations (r15) never tokenizes here at all.
    own_rows = None
    rows = precomputed_rows
    if precomputed_bands is None or precomputed_sets is None:
        if rows is None:
            own_rows = shingle_rows(df, id_col, text_col, k_shingle).persist()
            rows = own_rows
    from parcialbigdata_spark.sources.warehouse import write_bucketed

    mode = "append" if append else "overwrite"
    try:
        bb, sh = _batch_relations_or_shared(
            rows, id_col, num_hashes, bands, precomputed_bands, precomputed_sets
        )
        write_bucketed(
            _cap_buckets(bb, max_bucket), bands_table, "band_hash",
            num_buckets=num_buckets, mode=mode, sort=False,
        )
        write_bucketed(
            sh, sets_table, id_col, num_buckets=num_buckets, mode=mode, sort=False
        )
    finally:
        if own_rows is not None:
            own_rows.unpersist()


def minhash_index_compact(
    spark,
    bands_table: str,
    sets_table: str,
    id_col: str = "doc_id",
    max_bucket: int = 10_000,
    num_buckets: int = 8,
) -> None:
    """Periodic re-compaction of the persisted dedup index — the
    maintenance job every ``minhash_index_ingest`` docstring promised:
    collapse duplicate rows left by at-least-once appends (foreachBatch
    replays re-append band/set rows; harmless for membership, but
    duplicated set rows MULTIPLY probe verification joins) and
    re-apply the ``max_bucket`` degenerate-bucket cap GLOBALLY — the
    per-batch cap cannot see a bucket that only crosses the limit
    across batches, which was the documented residual until now.

    Same-layout rewrite: stage the compacted relations as bucketed
    tables, then swap via the crash-recoverable rename protocol
    (``warehouse.swap_staged_table`` — r11; the r10 DROP-then-RENAME
    left a window where the live index did not exist, and a crash
    there needed manual repair; any interrupted state is now resolved
    by ``warehouse.recover_staged_swap``, which the probe runs at
    startup). Requires an exclusive maintenance window — appends
    landing between the distinct snapshot and the swap are lost, so
    stop the streaming ingest first (see swap_staged_table's
    concurrency contract). Both stages are written BEFORE either swap:
    a crash between the two swaps leaves bands compacted and sets
    still duplicated, which is correctness-benign (duplicate set rows
    only multiply probe verification joins; membership is identical)
    and is completed by re-running compaction. At 100 TB this is the
    analogue of a state-store checkpoint compaction: cost is one
    distinct + one count-window over the index relations —
    index-sized, never corpus-sized, and the corpus is never
    re-shingled."""
    from parcialbigdata_spark.sources.warehouse import (
        swap_staged_table,
        write_bucketed,
    )

    bb = _cap_buckets(spark.table(bands_table).distinct(), max_bucket)
    write_bucketed(
        bb, f"{bands_table}__compact", "band_hash", num_buckets=num_buckets
    )
    sh = spark.table(sets_table).distinct()
    write_bucketed(sh, f"{sets_table}__compact", id_col, num_buckets=num_buckets)
    for t in (bands_table, sets_table):
        swap_staged_table(spark, t)


def minhash_index_probe(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    bands_table: str,
    sets_table: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    unpersist_handle: list | None = None,
    precomputed_rows: DataFrame | None = None,
    precomputed_bands: DataFrame | None = None,
    precomputed_sets: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs (new_id, old_id, jaccard_sim) between a NEW
    batch and the persisted index built by :func:`minhash_index_ingest`
    — without touching the historical documents.

    The batch is shingled/signed once (batch-sized work); its band
    rows join the stored band table on (band_idx, band_hash), where
    the table's ``bucketBy(band_hash)`` layout means only the
    BATCH side shuffles — the multi-TB historical band relation is
    read in place. Candidates are then verified by exact Jaccard
    between the batch's hashed shingle sets and the STORED sets
    (``sets_table`` — history is never re-shingled), so the output is
    exactly the exact-Jaccard answer for every candidate the banding
    surfaces (same recall contract and oracle shape as the
    within-corpus minhash family). ``num_hashes``/``bands``/
    ``k_shingle`` must match the ingest parameters — they define the
    hash family the stored index was built with.

    The batch's shingle rows are PERSISTED (two consumers: the band
    signatures and the exact-verify sets). A long-running caller —
    e.g. the streaming dedup-at-arrival driver, one probe per
    micro-batch — passes ``unpersist_handle`` (a list) and unpersists
    the appended relation after materializing the result; otherwise
    each call would leak one batch-sized cache entry for the session's
    lifetime.

    Startup recovery (r11, r12): any state an interrupted
    :func:`minhash_index_compact` swap left behind is resolved on the
    FIRST probe of the session only (``warehouse.recover_staged_swap``
    with ``once=True`` — one catalog listing per table per session,
    then memoized), so a probe after a crashed compaction still
    answers, and a steady-state micro-batch probe pays zero catalog
    round-trips. Per-batch recovery also raced a concurrently staging
    compactor (ADVICE r11) — startup-only recovery cannot."""
    from parcialbigdata_spark.sources.warehouse import recover_staged_swap

    spark = batch.sparkSession
    recover_staged_swap(spark, bands_table, once=True)
    recover_staged_swap(spark, sets_table, once=True)
    # precomputed_rows (r14): a probe-then-append caller shares ONE
    # persisted shingle relation across both operators (the append
    # would otherwise re-tokenize and re-sign the same batch); the
    # caller owns its persist lifecycle, so it is not added to
    # unpersist_handle. Must be THIS batch shingled with THIS call's
    # k_shingle/text_col — both are ignored when rows are supplied
    # (ADVICE r14: shape-checked so a mismatch fails loudly).
    if precomputed_rows is not None:
        if not (
            id_col in precomputed_rows.columns
            and "__s" in precomputed_rows.columns
        ):
            raise ValueError(
                f"minhash_index_probe: precomputed_rows must be the "
                f"({id_col}, __s) shingle relation of THIS batch; got "
                f"columns {precomputed_rows.columns}"
            )
        rows = precomputed_rows
    else:
        rows = None
        if precomputed_bands is None or precomputed_sets is None:
            rows = shingle_rows(batch, id_col, text_col, k_shingle).persist()
            if unpersist_handle is not None:
                unpersist_handle.append(rows)
    # precomputed_bands / precomputed_sets (r15): a caller that probes
    # then appends shares the DERIVED relations too (see
    # minhash_batch_relations) — the signature and collect_set
    # aggregates run once per batch instead of once per operator call.
    _check_batch_relations(
        "minhash_index_probe", id_col, precomputed_bands, precomputed_sets
    )
    batch_bands, sh_new = _batch_relations_or_shared(
        rows, id_col, num_hashes, bands, precomputed_bands, precomputed_sets
    )
    probe_bands = batch_bands.withColumnRenamed(id_col, "new_id")
    stored = spark.table(bands_table).withColumnRenamed(id_col, "old_id")
    cands = (
        probe_bands.join(stored, ["band_idx", "band_hash"])
        .filter(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id")
        .distinct()
    )
    sh_old = spark.table(sets_table)
    return (
        cands.join(
            sh_new.select(F.col(id_col).alias("new_id"), F.col("sh").alias("sh_a")),
            "new_id",
        )
        .join(
            sh_old.select(F.col(id_col).alias("old_id"), F.col("sh").alias("sh_b")),
            "old_id",
        )
        .select(
            "new_id",
            "old_id",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )
