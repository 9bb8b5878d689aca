"""Similarity search over embedding columns (SURVEY.md §2.10).

Two paths:

- **Brute-force cosine top-k** — the exactness baseline. The query
  vector is a broadcast literal; scoring is a narrow codegen'd map over
  the table (``F.aggregate``/``F.zip_with`` dot product, no UDF), then
  ``TakeOrderedAndProject`` for the top-k. At 100 TB this is one full
  scan, embarrassingly parallel, zero shuffle besides the final top-k
  tree-reduce — often the right answer even at scale when k is small.
- **Random-hyperplane LSH (SimHash for vectors)** — the sub-linear
  path: 16 sign bits bucket each vector; a query probes its own bucket
  (plus optional multi-probe neighbors at Hamming 1). Candidate set
  shrinks ~2^16× before exact rescoring. Buckets are plain integers →
  the table can be written bucketed/partitioned by them, turning ANN
  lookups into partition-pruned scans.

Hyperplanes are deterministic (seeded) and embedded as literal arrays —
they are part of the index definition, not data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType

from parcialbigdata_spark.functions import vectors as V

DEFAULT_NBITS = 16
_SEED = 42


def _planes(dim: int, nbits: int = DEFAULT_NBITS, seed: int = _SEED) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((nbits, dim)).tolist()


def _band_hashes_udf(planes: list[list[float]], bits_per_band: int, num_bands: int):
    """Arrow-batched band-hash computation: one float64 matmul per batch
    (vectors × hyperplanes), sign bits packed per band.

    This is the documented drop-to-pandas-UDF case: 64 dot products per
    row expressed as SQL higher-order folds evaluate interpreted (no
    codegen) ~100× slower than one BLAS matmul over the Arrow batch.
    Near-zero dots (|v·h| ≲ 1e-12) could in principle flip a sign bit
    vs a differently-ordered summation; for unit-scale embeddings and
    Gaussian planes that margin is never hit in practice, and multiprobe
    covers single-bit perturbations."""
    P = np.asarray(planes, dtype=np.float64)  # (num_bands*bits_per_band) × dim
    weights = (1 << np.arange(bits_per_band)).astype(np.int64)

    @pandas_udf(ArrayType(LongType()))
    def bands(vec: pd.Series) -> pd.Series:
        M = np.asarray(vec.tolist(), dtype=np.float64)  # n × dim
        bits = (M @ P.T) > 0  # n × (num_bands*bits_per_band)
        packed = bits.reshape(len(M), num_bands, bits_per_band) @ weights  # n × num_bands
        return pd.Series(list(packed))

    return bands


@pandas_udf(DoubleType())
def _pair_cosine_udf(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Arrow-batched row-wise cosine for candidate-pair verification:
    one einsum per batch in float64. Used where no cross-engine oracle
    parity is required (the SQL fold in ``functions.vectors.cosine``
    stays the oracle-exact path); ~100× faster than the interpreted
    higher-order fold on large candidate sets."""
    A = np.asarray(va.tolist(), dtype=np.float64)
    B = np.asarray(vb.tolist(), dtype=np.float64)
    dots = np.einsum("ij,ij->i", A, B)
    norms = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
    return pd.Series(dots / np.where(norms == 0, 1.0, norms))


def _query_band_hashes(
    query_vec: list[float], planes: list[list[float]], bits_per_band: int, num_bands: int
) -> list[int]:
    """Driver-side twin of :func:`_band_hashes_udf` — identical float64
    matmul so the query lands in the same buckets as an equal row."""
    P = np.asarray(planes, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64).reshape(1, -1)
    bits = (q @ P.T) > 0
    weights = (1 << np.arange(bits_per_band)).astype(np.int64)
    return [int(x) for x in bits.reshape(num_bands, bits_per_band) @ weights]


def _lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. Ties broken by
    id for determinism. Plan: scan → project → TakeOrderedAndProject."""
    q = _lit_vec(query_vec)
    scored = df.select(
        F.col(id_col),
        F.round(V.cosine(F.col(vec_col), q), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc()).limit(k)


def ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int = 8,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: restrict to the query's LSH bucket (plus all
    Hamming-1 neighbor buckets when ``multiprobe``), then exact rescore.
    ``nbits=8`` → 256 buckets; tune up with corpus size. The bucket
    filter is a pushed-down integer predicate when the table is stored
    partitioned by bucket. Row buckets and the query bucket come from
    the same float64 matmul (:func:`_band_hashes_udf` and its driver
    twin), so an identical vector always shares the query's bucket.

    Raises ``ValueError`` if the table's vector length differs from
    ``len(query_vec)`` — a silent mismatch would null-pad ``zip_with``,
    NULL every dot product, and drop all rows into bucket 0."""
    dim = len(query_vec)
    sample = df.select(F.size(F.col(vec_col)).alias("n")).first()
    if sample is not None and sample["n"] != dim:
        raise ValueError(
            f"query_vec has dim {dim} but {vec_col} rows have dim {sample['n']}"
        )
    planes = _planes(dim, nbits)
    qbucket = _query_band_hashes(query_vec, planes, nbits, 1)[0]
    probes = [qbucket] + ([qbucket ^ (1 << i) for i in range(nbits)] if multiprobe else [])

    bucket = _band_hashes_udf(planes, nbits, 1)(F.col(vec_col))[0]
    bucketed = df.withColumn("lsh_bucket", bucket)
    cand = bucketed.filter(F.col("lsh_bucket").isin(probes))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def ivf_fit_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iter: int = 5,
    sample_size: int = 10_000,
    seed: int = _SEED,
) -> list[list[float]]:
    """Fit IVF coarse-quantizer centroids: deterministic k-means on a
    bounded driver-side sample.

    At 100 TB the sample (``sample_size`` rows, a few MB) is what comes
    to the driver — never the table. k-means over the sample runs in
    numpy; the resulting centroid matrix is broadcast back as part of
    the index definition, exactly like the LSH hyperplanes. Fully
    deterministic: ordered limit-sample + fixed seed + fixed
    iteration count."""
    rows = (
        df.select(vec_col).orderBy(F.monotonically_increasing_id()).limit(sample_size).collect()
    )
    X = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(n_iter):
        # argmin ||x−c||² = argmin (||c||² − 2 x·c) — one GEMM instead
        # of an n×k×dim broadcast temporary (r12: the explicit
        # (X−C)² form allocated ~650 MB and cost ~9 s/iter at
        # n_centroids=126, 45 s of a 50 s "probe" measurement; this is
        # the same rewrite pq_fit carries, and the SAME metric
        # expression _centroid_assign_udf scores with, so fit and
        # serving assignment agree bit-for-bit). Empty clusters keep
        # their previous centroid, as before.
        d = (C**2).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
        assign = d.argmin(axis=1)
        counts = np.bincount(assign, minlength=len(C)).astype(np.float64)
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        nonempty = counts > 0
        C[nonempty] = sums[nonempty] / counts[nonempty, None]
    return C.tolist()


def _centroid_assign_udf(centroids: list[list[float]]):
    """Arrow-batched nearest-centroid assignment (one matmul per batch)."""
    C = np.asarray(centroids, dtype=np.float64)
    Cn = (C**2).sum(axis=1)

    @pandas_udf(LongType())
    def assign(vec: pd.Series) -> pd.Series:
        M = np.asarray(vec.tolist(), dtype=np.float64)
        # argmin ||x-c||² = argmin (||c||² - 2 x·c); ||x||² is constant per row
        d = Cn[None, :] - 2.0 * (M @ C.T)
        return pd.Series(d.argmin(axis=1).astype(np.int64))

    return assign


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: restrict the scan to the ``nprobe`` centroid cells
    nearest the query, exact-rescore survivors.

    The scale path pairs this with a table *written partitioned by*
    ``ivf_cell`` (see sources/warehouse.write_partitioned): the cell
    filter then becomes partition pruning and the query touches
    nprobe/n_centroids of the data. Complementary to hyperplane LSH —
    IVF adapts to the data distribution (clustered corpora), LSH is
    data-independent."""
    C = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    d = ((C - q[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in d.argsort()[:nprobe]]

    cells = df.withColumn("ivf_cell", _centroid_assign_udf(centroids)(F.col(vec_col)))
    cand = cells.filter(F.col("ivf_cell").isin(probes))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "qid",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = True,
) -> DataFrame:
    """Batch k-NN join: for EVERY query row, the top-k corpus rows by
    cosine. Returns (qid, vec_id, cosine_sim, rank).

    Plan: broadcast the (small) query side against the corpus scan —
    each corpus partition scores all queries locally (narrow), then one
    shuffle on qid ranks per query. At 100 TB the corpus side stays
    partition-parallel; the query side must fit in a broadcast (typical
    for eval/search batches). For corpus×corpus all-pairs use
    :func:`embedding_near_dup_pairs` instead — a broadcast of a
    fact-sized side would be the classic scale error.

    ``exact=True`` scores with the sequential SQL fold
    (``functions.vectors.cosine``) — bit-identical to a DuckDB oracle's
    ``list_reduce`` fold, so rounded values never straddle a rounding
    boundary differently. ``exact=False`` uses the Arrow/einsum batch
    cosine: ~100× faster, with last-bit summation-order differences
    that only matter under oracle comparison.

    Norms once per ROW, not per pair (r14, the r12 ``ivf_index_probe``
    fix applied here): ``cosine = dot/(‖c‖·‖q‖)`` with each side's
    norm projected BEFORE the join, so a corpus row's norm fold runs
    once instead of once per query — with q queries that deletes
    2q−2 of the 3q interpreted folds per corpus row. The quotient is
    the identical expression tree value (same fold, same operand
    order), so results — and DuckDB oracle parity — are bit-unchanged."""
    q = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("__qv"),
        V.norm2(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(corpus_id),
        F.col(vec_col).alias("__cv"),
        V.norm2(F.col(vec_col)).alias("__cn"),
    )
    cos = (
        V.dot(F.col("__cv"), F.col("__qv")) / (F.col("__cn") * F.col("__qn"))
        if exact
        else _pair_cosine_udf(F.col("__cv"), F.col("__qv"))
    )
    scored = c.join(F.broadcast(q)).select(
        query_id,
        corpus_id,
        F.round(cos, 6).alias("cosine_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine_sim").desc(), F.col(corpus_id).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits_per_band: int = 8,
    num_bands: int = 8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH.

    A single wide bucket has poor recall: with 16 bits, cos=0.95 pairs
    collide with P = (1-θ/π)^16 ≈ 0.18. Instead we use ``num_bands``
    independent bands of ``bits_per_band`` hyperplanes each and take the
    OR (same banding trade as MinHash LSH): recall at cos=0.95 is
    1-(1-0.899^8)^8 ≈ 0.99 with the 8×8 defaults. Candidates sharing any
    band bucket are verified with exact cosine.

    ``max_bucket`` drops degenerate buckets (zero vectors, mode-collapsed
    embeddings) before the quadratic self-join — same cap as the MinHash
    path, expressed as a COUNT window over the join's own
    (band_idx, band_hash) partitioning so the cap and the self-join
    share one shuffle. Shuffle key is (band_idx, band_hash): two ints.
    Band hashes come from one Arrow-batched matmul
    (:func:`_band_hashes_udf`); the banded relation is persisted
    because both self-join sides read it."""
    from pyspark.sql import Window

    planes = _planes(dim, bits_per_band * num_bands)
    base = df.select(id_col, vec_col)
    hashes = _band_hashes_udf(planes, bits_per_band, num_bands)(F.col(vec_col))
    bb = base.select(F.col(id_col), F.posexplode(hashes).alias("band_idx", "band_hash"))
    if max_bucket:
        bucket_n = F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_hash"))
        bb = bb.withColumn("__n", bucket_n).filter(F.col("__n") <= max_bucket).drop("__n")
    bb = bb.persist()
    a, b = bb.alias("a"), bb.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    vecs = base.withColumnsRenamed({id_col: "id_a", vec_col: "__v_a"})
    vecs_b = base.withColumnsRenamed({id_col: "id_b", vec_col: "__v_b"})
    return (
        cands.join(vecs, "id_a")
        .join(vecs_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(_pair_cosine_udf(F.col("__v_a"), F.col("__v_b")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# ------------------------------------------- cross-run ANN index store (r10)


def _probe_cells_udf(centroids: list[list[float]], nprobe: int):
    """Arrow-batched per-row probe-cell selection: the ``nprobe``
    nearest coarse centroids for every query vector, one matmul per
    batch (stable argsort so ties always break toward the lower cell
    id — deterministic across partitionings)."""
    C = np.asarray(centroids, dtype=np.float64)
    Cn = (C**2).sum(axis=1)

    @pandas_udf(ArrayType(LongType()))
    def probes(vec: pd.Series) -> pd.Series:
        M = np.asarray(vec.tolist(), dtype=np.float64)
        d = Cn[None, :] - 2.0 * (M @ C.T)
        idx = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(idx.astype(np.int64)))

    return probes


def ivf_index_ingest(
    df: DataFrame,
    cells_table: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_buckets: int = 8,
    append: bool = False,
) -> None:
    """Assign a corpus batch to its IVF coarse cells ONCE and persist
    (id, vector, ivf_cell) as a table bucketed on ``ivf_cell`` — the
    embedding sibling of ``operators/dedup.minhash_index_ingest``:
    the index is maintained by delta batches (``append=True``), so at
    100 TB the nightly embedding batch is cell-assigned once (one
    Arrow matmul pass), probed against the whole history through the
    bucketed cell join, and appended — the historical corpus is NEVER
    re-assigned or re-shuffled. The centroid matrix is the index
    definition (fit once on the seed corpus via
    :func:`ivf_fit_centroids`, a few KB) and travels as a UDF-closure
    broadcast, exactly like the LSH hyperplanes; appended batches MUST
    use the same centroids or probe cells stop matching stored cells
    (same hash-family contract as the minhash index's
    num_hashes/bands/k_shingle)."""
    from parcialbigdata_spark.sources.warehouse import write_bucketed

    cells = df.select(
        F.col(id_col),
        F.col(vec_col),
        _centroid_assign_udf(centroids)(F.col(vec_col)).alias("ivf_cell"),
    )
    # sort=False (r15, same measured finding as the minhash index):
    # bucket sortedness is only exploitable when a bucket holds ONE
    # file, which the very first append breaks — every probe broadcast-
    # joins or re-sorts regardless, so the write-side sort is paid per
    # batch and never redeemed. Compaction keeps its sorted rewrite.
    write_bucketed(
        cells,
        cells_table,
        "ivf_cell",
        num_buckets=num_buckets,
        mode="append" if append else "overwrite",
        sort=False,
    )


def ivf_index_compact(
    spark,
    cells_table: str,
    num_buckets: int = 8,
) -> None:
    """Periodic re-compaction of the persisted IVF cell index — the
    embedding twin of ``dedup.minhash_index_compact``: an
    at-least-once replayed ``ivf_index_ingest(append=True)`` leaves
    duplicate (id, vector, cell) rows, and every duplicate row
    MULTIPLIES the probe's candidate join output (duplicate match
    rows with identical ranks). Compaction is a plain ``distinct``
    over the cell relation (rows are byte-identical under replay —
    the cell assignment is deterministic given the centroids) staged
    into the same bucketed layout and swapped via the
    crash-recoverable rename protocol
    (``warehouse.swap_staged_table`` — r11; shared with the minhash
    twin, interrupted states resolved by
    ``warehouse.recover_staged_swap``; requires the same exclusive
    maintenance window — stop the streaming ingest first).
    Index-sized work; embeddings never re-assigned."""
    from parcialbigdata_spark.sources.warehouse import (
        swap_staged_table,
        write_bucketed,
    )

    cells = spark.table(cells_table).distinct()
    write_bucketed(
        cells, f"{cells_table}__compact", "ivf_cell", num_buckets=num_buckets
    )
    swap_staged_table(spark, cells_table)


def ivf_index_probe(
    batch: DataFrame,
    cells_table: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    exact: bool = True,
) -> DataFrame:
    """k-NN of every NEW batch vector against the persisted historical
    index built by :func:`ivf_index_ingest` — without re-assigning or
    re-shuffling the history. Returns (query_id, match_id, cosine_sim,
    rank ≤ k) per query.

    Plan shape (the minhash-index discipline applied to ANN): the
    batch computes its ``nprobe`` nearest cells per row (one Arrow
    matmul), explodes to (query, cell) rows — batch-sized × nprobe —
    and joins the stored table ON its ``bucketBy(ivf_cell)`` layout,
    so only the BATCH side shuffles; the multi-TB historical cell
    relation is read in place and only the probed buckets' rows are
    scored. Candidates per query ≈ nprobe/n_cells of history.
    ``exact=True`` scores candidates with the sequential SQL fold
    (DuckDB-bit-identical, the oracle path); ``exact=False`` uses the
    Arrow einsum batch cosine for throughput. A stored row lives in
    exactly one cell and a query's probe cells are distinct, so the
    join can never duplicate a (query, match) pair — no distinct
    needed before ranking.

    Startup recovery (r11, r12): any state an interrupted
    :func:`ivf_index_compact` swap left behind is resolved on the
    FIRST probe of the session only (``warehouse.recover_staged_swap``
    with ``once=True`` — one catalog listing per table per session,
    then memoized). Running it per batch was both measurable bench
    cost and a race against a legitimately-staging live compactor
    (ADVICE r11)."""
    from parcialbigdata_spark.sources.warehouse import recover_staged_swap

    spark = batch.sparkSession
    recover_staged_swap(spark, cells_table, once=True)
    q = batch.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        # Norms once per ROW, not per candidate pair (r12): cosine =
        # dot/(‖a‖·‖b‖) evaluated as three interpreted HOF folds per
        # pair made the exact path O(3·pairs) lambda folds — at sf10
        # (16M candidates) the norms alone were two thirds of a
        # 12-minute probe. Precomputing each side's norm leaves ONE
        # fold (the dot) per pair; the quotient is the identical
        # expression tree value, so results — and the DuckDB oracle
        # parity — are bit-unchanged.
        V.norm2(F.col(vec_col)).alias("__qn"),
        F.explode(_probe_cells_udf(centroids, nprobe)(F.col(vec_col))).alias(
            "ivf_cell"
        ),
    )
    stored = spark.table(cells_table).select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("__cv"),
        V.norm2(F.col(vec_col)).alias("__cn"),
        "ivf_cell",
    )
    cos = (
        V.dot(F.col("__cv"), F.col("__qv")) / (F.col("__cn") * F.col("__qn"))
        if exact
        else _pair_cosine_udf(F.col("__cv"), F.col("__qv"))
    )
    scored = q.join(stored, "ivf_cell").select(
        "query_id", "match_id", F.round(cos, 6).alias("cosine_sim")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------- product quantization


def pq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 16,
    n_iter: int = 5,
    sample_size: int = 10_000,
    seed: int = _SEED,
) -> list[list[list[float]]]:
    """Fit PQ codebooks (Jégou et al. 2011): split the vector into
    ``m`` contiguous subspaces and k-means each on a bounded
    driver-side sample (same deterministic sampling discipline as
    ``ivf_fit_centroids``). Returns ``codebooks[s][c]`` — m × k_codes
    sub-centroids.

    PQ is the memory half of billion-scale ANN: a 64-dim float32
    vector (256 B) compresses to m=8 uint8 codes (8 B, 32×), so the
    candidate set of an IVF probe fits executor memory and distance
    scoring never touches the raw vectors."""
    rows = (
        df.select(vec_col).orderBy(F.monotonically_increasing_id()).limit(sample_size).collect()
    )
    X = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for s in range(m):
        Xs = X[:, s * sub : (s + 1) * sub]
        C = Xs[rng.choice(len(Xs), size=min(k_codes, len(Xs)), replace=False)]
        for _ in range(n_iter):
            # argmin of |x-c|^2 == argmin of |c|^2 - 2 x.c — one GEMM
            # instead of an n×k×sub broadcast temporary (the broadcast
            # was ~5 s of driver time at k_codes=256), and the SAME
            # expression _pq_encode_udf uses, so fit and encode agree
            # on the metric bit-for-bit.
            d = (C**2).sum(axis=1)[None, :] - 2.0 * (Xs @ C.T)
            assign = d.argmin(axis=1)
            counts = np.bincount(assign, minlength=len(C)).astype(np.float64)
            sums = np.zeros_like(C)
            np.add.at(sums, assign, Xs)
            nonempty = counts > 0
            C[nonempty] = sums[nonempty] / counts[nonempty, None]
        books.append(C.tolist())
    return books


def _pq_encode_udf(codebooks: list[list[list[float]]]):
    """Arrow-batched PQ encoding: per subspace, one argmin-matmul per
    batch — the same ADC-transposed trick as ``_centroid_assign_udf``."""
    Cs = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = Cs[0].shape[1]

    @pandas_udf(ArrayType(IntegerType()))
    def encode(vec: pd.Series) -> pd.Series:
        M = np.asarray(vec.tolist(), dtype=np.float64)
        codes = np.empty((len(M), len(Cs)), dtype=np.int32)
        for s, C in enumerate(Cs):
            Ms = M[:, s * sub : (s + 1) * sub]
            d = (C**2).sum(axis=1)[None, :] - 2.0 * (Ms @ C.T)
            codes[:, s] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — the compressed corpus representation."""
    return df.select(F.col(id_col), _pq_encode_udf(codebooks)(F.col(vec_col)).alias("codes"))


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ ANN top-k by asymmetric distance computation (ADC): the
    query's squared distance to every sub-centroid forms an m×k_codes
    lookup table (a LITERAL — broadcast with the plan, no join), and a
    row's approximate distance is the SUM of m table lookups on its
    codes — pure codegen'd array indexing over the 8-byte codes, no
    float vector access at scan time. TakeOrderedAndProject keeps the
    scan shuffle-free. Returns (id, adc_dist2) ordered ascending."""
    q = np.asarray(query_vec, dtype=np.float64)
    sub = len(codebooks[0][0])
    lut = [
        [float(((q[s * sub : (s + 1) * sub] - np.asarray(c)) ** 2).sum()) for c in book]
        for s, book in enumerate(codebooks)
    ]
    # One parsed SQL literal instead of m×k_codes F.lit() py4j round
    # trips: at k_codes=256 the Column-by-Column construction alone
    # cost ~1.3 s of driver time per call; repr() doubles round-trip
    # exactly through the SQL parser, so the plan is unchanged.
    lut_sql = "array(%s)" % ",".join(
        "array(%s)" % ",".join(f"{v!r}D" for v in row) for row in lut
    )
    lut_col = F.expr(lut_sql)
    encoded = pq_encode(df, codebooks, id_col, vec_col)
    dist = F.aggregate(
        F.zip_with(
            lut_col,
            F.col("codes"),
            lambda row, code: F.element_at(row, code + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        encoded.select(F.col(id_col), F.round(dist, 6).alias("adc_dist2"))
        .orderBy(F.col("adc_dist2").asc(), F.col(id_col).asc())
        .limit(k)
    )
