"""Streaming embedding-ANN dedup/search-at-arrival against a
persistent IVF cell index.

The embedding sibling of ``streaming/dedup_store.py
run_streaming_minhash_index`` and the ONLINE driver of the batch pair
``operators/similarity.ivf_index_ingest``/``ivf_index_probe``:
embedding batches arrive as a file stream, each micro-batch is
cell-assigned ONCE (one Arrow matmul), probed for its k nearest
historical neighbors through the bucketed cell join (only the batch
side shuffles — history is never re-assigned or re-shuffled), its
(query_id, match_id, cosine_sim, rank) matches emitted, and the batch
appended to the index. The first batch SEEDS the index and probes
nothing.

Each call is a fresh index build: the drain, the per-epoch matches
sink and its read-back follow the store contract of
``streaming/pipeline.drain_index_store`` (matches are output-sized,
k × batch rows, and never collected to the driver).

The centroid matrix is the INDEX DEFINITION — fit once by the caller
(``similarity.ivf_fit_centroids`` on the seed corpus) and passed in;
every batch must use the same centroids or probe cells stop matching
stored cells (the hash-family contract shared with the minhash
index's num_hashes/bands/k_shingle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from parcialbigdata_spark.streaming.pipeline import drain_index_store


def run_streaming_ivf_index(
    spark,
    stream_dir: str,
    cells_table: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    timeout: float = 240.0,
    matches_dir: str | None = None,
) -> DataFrame:
    """Drain ``stream_dir`` (one parquet file per micro-batch, mtime
    order) through probe-then-ingest against ``cells_table``; returns
    the distributed (query_id, match_id, cosine_sim, rank) relation
    of every post-seed batch's k-NN matches vs the history as of its
    arrival. Stream/batch agreement: on the same ordered batches this
    equals the batch replay of ingest→probe→append."""
    from parcialbigdata_spark.operators.similarity import (
        ivf_index_ingest,
        ivf_index_probe,
    )

    def match_schema(schema):
        return StructType(
            [
                StructField("query_id", schema[id_col].dataType),
                StructField("match_id", schema[id_col].dataType),
                StructField("cosine_sim", DoubleType()),
                StructField("rank", IntegerType()),
            ]
        )

    def probe(batch_df: DataFrame, seed: bool, cache):
        m = None
        if not seed:
            m = ivf_index_probe(
                batch_df,
                cells_table,
                centroids,
                id_col=id_col,
                vec_col=vec_col,
                k=k,
                nprobe=nprobe,
            )
        return m, lambda: ivf_index_ingest(
            batch_df,
            cells_table,
            centroids,
            id_col=id_col,
            vec_col=vec_col,
            append=not seed,
        )

    return drain_index_store(
        spark, stream_dir, matches_dir, match_schema, probe, "streaming ivf index", timeout
    )
