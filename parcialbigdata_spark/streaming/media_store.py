"""Streaming media near-dup dedup-at-arrival — the MEDIA member of the
streaming index-store family (r12), beside the minhash store
(``dedup_store.run_streaming_minhash_index``) and the IVF store
(``ann_store.run_streaming_ivf_index``): media blobs arrive as a file
stream of (file_name, content) rows, each micro-batch is DECODED ONCE
(image dHash — any (file_name, b0..b3) hash kernel plugs in), probed
against the persisted banded perceptual-hash index
(``operators/phash.phash_index_probe`` — only the batch side shuffles;
historical media is never re-decoded), its verified (new_file,
old_file, hamming) pairs emitted, and its hashes appended. The first
batch SEEDS the index and probes nothing.

Stream/batch agreement: on the same ordered batches this returns
exactly what the batch replay of ingest→probe→append returns — the
registered query shares its oracle shape with the batch twin
``phash_index_probe_media``.

At 100 TB the stream carries blobs, the index carries 4 band rows ×
~50 bytes per file, and the decode runs once per blob ever.

Intra-batch pairs (r13, ADVICE r12): two near-dup blobs landing in
the SAME micro-batch never meet in the batch-vs-index probe (a
batch's hashes append only after its probe), so every epoch —
including the seeding epoch 0 — additionally runs the banded
``dhash_near_dups`` self-join within the batch and unions those
pairs in, oriented (lexicographically later name) → new_file to stay
deterministic.

Each call is a fresh index build: the drain, the per-epoch pairs sink
(stale ``epoch_*`` output of a reused ``pairs_dir`` included) and the
hash-cache release follow the store contract of
``streaming/pipeline.drain_index_store``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from parcialbigdata_spark.streaming.pipeline import drain_index_store

_PAIR_SCHEMA = StructType(
    [
        StructField("new_file", StringType()),
        StructField("old_file", StringType()),
        StructField("hamming", IntegerType()),
    ]
)


def run_streaming_phash_index(
    spark,
    stream_dir: str,
    bands_table: str,
    max_hamming: int = 3,
    timeout: float = 240.0,
    pairs_dir: str | None = None,
    hash_fn=None,
) -> DataFrame:
    """Drain a (file_name, content) parquet file stream through
    decode-once → probe → append against ``bands_table``; returns the
    distributed pairs sink as a DataFrame.

    ``hash_fn`` is any (file_name, content)-DataFrame → (file_name,
    b0..b3) kernel — image dHash by default; the audio aHash plugs in
    unchanged (r13: the store is the modality-agnostic layer the
    phash-index docstrings promised, now exercised by
    ``streaming_ahash_index_media``)."""
    from parcialbigdata_spark.operators.phash import (
        dhash_near_dups,
        phash_index_ingest,
        phash_index_probe,
        png_dhash,
    )

    if hash_fn is None:
        hash_fn = png_dhash

    def probe(batch_df: DataFrame, seed: bool, cache):
        # Decode the batch ONCE per micro-batch: the hash relation feeds
        # the intra-batch self-join (both sides), the index probe and the
        # ingest write — Spark cannot reuse the opaque decode kernel
        # across those consumers (Python-UDF subtrees never canonicalize
        # equal, so AQE stage reuse never fires on them), so without this
        # cache the BLOB DECODE — the dominant cost at production media
        # sizes — runs 2-4x per epoch.
        hashes = cache(hash_fn(batch_df))
        # intra-batch pairs: same-batch members never meet in the
        # batch-vs-index probe, so the banded self-join finds them
        p = dhash_near_dups(hashes, max_hamming=max_hamming).select(
            F.col("file_b").alias("new_file"),
            F.col("file_a").alias("old_file"),
            F.col("hamming").cast("int").alias("hamming"),
        )
        if not seed:
            p = phash_index_probe(
                hashes, bands_table, max_hamming=max_hamming
            ).select(
                "new_file", "old_file",
                F.col("hamming").cast("int").alias("hamming"),
            ).unionByName(p)
        return p, lambda: phash_index_ingest(hashes, bands_table, append=not seed)

    return drain_index_store(
        spark, stream_dir, pairs_dir, lambda _: _PAIR_SCHEMA, probe, "streaming phash index", timeout
    )
