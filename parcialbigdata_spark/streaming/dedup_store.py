"""Streaming incremental dedup against a persistent fingerprint store.

The online complement of the batch ``incremental_dedup_documents``
query: documents arrive as a stream, each micro-batch is deduplicated
against every document ever accepted (cross-run exact dedup), survivors
are appended to the corpus sink and their fingerprints to the store.
This is the ingest-time shape of corpus dedup — dedup-at-arrival
instead of a periodic full-corpus pass.

Semantics and 100 TB notes:

- Fingerprints are the canonical 16-byte md5 of normalized text
  (``functions.text.fingerprint``) — the anti-join against the store
  shuffles fingerprints, never document text.
- Within a batch, the survivor is the MIN id per fingerprint
  (deterministic; same rule as batch canonical dedup).
- Exactly-once on the SOURCE side comes from checkpointed offsets.
  The two appends (docs, fingerprints) are at-least-once on retry; a
  replayed batch can re-append fingerprints, which is harmless (the
  anti-join only asks set membership), and can re-append documents —
  downstream readers get exact-once by keying on ``id`` (or run the
  batch canonical dedup as a compaction). This is the standard
  foreachBatch idempotence contract, stated rather than hidden.
- The store grows one 16-byte key per accepted doc; compact it
  periodically (coalesce + rewrite) the same way streaming state
  stores checkpoint — at 10⁹ docs it is ~16 GB of parquet, trivially
  broadcastable no longer but still a cheap anti-join side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from parcialbigdata_spark.functions import text as T
from parcialbigdata_spark.streaming.pipeline import drain_index_store


def dedup_batch_applier(store_path: str, out_path: str, id_col: str = "doc_id", text_col: str = "text"):
    """foreachBatch body: anti-join the batch against the fingerprint
    store, keep the min-id survivor per fingerprint inside the batch,
    append survivors to ``out_path`` and their fingerprints to
    ``store_path``."""

    def apply(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        fp = batch_df.withColumn("fp", T.fingerprint(F.col(text_col)))
        try:
            store = spark.read.parquet(store_path).select("fp")
            fresh = fp.join(store, "fp", "left_anti")
        except AnalysisException:
            fresh = fp  # first batch: store does not exist yet
        w = Window.partitionBy("fp").orderBy(id_col)
        survivors = (
            fresh.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # Survivors are tiny relative to the stream? No — they can be
        # the whole batch; both writes stay distributed appends. The
        # two writes are two actions over the same plan — persist so
        # the store read + anti-join + window dedup run once per batch,
        # not twice (ADVICE r3).
        survivors = survivors.persist()
        try:
            survivors.drop("fp").write.mode("append").parquet(out_path)
            survivors.select("fp").write.mode("append").parquet(store_path)
        finally:
            survivors.unpersist()

    return apply


def stream_dedup_to_corpus(
    doc_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Wire a streaming DataFrame of documents through
    :func:`dedup_batch_applier` with an availableNow trigger; returns
    the started query (caller awaits/stops)."""
    return (
        doc_stream.writeStream.foreachBatch(
            dedup_batch_applier(store_path, out_path, id_col, text_col)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_streaming_minhash_index(
    spark,
    stream_dir: str,
    bands_table: str,
    sets_table: str,
    threshold: float = 0.2,
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 2,
    timeout: float = 240.0,
    pairs_dir: str | None = None,
) -> DataFrame:
    """Streaming NEAR-dup dedup-at-arrival — the minhash sibling of
    :func:`stream_dedup_to_corpus`'s exact-fingerprint store, and the
    ONLINE driver of the batch index pair ``operators/dedup.py
    minhash_index_ingest``/``minhash_index_probe``: documents arrive
    as a file stream, each micro-batch is shingled ONCE, probed
    against the persisted banded index (history never re-shingled —
    only the batch side shuffles through the bucketed band join),
    its verified (new_id, old_id, jaccard_sim) pairs emitted, and the
    batch appended to the index. The first batch SEEDS the index and
    probes nothing (there is no history to match).

    Stream/batch agreement contract: on the same ordered batches this
    returns exactly what the batch replay of ingest→probe→append
    returns — the registered query shares its oracle with the batch
    twin ``dedup_index_probe_documents``.

    Each call is a fresh index build with no checkpoint: the seed epoch
    overwrites ``bands_table``/``sets_table``, and the returned DataFrame
    is a parquet read of the per-epoch pair dirs under ``pairs_dir``
    (pairs stay distributed, never collected). The drain, the output
    sink and the cache release follow the store contract of
    :func:`~parcialbigdata_spark.streaming.pipeline.drain_index_store`."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from parcialbigdata_spark.operators.dedup import (
        minhash_batch_relations,
        minhash_index_ingest,
        minhash_index_probe,
        shingle_rows,
    )

    def pair_schema(doc_schema):
        id_type = doc_schema["doc_id"].dataType
        return StructType(
            [
                StructField("new_id", id_type),
                StructField("old_id", id_type),
                StructField("jaccard_sim", DoubleType()),
            ]
        )

    def probe(batch_df: DataFrame, seed: bool, cache):
        # Shingle the batch ONCE per micro-batch and, on probing epochs,
        # derive its band/set relations ONCE too: probe and ingest share
        # all three cached relations, so the tokenize, the 32-minhash
        # signature fold and the collect_set each run once per
        # micro-batch. The seed epoch only ingests — its derived
        # relations have a single consumer, so only the shingle cache
        # (two consumers inside ingest) is kept.
        rows = cache(shingle_rows(batch_df, "doc_id", "text", k_shingle))
        p = None
        kwargs = {"precomputed_rows": rows}
        if not seed:
            bb, sh = minhash_batch_relations(
                rows, "doc_id", num_hashes=num_hashes, bands=bands
            )
            kwargs = {"precomputed_bands": cache(bb), "precomputed_sets": cache(sh)}
            p = minhash_index_probe(
                batch_df,
                "doc_id",
                "text",
                bands_table,
                sets_table,
                threshold=threshold,
                num_hashes=num_hashes,
                bands=bands,
                k_shingle=k_shingle,
                precomputed_rows=rows,
                **kwargs,
            )
        return p, lambda: minhash_index_ingest(
            batch_df,
            "doc_id",
            "text",
            bands_table,
            sets_table,
            num_hashes=num_hashes,
            bands=bands,
            k_shingle=k_shingle,
            append=not seed,
            **kwargs,
        )

    return drain_index_store(
        spark, stream_dir, pairs_dir, pair_schema, probe, "streaming minhash index", timeout
    )
