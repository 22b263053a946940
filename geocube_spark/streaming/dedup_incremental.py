"""Streaming incremental dedup: micro-batches of new documents deduped
against an APPEND-ONLY persisted LSH bucket index.

The protocol (the streaming twin of dedup.incremental_dedup, reference
model: continuous ingest into the catalog, `/root/reference/internal/svc/
ingester.go` arrival semantics applied to documents):

  for each micro-batch B:
    1. pairs(B) = incremental_dedup(index, B, all_docs)  -- B vs index + B vs B
    2. append B's bucket rows to the index (same frozen hash family)

Because step 2 runs before the next batch, every cross-batch near-dup
pair is found exactly once — by the batch of its LATER endpoint.  The
union of all per-batch outputs therefore equals the one-shot batch run
over the full delta (asserted stream==batch in tests).

foreachBatch is the right vehicle: the per-batch logic is a multi-join
plan (two LSH joins + verify fetch) that Structured Streaming cannot
express incrementally, and the index append needs batch-exact
transactionality (parquet append per epoch; production hardening is
epoch-keyed subdirs so a replayed epoch overwrites instead of
duplicating — same idempotence recipe as streaming/sink.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from geocube_spark.operators import dedup as dd
from geocube_spark.session import checkpoint


def run_incremental_dedup_stream(
    delta_stream: DataFrame,
    index_path: str,
    all_docs: DataFrame,
    out_path: str,
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
):
    """Start the stream; returns the StreamingQuery.

    ``index_path``: parquet directory already holding the frozen corpus's
    bucket rows; each epoch appends the batch's rows after emitting its
    pairs.  ``out_path``: parquet directory accumulating the discovered
    (doc_a, doc_b, jaccard) rows across epochs."""
    spark = all_docs.sparkSession

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        batch = checkpoint(batch)
        idx = spark.read.parquet(index_path)
        pairs = dd.incremental_dedup(
            idx, batch, all_docs, text_col, threshold, num_hashes, bands,
            shingle_k, seed,
        )
        pairs.write.mode("append").parquet(out_path)
        dd.build_minhash_index(
            batch, text_col, num_hashes, bands, shingle_k, seed
        ).write.mode("append").parquet(index_path)

    return (
        delta_stream.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", index_path + "_ckpt")
        .start()
    )
