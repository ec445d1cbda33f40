"""Incremental corpus dedup: a streaming MinHash-LSH signature store.

New documents arrive as files; each micro-batch drops (a) docs
near-duplicate to anything ALREADY ACCEPTED in previous batches and
(b) within-batch near-dups (smallest id wins), then appends the
survivors to the output corpus and their LSH band rows to a parquet
signature store. First-seen wins across batches — the same semantics a
continuously-ingesting training-data pipeline needs.

Beyond the reference surface (its streaming is an asyncio chunk queue
with no state); composes the batch dedup operators with Structured
Streaming's foreachBatch + checkpointLocation.

Scale shape per batch (B = batch docs, S = store rows):
- signatures: zero-shuffle map over B
- vs-store check: band-key equi-join B×S postings — the store is read
  fresh each batch (parquet append grows it), candidates verified by
  signature agreement, never a cross join
- within-batch: the batch LSH bucket kernel over B's band rows (one
  numpy pass per (band, key) bucket, no self-join) emits a star forest,
  at most k−1 edges per k-doc bucket; connected_components clusters it
- survivors are localCheckpoint-ed BEFORE the store append: the append
  plan must not read the directory it writes (self-referential write),
  and the checkpoint also prevents refreshByPath recompute hazards.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ondine_spark.operators.dedup import (
    _lsh_bucket_edges,
    connected_components,
    minhash_band_rows,
    minhash_signature,
)


def dedup_batch_against_store(
    batch: DataFrame,
    store: DataFrame | None,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    ngram: int = 3,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """One dedup step. Returns (survivor docs, survivor band rows, cached).

    A batch doc is dropped when its MinHash agreement with any stored
    signature is ≥ threshold, or when it is not the smallest id of its
    within-batch cluster (the components of the pairs that share a band
    bucket with agreement ≥ threshold). The persisted intermediates (the
    batch's band rows — they feed the store check, the bucket kernel, and
    both outputs) are returned in ``cached`` for the caller to unpersist
    once survivors are materialized, so long-running streams don't
    accumulate per-batch cache entries.
    """
    sig = minhash_signature(batch, id_col, text_col, num_hashes, ngram)
    cached: list[DataFrame] = []

    def _persist(df: DataFrame) -> DataFrame:
        cached.append(df.persist())
        return df

    bandrows = _persist(minhash_band_rows(sig, num_hashes, bands))

    # (a) near-dup of an already-accepted doc → drop
    if store is not None:
        same = F.zip_with("sig", "_ssig", lambda p, q: p == q)
        agree = F.size(F.filter(same, lambda m: m)).cast("double") / F.lit(
            float(num_hashes)
        )
        hits = (
            bandrows.join(
                store.select(
                    F.col("band"), F.col("key"), F.col("sig").alias("_ssig")
                ),
                on=["band", "key"],
            )
            .filter(agree >= threshold)
            .select("_id")
            .distinct()
        )
        bandrows = _persist(bandrows.join(hits, on="_id", how="left_anti"))

    # (b) within-batch near-dups: smallest id in each dup cluster survives
    edges = _lsh_bucket_edges(
        bandrows, num_hashes, bands, threshold=threshold, forest=True
    )
    comp = connected_components(edges)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("_id")
    )
    kept_rows = bandrows.join(F.broadcast(losers), on="_id", how="left_anti")
    kept_docs = batch.join(
        kept_rows.select("_id").distinct().withColumnRenamed("_id", id_col),
        on=id_col,
        how="left_semi",
    )
    return kept_docs, kept_rows, cached


def run_dedup_stream(
    spark: SparkSession,
    input_path: str,
    schema,
    id_col: str,
    text_col: str,
    output_path: str,
    state_dir: str,
    checkpoint_location: str,
    input_format: str = "parquet",
    num_hashes: int = 16,
    bands: int = 8,
    ngram: int = 3,
    threshold: float = 0.5,
    max_files_per_trigger: int = 1,
    await_termination: bool = True,
    timeout_s: float | None = None,
):
    """Watch ``input_path`` for new document files; keep only first-seen
    non-duplicates in ``output_path``; persist signatures in ``state_dir``.
    Restart-safe via checkpointLocation (processed files are not re-read);
    the signature store carries dedup state across restarts.
    """
    reader = spark.readStream.format(input_format).option(
        "maxFilesPerTrigger", max_files_per_trigger
    ).schema(schema)
    if input_format == "csv":
        reader = reader.option("header", "true")
    stream = reader.load(input_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        store = None
        if os.path.isdir(state_dir) and any(
            d.startswith("bid=") for d in os.listdir(state_dir)
        ):
            store = spark.read.parquet(state_dir).drop("bid")
        kept_docs, kept_rows, cached = dedup_batch_against_store(
            batch_df, store, id_col, text_col,
            num_hashes, bands, ngram, threshold,
        )
        # materialize + truncate lineage BEFORE touching the store dir:
        # the kept_rows plan READS state_dir (the anti-join), so appending
        # to it from the same live plan would be a self-referential write
        from ondine_spark.core.checkpoints import checkpoint_df, unpersist_rdd_ids

        sc = batch_df.sparkSession.sparkContext
        # ids resolved per-frame from the LogicalRDD (registry-diff-free,
        # safe alongside concurrent checkpoints on the shared session)
        kept_docs, ids_docs = checkpoint_df(kept_docs)
        kept_rows, ids_rows = checkpoint_df(kept_rows)
        ckpt_ids = ids_docs | ids_rows
        for c in cached:
            c.unpersist()
        try:
            # IDEMPOTENT sink: foreachBatch is at-least-once — a kill
            # between two plain appends would duplicate (or, with the
            # store write first, LOSE) rows when the batch replays after
            # restart. Each batch overwrites its OWN subdirectory instead,
            # so a replay converges to exactly the same files no matter
            # where the previous attempt died. Readers see the batch dirs
            # as a 'bid' partition column (dropped on read above).
            kept_docs.write.mode("overwrite").parquet(
                f"{output_path}/bid={batch_id}"
            )
            kept_rows.write.mode("overwrite").parquet(
                f"{state_dir}/bid={batch_id}"
            )
        finally:
            # checkpoint blocks are raw RDD caches — without this every
            # micro-batch leaks its survivors into the block manager for
            # the stream's lifetime (core/checkpoints.py)
            unpersist_rdd_ids(sc, ckpt_ids)

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_location)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination(timeout_s)
    return query
