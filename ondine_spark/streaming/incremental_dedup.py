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

Scale shape per micro-batch (B = batch docs, S = store rows). A
micro-batch's cost is mostly fixed (Spark jobs, Python tasks), so every
step is one action with a reason to exist — about 10 Spark jobs (AQE
stages included) for the first batch and 15 once a store exists, pinned
by tests/test_incremental_dedup.py::test_micro_batch_job_count:
- count: B, which also skips empty batches and sizes the Python stages
  (``ceil(B / _DOCS_PER_TASK)`` tasks, at most the shuffle partitions)
- band rows: signatures + LSH band rows, one eager localCheckpoint —
  every later step reads it, none recomputes the signatures
- vs-store check: band-key equi-join B×S postings, candidates verified
  by signature agreement, never a cross join; the store is read with
  its known schema (no inference job) and once per batch — the hit ids
  (≤ B) come back in one Arrow collect
- within-batch: the LSH bucket kernel over the remaining band rows (one
  numpy pass per (band, key) bucket, no self-join) emits a star forest,
  at most k−1 edges per k-doc bucket, so ≤ bands × B edges in all; one
  Arrow collect and a driver union-find resolve it (above
  connected_components' driver threshold, connected_components does)
- survivors: the kept band rows are ONE eager localCheckpoint, taken
  BEFORE the store append — the append plan must not read the directory
  it writes (self-referential write), and the checkpoint also prevents
  refreshByPath recompute hazards. Both idempotent writes read it: the
  docs through a semi join with its broadcast band-0 rows (one per kept
  doc), the store rows directly.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ondine_spark.core.checkpoints import checkpoint_df, unpersist_rdd_ids
from ondine_spark.core.partitioning import shuffle_partitions, spread_small
from ondine_spark.operators import dedup
from ondine_spark.operators.dedup import (
    _lsh_bucket_edges,
    _min_labels,
    _minhash_sig_rows,
    connected_components,
    minhash_band_rows,
)

# docs per Python task in the signature and bucket-kernel stages. A
# Python task costs ~0.2 s of fixed overhead on top of its docs, so a
# small batch runs fastest on one task; the task count grows with the
# batch up to the shuffle partitions (measurements in CHANGES.md)
_DOCS_PER_TASK = 2000


def _without(rows: DataFrame, ids) -> DataFrame:
    """``rows`` minus the band rows of ``ids``: a frame of ``_id``, or an
    array of ids collected on the driver, sent back as a broadcast local
    relation (an Arrow table needs no Python task to become one)."""
    if not isinstance(ids, DataFrame):
        if not len(ids):
            return rows
        ids = F.broadcast(rows.sparkSession.createDataFrame(pa.table({"_id": ids})))
    return rows.join(ids, on="_id", how="left_anti")


def dedup_batch_against_store(
    batch: DataFrame,
    store: DataFrame | None,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    ngram: int = 3,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame, set] | None:
    """One dedup step. Returns ``(survivor docs, survivor band rows,
    rdd ids)``, or None when ``batch`` is empty.

    A batch doc is dropped when its MinHash agreement with any stored
    signature is ≥ threshold, or when it is not the smallest id of its
    within-batch cluster (the components of the pairs that share a band
    bucket with agreement ≥ threshold).

    Plan (module docstring): count B; band rows into one eager
    checkpoint, freed before returning; store hits (≤ B ids) and the
    forest (≤ bands × B edges) each come back in one Arrow collect and
    the clusters are resolved on the driver — above
    ``connected_components``' driver threshold the hits stay a frame and
    ``connected_components`` clusters the forest. The survivor band rows
    are an eager checkpoint and the survivor docs a lazy semi join of
    ``batch`` against its band-0 rows, so neither reads ``store`` again;
    ``rdd ids`` back that checkpoint — free them with
    ``unpersist_rdd_ids`` once both are written, so long-running streams
    don't accumulate per-batch blocks.
    """
    n_docs = batch.count()
    if not n_docs:
        return None
    tasks = min(shuffle_partitions(batch), -(-n_docs // _DOCS_PER_TASK))
    sig = _minhash_sig_rows(
        spread_small(batch, tasks), id_col, text_col, num_hashes, ngram
    )
    rows, rows_ids = checkpoint_df(minhash_band_rows(sig, num_hashes, bands))
    on_driver = bands * n_docs <= dedup._CC_DRIVER_EDGES
    try:
        # (a) near-dup of an already-accepted doc → drop
        if store is not None:
            same = F.zip_with("sig", "_ssig", lambda p, q: p == q)
            agree = F.size(F.filter(same, lambda m: m)).cast(
                "double"
            ) / F.lit(float(num_hashes))
            hits = (
                rows.join(
                    store.select(
                        F.col("band"), F.col("key"), F.col("sig").alias("_ssig")
                    ),
                    on=["band", "key"],
                )
                .filter(agree >= threshold)
                .select("_id")
                .distinct()
            )
            if on_driver:
                hits = hits.toArrow().column("_id").to_numpy()
            rows = _without(rows, hits)

        # (b) within-batch near-dups: smallest id in each dup cluster survives
        edges = _lsh_bucket_edges(
            rows, num_hashes, bands, threshold=threshold, forest=True,
            partitions=tasks,
        )
        if on_driver:
            forest = edges.toArrow()
            nodes, comp = _min_labels(
                forest.column("a").to_numpy(), forest.column("b").to_numpy()
            )
            losers = nodes[nodes != comp]
        else:
            losers = connected_components(edges).filter(
                F.col("node") != F.col("component")
            ).select(F.col("node").alias("_id"))
        kept_rows, kept_ids = checkpoint_df(_without(rows, losers))
    finally:
        unpersist_rdd_ids(batch.sparkSession.sparkContext, rows_ids)
    # every doc has exactly one band-0 row
    kept_docs = batch.join(
        F.broadcast(
            kept_rows.filter(F.col("band") == 0).select(
                F.col("_id").alias(id_col)
            )
        ),
        on=id_col,
        how="left_semi",
    )
    return kept_docs, kept_rows, kept_ids


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

    # the store's own schema: reading it needs no inference job
    store_schema = (
        f"_id {stream.schema[id_col].dataType.simpleString()}, "
        "sig array<bigint>, band int, key string"
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        store = None
        if os.path.isdir(state_dir) and any(
            d.startswith("bid=") for d in os.listdir(state_dir)
        ):
            store = spark.read.schema(store_schema).parquet(state_dir).drop("bid")
        out = dedup_batch_against_store(
            batch_df, store, id_col, text_col,
            num_hashes, bands, ngram, threshold,
        )
        if out is None:
            return
        # the survivors are materialized with truncated lineage BEFORE the
        # store dir is touched: their plan READ state_dir (the anti-join),
        # so appending to it from a live plan would be a self-referential
        # write
        kept_docs, kept_rows, ckpt_ids = out
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
            unpersist_rdd_ids(spark.sparkContext, ckpt_ids)

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_location)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination(timeout_s)
    return query
