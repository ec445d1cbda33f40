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

Plan per micro-batch (B = batch docs). A small micro-batch's cost is
mostly fixed — Spark jobs, Python tasks, driver planning — so it runs on
the driver, with no Python task and no checkpoint. One collect of each
doc's text length (4 bytes a doc, under ``limit(cap + 1)``) picks the
path from the observed batch: 0 rows skips the batch; the driver path
needs both caps to hold — B ≤ ``_CC_DRIVER_EDGES // bands`` (the
union-find's driver cap, 125K docs at 8 bands) and the batch text ≤
``_DRIVER_CHARS`` (the measured crossover, about 10K docs of 100 words;
it also bounds the hash collect, since a doc of c characters has at most
(c + 1) / 2 base hashes). That path runs 5 Spark jobs (broadcasts
included) for the first batch and 7 once a store exists, pinned by
tests/test_incremental_dedup.py::test_micro_batch_job_count:
- hashes: ONE collect of (id, base-hash array) over Arrow — shingling
  and md5 stay JVM expressions
- signatures: ``_minhash_sig_kernel``, the Arrow kernel the
  distributed path runs under ``mapInPandas``, run on the driver over
  the collected batches — bit-identical by construction
- vs-store check: ONE action — the band rows of a local relation of the
  signatures (``minhash_band_rows``, the one definition of a band key, so
  a store written by either path reads the same in the other) broadcast
  into a band-key equi-join with the store, verified by signature
  agreement, never a cross join; the store is read with its known schema
  (no inference job); the hit ids come back over Arrow and numpy
  deduplicates them
- within-batch: the LSH bucket kernel (``_lsh_bucket_kernel`` under
  ``_sorted_group_kernel``, the same numpy pass ``mapInPandas`` runs)
  over the remaining docs' band rows sorted on the driver, then the
  ``_min_labels`` union-find; the kernel's compare blocks are capped at
  64 MB, so a large cluster stays bounded
- outputs: the kept band rows are ``minhash_band_rows`` over a
  1-partition local relation of the kept signatures (one file per
  ``grp=G/bid=N`` store directory, 32 batches per group, so listing the
  store stays a walk on the driver), the kept docs a semi join of the
  batch with a broadcast local relation of the kept ids; the two writes
  run side by side. Neither plan reads ``state_dir``, so the store
  append needs no checkpoint.

Above either cap (SCALE.md STREAM_5M's 250K-doc batches) the same steps
run distributed over the shuffle partitions: signatures + band rows in
one eager localCheckpoint; store hits as a frame (``distinct`` + anti
join); the bucket kernel under ``mapInPandas``, its star forest (≤ k−1
edges per k-doc bucket) clustered by ``connected_components``; the
survivor band rows ONE eager localCheckpoint taken BEFORE the store
append — the append plan must not read the directory it writes
(self-referential write). Both idempotent writes read that checkpoint:
the docs through a semi join with its broadcast band-0 rows (one per
kept doc), the store rows directly.

A store written before the ``grp=`` level existed (flat
``state_dir/bid=N``) is moved under it when the stream starts.
"""

from __future__ import annotations

import glob
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ondine_spark.core.checkpoints import checkpoint_df, unpersist_rdd_ids
from ondine_spark.core.partitioning import shuffle_partitions, spread_small
from ondine_spark.operators import dedup
from ondine_spark.operators.dedup import (
    _lsh_bucket_edges,
    _lsh_bucket_kernel,
    _min_labels,
    _minhash_sig_kernel,
    _minhash_sig_rows,
    _shingle_hashes,
    _sorted_group_kernel,
    connected_components,
    minhash_band_rows,
)

# store batches per ``grp=`` directory: Spark lists a directory's
# subdirectories on the driver up to
# spark.sql.sources.parallelPartitionDiscovery.threshold (32), above it in
# a Spark job of one task per subdirectory — a flat ``bid=`` level made
# every batch's store read grow with the store (220 one-file batches on a
# 4-CPU host: 22 → 1000 ms per read; 18 → 55 ms with two levels)
_BIDS_PER_GROUP = 32

# text characters a batch may bring to the driver path. A doc of c
# characters has at most (c + 1) / 2 words, so at most that many base
# hashes: ≤ 28 MB over Arrow, far under Spark's default
# spark.driver.maxResultSize (1g) however long the docs. Set at the
# measured crossover (one step plus both writes, 4 local cores, docs of
# ~100 words / 730 chars): 8K docs 3.4 s on the driver vs 4.5 s
# distributed, 12K docs 5.4-6.0 s vs 4.8-5.2 s — the driver path hashes
# on the batch's one file task, the distributed one on every core
_DRIVER_CHARS = 7_000_000


def _batch_forest_losers(ids, sigs, num_hashes: int, bands: int, threshold):
    """Within-batch losers on the driver: every doc of ``ids`` (with
    signature rows ``sigs``) that is not the smallest id of its cluster.
    The band rows are sorted on (band, slice, id) — a bucket is a band's
    equal signature slice, which the store's key string spells out — and
    run through the same bucket kernel as ``_lsh_bucket_edges``."""
    n, r = len(ids), num_hashes // bands
    order = np.argsort(ids, kind="stable")  # position order == id order
    ids, sigs = ids[order], sigs[order]
    doc = np.repeat(np.arange(n), bands)
    band = np.tile(np.arange(bands), n)
    slices = sigs.reshape(n * bands, r)
    keys = [f"_k{j}" for j in range(r)]
    at = np.lexsort(
        (doc, *(slices[:, j] for j in reversed(range(r))), band)
    )
    rows = np.empty(n, dtype=object)
    rows[:] = list(sigs)
    frame = pd.DataFrame(
        {"_id": ids[doc[at]], "band": band[at], "sig": rows[doc[at]]}
        | {k: slices[at, j] for j, k in enumerate(keys)}
    )
    kernel = _sorted_group_kernel(
        ["band", *keys],
        _lsh_bucket_kernel(num_hashes, bands, threshold, forest=True, own=True),
        names=[], max_group=None, forest=True, matrix=("sig", "int64"),
    )
    edges = list(kernel([frame]))
    if not edges:
        return ids[:0]
    nodes, comp = _min_labels(
        np.concatenate([e["a"].to_numpy() for e in edges]),
        np.concatenate([e["b"].to_numpy() for e in edges]),
    )
    return nodes[nodes != comp]


def _dedup_step(id_col, text_col, num_hashes, bands, ngram, threshold):
    """``step(batch, store)`` → :func:`dedup_batch_against_store`'s
    result, with the per-doc expressions (shingle hashes, signature
    agreement) built once for every batch it runs."""
    hashes = _shingle_hashes(text_col, ngram)
    sig_kernel = _minhash_sig_kernel(num_hashes)
    same = F.zip_with("sig", "_ssig", lambda p, q: p == q)
    agrees = F.size(F.filter(same, lambda m: m)).cast("double") / F.lit(
        float(num_hashes)
    ) >= F.lit(float(threshold))

    def project(df: DataFrame) -> DataFrame:
        return df.select(F.col(id_col).alias("_id"), hashes.alias("_hs"))

    def store_hits(rows: DataFrame, store: DataFrame) -> DataFrame:
        """``_id`` of every band row of ``rows`` that agrees with a stored
        signature sharing its (band, key) bucket."""
        return (
            rows.join(
                store.select("band", "key", F.col("sig").alias("_ssig")),
                on=["band", "key"],
            )
            .filter(agrees)
            .select("_id")
        )

    def on_driver(batch: DataFrame, hashed: pa.Table, store):
        spark = batch.sparkSession
        id_type = hashed.schema.field("_id").type
        parts = list(sig_kernel(b.to_pandas() for b in hashed.to_batches()))
        ids = np.concatenate([p["_id"].to_numpy() for p in parts])
        sigs = np.array(
            [s for p in parts for s in p["sig"]], dtype=np.int64
        ).reshape(len(ids), num_hashes)

        def sig_frame(keep):
            """A 1-partition local relation of the ``keep`` signatures."""
            return spark.createDataFrame(pa.table({
                "_id": pa.array(ids[keep], id_type),
                "sig": pa.ListArray.from_arrays(
                    np.arange(0, keep.sum() * num_hashes + 1, num_hashes,
                              dtype=np.int32),
                    sigs[keep].ravel(),
                ),
            })).coalesce(1)

        keep = np.ones(len(ids), dtype=bool)
        # (a) near-dup of an already-accepted doc → drop
        if store is not None and len(ids):
            hits = store_hits(
                F.broadcast(minhash_band_rows(sig_frame(keep), num_hashes, bands)),
                store,
            ).toArrow()
            keep &= ~np.isin(ids, np.unique(hits.column("_id").to_numpy()))
        # (b) within-batch near-dups: smallest id in each dup cluster survives
        losers = _batch_forest_losers(
            ids[keep], sigs[keep], num_hashes, bands, threshold
        )
        keep &= ~np.isin(ids, losers)
        kept = sig_frame(keep)
        kept_docs = batch.join(
            F.broadcast(kept.select(F.col("_id").alias(id_col))),
            on=id_col,
            how="left_semi",
        )
        kept_rows = minhash_band_rows(kept, num_hashes, bands)
        return kept_docs, kept_rows, set()

    def distributed(batch: DataFrame, store):
        tasks = shuffle_partitions(batch)
        sig = _minhash_sig_rows(project(spread_small(batch, tasks)), num_hashes)
        rows, rows_ids = checkpoint_df(minhash_band_rows(sig, num_hashes, bands))
        try:
            # (a) near-dup of an already-accepted doc → drop
            if store is not None:
                rows = rows.join(
                    store_hits(rows, store).distinct(), on="_id", how="left_anti"
                )
            # (b) within-batch near-dups: smallest id in each cluster survives
            edges = _lsh_bucket_edges(
                rows, num_hashes, bands, threshold=threshold, forest=True,
                partitions=tasks,
            )
            losers = connected_components(edges).filter(
                F.col("node") != F.col("component")
            ).select(F.col("node").alias("_id"))
            kept_rows, kept_ids = checkpoint_df(
                rows.join(losers, on="_id", how="left_anti")
            )
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

    def step(batch: DataFrame, store: DataFrame | None):
        cap = dedup._CC_DRIVER_EDGES // bands
        # the path is picked from the text lengths, never from the hashes:
        # a batch of long docs must not bring its hash arrays to the driver
        chars = (
            batch.select(F.length(text_col).alias("n")).limit(cap + 1).toArrow()
        )
        if not chars.num_rows:
            return None
        if (
            chars.num_rows > cap
            or (pc.sum(chars.column("n")).as_py() or 0) > _DRIVER_CHARS
        ):
            return distributed(batch, store)
        return on_driver(batch, project(batch).toArrow(), store)

    return step


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
    bucket with agreement ≥ threshold). Docs with no word n-gram have no
    signature and are dropped too.

    Plan (module docstring). One collect of the docs' text lengths
    decides the path from the observed batch: at most ``_CC_DRIVER_EDGES
    // bands`` docs with at most ``_DRIVER_CHARS`` characters of text run
    on the driver — 5 Spark jobs without a store, 7 with one — and both
    results are lazy frames over local relations and ``batch``, with no
    ``rdd ids``. A larger batch runs distributed: its survivor band rows
    are an eager checkpoint and its survivor docs a lazy semi join of
    ``batch`` against their band-0 rows, so neither reads ``store`` again;
    ``rdd ids`` back that checkpoint — free them with
    ``unpersist_rdd_ids`` once both are written, so long-running streams
    don't accumulate per-batch blocks. On either path the bucket kernel
    compares at most ``dedup._EQ_BYTES`` booleans at a time (64 MB).
    """
    return _dedup_step(id_col, text_col, num_hashes, bands, ngram, threshold)(
        batch, store
    )


def stored_batch_ids(state_dir: str) -> list[int]:
    """Ids of the batches whose band rows the signature store at
    ``state_dir`` holds (its ``grp=G/bid=N`` directories)."""
    return [
        int(path.rsplit("=", 1)[1])
        for path in glob.glob(os.path.join(state_dir, "grp=*", "bid=*"))
    ]


def _group_flat_store(state_dir: str) -> None:
    """Move a store written before the ``grp=`` level existed
    (``state_dir/bid=N``) under it (``state_dir/grp=G/bid=N``), so the
    store read sees every earlier batch, at one directory depth. One
    rename per batch directory: a start killed midway moves the rest on
    the next start."""
    for path in glob.glob(os.path.join(state_dir, "bid=*")):
        group = os.path.join(
            state_dir, f"grp={int(path.rsplit('=', 1)[1]) // _BIDS_PER_GROUP}"
        )
        os.makedirs(group, exist_ok=True)
        os.rename(path, os.path.join(group, os.path.basename(path)))


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
    _group_flat_store(state_dir)
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

    step = _dedup_step(id_col, text_col, num_hashes, bands, ngram, threshold)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the store as the batches BEFORE this one left it: a batch
        # replayed after a kill between its store write and its commit
        # must not find its own rows there
        store = None
        if any(bid < batch_id for bid in stored_batch_ids(state_dir)):
            store = (
                spark.read.schema(store_schema).parquet(state_dir)
                .where(F.col("bid") < batch_id).drop("grp", "bid")
            )
        out = step(batch_df, store)
        if out is None:
            return
        # neither survivor plan reads state_dir (local relations on the
        # driver path, a checkpoint taken before these writes on the
        # distributed one), so the store append is not a self-referential
        # write
        kept_docs, kept_rows, ckpt_ids = out
        try:
            # IDEMPOTENT sink: foreachBatch is at-least-once — a kill
            # between two plain appends would duplicate rows when the
            # batch replays after restart. Each batch overwrites its OWN
            # subdirectory instead, and reads only the store of earlier
            # batches, so a replay converges to exactly the same files no
            # matter where the previous attempt died — and the two writes
            # may run side by side. Readers see the batch dirs as 'bid'
            # (and 'grp') partition columns. The docs write
            # runs on a second thread that keeps this one's Spark local
            # properties (the stream's job group).
            with ThreadPoolExecutor(max_workers=1) as pool:
                docs = pool.submit(inheritable_thread_target(spark)(
                    lambda: kept_docs.write.mode("overwrite").parquet(
                        f"{output_path}/bid={batch_id}"
                    )
                ))
                kept_rows.write.mode("overwrite").parquet(
                    f"{state_dir}/grp={batch_id // _BIDS_PER_GROUP}"
                    f"/bid={batch_id}"
                )
                docs.result()
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
