"""Streaming incremental dedup (streaming/incremental_dedup.py): first-seen
near-dup filtering with a persistent signature store, across stream
restarts (the checkpoint skips processed files; the store carries state).
"""

from __future__ import annotations

import os

from pyspark.sql import types as T

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])

T1 = "the quick brown fox jumps over the lazy dog again and again today"
T2 = "completely different text about spark engines and shuffle behavior"
T3 = "a third topic entirely concerning maritime navigation and charts"


def _write(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _run(spark, dirs):
    from ondine_spark.streaming.incremental_dedup import run_dedup_stream

    run_dedup_stream(
        spark,
        input_path=dirs["in"],
        schema=SCHEMA,
        id_col="doc_id",
        text_col="text",
        output_path=dirs["out"],
        state_dir=dirs["state"],
        checkpoint_location=dirs["ckpt"],
        threshold=0.5,
        timeout_s=120,
    )


def test_first_seen_dedup_across_restarts(spark, tmp_path):
    dirs = {k: str(tmp_path / k) for k in ("in", "out", "state", "ckpt")}

    # batch 1: one exact dup within the batch (3 ~ 1) → smallest id kept
    _write(spark, dirs["in"], [(1, T1), (2, T2), (3, T1)])
    _run(spark, dirs)
    out1 = {r.doc_id for r in spark.read.parquet(dirs["out"]).collect()}
    assert out1 == {1, 2}

    # batch 2 (stream restart): 4 duplicates batch-1's doc 2 → dropped by
    # the signature store; 5 is new → kept
    _write(spark, dirs["in"], [(4, T2), (5, T3)])
    _run(spark, dirs)
    out2 = {r.doc_id for r in spark.read.parquet(dirs["out"]).collect()}
    assert out2 == {1, 2, 5}

    # the store holds band rows ONLY for survivors
    state_ids = {r._id for r in spark.read.parquet(dirs["state"]).collect()}
    assert state_ids == {1, 2, 5}

    # re-running with nothing new is a no-op (checkpoint skips old files)
    _run(spark, dirs)
    assert {r.doc_id for r in spark.read.parquet(dirs["out"]).collect()} == {1, 2, 5}


def test_replayed_batch_reads_only_earlier_store(spark, tmp_path):
    """foreachBatch is at-least-once: a batch killed after its writes but
    before its commit replays on restart. The replay reads the store of
    the EARLIER batches only, so it keeps the same docs instead of
    matching its own stored signatures and overwriting its output with
    nothing."""
    dirs = {k: str(tmp_path / k) for k in ("in", "out", "state", "ckpt")}
    _write(spark, dirs["in"], [(1, T1), (2, T2), (3, T1)])
    _run(spark, dirs)
    _write(spark, dirs["in"], [(4, T2), (5, T3)])
    _run(spark, dirs)
    commits = os.path.join(dirs["ckpt"], "commits")
    for name in ("1", ".1.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    _run(spark, dirs)
    assert {r.doc_id for r in spark.read.parquet(dirs["out"]).collect()} == {
        1, 2, 5,
    }
    assert {r._id for r in spark.read.parquet(dirs["state"]).collect()} == {
        1, 2, 5,
    }


def _mass_batch(spark, k):
    """k docs differing only in letter case and trailing spaces (one
    shingle set, so one signature, ids 10..k+9) plus three uniques."""
    words = T1.split()
    dups = [
        (10 + i, " ".join(
            w.upper() if (i >> j) & 1 else w for j, w in enumerate(words)
        ) + " " * (i % 3))
        for i in range(k)
    ]
    uniques = [(1, T2), (2, T3), (500, "ledger entries for the quarterly "
                                      "audit of warehouse inventory counts")]
    return spark.createDataFrame(dups + uniques, SCHEMA)


def _kept(spark, batch, store):
    from ondine_spark.core.checkpoints import unpersist_rdd_ids
    from ondine_spark.streaming.incremental_dedup import (
        dedup_batch_against_store,
    )

    kept_docs, kept_rows, ids = dedup_batch_against_store(
        batch, store, "doc_id", "text", num_hashes=16, bands=8, threshold=0.5
    )
    try:
        return (
            {r.doc_id for r in kept_docs.collect()},
            sorted(tuple(r) for r in kept_rows.collect()),
        )
    finally:
        unpersist_rdd_ids(spark.sparkContext, ids)


def test_mass_duplicated_batch_keeps_cluster_min(spark):
    """One micro-batch that is mostly a single near-duplicate cluster: 300
    docs with one shingle set plus three uniques, no store. The cluster's
    smallest id and the uniques survive, and the bucket kernel hands the
    driver's union-find at most k−1 star edges, not the k(k−1)/2 pairs.
    Called without a stream so it stays cheap."""
    from ondine_spark.operators.dedup import (
        _lsh_bucket_edges,
        minhash_band_rows,
        minhash_signature,
    )

    k = 300
    batch = _mass_batch(spark, k)
    kept, _ = _kept(spark, batch, None)
    assert kept == {10, 1, 2, 500}

    rows = minhash_band_rows(
        minhash_signature(batch, "doc_id", "text", 16, 3), 16, 8
    )
    edges = _lsh_bucket_edges(rows, 16, 8, threshold=0.5, forest=True).collect()
    assert 0 < len(edges) <= k - 1
    assert {e.a for e in edges} == {10}


def test_forest_collect_cap_falls_back_to_connected_components(
    spark, monkeypatch, tmp_path
):
    """A batch is solved on the driver while bands × B ≤
    connected_components' driver threshold (no connected_components
    call); with the threshold patched to 8 × (B − 1) the one bounded
    length collect returns cap + 1 rows, no base hash reaches the driver
    and the step runs distributed (the forest through
    connected_components). Both paths keep the same docs and the same
    band rows (sig and key) for: a mass batch against a store that holds
    doc 1's text under id 0 (a store hit); docs with no word 3-gram; a
    150-doc cluster; and a store written by the distributed path, read
    by the driver path (a restart across the cap)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from ondine_spark.operators import dedup
    from ondine_spark.operators.dedup import (
        minhash_band_rows,
        minhash_signature,
    )
    from ondine_spark.streaming import incremental_dedup

    calls, collected = [], []
    real = incremental_dedup.connected_components
    to_arrow = DataFrame.toArrow

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    def counting_to_arrow(self):
        out = to_arrow(self)
        collected.append((out.num_rows, out.column_names))
        return out

    monkeypatch.setattr(incremental_dedup, "connected_components", spy)
    monkeypatch.setattr(DataFrame, "toArrow", counting_to_arrow)
    store = minhash_band_rows(
        minhash_signature(
            spark.createDataFrame([(0, T2)], SCHEMA), "doc_id", "text", 16, 3
        ),
        16, 8,
    )
    no_grams = [(1, ""), (2, "one"), (3, "two words"), (4, T1), (5, T1 + " "),
                (6, None)]
    earlier = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate((T1, T3, T2))], SCHEMA
    )
    later = spark.createDataFrame(
        [(1, T1), (2, T2 + " extra words"),
         (3, "a brand new text about garden soil and compost")],
        SCHEMA,
    )
    inputs = {
        "store hit": (_mass_batch(spark, 40), store),
        "no 3-gram": (spark.createDataFrame(no_grams, SCHEMA), None),
        "150 cluster": (_mass_batch(spark, 150), None),
    }
    on_driver = {name: _kept(spark, *args) for name, args in inputs.items()}
    assert on_driver["store hit"][0] == {10, 2, 500}
    assert on_driver["no 3-gram"][0] == {4}
    assert on_driver["150 cluster"][0] == {10, 1, 2, 500}
    assert not calls
    _, driver_rows = _kept(spark, earlier, None)

    for name, (batch, st) in inputs.items():
        n = batch.count()
        monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", 8 * (n - 1))
        calls.clear()
        collected.clear()
        assert _kept(spark, batch, st) == on_driver[name], name
        assert collected[0] == (n, ["n"]), name  # cap + 1 = B rows
        assert not [c for _, c in collected if "_hs" in c], name
        assert calls == [1], name

    # the store of ``earlier`` written by the distributed path...
    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", 8 * 2)
    _, dist_rows = _kept(spark, earlier, None)
    assert dist_rows == driver_rows
    path = str(tmp_path / "store")
    spark.createDataFrame(dist_rows, "_id long, sig array<bigint>, band int, "
                                     "key string").write.parquet(path)
    # ...read by the driver path and by the distributed path
    dist_store = spark.read.parquet(path)
    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", 1_000_000)
    calls.clear()
    after = _kept(spark, later, dist_store)
    assert not calls
    assert after[0] == {3}
    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", 8 * 2)
    assert _kept(spark, later, dist_store) == after
    assert calls == [1]


def test_text_budget_sends_long_docs_distributed(spark, monkeypatch):
    """The driver path also needs the batch's text within
    ``_DRIVER_CHARS``, which bounds the base hashes it collects (a doc
    of c characters has at most (c + 1) / 2 of them): with the budget
    patched below a batch of long docs, the step runs distributed,
    collects no base hash, and keeps the same docs and band rows."""
    from pyspark.sql.classic.dataframe import DataFrame

    from ondine_spark.streaming import incremental_dedup

    words = " ".join(f"w{i}" for i in range(600))
    batch = spark.createDataFrame(
        [(1, words), (2, words + " tail"), (3, T2 + " " + words[::-1]),
         (4, T3)],
        SCHEMA,
    )
    on_driver = _kept(spark, batch, None)
    assert on_driver[0] == {1, 3, 4}
    collected = []
    to_arrow = DataFrame.toArrow

    def counting_to_arrow(self):
        out = to_arrow(self)
        collected.append(out.column_names)
        return out

    monkeypatch.setattr(DataFrame, "toArrow", counting_to_arrow)
    monkeypatch.setattr(incremental_dedup, "_DRIVER_CHARS", 2 * len(words))
    assert _kept(spark, batch, None) == on_driver
    assert collected[0] == ["n"]
    assert not [c for c in collected if "_hs" in c]


def test_flat_store_is_grouped_on_start(spark, tmp_path):
    """A signature store written before the ``grp=`` level existed
    (``state_dir/bid=N``) is moved under it when the stream starts, so
    the next batch is still checked against every stored doc and the
    store reads at one directory depth."""
    import shutil

    dirs = {k: str(tmp_path / k) for k in ("in", "out", "state", "ckpt")}
    _write(spark, dirs["in"], [(1, T1), (2, T2), (3, T1)])
    _run(spark, dirs)
    shutil.move(os.path.join(dirs["state"], "grp=0", "bid=0"), dirs["state"])
    os.rmdir(os.path.join(dirs["state"], "grp=0"))
    # 4 duplicates the stored doc 2 → dropped; 5 is new → kept
    _write(spark, dirs["in"], [(4, T2), (5, T3)])
    _run(spark, dirs)
    assert sorted(os.listdir(os.path.join(dirs["state"], "grp=0"))) == [
        "bid=0", "bid=1",
    ]
    assert {r.doc_id for r in spark.read.parquet(dirs["out"]).collect()} == {
        1, 2, 5,
    }
    assert {r._id for r in spark.read.parquet(dirs["state"]).collect()} == {
        1, 2, 5,
    }


def test_driver_batch_runs_no_python_task_or_checkpoint(spark, monkeypatch):
    """A batch under the driver cap never crosses into a Python worker
    (no mapInPandas) and takes no localCheckpoint: signatures, the
    within-batch clusters and the survivors are computed on the driver."""
    from pyspark.sql.classic.dataframe import DataFrame

    from ondine_spark.operators.dedup import (
        minhash_band_rows,
        minhash_signature,
    )

    store = minhash_band_rows(
        minhash_signature(
            spark.createDataFrame([(0, T2)], SCHEMA), "doc_id", "text", 16, 3
        ),
        16, 8,
    )
    calls = []
    for name in ("mapInPandas", "localCheckpoint"):
        real = getattr(DataFrame, name)

        def counting(self, *a, _name=name, _real=real, **k):
            calls.append(_name)
            return _real(self, *a, **k)

        monkeypatch.setattr(DataFrame, name, counting)
    assert _kept(spark, _mass_batch(spark, 40), store)[0] == {10, 2, 500}
    assert calls == []


def test_bucket_kernel_block_budget_keeps_edges(spark, monkeypatch):
    """The bucket kernel sizes its compare block from the bucket size k
    so a block holds at most ``_EQ_BYTES`` booleans; with the budget
    patched to one row per block the mass-duplicated batch (a 300-doc
    bucket) yields the same pairs, the same forest and the same kept
    docs."""
    from ondine_spark.operators import dedup
    from ondine_spark.operators.dedup import (
        _lsh_bucket_edges,
        minhash_band_rows,
        minhash_signature,
    )

    batch = _mass_batch(spark, 300)
    rows = minhash_band_rows(
        minhash_signature(batch, "doc_id", "text", 16, 3), 16, 8
    ).persist()

    def edges(forest):
        return sorted(
            tuple(r) for r in _lsh_bucket_edges(
                rows, 16, 8, threshold=0.5, forest=forest
            ).collect()
        )

    wide = (edges(False), edges(True), _kept(spark, batch, None))
    monkeypatch.setattr(dedup, "_EQ_BYTES", 1)
    try:
        assert (edges(False), edges(True), _kept(spark, batch, None)) == wide
    finally:
        rows.unpersist()
    assert len(wide[0]) == 300 * 299 // 2
    assert wide[2][0] == {10, 1, 2, 500}


def test_micro_batch_job_count(spark, tmp_path):
    """Spark jobs per micro-batch, read from the status tracker under the
    stream's job group: a 3-file stream whose batches 2 and 3 check the
    signature store. Jobs are the fixed cost every micro-batch pays; a
    driver-size batch runs 5 without a store and 7 with one (the length
    collect that picks the path, the hash collect, the store check with
    its broadcast, the two writes, one of them with its broadcast)."""
    from ondine_spark.streaming.incremental_dedup import run_dedup_stream

    dirs = {k: str(tmp_path / k) for k in ("in", "out", "state", "ckpt")}
    _write(spark, dirs["in"], [(1, T1), (2, T2), (3, T1)])
    _write(spark, dirs["in"], [(4, T2), (5, T3), (6, T3)])
    _write(spark, dirs["in"], [(7, T3), (8, T1 + " more"), (9, "x y z w")])
    q = run_dedup_stream(
        spark,
        input_path=dirs["in"],
        schema=SCHEMA,
        id_col="doc_id",
        text_col="text",
        output_path=dirs["out"],
        state_dir=dirs["state"],
        checkpoint_location=dirs["ckpt"],
        threshold=0.5,
        timeout_s=120,
    )
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    batches = [p for p in q.recentProgress if p.numInputRows]
    jobs = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    kept = {r.doc_id for r in spark.read.parquet(dirs["out"]).collect()}
    assert kept == {1, 2, 5, 9}
    assert len(batches) == 3
    assert jobs <= 7 * len(batches), f"{jobs} jobs for {len(batches)} batches"


def test_streaming_matches_batch_near_dedup_100k(spark, tmp_path):
    """Round-5 verdict item 5: the STREAMING dedup's accepted set must
    equal the BATCH ``near_dedup`` survivor set on the same corpus when
    arrival order is ascending doc_id (first-seen == smallest-id).

    Scope pinned honestly: the two semantics agree only when duplicate
    relations are TRANSITIVE-closed per cluster (cliques). Batch
    near_dedup resolves connected components (A~B, B~C with A≁C keeps
    only A), while the stream compares each doc against ACCEPTED docs
    only (it would keep C). The corpus here is clique-structured by
    construction — exact-duplicate clusters, so every intra-cluster
    pair matches — which is exactly the regime where the cross-check is
    well-defined. 100K docs in five 20K batches; clusters span batch
    boundaries (the signature store must carry state across batches).
    """
    from pyspark.sql import functions as F

    from ondine_spark.operators.dedup import near_dedup

    dirs = {k: str(tmp_path / k) for k in ("in", "out", "state", "ckpt")}

    # 100K docs: each block of 4 ids holds one exact-dup PAIR spanning
    # ids (4k, 4k+1) and two singletons — and every 50th block's pair
    # text is reused by the NEXT block's pair too (a 4-doc cluster
    # crossing the 20K batch boundary when k % 5000 == 4999). Texts are
    # 12 md5-derived pseudo-words per cluster key: distinct clusters
    # share no shingles beyond chance.
    docs = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 < 2, (F.col("id") / 4).cast("long") * 10)
        .otherwise(F.col("id") * 10 + (F.col("id") % 4))
        .alias("_ckey"),
    )
    # merge pair-clusters of adjacent blocks where block % 50 == 49
    docs = docs.withColumn(
        "_ckey",
        F.when(
            (F.col("doc_id") % 4 < 2)
            & ((F.col("doc_id") / 4).cast("long") % 50 == 0)
            & (F.col("doc_id") >= 4),
            F.col("_ckey") - 10,
        ).otherwise(F.col("_ckey")),
    )
    docs = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            *[
                F.substring(
                    F.md5(F.concat(F.col("_ckey").cast("string"), F.lit(f"#{i}"))),
                    1, 8,
                )
                for i in range(12)
            ],
        ).alias("text"),
    ).persist()

    # five 20K files in ascending id order = streaming arrival order
    for b in range(5):
        (
            docs.where(
                (F.col("doc_id") >= b * 20_000)
                & (F.col("doc_id") < (b + 1) * 20_000)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(dirs["in"])
        )
        _run(spark, dirs)  # restart per batch: store must carry state

    streamed = {
        r.doc_id for r in spark.read.parquet(dirs["out"]).select("doc_id").collect()
    }
    batch = {
        r.doc_id
        for r in near_dedup(
            docs, "doc_id", "text", method="minhash",
            threshold=0.5, num_hashes=16, bands=8, ngram=3,
        ).select("doc_id").collect()
    }
    docs.unpersist()
    assert len(streamed) == len(batch)
    assert streamed == batch
