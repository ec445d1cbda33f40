"""Partitioning-invariance property tests for the pair-emitting kernels.

The 1000-executor correctness axis: every operator whose implementation
touches physical layout — sorted-partition streaming with Arrow-batch
carry-over (minhash_lsh_pairs), per-bucket numpy kernels
(embedding_neardup_pairs), first-band/first-block pair ownership
(minhash/simhash), posting-list joins (jaccard, winnowing), distributed
star-contraction (connected_components) — must produce the SAME result
set no matter how the input is partitioned. A kernel that silently
depends on rows-per-partition works on local[4] and corrupts output on a
real cluster, where partitioning is decided by file splits and AQE.

Method: run each operator over the same input at 1, 3, and 17 input
partitions (1 exercises the single-partition fast path, 17 is prime and
co-prime with the 8 shuffle partitions) and require set-identical
output. Groups spanning Arrow batches need more rows than a batch holds,
so ``test_groups_spanning_arrow_batches`` shrinks the batch to 2 rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ondine_spark.operators.dedup import (
    connected_components,
    embedding_neardup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    seed_centroids,
    semantic_dedup,
    semantic_dup_pairs,
    simhash_pairs,
    winnow_overlap_pairs,
)

PARTS = [1, 3, 17]


def _rows(df, cols, round_floats=None):
    out = []
    for r in df.select(*cols).collect():
        vals = []
        for c in cols:
            v = r[c]
            if round_floats and c in round_floats and v is not None:
                v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    # 500 base docs plus near-dup variants so every operator emits real
    # pairs; variants perturb the tail so jaccard/winnow/minhash all see
    # high-but-not-exact overlap
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dup = (
        base.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 10_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra tail words here")))
    )
    return base.unionByName(dup).select("doc_id", "text")


def _invariant(docs, run, cols, round_floats=None):
    results = []
    for p in PARTS:
        out = run(docs.repartition(p))
        results.append(_rows(out, cols, round_floats))
    assert results[0] == results[1] == results[2], (
        f"partitioning changed the result: sizes "
        f"{[len(r) for r in results]} at partitions {PARTS}"
    )
    assert results[0], "empty result — the invariance check saw no pairs"


def test_minhash_lsh_pairs_invariant(docs):
    _invariant(
        docs,
        lambda d: minhash_lsh_pairs(
            d, "doc_id", "text", num_hashes=8, bands=4, threshold=0.25
        ),
        ["a", "b", "est_jaccard"],
        round_floats={"est_jaccard"},
    )


def test_minhash_lsh_pairs_capped_invariant(docs):
    # capped mode takes the emit-from-every-bucket + dropDuplicates path
    _invariant(
        docs,
        lambda d: minhash_lsh_pairs(
            d, "doc_id", "text", num_hashes=8, bands=4, threshold=0.25,
            max_bucket_size=50,
        ),
        ["a", "b", "est_jaccard"],
        round_floats={"est_jaccard"},
    )


def test_jaccard_pairs_invariant(docs):
    _invariant(
        docs,
        lambda d: ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.3),
        ["a", "b", "jaccard"],
        round_floats={"jaccard"},
    )


def test_winnow_pairs_invariant(docs):
    _invariant(
        docs,
        lambda d: winnow_overlap_pairs(
            d, "doc_id", "text", k=8, w=4, min_shared=5, max_df=40
        ),
        ["a", "b", "shared"],
    )


def test_simhash_pairs_invariant(docs):
    _invariant(
        docs,
        lambda d: simhash_pairs(d, "doc_id", "text", max_hamming=10),
        ["a", "b", "hamming"],
    )


def _embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )


def test_embedding_neardup_invariant(spark, sf_dir):
    emb = _embeddings(spark, sf_dir)
    dup = emb.filter(F.col("vec_id") % 7 == 0).withColumn(
        "vec_id", F.col("vec_id") + 10_000
    )
    both = emb.unionByName(dup)
    _invariant(
        both,
        lambda d: embedding_neardup_pairs(
            d, "vec_id", "embedding", threshold=0.9, num_planes=4
        ),
        ["a", "b", "cos_sim"],
        round_floats={"cos_sim"},
    )


def _semantic(spark, sf_dir, run):
    emb = _embeddings(spark, sf_dir).filter(F.col("vec_id") < 200)
    return run(emb, seed_centroids(emb, "vec_id", "embedding", k=4))


# every kernel on the sorted-group pair driver, run at Arrow batches of 2
# rows so nearly every group spans a batch boundary and takes the carry
# path; (run, columns, float columns to round)
BATCH_CASES = {
    "jaccard_counting": (
        lambda spark, sf_dir, d: ngram_jaccard_pairs(
            d, "doc_id", "text", n=3, threshold=0.2
        ),
        ["a", "b", "jaccard"], {"jaccard"},
    ),
    "minhash_pairs": (
        lambda spark, sf_dir, d: minhash_lsh_pairs(
            d, "doc_id", "text", num_hashes=8, bands=4, threshold=0.25
        ),
        ["a", "b", "est_jaccard"], {"est_jaccard"},
    ),
    "minhash_connectivity_only": (
        lambda spark, sf_dir, d: minhash_lsh_pairs(
            d, "doc_id", "text", num_hashes=8, bands=4, threshold=0.25,
            connectivity_only=True,
        ),
        ["a", "b"], None,
    ),
    "minhash_max_bucket_size": (
        lambda spark, sf_dir, d: minhash_lsh_pairs(
            d, "doc_id", "text", num_hashes=8, bands=4, threshold=0.25,
            max_bucket_size=50,
        ),
        ["a", "b", "est_jaccard"], {"est_jaccard"},
    ),
    "winnow": (
        lambda spark, sf_dir, d: winnow_overlap_pairs(
            d, "doc_id", "text", k=8, w=4, min_shared=5, max_df=40
        ),
        ["a", "b", "shared"], None,
    ),
    "semantic_dup_pairs": (
        lambda spark, sf_dir, d: _semantic(
            spark, sf_dir,
            lambda e, c: semantic_dup_pairs(e, "vec_id", "embedding", c, 0.35),
        ),
        ["a", "b", "cell", "cos_sim"], {"cos_sim"},
    ),
    "semantic_dedup": (
        lambda spark, sf_dir, d: _semantic(
            spark, sf_dir,
            lambda e, c: semantic_dedup(e, "vec_id", "embedding", c, 0.35),
        ),
        ["vec_id"], None,
    ),
}


@pytest.mark.parametrize("case", sorted(BATCH_CASES))
def test_groups_spanning_arrow_batches(spark, sf_dir, docs, case):
    """Groups that span Arrow batches give the same rows as at the default
    batch size: the driver's carry-over is exact."""
    run, cols, floats = BATCH_CASES[case]
    small = docs.filter(F.col("doc_id") % 10_000 < 60)
    want = _rows(run(spark, sf_dir, small), cols, floats)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = _rows(run(spark, sf_dir, small), cols, floats)
    finally:
        spark.conf.set(key, old)
    assert got == want
    assert want, "empty result — the check saw no rows"


def test_connected_components_distributed_invariant(spark):
    # two chains + a star + singleton pair; driver_threshold=0 forces the
    # large-star/small-star distributed path
    edges = [(i, i + 1) for i in range(0, 40, 2)]
    edges += [(100, 100 + i) for i in range(1, 8)]
    edges += [(i, i + 2) for i in range(200, 240)]
    df = None
    for p in PARTS:
        e = (
            spark.createDataFrame(edges, ["a", "b"]).repartition(p)
        )
        out = connected_components(e, driver_threshold=0)
        rows = sorted((r.node, r.component) for r in out.collect())
        if df is None:
            df = rows
        else:
            assert rows == df, f"CC output changed at {p} partitions"
    # cross-check against the driver union-find path
    e = spark.createDataFrame(edges, ["a", "b"])
    drv = sorted(
        (r.node, r.component)
        for r in connected_components(e, driver_threshold=10**6).collect()
    )
    assert drv == df


def test_train_bpe_partition_invariant_sf1(spark):
    """Round-5 verdict item 7: BPE TRAINING determinism at sf1 scale.
    word_counts shuffles word TYPES; train_bpe collects the type table
    via toLocalIterator (arrival order = partition order) and must
    learn the IDENTICAL merge list at any partitioning — ties break on
    (count desc, pair lexicographic), never input order. Run the real
    trainer over the 50K-doc Heaps-vocabulary corpus at 1/3/17 input
    partitions and pin merges + a frozen-sample tokenization."""
    import os
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf1h = os.path.join(repo, "localdata", "sf1h")
    if not os.path.isdir(os.path.join(sf1h, "documents.parquet")):
        # generate on demand (~15 s, 37 MB): gen_scale_data is
        # deterministic, so the corpus is identical on every checkout.
        # Run in a subprocess — the generator builds its own local[32]
        # SparkSession, which must not collide with the test fixture's.
        subprocess.run(
            [_sys.executable, os.path.join(repo, "tools", "gen_scale_data.py"),
             "10", sf1h, "0.1", "heaps"],
            check=True, cwd=repo, capture_output=True, timeout=600,
        )
    from ondine_spark.operators.tokenizer import train_bpe, word_counts

    docs = spark.read.parquet(f"{sf1h}/documents.parquet")
    sample = [r["text"] for r in docs.orderBy("doc_id").limit(50).collect()]

    merge_tables, checksums = [], []
    for n in PARTS:
        tok = train_bpe(
            word_counts(docs.repartition(n), "text"),
            num_merges=200,
            min_count=1,
        )
        merge_tables.append(tok.merges)
        enc = [tuple(tok.encode(t)) for t in sample]
        checksums.append(hash(tuple(enc)))

    assert merge_tables[0] == merge_tables[1] == merge_tables[2]
    assert len(merge_tables[0]) == 200
    assert checksums[0] == checksums[1] == checksums[2]
