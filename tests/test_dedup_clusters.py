"""Connected-components cluster resolution (operators/dedup.py D6).

The Spark implementation is alternating large-star/small-star; the test
oracle is a plain union-find, on graph shapes that stress the algorithm
differently: a long path (worst case for label propagation, exercises the
O(log n) doubling), disjoint cliques (the typical near-dup shape), isolated
pairs, a reversed star, and a random multigraph.
"""

from __future__ import annotations

import random

import pytest

from ondine_spark.operators.dedup import (
    connected_components,
    dedup_keep_representative,
)


def _uf_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


_RNG = random.Random(7)
CASES = {
    "path": [(i, i + 1) for i in range(50)],
    "cliques": [
        (c * 10 + i, c * 10 + j)
        for c in range(5)
        for i in range(4)
        for j in range(i + 1, 4)
    ],
    "isolated_pairs": [(i, i + 1000) for i in range(0, 40, 2)],
    "reversed_star": [(100, i) for i in range(90, 99)],
    "random": [
        (_RNG.randint(0, 99), _RNG.randint(0, 99)) for _ in range(120)
    ],
}


@pytest.mark.parametrize("driver_threshold", [1_000_000, 0],
                         ids=["driver-unionfind", "distributed-stars"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_components_match_union_find(spark, case, driver_threshold):
    edges = [(a, b) for a, b in CASES[case] if a != b]
    df = spark.createDataFrame(edges, "a: long, b: long")
    got = {
        (r.node, r.component)
        for r in connected_components(
            df, driver_threshold=driver_threshold
        ).collect()
    }
    assert got == set(_uf_components(edges).items())


def test_keep_representative_drops_all_but_cluster_min(spark):
    docs = spark.range(200).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "a: long, b: long"
    )
    kept = dedup_keep_representative(docs, "doc_id", pairs)
    assert {r.doc_id for r in kept.collect()} == {0} | set(range(51, 200))


def test_keep_representative_by_score(spark):
    """keep_by picks the cluster's best-scoring row; ties -> larger id."""
    from pyspark.sql import functions as F

    docs = spark.range(10).select(
        F.col("id").alias("doc_id"),
        # cluster {0,1,2}: scores 5,9,9 -> keep 2 (tie to larger id)
        # cluster {5,6}:   scores 7,3  -> keep 5
        F.when(F.col("id") == 0, 5)
        .when(F.col("id").isin(1, 2), 9)
        .when(F.col("id") == 5, 7)
        .otherwise(3)
        .alias("score"),
    )
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "a: long, b: long")
    kept = dedup_keep_representative(
        docs, "doc_id", pairs, keep_by="score"
    )
    assert {r.doc_id for r in kept.collect()} == {2, 5, 3, 4, 7, 8, 9}


def test_keep_reps_no_forced_broadcast(spark):
    """SCALE.md claims the final drop-set anti-join falls back to a shuffle
    join automatically: with broadcasting disabled (simulating a drop set
    over autoBroadcastJoinThreshold — billions of rows at 100 TB) the
    physical plan must be a SortMergeJoin LeftAnti, i.e. no F.broadcast
    hint survives to force an executor-OOM broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.range(200).withColumnRenamed("id", "doc_id")
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(50)], "a: long, b: long"
        )
        kept = dedup_keep_representative(docs, "doc_id", pairs)
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        assert "SortMergeJoin LeftAnti" in plan or "LeftAnti" in plan, plan
        # and the answer is unchanged under the shuffled strategy
        assert {r.doc_id for r in kept.collect()} == {0} | set(range(51, 200))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_empty_pair_set(spark):
    pairs = spark.createDataFrame([], "a: long, b: long")
    assert connected_components(pairs).count() == 0


@pytest.mark.parametrize("driver_threshold", [1_000_000, 0],
                         ids=["driver-unionfind", "distributed-stars"])
def test_components_string_ids(spark, driver_threshold):
    """Non-integer node ids: the component is the smallest id in Spark's
    string order (UTF-8 bytes, the same order as Python's code points)."""
    edges = [("b", "c"), ("c", "ä"), ("é", "a"), ("x", "y"), ("z", "y")]
    df = spark.createDataFrame(edges, "a: string, b: string")
    got = {
        (r.node, r.component)
        for r in connected_components(
            df, driver_threshold=driver_threshold
        ).collect()
    }
    assert got == set(_uf_components(edges).items())


def test_near_dedup_end_to_end(spark):
    from ondine_spark.operators.dedup import near_dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again", 5),
        (2, "the quick brown fox jumps over the lazy dog again and again!", 9),
        (3, "a completely different document about spark shuffles and joins", 1),
        (4, "short text", 2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, score long")

    kept = near_dedup(df, "doc_id", "text", method="jaccard", threshold=0.5)
    ids = {r.doc_id for r in kept.collect()}
    assert ids == {1, 3, 4}  # 2 collapses into 1 (min-id representative)

    best = near_dedup(
        df, "doc_id", "text", method="jaccard", threshold=0.5, keep_by="score"
    )
    assert {r.doc_id for r in best.collect()} == {2, 3, 4}

    mh = near_dedup(df, "doc_id", "text", method="minhash", threshold=0.5)
    assert {r.doc_id for r in mh.collect()} == {1, 3, 4}

    with pytest.raises(ValueError):
        near_dedup(df, "doc_id", "text", method="nope")


# ---------------------------------------------- SemDeDup-style semantic dedup

def _unit(*xs):
    import math

    n = math.sqrt(sum(x * x for x in xs))
    return [x / n for x in xs]


def test_seed_centroids_deterministic_hash_order(spark):
    import hashlib

    from ondine_spark.operators.dedup import seed_centroids

    rows = [(i, _unit(float(i + 1), 1.0, 0.0)) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = seed_centroids(df, "vec_id", "embedding", k=4)
    want_order = sorted(
        range(20), key=lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
    )[:4]
    assert cents == [rows[i][1] for i in want_order]


def test_semantic_dup_pairs_and_dedup(spark):
    from ondine_spark.operators.dedup import (
        _semantic_cell_edges,
        semantic_dedup,
        semantic_dup_pairs,
    )

    # two tight semantic groups around orthogonal directions + one loner;
    # centroids = the group axes, so assignment is unambiguous
    g1 = [_unit(1.0, 0.01 * i, 0.0) for i in range(3)]     # ids 0,1,2
    g2 = [_unit(0.0, 1.0, 0.01 * i) for i in range(2)]     # ids 3,4
    loner = [_unit(1.0, 1.0, 1.0)]                          # id 5
    k = 40
    same = [_unit(0.0, 0.0, 1.0)] * k                       # ids 6..45
    vecs = g1 + g2 + loner + same
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    pairs = semantic_dup_pairs(df, "vec_id", "embedding", cents, threshold=0.99)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    cell = set(range(6, 6 + k))
    assert got == {(0, 1), (0, 2), (1, 2), (3, 4)} | {
        (a, b) for a in cell for b in cell if a < b
    }
    # semantic_dedup's input to connected_components: star edges, at most
    # k−1 for the k-vector cell, all rooted at its minimum id
    edges = [
        (r["a"], r["b"])
        for r in _semantic_cell_edges(
            df, "vec_id", "embedding", cents, 0.99, forest=True
        ).collect()
        if r["b"] in cell
    ]
    assert 1 <= len(edges) <= k - 1
    assert {a for a, _ in edges} == {6}
    # cross-group pairs can never appear even at threshold 0 (different cells)
    all_pairs = semantic_dup_pairs(df, "vec_id", "embedding", cents, threshold=-1.0)
    assert all(
        not ({r["a"], r["b"]} & {0, 1, 2}) or not ({r["a"], r["b"]} & {3, 4})
        for r in all_pairs.collect()
    )
    kept = semantic_dedup(df, "vec_id", "embedding", cents, threshold=0.99)
    assert sorted(r["vec_id"] for r in kept.collect()) == [0, 3, 5, 6]


def test_keep_representative_precomputed_components(spark):
    """Passing a precomputed CC frame applies the same policy without
    re-resolving the pair graph (multi-policy reuse path)."""
    from pyspark.sql import functions as F

    docs = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 0, 5)
        .when(F.col("id").isin(1, 2), 9)
        .when(F.col("id") == 5, 7)
        .otherwise(3)
        .alias("score"),
    )
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "a: long, b: long")
    comp = connected_components(pairs).persist()
    try:
        minid = dedup_keep_representative(docs, "doc_id", None, components=comp)
        best = dedup_keep_representative(
            docs, "doc_id", None, keep_by="score", components=comp
        )
        assert {r.doc_id for r in minid.collect()} == {
            r.doc_id for r in dedup_keep_representative(docs, "doc_id", pairs).collect()
        }
        assert {r.doc_id for r in best.collect()} == {2, 5, 3, 4, 7, 8, 9}
    finally:
        comp.unpersist()


def test_lsh_bucket_occupancy_cap(spark):
    """max_bucket_size skips hot buckets (bounded work, documented recall
    trade) while pairs recoverable from surviving buckets remain, deduped
    across bands."""
    from ondine_spark.operators.dedup import minhash_lsh_pairs

    # 30 near-identical docs (one hot bucket per band) + 2 distinct near-dups
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog number {}".format(i % 2))
         for i in range(30)]
        + [(100, "completely different text about cooking fresh pasta daily"),
           (101, "completely different text about cooking fresh pasta weekly")],
        "doc_id long, text string",
    )
    exact = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=8, bands=4,
                              threshold=0.25)
    capped = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=8, bands=4,
                               threshold=0.25, max_bucket_size=10)
    n_exact, n_capped = exact.count(), capped.count()
    assert n_capped < n_exact  # hot-cluster pairs dropped by the guard
    # the small pair (100, 101) lives in sub-cap buckets and survives
    assert capped.filter("a = 100 and b = 101").count() == 1
    # capped output is still unique per pair
    assert capped.count() == capped.dropDuplicates(["a", "b"]).count()


def test_connectivity_only_components_identical(spark):
    """r9: star-forest pair emission (connectivity_only=True) must yield
    EXACTLY the same connected components as the full pair set — on a
    corpus with repeated near-dup groups whose docs share several LSH
    buckets, plus unique docs and cross-group chains."""
    import random as _r

    from ondine_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    rng = _r.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = []
    did = 0
    # 6 duplication groups of size 2..12 (big groups make dense buckets)
    for g in range(6):
        base = " ".join(rng.choices(words, k=30))
        for _ in range(2 + 2 * g):
            text = base if rng.random() < 0.6 else base + " " + rng.choice(words)
            rows.append((did, text))
            did += 1
    for _ in range(25):  # unique tail
        rows.append((did, " ".join(rng.choices(words, k=12)) + f" uniq{did}"))
        did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=8, bands=4, threshold=0.2)
    full = minhash_lsh_pairs(df, "doc_id", "text", **kw)
    forest = minhash_lsh_pairs(df, "doc_id", "text", connectivity_only=True, **kw)
    assert forest.columns == ["a", "b"]
    # the forest is never larger than the pair set
    n_full, n_forest = full.count(), forest.count()
    assert n_forest <= n_full
    cc_full = {
        (r.node, r.component)
        for r in connected_components(full).collect()
    }
    cc_forest = {
        (r.node, r.component)
        for r in connected_components(forest).collect()
    }
    assert cc_full == cc_forest
    assert len(cc_full) > 10  # the case actually exercised clustering
