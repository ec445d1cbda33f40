"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference surface (SURVEY.md §7 phase 6): exact, n-gram Jaccard,
MinHash+LSH, SimHash, and embedding-cosine near-dup — the standard corpus
cleaning toolkit, each designed for 100 TB scale:

- exact: hash-groupBy, fully map-side combinable.
- n-gram Jaccard: inverted-index join on shingles (never a cross join);
  frequent-shingle cap bounds the candidate blowup on hot shingles.
- MinHash+LSH: signature → bands → per-bucket numpy verify (no self-join).
  Hashes are md5-based (portable — the DuckDB oracle replays them exactly).
- SimHash: 64-bit signature; Hamming-≤k pairs found by the 4-block
  pigeonhole trick (block-equality join), not pairwise comparison.
- embedding near-dup: random-hyperplane LSH buckets → cosine verify.

The grouped pair kernels (counting Jaccard, LSH buckets, winnowing,
semantic cells) run on ONE sorted-group driver, :func:`_sorted_group_pairs`:
shuffle on the group key, sort locally, stream the sorted partition
through numpy with groups carried across Arrow batches and a group-size
cap; each operator supplies only its per-group body. The driver emits in
one of two modes: ``pairs`` — (min id, max id, extras…) rows, the
product of the pair operators — or ``forest`` — union-find star edges, at
most k−1 per k-row group, for consumers that only cluster (LSH
``connectivity_only``, streaming dedup, ``semantic_dedup``).
Simhash pairs stay a block-equality self-join.

All shuffles are on compact keys (hashes/buckets); every operator ends in
a pair list, a star forest, or a keep-set join.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ondine_spark.core.partitioning import spread_small
from ondine_spark.functions.similarity import (
    cosine,
    cosine_arrow,
    finite_vector,
    md5_long,
    seeded_md5_long,
    word_ngrams,
)

# ---------------------------------------------------------------- exact (D1)

def exact_dedup(
    df: DataFrame, key_cols: list[str], order_col: str, keep: str = "min"
) -> DataFrame:
    """Keep one row per key (min/max of ``order_col`` — deterministic).
    groupBy+join rather than a window: the aggregate is map-side
    combinable, so the shuffle carries one row per key, not per input row.
    """
    agg = F.min(order_col) if keep == "min" else F.max(order_col)
    keep_ids = df.groupBy(*key_cols).agg(agg.alias(order_col))
    return df.join(keep_ids, on=key_cols + [order_col], how="left_semi")


# ------------------------------------------ sorted-group pair driver

_COS_BLOCK = 2048  # gram-product rows per block: peak memory 2048 × n doubles


def _min_hook_union(parent, cu, cv):
    """Merge the edges (cu, cv) into the union-find array ``parent`` by
    vectorized min-hooking + full shortcutting; converges in O(log n)
    rounds, each numpy-vectorized over all edges. At the fixpoint every
    edge has parent[u] == parent[v] and parent is idempotent, so labels
    are constant per component, and the component's minimum node can
    never be hooked lower, so that constant is the minimum — the dict
    union-find's answer (cross-checked in tests/test_dedup_clusters.py).
    Union is order-independent, so edges may arrive in blocks that update
    ``parent`` incrementally."""
    import numpy as np

    while True:
        pu, pv = parent[cu], parent[cv]
        before = parent.copy()
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
        if np.array_equal(parent, before):
            return parent


def _cosine_blocks(X, thr: float):
    """Yield ``(ii, jj, cos)`` for every row pair ii < jj of ``X`` with
    cosine ≥ ``thr``: one normalized BLAS gram product per row block
    (cos(a,b) = (a/|a|)·(b/|b|)). The per-pair elementwise form
    ((x*y).sum(axis=1), what ``cosine_arrow`` does) materializes
    pairs × dim temporaries; the gram product is O(n · dim) reads into a
    dense matmul (measured 1.3 s → 0.01 s on 252K pairs at sf0.1). Values
    agree with ``cosine_arrow`` to ~1 ulp (same float64 dot, different
    summation order). A zero-norm row keeps cosine 0.0 exactly (its
    normalized row is 0)."""
    import numpy as np

    nrm = np.sqrt((X * X).sum(axis=1))
    Xn = X / np.where(nrm == 0.0, 1.0, nrm)[:, None]
    for i0 in range(0, len(X) - 1, _COS_BLOCK):
        G = Xn[i0 : i0 + _COS_BLOCK] @ Xn.T
        bi, bj = np.nonzero(G >= thr)
        keep = bj > bi + i0  # upper triangle only (j > global i)
        bi, bj = bi[keep], bj[keep]
        yield bi + i0, bj, G[bi, bj]


def _sorted_group_kernel(keys, body, names, max_group, forest, matrix):
    """The streaming numpy pass of :func:`_sorted_group_pairs`, as a
    generator over pandas frames sorted on its keys (then its order):
    ``mapInPandas`` runs it per partition, and streaming dedup runs it
    on the driver over one sorted frame. ``names`` are the pair-mode
    extras columns; the other arguments are the driver's."""
    import numpy as np
    import pandas as pd

    cap = max_group if max_group is not None else 1 << 62

    def flush(pdf: pd.DataFrame, starts, end: int):
        size = np.r_[starts[1:], end] - starts
        ok = (size >= 2) & (size <= cap)
        starts, size = starts[ok], size[ok]
        if not len(size):
            return None
        # gather the kept groups' rows once, contiguous per group
        offset = starts - (np.cumsum(size) - size)
        take = np.arange(size.sum()) + np.repeat(offset, size)
        cols = {c: pdf[c].to_numpy()[take] for c in pdf.columns}
        if matrix is not None:
            cols[matrix[0]] = np.array(cols[matrix[0]].tolist(), dtype=matrix[1])
        outs: list = []
        lo = 0
        for k in size.tolist():
            g = {c: v[lo : lo + k] for c, v in cols.items()}
            if forest:
                parent = np.arange(k, dtype=np.int64)
                for ii, jj, _ in body(g):
                    if len(ii):
                        parent = _min_hook_union(parent, ii, jj)
                node = np.flatnonzero(parent != np.arange(k))
                if len(node):
                    outs.append((lo + parent[node], lo + node, ()))
            else:
                for ii, jj, ex in body(g):
                    if len(ii):
                        outs.append((lo + ii, lo + jj, ex))
            lo += k
        if not outs:
            return None
        ids = cols["_id"]
        a = ids[np.concatenate([o[0] for o in outs])]
        b = ids[np.concatenate([o[1] for o in outs])]
        out = {"a": np.minimum(a, b), "b": np.maximum(a, b)}
        for i, name in enumerate(names):
            out[name] = np.concatenate([o[2][i] for o in outs])
        return pd.DataFrame(out)

    def gen(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            new = np.zeros(len(pdf), dtype=bool)
            new[0] = True
            for key in keys:
                v = pdf[key].to_numpy()
                new[1:] |= v[1:] != v[:-1]
            starts = np.flatnonzero(new)
            # the last group may continue in the next batch
            carry = pdf.iloc[starts[-1] :]
            out = flush(pdf, starts[:-1], int(starts[-1]))
            if out is not None:
                yield out
        if carry is not None and len(carry):
            out = flush(carry, np.array([0]), len(carry))
            if out is not None:
                yield out

    return gen


def _sorted_group_pairs(
    rows: DataFrame,
    keys: list[str],
    order: list[str],
    body,
    extras: str = "",
    max_group: int | None = None,
    forest: bool = False,
    matrix: tuple[str, str] | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """The one pair driver behind every grouped pair kernel (counting
    jaccard, LSH buckets, winnowing, semantic cells): ONE shuffle on
    ``keys``, a local sort on ``keys + order``, and one streaming numpy
    pass over each sorted partition (``mapInPandas`` of
    :func:`_sorted_group_kernel`).

    ``rows`` carries an ``_id`` column; ``partitions`` fixes the task
    count of the shuffle (default: the session's shuffle partitions).
    Group boundaries come from vectorized compares of the key columns; a
    group spanning Arrow batches is carried over to the next batch inside
    the partition iterator. Groups of size < 2 or over ``max_group`` (the operator's
    stop-shingle / stop-gram / bucket-occupancy cap: a group's length in
    the sorted partition IS its key's frequency) are dropped with numpy
    before any per-group Python call; the surviving rows are compacted
    once per flushed batch, and the array column ``matrix = (column,
    dtype)`` becomes one numpy matrix then — never once per group.
    Per-group work is plain array slicing, so 150K tiny groups cost
    microseconds each (a groupBy().applyInPandas variant paid ~0.2 ms of
    pandas machinery PER GROUP — 5-16x slower at sf0.1).

    ``body(g)`` gets one group as a dict column → numpy slice (the matrix
    under its column name) and yields blocks ``(ii, jj, extras)``: group
    positions of detected pairs plus output arrays matching the
    ``extras`` schema. Pair mode emits ``(a, b, extras…)`` with
    a = min id, b = max id. ``forest`` mode feeds every block to
    :func:`_min_hook_union` and emits only the group's (root, node) star
    edges — at most k−1 rows per k-row group, ``(a, b)`` only, with the
    same connected components as the pairs. Only consumers that cluster
    the pairs may use it: a pair score summed ACROSS groups (jaccard's
    common-shingle count, winnowing's shared count) needs every pair.
    """
    id_type = dict(rows.dtypes)["_id"]
    schema = f"a {id_type}, b {id_type}"
    names = []
    if extras and not forest:
        schema += ", " + extras
        names = [f.split()[0] for f in extras.split(",")]
    parts = (partitions,) if partitions else ()
    return (
        rows.repartition(*parts, *keys)
        .sortWithinPartitions(*keys, *order)
        .mapInPandas(
            _sorted_group_kernel(
                keys, body, names, max_group=max_group, forest=forest,
                matrix=matrix,
            ),
            schema=schema,
        )
    )


# ------------------------------------------------- n-gram Jaccard pairs (D2)

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """All pairs (a < b) with word-n-gram Jaccard ≥ threshold.

    Inverted-index plan: explode distinct shingles → (optionally drop
    shingles appearing in > max_shingle_freq docs — stop-shingles produce
    quadratic candidates and almost never decide a pair) → self-join on
    shingle → count common shingles per pair → Jaccard from set sizes.
    Output: a, b, jaccard.
    """
    df = spread_small(df)
    grams = df.select(
        F.col(id_col).alias("_id"), word_ngrams(F.col(text_col), n).alias("_g")
    ).withColumn("_size", F.size("_g"))
    posting = grams.select(
        "_id", "_size", F.explode("_g").alias("_shingle")
    )
    if threshold < 0.25:
        # low threshold: the prefix is nearly the whole set, so prefix
        # filtering prunes nothing and its verify join only adds cost —
        # count common shingles directly from the full postings
        return _jaccard_by_counting(posting, threshold, max_shingle_freq)
    # persist: grams feeds BOTH candidate generation and the verify join —
    # without it the shingle explode (the expensive scan) runs three times
    grams = grams.persist()

    # PREFIX FILTERING (lossless, SSJoin literature): two sets with
    # Jaccard ≥ t must share at least one of each other's
    # (|S| - ceil(t·|S|) + 1) RAREST shingles. Only those prefix shingles
    # generate candidates — hot stop-shingles fall outside every prefix, so
    # the quadratic blowup on common phrases disappears while the result
    # set stays EXACT (candidates are verified against the full sets).
    freq = posting.groupBy("_shingle").agg(F.count(F.lit(1)).alias("_df"))
    if max_shingle_freq is not None:
        # optional approximation knob kept from the previous plan: ignore
        # shingles appearing in more docs than the cap entirely
        freq = freq.filter(F.col("_df") <= max_shingle_freq)
    size_agg = F.first("_size")
    prefix_len = (
        size_agg - F.ceil(F.lit(threshold) * size_agg) + 1
    ).cast("int")
    ranked = (
        posting.join(freq, on="_shingle")
        .groupBy("_id")
        .agg(
            F.first("_size").alias("_size"),
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("_df", "_shingle"))
                ),
                1,
                F.greatest(prefix_len, F.lit(1)),
            ).alias("_prefix"),
        )
    )
    # doc lists sorted by size → the length filter (lossless:
    # jaccard ≤ min/max sizes, so require min ≥ t·max) runs inside the
    # pair lambda and pruned candidates never materialize
    members = (
        ranked.select(
            F.struct(F.col("_size"), F.col("_id")).alias("_doc"),
            F.explode("_prefix").alias("_ps"),
        )
        .groupBy(F.col("_ps._shingle").alias("_shingle"))
        .agg(F.sort_array(F.collect_list("_doc")).alias("_docs"))
    )
    pairs = F.flatten(
        F.transform(
            "_docs",
            lambda x, i: F.transform(
                F.filter(
                    F.slice(
                        F.col("_docs"), i + 2,
                        F.greatest(F.size("_docs") - i - 1, F.lit(0)),
                    ),
                    lambda y: x["_size"] >= F.lit(threshold) * y["_size"],
                ),
                lambda y: F.struct(
                    F.least(x["_id"], y["_id"]).alias("a"),
                    F.greatest(x["_id"], y["_id"]).alias("b"),
                    (x["_size"] + y["_size"]).alias("_ss"),
                ),
            ),
        )
    )
    cand = (
        members.select(F.explode(pairs).alias("_p"))
        .select("_p.a", "_p.b", "_p._ss")
        .dropDuplicates(["a", "b"])
    )
    # exact verify on the candidate set only
    ga = grams.select(F.col("_id").alias("a"), F.col("_g").alias("_ga"))
    gb = grams.select(F.col("_id").alias("b"), F.col("_g").alias("_gb"))
    common = (
        cand.join(ga, on="a")
        .join(gb, on="b")
        .withColumn("_common", F.size(F.array_intersect("_ga", "_gb")))
    )
    return _jaccard_verify(common, threshold)


def _jaccard_verify(common: DataFrame, threshold: float) -> DataFrame:
    """The verify tail both Jaccard plans share: ``jaccard = |A∩B| /
    (|A|+|B| − |A∩B|)`` from the pair's common count and size sum, then
    the threshold. Output: a, b, jaccard."""
    return (
        common.withColumn(
            "jaccard",
            F.col("_common") / (F.col("_ss") - F.col("_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _jaccard_by_counting(
    posting: DataFrame, threshold: float, max_shingle_freq: int | None
) -> DataFrame:
    """Count-based exact plan: single scan, pair commons counted from the
    postings themselves (the doc's set size travels WITH each posting row,
    so no joins back to the input).

    Length filter (lossless): jaccard(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so
    any pair with min < t·max can be dropped BEFORE it reaches the pair
    shuffle. Doc lists are size-sorted so the filter applies during pair
    generation — pruned pairs are never materialized. The symmetric
    formula needs only |A|+|B|, so each pair carries one size-sum field.

    Pair generation is :func:`_sorted_group_pairs` over shingle groups
    (ordered by size, so the length filter is one comparison per pair);
    the original nested higher-order-function expression was interpreted
    per element, which a capped 1,000-doc stop-shingle turned into 500K
    interpreted pair expansions.

    The ``max_shingle_freq`` cap is the driver's group cap (r8): a
    group's size within the shingle-sorted partition IS the shingle's
    document frequency. The previous pre-filter (``groupBy(_shingle)
    .count`` + join back) re-evaluated the shingle explode — the
    expensive CPU stage — a second time and added two exchanges for the
    same result set; a capped group is now skipped after a local sort,
    never expanded to pairs.
    """
    import numpy as np

    thr = float(threshold)

    def shingle_pairs(g):
        sz = g["_size"].astype(np.int64)
        # sorted by (_shingle, _size): position i<j => size i<=j, so the
        # lossless length filter is min >= t*max
        ii, jj = np.nonzero(sz[:, None] >= thr * sz[None, :])
        m = ii < jj
        ii, jj = ii[m], jj[m]
        yield ii, jj, (sz[ii] + sz[jj],)

    common = (
        _sorted_group_pairs(
            posting, ["_shingle"], ["_size", "_id"], shingle_pairs,
            extras="_ss long", max_group=max_shingle_freq,
        )
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("_common"),
            F.first("_ss").alias("_ss"),
        )
    )
    return _jaccard_verify(common, threshold)


# ------------------------------------------------------- MinHash + LSH (D3)

MINHASH_PRIME = (1 << 61) - 1  # Mersenne prime, shared with the oracle SQL
_MASK31 = (1 << 31) - 1
_MASK30 = (1 << 30) - 1


def minhash_coeffs(i: int) -> tuple[int, int]:
    """Deterministic per-permutation affine coefficients (a_i, b_i) for
    h_i(s) = (a_i·h(s) + b_i) mod (2⁶¹−1) — md5-derived so Spark and the
    DuckDB oracle inline the SAME constants."""
    import hashlib

    a = int.from_bytes(
        hashlib.md5(f"mh:a:{i}".encode()).digest()[:8], "big"
    ) % (MINHASH_PRIME - 1) + 1
    b = int.from_bytes(
        hashlib.md5(f"mh:b:{i}".encode()).digest()[:8], "big"
    ) % MINHASH_PRIME
    return a, b


def _cw_hash_expr(hh, hl, i: int):
    """(a_i·h + b_i) mod (2⁶¹−1) over the base hash's 31-bit limbs
    (h = hh·2³¹ + hl, h < 2⁶⁰), in pure bigint arithmetic — Spark has no
    int128, so the 61×60-bit product folds via 2⁶¹ ≡ 1 (mod p):
    a·h = a_hi·h_hi·2⁶² + (a_hi·h_lo + a_lo·h_hi)·2³¹ + a_lo·h_lo
        ≡ 2·a_hi·h_hi + cross_hi + cross_lo·2³¹ + a_lo·h_lo
    where cross = cross_hi·2³⁰ + cross_lo (2³⁰·2³¹ = 2⁶¹ ≡ 1). Every
    intermediate stays under 2⁶³ (worst sum < 1.75·2⁶²). The oracle
    computes the same value directly with HUGEINT."""
    a, b = minhash_coeffs(i)
    a_hi, a_lo = a >> 31, a & _MASK31
    term1 = F.lit(2 * a_hi) * hh  # a_hi < 2³⁰, hh < 2²⁹ → < 2⁶⁰
    cross = F.lit(a_hi) * hl + F.lit(a_lo) * hh  # < 2⁶²
    c_hi = F.shiftright(cross, 30)
    c_lo = cross.bitwiseAND(F.lit(_MASK30))
    term3 = F.lit(a_lo) * hl  # < 2⁶²
    s = (term1 + c_hi + c_lo * F.lit(1 << 31) + term3) % F.lit(MINHASH_PRIME)
    return (s + F.lit(b)) % F.lit(MINHASH_PRIME)


def _minhash_sig_kernel(num_hashes: int):
    """Arrow-batch kernel: per row, ``sig[i] = min over base hashes of
    (a_i·h + b_i) mod (2⁶¹−1)`` — the exact int64 limb arithmetic of
    :func:`_cw_hash_expr`, vectorized over the batch's flattened hash
    values with one ``np.minimum.reduceat`` per permutation. Rows with a
    null/empty hash array are dropped (same contract as the expression
    form's ``sig[0] IS NOT NULL`` filter)."""
    coeffs = [minhash_coeffs(i) for i in range(num_hashes)]

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            arrs, keep = [], []
            for idx, a in enumerate(pdf["_hs"].values):
                if a is None:
                    continue
                arr = np.asarray(a, dtype=np.int64)
                if arr.size:
                    arrs.append(arr)
                    keep.append(idx)
            if not arrs:
                yield pd.DataFrame(
                    {"_id": pdf["_id"].iloc[:0],
                     "sig": pd.Series([], dtype=object)}
                )
                continue
            lens = np.array([len(a) for a in arrs])
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            v = np.concatenate(arrs)
            hh = v >> 31
            hl = v & _MASK31
            sigs = np.empty((num_hashes, len(arrs)), dtype=np.int64)
            for i, (a, b) in enumerate(coeffs):
                a_hi, a_lo = a >> 31, a & _MASK31
                cross = a_hi * hl + a_lo * hh
                s = (
                    2 * a_hi * hh
                    + (cross >> 30)
                    + ((cross & _MASK30) << 31)
                    + a_lo * hl
                ) % MINHASH_PRIME
                sigs[i] = np.minimum.reduceat((s + b) % MINHASH_PRIME, starts)
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].iloc[keep].reset_index(drop=True),
                    "sig": [sigs[:, j].tolist() for j in range(len(arrs))],
                }
            )

    return gen


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 32, ngram: int = 3
) -> DataFrame:
    """Per-doc MinHash signature, datasketch-style: ONE md5 per shingle
    gives the 60-bit base hash h(s); permutation i is the affine map
    h_i(s) = (a_i·h(s) + b_i) mod (2⁶¹−1) with fixed md5-derived
    coefficients — independent permutations across i (a correlated
    variant sharing per-shingle randomness across i was measured to
    inflate est_jaccard badly: 86% of emitted pairs below true
    jaccard 0.05). The DuckDB oracle replays h(s) from the same md5
    substring and the affine map with HUGEINT.

    Split across the JVM/Arrow boundary by what each side is good at
    (r8): shingling and the per-shingle md5 stay JVM expressions
    (measured ~0.33 s at sf0.1 — string work inside codegen), while the
    ``num_hashes`` affine maps + mins run as ONE vectorized Arrow kernel
    over the flattened base-hash arrays (:func:`_minhash_sig_kernel`,
    bit-identical int64 limb math). The previous all-expression form
    paid ~15 interpreted Catalyst nodes × num_hashes per shingle inside
    nested higher-order lambdas — 2.68 s at sf0.1 vs 0.33 s for
    everything up to the base hashes; the kernel does the same
    arithmetic at numpy speed. Only (_id, array<bigint>) crosses the
    boundary — the text and shingle strings never leave the JVM.

    ZERO algorithmic shuffles either way. Output: id, sig
    array<bigint>; docs with no shingles are excluded.
    """
    base = spread_small(df).select(
        F.col(id_col).alias("_id"), _shingle_hashes(text_col, ngram).alias("_hs")
    )
    return _minhash_sig_rows(base, num_hashes)


def _shingle_hashes(text_col: str, ngram: int):
    """The base hashes of :func:`minhash_signature`: ``md5_long`` of each
    distinct word n-gram of ``text_col`` (array<bigint>, empty for a doc
    with fewer than ``ngram`` words)."""
    return F.transform(word_ngrams(F.col(text_col), ngram), lambda s: md5_long(s))


def _minhash_sig_rows(base: DataFrame, num_hashes: int) -> DataFrame:
    """:func:`_minhash_sig_kernel` over ``base`` = (``_id``, ``_hs`` base
    hashes) as it is partitioned: one Python task per input partition
    (callers size the partitioning)."""
    return base.mapInPandas(
        _minhash_sig_kernel(num_hashes),
        f"_id {dict(base.dtypes)['_id']}, sig array<bigint>",
    )


def minhash_band_rows(
    sig: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Explode signatures into LSH band rows (_id, sig, band, key): one row
    per band, key = the band's signature slice joined as a string. Shared
    by batch pair-finding and the streaming signature store."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    # one SQL projection: inline() yields (band, key) as columns, and one
    # expression string is one parse instead of bands × r Column objects
    # built over py4j per call
    structs = ", ".join(
        f"named_struct('band', {i}, 'key', concat_ws(',', "
        + ", ".join(f"CAST(sig[{i * r + j}] AS STRING)" for j in range(r))
        + "))"
        for i in range(bands)
    )
    return sig.selectExpr("_id", "sig", f"inline(array({structs}))")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 3,
    threshold: float | None = None,
    max_bucket_size: int | None = None,
    connectivity_only: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding; optionally verify with the
    MinHash Jaccard estimate (matching rows of the signature).

    bands must divide num_hashes; rows-per-band r = num_hashes/bands gives
    the usual S-curve (collision prob = 1-(1-s^r)^b).
    Output: a, b, est_jaccard (signature agreement rate).

    ``connectivity_only`` (r9, guide §2.3 — shuffle decisions, not
    payloads): for consumers that only CLUSTER the pairs (connected
    components, near-dedup keep), the full pair set is massively
    redundant — a mass-duplicated corpus emits O(k²) pairs per k-doc
    bucket, all of which collapse into one component anyway (measured:
    50K docs → 11.4M pairs at the sf1h heaps corpus, pushing CC onto
    the distributed star path). In this mode the SAME pair detection
    feeds a bucket-local union-find and only a star forest per
    bucket-component is emitted — O(k) rows, ``(a, b)`` with no
    ``est_jaccard``. The union of per-bucket forests preserves each
    bucket subgraph's connectivity, and the pair graph is exactly the
    union of bucket subgraphs, so connected_components over the forest
    is IDENTICAL to connected_components over the full pair set
    (pinned by tests/test_dedup_clusters.py).

    ``max_bucket_size`` is the occupancy guard (SCALE.md sf10 lesson:
    pair enumeration is linear in rows + true pairs ONLY while bucket
    occupancy stays bounded): a (band, key) bucket larger than the cap is
    skipped entirely — an explicit recall-for-bound trade, the banding
    analog of jaccard's ``max_shingle_freq`` stop-shingles. A bucket that
    hot means either mass duplication (run exact/minhash DEDUP first —
    ``near_dedup`` composes them in that order) or a saturated signature
    space (raise num_hashes/bands). Default None = exact enumeration.
    """
    sig = minhash_signature(df, id_col, text_col, num_hashes, ngram)
    return _lsh_bucket_edges(
        minhash_band_rows(sig, num_hashes, bands),
        num_hashes,
        bands,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
        forest=connectivity_only,
    )


# bools one bucket-kernel compare block may allocate: block rows × k × num_hashes
_EQ_BYTES = 1 << 26


def _lsh_bucket_kernel(
    num_hashes: int, bands: int, threshold: float | None, forest: bool, own: bool
):
    """The per-bucket body of :func:`_lsh_bucket_edges`, for
    :func:`_sorted_group_kernel`: one (band, key) bucket's pairs (ids
    ascending, so position order == id order), detected in row blocks
    compared against the whole bucket. A block holds at most
    ``_EQ_BYTES`` booleans (64 MB; a 125K-doc bucket compares 33 rows at
    a time), so memory stays bounded on the driver too; the block size
    changes no emitted pair. ``own``: emit a pair only from the first
    band whose slice matches."""
    import numpy as np

    thr = float(threshold) if threshold is not None else None
    nh, nb = num_hashes, bands
    r = num_hashes // bands
    budget = _EQ_BYTES

    def bucket_pairs(g):
        S, band_k = g["sig"], int(g["band"][0])
        k = len(S)
        step = max(1, budget // (k * nh))
        for i0 in range(0, k, step):
            # eqpos[i, j, h]: hash position h matches
            eqpos = S[i0 : i0 + step, None, :] == S[None, :, :]
            band_all = eqpos.reshape(eqpos.shape[0], k, nb, r).all(axis=3)
            if own:
                mask = band_all.argmax(axis=2) == band_k
            else:
                mask = band_all[:, :, band_k]
            ii, jj = np.nonzero(mask)
            m = ii + i0 < jj
            ii, jj = ii[m], jj[m]
            if thr is None and forest:
                yield ii + i0, jj, ()
                continue
            est = eqpos[ii, jj].sum(axis=1) / nh
            if thr is not None:
                m = est >= thr
                ii, jj, est = ii[m], jj[m], est[m]
            yield ii + i0, jj, (est,)

    return bucket_pairs


def _lsh_bucket_edges(
    band_rows: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float | None = None,
    max_bucket_size: int | None = None,
    forest: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Near-dup edges from :func:`minhash_band_rows` output: the one LSH
    detection kernel shared by batch pair-finding and streaming dedup.

    Per-(band,key)-bucket numpy verify, NOT a band self-join: the join
    shipped BOTH full signatures per candidate row and a mass-duplicated
    corpus makes one band bucket quadratic (sf1 skew probe: a 5,000-doc
    cluster -> 12.5M candidates x 4 bands = 50M pre-dedup join rows).
    Here each signature travels once per band row; the quadratic part is
    a blocked element-equality count inside the bucket, and rejected
    pairs never materialize. est_jaccard = #equal/num_hashes is an exact
    integer ratio — bit-identical to the SQL oracle and to the streaming
    store check — computed only for candidate pairs, and only when it is
    emitted (pair mode) or thresholded.

    Runs :func:`_lsh_bucket_kernel` on :func:`_sorted_group_pairs` (one
    group per (band, key) bucket, ``max_bucket_size`` as the group cap,
    ``partitions`` as its task count). Pair mode emits
    (a, b, est_jaccard); ``forest`` mode emits the driver's star edges
    only — at most k−1 rows per k-doc bucket, with the same connected
    components as the pairs (see :func:`minhash_lsh_pairs`).
    """
    # FIRST-band ownership: a colliding pair is emitted only by the
    # earliest band whose slice matches — globally unique output, so no
    # cross-band duplicate emission and NO dedup shuffle (the sf1 hot
    # cluster emitted every pair from all 4 bands: 50M rows to dedup down
    # to 12.5M). With the occupancy cap active, a pair's first-matching
    # band may have been a SKIPPED hot bucket, so ownership would silently
    # drop pairs recoverable from later small buckets — capped mode emits
    # from every surviving bucket and dedups instead (bounded volume by
    # construction).
    own = max_bucket_size is None
    out = _sorted_group_pairs(
        band_rows, ["band", "key"], ["_id"],
        _lsh_bucket_kernel(num_hashes, bands, threshold, forest=forest, own=own),
        extras="est_jaccard double", max_group=max_bucket_size,
        forest=forest, matrix=("sig", "int64"), partitions=partitions,
    )
    if not own:
        # capped mode emits per surviving bucket (see ownership note)
        out = out.dropDuplicates(["a", "b"])
    return out


# ----------------------------------------------- winnowing substring overlap

def _winnow_arrow_fn(k: int, w: int):
    """Arrow-batch winnowing kernel: byte-level polynomial k-gram hashes
    (two 31-bit rolling hashes packed into one 62-bit int) + numpy
    sliding-window min, vectorized across the WHOLE batch (r8): all
    docs' lowered utf-8 bytes are concatenated into one buffer, the k
    multiply-add passes run over that single array with ONE deferred
    modulo each (k products of < 2⁴⁰ sum below 2⁶³, and modular
    reduction commutes with the deferred sum — bit-identical, measured
    ~4.7× on the hash passes), the width-w window min is w−1 shifted
    ``np.minimum`` passes (no strided gather), and the per-doc distinct
    runs as consecutive-dup drop + one lexsort. Positions straddling doc
    boundaries are excluded by construction (window starts are generated
    per doc). The previous per-doc loop paid ~25 small-array numpy
    dispatches per document."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        m1, b1 = 2147483647, 131
        m2, b2 = 2147483629, 137
        pw1 = np.array([pow(b1, k - 1 - j, m1) for j in range(k)], dtype=np.int64)
        pw2 = np.array([pow(b2, k - 1 - j, m2) for j in range(k)], dtype=np.int64)
        empty = np.array([], dtype=np.int64)
        for pdf in batches:
            bufs: list = []
            keep: list = []
            for idx, text in enumerate(pdf["_text"].values):
                if text is None:
                    continue
                b = text.lower().encode("utf-8", "surrogatepass")
                if len(b) >= k:  # p >= 1
                    bufs.append(b)
                    keep.append(idx)
            ids_kept = pdf["_id"].values[keep] if keep else empty
            if not bufs:
                yield pd.DataFrame(
                    {"_id": pd.Series(empty, dtype=pdf["_id"].dtype),
                     "fp": empty}
                )
                continue
            lens = np.array([len(b) for b in bufs], dtype=np.int64)
            s = np.frombuffer(b"".join(bufs), dtype=np.uint8).astype(np.int64)
            offs = np.concatenate(([0], np.cumsum(lens)))
            P = int(offs[-1]) - k + 1
            h1 = np.zeros(P, dtype=np.int64)
            h2 = np.zeros(P, dtype=np.int64)
            for j in range(k):
                seg = s[j : j + P]
                h1 += seg * pw1[j]
                h2 += seg * pw2[j]
            h1 %= m1
            h2 %= m2
            hs = (h1 << 31) | h2
            p_d = lens - k + 1  # valid k-gram starts per doc (all >= 1)
            id_chunks: list = []
            fp_chunks: list = []
            W = P - w + 1
            nw_d = np.where(p_d >= w, p_d - w + 1, 0)
            tot_w = int(nw_d.sum())
            if W > 0 and tot_w:
                wmin = hs[:W].copy()
                for shift in range(1, w):
                    np.minimum(wmin, hs[shift : shift + W], out=wmin)
                doc_idx = np.repeat(np.arange(len(lens)), nw_d)
                within = np.arange(tot_w) - np.repeat(
                    np.cumsum(nw_d) - nw_d, nw_d
                )
                vals = wmin[offs[doc_idx] + within]
                dup = np.zeros(tot_w, dtype=bool)
                dup[1:] = (doc_idx[1:] == doc_idx[:-1]) & (
                    vals[1:] == vals[:-1]
                )
                doc_idx, vals = doc_idx[~dup], vals[~dup]
                order = np.lexsort((vals, doc_idx))
                d_s, f_s = doc_idx[order], vals[order]
                first = np.ones(len(d_s), dtype=bool)
                first[1:] = (d_s[1:] != d_s[:-1]) | (f_s[1:] != f_s[:-1])
                id_chunks.append(ids_kept[d_s[first]])
                fp_chunks.append(f_s[first])
            small = np.flatnonzero(p_d < w)
            if len(small):
                sm = np.array(
                    [
                        hs[int(offs[d]) : int(offs[d]) + int(p_d[d])].min()
                        for d in small
                    ],
                    dtype=np.int64,
                )
                id_chunks.append(ids_kept[small])
                fp_chunks.append(sm)
            yield pd.DataFrame(
                {
                    "_id": pd.Series(
                        np.concatenate(id_chunks) if id_chunks else empty,
                        dtype=pdf["_id"].dtype,
                    ),
                    "fp": np.concatenate(fp_chunks) if fp_chunks else empty,
                }
            )

    return gen


def winnow_fingerprint_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    w: int = 8,
    impl: str = "arrow",
) -> DataFrame:
    """One row per (document, winnowed fingerprint): ``_id``, ``fp``.

    ``impl="arrow"`` (default): vectorized numpy kernel over mapInPandas —
    the throughput path. ``impl="expr"``: pure JVM expression built on
    ``md5_long`` — bit-reproducible in ANSI SQL, used by the correctness
    gates. Same algorithm, different hash functions, so fingerprint VALUES
    differ between impls but the selected substring windows are the same.

    The per-doc set is distinct by construction, so ``count(*)`` grouped by
    ``fp`` IS the document frequency — no count-distinct needed downstream.
    62-bit hashes: at ~10¹² corpus fingerprints birthday collisions exist
    but only add noise pairs that the ``min_shared`` co-occurrence floor
    filters out.
    """
    # single-file local inputs arrive as ONE partition, serializing the
    # CPU-heavy fingerprint stage (kernel or md5 expressions) on one
    # core; spread_small is a no-op on many-split cluster scans
    df = spread_small(df)
    if impl == "arrow":
        id_type = dict(df.dtypes)[id_col]
        return df.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
        ).mapInPandas(_winnow_arrow_fn(k, w), f"_id {id_type}, fp long")
    from ondine_spark.functions.similarity import winnow_fingerprints

    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(winnow_fingerprints(F.col(text_col), k, w)).alias("fp"),
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    w: int = 8,
    min_shared: int = 10,
    max_df: int = 20,
    impl: str = "arrow",
) -> DataFrame:
    """Substring-level near-dup pairs: documents sharing >= ``min_shared``
    winnowed fingerprints (any shared substring of length k+w-1 or more
    contributes — the signal suffix-array dedup pipelines use, without the
    suffix array).

    Scale shape: fingerprint rows → ONE hash shuffle on ``fp`` + local
    sort → streaming numpy pair kernel (df cap enforced by group length)
    → groupBy(a, b) count. All keys are bigints.

    Output: ``a``, ``b``, ``shared`` (number of co-occurring fingerprints).
    """
    import numpy as np

    rows = winnow_fingerprint_rows(df, id_col, text_col, k, w, impl=impl)

    # Pair generation is :func:`_sorted_group_pairs` over fp groups (r8).
    # A group's length within the sorted partition IS the fingerprint's
    # document frequency, so "stop-grams" seen in more than ``max_df``
    # documents (boilerplate — without the cap a fingerprint in f docs
    # emits C(f,2) pairs) are the driver's capped groups. The previous
    # ``groupBy(fp).agg(collect_list)`` + nested ``F.transform`` pair
    # expansion materialized n² interpreted structs per fingerprint;
    # per-doc fingerprints are distinct by construction and ids within a
    # group are sorted ascending, so ``np.triu_indices`` emits exactly
    # the a < b pairs the expression form produced.
    def fp_pairs(g):
        yield (*np.triu_indices(len(g["_id"]), 1), ())

    pairs = _sorted_group_pairs(rows, ["fp"], ["_id"], fp_pairs, max_group=max_df)
    return (
        pairs.groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


# ------------------------------------------------------------- SimHash (D4)

def _simhash_kernel():
    """Arrow-batch kernel for the 60 majority votes: per row, bit ``j`` of
    the signature is set iff ``2·|{h : bit_j(h)=1}| > |hashes|``. Exact
    integer counting — bit-identical to the previous per-bit expression
    form. One ``np.add.reduceat`` per bit over the batch's flattened hash
    values. Empty hash arrays keep sig 0 (two empty documents are
    identical content); null text never reaches the kernel."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vals = pdf["_hs"].values
            nrows = len(vals)
            sig = np.zeros(nrows, dtype=np.int64)
            arrs = [np.asarray(a, dtype=np.int64) for a in vals]
            lens = np.array([a.size for a in arrs], dtype=np.int64)
            nz = np.flatnonzero(lens)
            if nz.size:
                # reduceat cannot represent empty segments — run it over
                # the non-empty docs only (empty docs keep sig 0)
                kept = [arrs[i] for i in nz]
                klens = lens[nz]
                starts = np.concatenate(([0], np.cumsum(klens)[:-1]))
                v = np.concatenate(kept)
                ksig = np.zeros(nz.size, dtype=np.int64)
                for j in range(60):
                    ones = np.add.reduceat((v >> j) & 1, starts)
                    ksig += (ones * 2 > klens).astype(np.int64) << j
                sig[nz] = ksig
            yield pd.DataFrame({
                "_id": pdf["_id"].reset_index(drop=True),
                "simhash": sig,
            })

    return gen


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over word tokens: bit j of the signature is the sign
    of sum over tokens of (bit j of md5_long(token) ? +1 : -1).

    Zero algorithmic shuffles (only ``spread_small``'s input widening
    appears in local mode). Split across the JVM/Arrow boundary like
    :func:`minhash_signature` (r8): tokenization + per-token md5 stay JVM
    expressions, while the 60 per-bit majority votes run as ONE vectorized
    Arrow kernel (:func:`_simhash_kernel` — exact integer counting, so
    signatures are bit-identical to the expression form). The previous
    per-bit ``F.filter`` chain paid 60 interpreted higher-order lambdas
    per row; only ``(_id, array<bigint>)`` crosses the Python boundary.
    Output: id, simhash (bigint; bit 63 unused to stay non-negative)."""
    toks = F.array_distinct(
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
            lambda x: x != "",
        )
    )
    hashes = F.transform(toks, lambda t: md5_long(t))
    id_type = dict(df.dtypes)[id_col]

    # null text has NO signature: a null token array would fold to sig 0,
    # which silently made every null-text doc a "duplicate" of every
    # other (and of genuinely empty docs). Empty TEXT keeps sig 0.
    return (
        spread_small(df.filter(F.col(text_col).isNotNull()))
        .select(F.col(id_col).alias("_id"), hashes.alias("_hs"))
        .mapInPandas(_simhash_kernel(), f"_id {id_type}, simhash bigint")
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pairs with Hamming distance ≤ max_hamming between 60-bit SimHashes.

    Pigeonhole: split the signature into max_hamming+1 blocks; any pair
    within distance k agrees on ≥1 block → equality join per block, then
    exact popcount verify. No pairwise scan."""
    nblocks = max_hamming + 1
    width = 60 // nblocks
    sig = simhash64(df, id_col, text_col)
    blocks = sig.select(
        "_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.shiftright(F.col("simhash"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("key"),
                )
                for i in range(nblocks)
            ])
        ).alias("bk"),
    ).select("_id", "simhash", "bk.blk", "bk.key")
    # persist: the blocks frame self-joins, and Spark computes each join
    # side independently — without this the signature aggregation (token
    # explode + 60 bit-vote sums, the expensive part) runs twice
    blocks = blocks.persist()
    a = blocks.select(F.col("_id").alias("a"), F.col("simhash").alias("_ha"), "blk", "key")
    b = blocks.select(F.col("_id").alias("b"), F.col("simhash").alias("_hb"), "blk", "key")
    xor = F.col("_ha").bitwiseXOR(F.col("_hb"))
    dist = F.bit_count(xor)
    # FIRST-block ownership (pure bit math): a pair agreeing on several
    # blocks is emitted only by the earliest one — no earlier block's
    # slice of the XOR may be zero. Output is globally unique, so the
    # dropDuplicates shuffle disappears entirely; under mass duplication
    # (near-identical hashes agree on ALL blocks) it was re-emitting
    # every hot pair nblocks times. Verify (cheap bit math) still runs
    # BEFORE any shuffle.
    mask = (1 << width) - 1
    no_earlier = F.lit(True)
    for m in range(nblocks - 1):
        agrees_m = (
            F.shiftright(xor, m * width).bitwiseAND(F.lit(mask)) == 0
        )
        no_earlier = no_earlier & ~((F.col("blk") > m) & agrees_m)
    return (
        a.join(b, on=["blk", "key"])
        .filter(F.col("a") < F.col("b"))
        .filter(no_earlier)
        .withColumn("hamming", dist)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ------------------------------------- pair → cluster resolution (D6)

def _symmetric(edges: DataFrame) -> DataFrame:
    return edges.select("a", "b").union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (connect strictly-greater neighbors to the local min)
    or small-star (connect ≤ neighbors to the local min) round. Both emit
    normalized (min, other) edges, so a < b holds throughout."""
    nbr = _symmetric(edges).groupBy("a").agg(F.collect_set("b").alias("_vs"))
    m = F.least(F.col("a"), F.array_min("_vs"))
    if large:
        picked = F.filter("_vs", lambda v: v > F.col("a"))
    else:
        # small-star: neighbors ≤ u, plus u itself so the (m, u) edge
        # survives the round (u may exceed all its remaining neighbors)
        picked = F.array_union(
            F.filter("_vs", lambda v: v < F.col("a")), F.array(F.col("a"))
        )
    return (
        nbr.select(m.alias("_m"), F.explode(picked).alias("_v"))
        .filter(F.col("_m") != F.col("_v"))
        .select(
            F.least("_m", "_v").alias("a"), F.greatest("_m", "_v").alias("b")
        )
        .distinct()
    )


# edges connected_components solves on the driver: two ids each, ~16 MB
_CC_DRIVER_EDGES = 1_000_000


def _min_labels(a, b):
    """Union-find over collected edge columns ``a``, ``b`` (numpy arrays of
    comparable ids): ``(nodes, component)`` arrays, component = the
    smallest node of each node's connected component. Vectorized
    min-hooking over the sorted distinct nodes' positions, so the
    smallest position of a component is its smallest id."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    parent = _min_hook_union(
        np.arange(len(nodes), dtype=np.int64), inv[: len(a)], inv[len(a):]
    )
    return nodes, nodes[parent]


def connected_components(
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iter: int = 25,
    driver_threshold: int = _CC_DRIVER_EDGES,
) -> DataFrame:
    """Resolve duplicate PAIRS into clusters: (node, component) where
    component = the smallest node id in the node's connected component.

    Adaptive: a deduped edge set of ≤ ``driver_threshold`` rows (two longs
    each — the threshold is ~16 MB) is collected and solved with a local
    union-find, the same way a small join side gets broadcast instead of
    shuffled; each distributed round below costs several jobs, so the
    driver path is strictly better while the graph fits. Above the
    threshold: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") — converges in
    O(log n) rounds even for path graphs, each round a groupBy + explode
    on compact ids. ``localCheckpoint`` truncates lineage per round so the
    plan does not grow with iterations. Only nodes that appear in a pair
    are returned; both paths produce identical output (cross-checked in
    tests/test_dedup_clusters.py).

    Checkpoint hygiene: ``localCheckpoint`` blocks are RAW RDD caches —
    ``spark.catalog.clearCache()`` does NOT free them, and each star
    round materializes a full edge-set copy (≈214 MB at 11M edges), so
    without explicit cleanup a large run leaks rounds × reps copies into
    the block manager and every LATER job on the session degrades under
    the GC pressure (measured at sf1: same-session bench reps walked
    47 s → 96 s, and unrelated downstream queries doubled). Each round
    therefore unpersists the superseded checkpoint via the persistent-RDD
    registry; only the round backing the RETURNED frame stays alive (its
    lineage is truncated — freeing it would make the result
    unrecoverable).
    """
    from ondine_spark.core.checkpoints import checkpoint_df, unpersist_rdd_ids

    sc = pairs.sparkSession.sparkContext

    def _unpersist(ids: set) -> None:
        unpersist_rdd_ids(sc, ids)

    # checkpoint_df resolves each checkpoint's block id from its own
    # LogicalRDD — safe against concurrent checkpoints on a shared session
    edges, edges_ids = checkpoint_df(
        pairs.select(
            F.least(F.col(a), F.col(b)).alias("a"),
            F.greatest(F.col(a), F.col(b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sig = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("a", "b")).alias("h"),
    ).first()
    if sig.n <= driver_threshold:
        out_schema = edges.select(
            F.col("a").alias("node"), F.col("a").alias("component")
        ).schema
        spark = pairs.sparkSession
        # ONE Arrow collect instead of toLocalIterator: the iterator runs
        # one fetch (a driver-blocking mini-job) PER partition and builds
        # a Row object per edge — measured ~1.4 s of pure overhead at
        # sf0.1 where the edge set is only 836 rows across 32 shuffle
        # partitions. toArrow is a single job + columnar transfer, and the
        # labels go back as an Arrow table, whatever the session's Arrow
        # setting.
        tbl = edges.toArrow()
        _unpersist(edges_ids)  # consumed; free now
        if tbl.num_rows == 0:
            return spark.createDataFrame([], schema=out_schema)
        nodes, comp = _min_labels(
            tbl.column("a").to_numpy(), tbl.column("b").to_numpy()
        )
        return spark.createDataFrame(
            pa.table({"node": nodes, "component": comp}), schema=out_schema
        )
    for _ in range(max_iter):
        nxt, nxt_ids = checkpoint_df(
            _star_round(_star_round(edges, large=True), large=False)
        )
        nsig = nxt.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("h"),
        ).first()
        _unpersist(edges_ids)  # superseded round — free its blocks
        edges, edges_ids = nxt, nxt_ids
        if (nsig.n, nsig.h) == (sig.n, sig.h):
            break
        sig = nsig
    # converged: every edge is (component-min, member). Checkpoint the
    # LABELS (one row per node — orders of magnitude smaller than the
    # edge set) so the final round's edge copy can be freed too; what
    # stays persisted per call is node-sized, not edge-sized.
    out, _out_ids = checkpoint_df(
        edges.select(F.col("b").alias("node"), F.col("a").alias("component"))
        .union(edges.select(F.col("a").alias("node"), F.col("a").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
    _unpersist(edges_ids)
    return out


def dedup_keep_representative(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    keep_by: str | None = None,
    components: DataFrame | None = None,
) -> DataFrame:
    """Drop every near-duplicate except one representative per connected
    component of the pair graph.

    ``keep_by=None`` keeps the smallest id. With ``keep_by=<score col>``
    the representative is the cluster's best row by that column (ties →
    larger id, via max over struct(score, id) — deterministic). Pass
    ``components`` (a precomputed ``connected_components`` frame, ideally
    persisted) when applying several keep policies over the same pair
    graph — the CC resolution is the expensive part and need not rerun
    per policy. The final anti-join carries no broadcast hint: at
    web-corpus drop rates (30-50% of a 100 TB corpus) the drop set is
    billions of rows, so a forced broadcast would OOM the executors. AQE
    broadcasts it automatically whenever its runtime size is under
    ``spark.sql.autoBroadcastJoinThreshold`` and falls back to a shuffled
    join otherwise (asserted by the tests/test_dedup_clusters.py plan test)."""
    comp = components if components is not None else connected_components(pairs, a, b)
    if keep_by is None:
        drop = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
    else:
        scored = comp.join(
            df.select(
                F.col(id_col).alias("node"), F.col(keep_by).alias("_score")
            ),
            on="node",
        )
        reps = scored.groupBy("component").agg(
            F.max(F.struct("_score", "node"))["node"].alias("_rep")
        )
        drop = (
            scored.join(reps, on="component")
            .filter(F.col("node") != F.col("_rep"))
            .select(F.col("node").alias(id_col))
        )
    return df.join(drop, on=id_col, how="left_anti")


def near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    method: str = "minhash",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 3,
    max_hamming: int = 3,
    keep_by: str | None = None,
) -> DataFrame:
    """One-call corpus near-dedup: find duplicate pairs with the chosen
    method, resolve them into connected components, and keep one
    representative per cluster (smallest id, or best row by ``keep_by``).

    ``method``: "minhash" (LSH candidates filtered by signature-estimated
    Jaccard ≥ threshold — the 100 TB default), "jaccard" (exact n-gram
    Jaccard ≥ threshold — exact but heavier), or "simhash"
    (Hamming ≤ max_hamming; threshold unused). The composition inherits
    each stage's scale story: inverted-index/banding joins (never
    pairwise), star-rounds components above the driver threshold, and an
    unhinted anti-join for the final drop set (AQE broadcasts small drop
    sets at runtime, shuffles large ones).
    """
    if method == "minhash":
        # the pairs exist only to be clustered: star-forest mode keeps
        # the identical components while a mass-duplicated corpus's
        # O(k²)-per-bucket pair volume never materializes (r9)
        pairs = minhash_lsh_pairs(
            df, id_col, text_col, num_hashes, bands, ngram,
            threshold=threshold, connectivity_only=True,
        )
    elif method == "jaccard":
        pairs = ngram_jaccard_pairs(
            df, id_col, text_col, n=ngram, threshold=threshold
        )
    elif method == "simhash":
        pairs = simhash_pairs(df, id_col, text_col, max_hamming=max_hamming)
    else:
        raise ValueError(
            f"unknown near-dedup method {method!r}: "
            "expected minhash | jaccard | simhash"
        )
    return dedup_keep_representative(df, id_col, pairs, keep_by=keep_by)


# ------------------------------------------- embedding cosine near-dup (D5)

def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    num_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    Scale path: random-hyperplane LSH — sign-pattern bucket key from
    ``num_planes`` deterministic hyperplanes (md5-derived pseudo-random
    components, no RNG state to ship) → self-join within bucket → exact
    cosine verify. High-cosine pairs agree on most sign bits; with 8 planes
    a ≥0.95 pair lands in the same bucket with high probability. For exact
    recall use brute_force (similarity_search module) on the suspect set.
    """
    id_type = dict(df.dtypes)[id_col]
    df = df.filter(finite_vector(F.col(vec_col)))
    probe = df.select(vec_col).first()
    if probe is None:
        # no non-null vector anywhere: no dim to infer, no pairs to emit
        return df.sparkSession.createDataFrame(
            [], f"a {id_type}, b {id_type}, cos_sim double"
        )
    dim = len(probe[0])
    # deterministic hyperplanes: component p[i][d] in [-1,1) from md5
    planes = [
        [
            (int.from_bytes(
                __import__("hashlib").md5(f"{seed}:{i}:{d}".encode()).digest()[:4],
                "big",
            ) / 2**31 - 1.0)
            for d in range(dim)
        ]
        for i in range(num_planes)
    ]
    from ondine_spark.functions.similarity import sign_bucket_expr

    vec = F.col(vec_col)
    keyed = df.select(
        F.col(id_col).alias("_id"),
        vec.alias("_v"),
        sign_bucket_expr(vec, planes).alias("_bucket"),
    )

    # Per-bucket BLAS verify, NOT a pair self-join. The sf1 skew probe
    # (10%-mass cluster = one hot sign bucket) showed the join-then-verify
    # plan shipping both 64-float vectors through Arrow for EVERY candidate
    # pair — O(cluster^2 · dim) serialization, 235 s for 2M pairs. Here
    # each vector travels ONCE (one shuffle of N rows on the bucket key);
    # the quadratic part runs as a blocked numpy matrix product inside the
    # group (4M dot products ≈ milliseconds of BLAS), and only qualifying
    # pairs are materialized. Per-group memory is O(n_bucket · dim +
    # qualifying pairs) via the row-block loop — a genuinely duplicated
    # cluster has quadratic OUTPUT, which no correct pair enumerator
    # avoids; everything else stays linear.
    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id")  # position order == id order -> a < b
        ids = pdf["_id"].to_numpy()
        X = np.array(pdf["_v"].tolist(), dtype="float64")
        norms = np.sqrt((X * X).sum(axis=1))
        # >0 drops zero vectors (cosine(0,·)=0 by contract); isfinite
        # drops any NaN/Inf row that slipped past the frame filter
        keep = (norms > 0) & np.isfinite(norms)
        ids, X = ids[keep], X[keep]
        none = np.array([], dtype=np.int64)
        blocks = [*_cosine_blocks(X, thr), (none, none, np.array([]))]
        ii, jj, cos = (np.concatenate(c) for c in zip(*blocks))
        return pd.DataFrame({"a": ids[ii], "b": ids[jj], "cos_sim": cos})

    return keyed.groupBy("_bucket").applyInPandas(
        bucket_pairs, schema=f"a {id_type}, b {id_type}, cos_sim double"
    )


# ------------------------------------------- semantic dedup (SemDeDup-style)

def seed_centroids(
    df: DataFrame, id_col: str, vec_col: str, k: int = 8
) -> list[list[float]]:
    """Deterministic centroid seeds: the ``k`` corpus vectors with the
    smallest ``md5_long(id)``. A hash order is as arbitrary as a random
    draw but reproducible across engines and runs — no RNG state to ship,
    and the SQL oracle can re-derive the exact same seeds. Centroid index
    = rank in hash order. Driver-side collect of k rows (k is small);
    the sort is a TakeOrderedAndProject, not a full shuffle."""
    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .filter(finite_vector(F.col("_v")))  # null/NaN/Inf can't seed
        .orderBy(md5_long(F.col("_id").cast("string")))
        .limit(k)
        .collect()
    )
    return [list(map(float, r["_v"])) for r in rows]


def semantic_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic near-dup candidates (Abbas et al., 2023):
    assign every embedding to its nearest centroid (cosine, ties to the
    higher centroid id), then compare pairs ONLY within a cluster and keep
    those with cosine >= ``threshold``.

    This is the standard trick for making embedding dedup sub-quadratic:
    pairwise cost drops from O(N²) to O(Σ cluster²). Centroids come from
    :func:`seed_centroids` (deterministic) or
    ``similarity_search.train_ivf_centroids`` (k-means, better balance).
    At scale, cluster count should grow ~√N so expected cluster size stays
    bounded; the intra-cluster join shuffles once on the small int cell id.
    A pathologically hot cell (most of the corpus in one cluster) degrades
    to the quadratic join — re-train with larger k or switch to
    ``embedding_neardup_pairs`` (LSH) if cluster sizes skew.

    Output: ``a``, ``b``, ``cell``, ``cos_sim``.
    """
    return _semantic_cell_edges(df, id_col, vec_col, centroids, threshold)


def _semantic_cell_edges(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float,
    forest: bool = False,
) -> DataFrame:
    """:func:`semantic_dup_pairs`' plan; ``forest=True`` emits the
    driver's (a, b) star edges instead — at most cell−1 per cell, with
    the same connected components (what :func:`semantic_dedup` needs)."""
    if not centroids:
        # no centroids (empty training corpus): no cells, no candidates
        idt = dict(df.dtypes)[id_col]
        return df.sparkSession.createDataFrame(
            [], f"a {idt}, b {idt}, cell int, cos_sim double"
        )
    from ondine_spark.operators.similarity_search import _nearest_centroids_expr

    assigned = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        # null/NaN/Inf vectors belong to no cell (NaN cosine would rank
        # an arbitrary cell FIRST under Spark's NaN-greatest ordering and
        # pass >= threshold pair filters)
        .filter(finite_vector(F.col("_v")))
        .withColumn("cell", _nearest_centroids_expr("_v", centroids, 1)[0])
    )
    # Pair stage (r8, wave 7): the previous intra-cluster self-join +
    # cosine_arrow verify shipped EVERY vector cluster-size times through
    # the join and then moved O(Σ cluster²) pairs × 2 vectors across the
    # Arrow boundary — 256 MB at sf0.1 vs the 2.5 MB of distinct vectors
    # — and the `cos_sim >= threshold` filter on the pandas-UDF column
    # re-evaluated the kernel (guide §4.4: two ArrowEvalPython nodes in
    # the plan). Now: :func:`_sorted_group_pairs` over cells — ONE
    # exchange on the cell id, vectors cross the boundary once, and each
    # cell's upper triangle is thresholded in place by
    # :func:`_cosine_blocks` (ids ascending inside each cell, so triu
    # pairs are exactly the a < b set; the gate rounds cosines to 6
    # decimals). Hot-cell behaviour is unchanged (quadratic within the
    # cell — documented above).
    thr = float(threshold)
    cell_t = dict(assigned.dtypes)["cell"]

    def cell_pairs(g):
        for ii, jj, cos in _cosine_blocks(g["_v"], thr):
            yield ii, jj, (g["cell"][ii], cos)

    return _sorted_group_pairs(
        assigned, ["cell"], ["_id"], cell_pairs,
        extras=f"cell {cell_t}, cos_sim double", forest=forest,
        matrix=("_v", "float64"),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.9,
    keep_by: str | None = None,
) -> DataFrame:
    """Full SemDeDup: semantic duplicate edges → connected components →
    keep one representative per duplicate set (smallest id, or best by
    ``keep_by``). Returns the deduplicated frame (all original columns).
    The cells hand ``connected_components`` star-forest edges (at most
    cell−1 per cell), not every cos ≥ threshold pair: same components."""
    edges = _semantic_cell_edges(
        df, id_col, vec_col, centroids, threshold, forest=True
    )
    return dedup_keep_representative(
        df, id_col, edges.select("a", "b"), keep_by=keep_by
    )
