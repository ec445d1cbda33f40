"""Per-row knowledge retrieval (R3/R4): rows × chunks top-k context join.

Reference (ondine/stages/knowledge_retrieval_stage.py:65-96): for every
input row, query = concat(query_columns), search top_k chunks, prepend a
``_kb_context`` string to the prompt.

Spark-first: the reference brute-forces a store lookup per row. Here ALL
rows retrieve in one plan: explode each row's query into hashed-ngram
buckets → join the store's bucket postings (inverted index) → cosine per
(row, chunk) → window top-k per row → collect formatted context. No
per-row store calls, no crossJoin; the join key (bucket) keeps the
candidate set sparse. At scale :func:`attach_context` auto-routes to
:func:`retrieve_topk_lsh` (banded hyperplane candidates, exact rescore)
above ``LSH_AUTO_THRESHOLD`` chunks — same contract, corpus-independent
candidate volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ondine_spark.core.partitioning import spread_small
from ondine_spark.knowledge.embedders import ngram_buckets
from ondine_spark.knowledge.store import KnowledgeStore
from ondine_spark.sources.readers import ROW_ID

KB_CONTEXT = "_kb_context"

# attach_context(method="auto") switches to the LSH candidate path above
# this many chunks — the exact inverted-index join's (query-bucket ×
# posting) volume grows with corpus × query length, which the round-7
# 500K×1M scale run measured as the failure mode; below it the exact
# join is both faster and recall-1.0. One memoized footer-metadata read
# decides (same pattern as the DSIR auto mode).
LSH_AUTO_THRESHOLD = 100_000

# retrieve_topk(impl="auto") uses the dense Arrow kernel while the chunk
# TF matrix (chunk_count × ngram_dim float64) fits this budget on the
# driver and every executor — the matrix is broadcast once and each
# Python worker scores whole query batches with one BLAS matmul instead
# of shuffling the (query-bucket × posting) join's blow-up (measured 20 s
# → 2 s at 5K rows × 500 chunks with bit-identical scores). Above the
# budget the inverted-index join (or, through attach_context, LSH) is the
# shape that scales. 128 MiB ≈ 8K chunks at the 2048-dim store default.
DENSE_AUTO_BYTES = 1 << 27


def _retrieve_topk_dense(
    q: DataFrame, store: KnowledgeStore, top_k: int, min_score: float
) -> DataFrame:
    """(row_id, chunk_id, score, rank) via one broadcast chunk-TF matrix +
    a per-batch BLAS matmul. Bit-identical to the join path: tf counts are
    exact integers in float64 (products and sums < 2⁵³ commute exactly),
    norms are sqrt of exact integer sums, the score is the same
    dot / (qnorm · cnorm) division, and ranking orders by (score desc,
    chunk_id asc) with the identical float keys. Assumes ROW_ID values are
    unique (the readers' contract): the join path merges duplicate ids
    into one query at the qb groupBy, this path scores each row
    separately."""
    import numpy as np

    dim = store.ngram_dim
    # one Arrow collect whatever the session's Arrow setting (toPandas
    # without it builds a Row per posting)
    bk = store.buckets().toArrow()
    bucket, chunk, tf = (
        bk.column(c).to_numpy() for c in ("bucket", "chunk_id", "tf")
    )
    chunk_ids = np.unique(chunk)
    col_of = np.searchsorted(chunk_ids, chunk)
    C = np.zeros((dim, chunk_ids.size), dtype=np.float64)
    C[bucket, col_of] = tf
    cnorm = np.sqrt((C * C).sum(axis=0))
    bC = q.sparkSession.sparkContext.broadcast((chunk_ids, C, cnorm))

    # only (row id, bucket array) crosses the Python boundary; the md5
    # ngram hashing stays JVM (the oracle-portable contract). spread: a
    # single-file local scan otherwise runs the hash chain on one core.
    qv = spread_small(q).select(
        ROW_ID, ngram_buckets(F.col("_q"), dim=dim).alias("_b")
    )
    id_type = dict(qv.dtypes)[ROW_ID]
    out_schema = f"{ROW_ID} {id_type}, chunk_id long, score double, rank int"
    # bound per-sub-batch dense Q at ~16 MiB regardless of Arrow batch size
    rows_per_block = max(1, (1 << 21) // dim)

    def _score_batches(batches):
        import numpy as np
        import pandas as pd

        chunk_ids, C, cnorm = bC.value
        for pdf in batches:
            for lo in range(0, len(pdf), rows_per_block):
                blk = pdf.iloc[lo : lo + rows_per_block]
                n = len(blk)
                # null query → null bucket array (None here): no
                # candidates, exactly like the old explode
                lists = [
                    np.asarray(x if x is not None else [], dtype=np.int64)
                    for x in blk["_b"]
                ]
                lens = np.fromiter(
                    (a.size for a in lists), dtype=np.int64, count=n
                )
                if lens.sum() == 0:
                    continue
                flat = np.concatenate([a for a in lists if a.size])
                row_of = np.repeat(np.arange(n), lens)
                Q = np.zeros((n, dim), dtype=np.float64)
                np.add.at(Q, (row_of, flat), 1.0)
                qnorm = np.sqrt((Q * Q).sum(axis=1))
                S = Q @ C
                ri, ci = np.nonzero(S > 0)
                if ri.size == 0:
                    continue
                score = S[ri, ci] / (qnorm[ri] * cnorm[ci])
                if min_score > 0.0:
                    keep = score >= min_score
                    ri, ci, score = ri[keep], ci[keep], score[keep]
                    if ri.size == 0:
                        continue
                cid = chunk_ids[ci]
                # rank within each row by (score desc, chunk_id asc) —
                # lexsort's last key is primary
                order = np.lexsort((cid, -score, ri))
                ri, cid, score = ri[order], cid[order], score[order]
                starts = np.r_[0, np.flatnonzero(np.diff(ri)) + 1]
                counts = np.diff(np.r_[starts, ri.size])
                rank = np.arange(ri.size) - np.repeat(starts, counts) + 1
                if top_k < ri.size:
                    keep = rank <= top_k
                    ri, cid, score, rank = (
                        ri[keep], cid[keep], score[keep], rank[keep]
                    )
                yield pd.DataFrame(
                    {
                        ROW_ID: blk[ROW_ID].to_numpy()[ri],
                        "chunk_id": cid,
                        "score": score,
                        "rank": rank.astype(np.int32),
                    }
                )

    return qv.mapInPandas(_score_batches, schema=out_schema)


def retrieve_topk(
    df: DataFrame,
    store: KnowledgeStore,
    query_cols: list[str],
    top_k: int = 3,
    min_score: float = 0.0,
    impl: str = "auto",
) -> DataFrame:
    """(row_id, chunk_id, text, source, score, rank) — top-k chunks per row
    by hashed-ngram TF cosine.

    ``impl``: ``"join"`` is the inverted-index shape (explode query
    buckets → join chunk postings → re-aggregate → window); ``"dense"``
    broadcasts the chunk TF matrix and scores whole query batches with
    one Arrow/BLAS kernel — bit-identical scores and ranks, no keyed
    shuffle, chosen by ``"auto"`` (default) while the matrix fits
    ``DENSE_AUTO_BYTES``."""
    q = df.select(
        F.col(ROW_ID),
        F.concat_ws(" ", *[F.col(c) for c in query_cols]).alias("_q"),
    )
    if impl == "auto":
        n_chunks = store.chunk_count()
        impl = (
            "dense"
            if 0 < n_chunks * store.ngram_dim * 8 <= DENSE_AUTO_BYTES
            else "join"
        )
    if impl == "dense":
        topk = _retrieve_topk_dense(q, store, top_k, min_score)
        return topk.join(
            store.chunks().select("chunk_id", "text", "source"), on="chunk_id"
        )
    if impl != "join":
        raise ValueError(
            f"retrieve_topk impl must be auto|dense|join, got {impl!r}"
        )
    qb = (
        spread_small(q)
        .select(
            ROW_ID,
            F.explode(ngram_buckets(F.col("_q"), dim=store.ngram_dim)).alias(
                "bucket"
            ),
        )
        .groupBy(ROW_ID, "bucket")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )
    qnorm = qb.groupBy(ROW_ID).agg(
        F.sqrt(F.sum(F.col("qtf") * F.col("qtf"))).alias("qnorm")
    )
    cnorm = (
        store.buckets()
        .groupBy("chunk_id")
        .agg(F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("cnorm"))
    )
    dots = (
        qb.join(store.buckets(), on="bucket")
        .groupBy(ROW_ID, "chunk_id")
        .agg(F.sum(F.col("qtf") * F.col("tf")).alias("_dot"))
    )
    scored = (
        dots.join(qnorm, on=ROW_ID)
        .join(cnorm, on="chunk_id")
        .select(
            ROW_ID,
            "chunk_id",
            (F.col("_dot") / (F.col("qnorm") * F.col("cnorm"))).alias("score"),
        )
        .filter(F.col("score") >= min_score)
    )
    w = Window.partitionBy(ROW_ID).orderBy(F.desc("score"), "chunk_id")
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_k
    )
    return topk.join(store.chunks().select("chunk_id", "text", "source"), on="chunk_id")


def _lsh_band_keys(
    tf: DataFrame, id_col: str, n_planes: int, n_bands: int
) -> DataFrame:
    """(id, band, key) — banded random-hyperplane signature of the sparse
    hashed-ngram TF vector. Plane p's random direction assigns each
    bucket ±1 via murmur3(bucket * n_planes + p); the signature bit is
    the sign of Σ tf·±1 — the standard SimHash/hyperplane construction,
    computed as ONE groupBy(id) with n_planes sum expressions (one
    shuffle, no dense vectors, no per-plane explode)."""
    sums = [
        F.sum(
            F.col("tf")
            * (F.pmod(F.hash(F.col("bucket") * n_planes + p), F.lit(2)) * 2 - 1)
        ).alias(f"_s{p}")
        for p in range(n_planes)
    ]
    sig = tf.groupBy(id_col).agg(*sums)
    per_band = n_planes // n_bands
    keys = F.array(*[
        sum(
            (F.col(f"_s{b * per_band + i}") >= 0).cast("long") * (1 << i)
            for i in range(per_band)
        )
        for b in range(n_bands)
    ])
    return sig.select(
        id_col, F.posexplode(keys).alias("band", "key")
    )


def retrieve_topk_lsh(
    df: DataFrame,
    store: KnowledgeStore,
    query_cols: list[str],
    top_k: int = 3,
    min_score: float = 0.0,
    n_planes: int | None = None,
    n_bands: int = 32,
    max_bucket: int = 2000,
    broadcast_queries: bool = True,
    min_band_matches: int = 2,
    _candidates_only: bool = False,
) -> DataFrame:
    """Same contract as :func:`retrieve_topk` (row → top-k chunks with
    EXACT cosine scores), candidate generation via banded
    random-hyperplane LSH instead of the exact inverted-index join — the
    scale path the SURVEY names for R3 (§2.9): the exact join's
    (query-bucket × posting) volume grows with corpus × query length,
    while the LSH join touches only (band, key) collisions, so the
    candidate set per row is governed by signature similarity, not
    corpus size. Recall < 1 comes ONLY from candidate misses (pairs
    whose 8-bit band keys never collide); every surfaced candidate is
    rescored with the same exact cosine as retrieve_topk
    (tests/test_kb_lsh.py pins recall on a seeded corpus).

    ``max_bucket`` drops pathological (band, key) postings longer than
    this on the CHUNK side (hot buckets = near-constant signatures from
    boilerplate; the standard LSH hot-bucket guard) — bounding worst-case
    candidates per row at n_bands × max_bucket regardless of corpus.

    **Band-key width must scale with the corpus** (the 500K×1M ENOSPC
    lesson): expected bucket occupancy is n_chunks / 2^(n_planes /
    n_bands), so a fixed 64-plane / 8-band signature (8-bit keys, 256
    buckets per band) puts ~4K chunks in EVERY bucket at 1M chunks and
    the candidate join degenerates toward rows × n_bands × max_bucket —
    a shuffle that fills the disk long before max_bucket saves it. The
    default ``n_planes=None`` therefore AUTO-SIZES: bits per band =
    clamp(ceil(log2(n_chunks / 16)), 8, 20), i.e. ~16 expected chunks
    per bucket at any corpus size (one count() on the chunk table, a
    metadata-scale job). Near-copy queries are insensitive to key width
    (near-identical vectors agree on almost every hyperplane); pass an
    explicit smaller ``n_planes`` only to chase lower-similarity
    neighbors on corpora small enough to afford the fatter buckets.

    ``min_band_matches`` (default 2) requires a candidate to collide in
    that many bands before it is rescored — near-dup pairs collide on
    many bands, random collisions on ~one, so 2 kills random collisions
    (~300x candidate-volume cut in the sweep) while keeping near-copy
    recall.

    **Defaults are the measured operating point** (SCALE.md round-8
    table, benchmarks/KB_LSH_SWEEP.json: 32 bands x auto-width keys x
    min_band_matches=2 → 2.4 candidates/row, 99.4% sampled top-1).
    Band COUNT is what buys recall at moderate similarity: a cos≈0.93
    pair agrees per plane w.p. ~0.885, so a 14-bit band collides w.p.
    ~0.18 — with only 8 bands P(≥1 collision) ≈ 0.80 (measured 83.5%
    top-1 agreement through the pipeline surface before this default
    was fixed, round 8), while 32 bands at min_band_matches=2 gives
    ~0.95+ and the sweep's 99.4%. The extra bands cost one wider
    signature groupBy, not more shuffle volume — mbm=2 keeps the
    candidate join smaller than 8 bands at mbm=1 ever was.

    ``broadcast_queries=True`` (default) broadcasts the per-row
    query-map table into the rescore join — one ~300 B row per input
    row, so ~300 MB at 1M rows; beyond a few million rows pass False
    and the rescore falls back to a shuffle join (the query maps then
    cross one exchange, sized candidates × map payload).

    Plan shape (plan-audited ``kb_lsh.*``): no crossJoin anywhere; one
    groupBy per side for signatures; an equi-join on (band, key); exact
    rescoring joins bounded by the candidate count.
    """
    q = df.select(
        F.col(ROW_ID),
        F.concat_ws(" ", *[F.col(c) for c in query_cols]).alias("_q"),
    )
    qb = (
        spread_small(q)
        .select(
            ROW_ID,
            F.explode(ngram_buckets(F.col("_q"), dim=store.ngram_dim)).alias(
                "bucket"
            ),
        )
        .groupBy(ROW_ID, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    cb = store.buckets()

    if n_planes is None:
        import math

        n_chunks = store.chunk_count()  # memoized footer-metadata read
        bits = min(20, max(8, math.ceil(math.log2(max(n_chunks, 1) / 16 or 1))))
        n_planes = n_bands * bits

    q_bands = _lsh_band_keys(qb, ROW_ID, n_planes, n_bands)
    c_bands = _lsh_band_keys(
        cb.select("chunk_id", "bucket", "tf"), "chunk_id", n_planes, n_bands
    )
    if max_bucket:
        w_hot = Window.partitionBy("band", "key")
        c_bands = (
            c_bands.withColumn("_n", F.count(F.lit(1)).over(w_hot))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    # ``min_band_matches`` > 1 keeps only pairs that collide in that many
    # bands: a near-duplicate pair agrees on almost every hyperplane and
    # so on ~all bands, while a random collision in one 2^bits-key band
    # almost never repeats in another — at 500K rows × 1M chunks this
    # cuts the candidate set (and the array payload the rescore kernel
    # must move) ~30×, at the cost of recall on lower-similarity
    # neighbors. The groupBy replaces the distinct the 1-band form needs
    # anyway, so it costs nothing extra.
    cand = (
        q_bands.join(c_bands, on=["band", "key"])
        .groupBy(ROW_ID, "chunk_id")
        .agg(F.count(F.lit(1)).alias("_nb"))
        .filter(F.col("_nb") >= min_band_matches)
        .select(ROW_ID, "chunk_id")
    )
    if _candidates_only:
        # measurement hook (tools/kb_lsh_sweep.py): the candidate set IS
        # the cost driver — rescore work, array payload, shuffle volume
        # are all proportional to it
        return cand

    # Exact rescoring over candidates only — sparse vectors as SORTED
    # PARALLEL ARRAYS, dot via an Arrow merge kernel. Two designs fail
    # before this one at 500K rows × 1M chunks: (1) re-joining cand onto
    # the exploded bucket tables expands every pair by its query length
    # BEFORE the groupBy (candidates × ~100 char-3gram buckets ≈ billions
    # of shuffled rows — filled the disk); (2) map payloads scored with a
    # JVM aggregate + element_at are O(|q|·|c|) PER PAIR in interpreted
    # higher-order expressions (~10K entry scans/pair — pinned the CPU
    # for hours). Here each side folds once into (sorted bucket array,
    # tf array); cand makes a single slim shuffle join on chunk_id; the
    # query side is broadcast (one ~1 KB row per input row) so no array
    # payload crosses a shuffle; and the kernel does an O(|q| log |c|)
    # np.searchsorted merge per pair, vectorized per Arrow batch.
    # Integer tf products summed in int64, one double division at the
    # end — bit-identical to retrieve_topk's long-sum / double-divide.
    qarr = (
        qb.groupBy(ROW_ID)
        .agg(
            F.sort_array(F.collect_list(F.struct("bucket", "tf"))).alias("_qe"),
            F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("qnorm"),
        )
        .select(
            ROW_ID,
            F.col("_qe.bucket").alias("_qi"),
            F.col("_qe.tf").alias("_qv"),
            "qnorm",
        )
    )
    carr = (
        cb.groupBy("chunk_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("bucket", "tf"))).alias("_ce"),
            F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("cnorm"),
        )
        .select(
            "chunk_id",
            F.col("_ce.bucket").alias("_ci"),
            F.col("_ce.tf").alias("_cv"),
            "cnorm",
        )
    )
    if broadcast_queries:
        qarr = F.broadcast(qarr)
    paired = cand.join(carr, on="chunk_id").join(qarr, on=ROW_ID)

    _types = dict(paired.dtypes)
    out_schema = (
        f"{ROW_ID} {_types[ROW_ID]}, chunk_id {_types['chunk_id']}, "
        "_dot long, qnorm double, cnorm double"
    )

    def _merge_dot(batches):
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            dots = np.zeros(n, dtype="int64")
            qi_s, qv_s = pdf["_qi"].values, pdf["_qv"].values
            ci_s, cv_s = pdf["_ci"].values, pdf["_cv"].values
            for j in range(n):
                ci = np.asarray(ci_s[j], dtype="int64")
                if ci.size == 0:
                    continue
                qi = np.asarray(qi_s[j], dtype="int64")
                pos = np.searchsorted(ci, qi)
                pos_c = np.minimum(pos, ci.size - 1)
                hit = ci[pos_c] == qi
                if hit.any():
                    qv = np.asarray(qv_s[j], dtype="int64")
                    cv = np.asarray(cv_s[j], dtype="int64")
                    dots[j] = int((qv[hit] * cv[pos_c[hit]]).sum())
            yield pdf[[ROW_ID, "chunk_id", "qnorm", "cnorm"]].assign(
                _dot=dots
            )[[ROW_ID, "chunk_id", "_dot", "qnorm", "cnorm"]]

    # _dot > 0 before scoring: an LSH candidate sharing NO ngram bucket
    # with the query has dot 0, which the default min_score=0.0 >= filter
    # would otherwise let fill top-k slots — the exact path (inner join on
    # bucket) can never surface such a pair, and "same contract" means we
    # must not either (round-7 ADVICE).
    scored = (
        paired.mapInPandas(_merge_dot, schema=out_schema)
        .filter(F.col("_dot") > 0)
        .select(
            ROW_ID,
            "chunk_id",
            (F.col("_dot") / (F.col("qnorm") * F.col("cnorm"))).alias("score"),
        )
        .filter(F.col("score") >= min_score)
    )
    w = Window.partitionBy(ROW_ID).orderBy(F.desc("score"), "chunk_id")
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_k
    )
    return topk.join(
        store.chunks().select("chunk_id", "text", "source"), on="chunk_id"
    )


def attach_context(
    df: DataFrame,
    store: KnowledgeStore,
    query_cols: list[str],
    top_k: int = 3,
    min_score: float = 0.0,
    context_col: str = KB_CONTEXT,
    with_attribution: bool = False,
    count_col: str = "_evidence_count",
    method: str = "auto",
    lsh_kwargs: dict | None = None,
) -> DataFrame:
    """Append ``_kb_context``: top-k chunk texts joined by newlines, rank
    order (reference format: knowledge_retrieval_stage.py:83; the evidence
    variant adds score+source attribution,
    evidence_retrieval_stage.py:81-99).

    ``method``: ``"exact"`` forces the inverted-index join
    (:func:`retrieve_topk`), ``"lsh"`` the banded-hyperplane scale path
    (:func:`retrieve_topk_lsh`), ``"auto"`` (default) picks LSH when the
    store holds ≥ ``LSH_AUTO_THRESHOLD`` chunks — one memoized metadata
    read, so pipelines built through ``with_knowledge_base`` get the
    plan that survives a 1M-chunk corpus without opting in.
    ``lsh_kwargs`` forwards tuning knobs (n_planes, n_bands, max_bucket,
    min_band_matches, broadcast_queries) to the LSH path."""
    if method == "auto":
        method = (
            "lsh" if store.chunk_count() >= LSH_AUTO_THRESHOLD else "exact"
        )
    if method == "lsh":
        topk = retrieve_topk_lsh(
            df, store, query_cols, top_k, min_score, **(lsh_kwargs or {})
        )
    elif method == "exact":
        topk = retrieve_topk(df, store, query_cols, top_k, min_score)
    else:
        raise ValueError(
            f"attach_context method must be auto|exact|lsh, got {method!r}"
        )
    line = (
        F.format_string(
            "[%.2f] (%s) %s", F.col("score"), F.col("source"), F.col("text")
        )
        if with_attribution
        else F.col("text")
    )
    ctx = (
        topk.withColumn("_line", line)
        .groupBy(ROW_ID)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rank", "_line"))),
                    lambda x: x["_line"],
                ),
            ).alias(context_col),
            F.count(F.lit(1)).alias(count_col),
        )
    )
    out = df.join(ctx, on=ROW_ID, how="left")
    return out.fillna({context_col: ""}).withColumn(
        count_col, F.coalesce(F.col(count_col), F.lit(0))
    )
