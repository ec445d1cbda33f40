"""Knowledge layer tests (R1-R7, F13/F14, W3/W4) against python oracles."""

import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from ondine_spark.knowledge import (
    KnowledgeStore,
    attach_context,
    fixed_chunks,
    rrf_fuse,
    semantic_chunks,
)
from ondine_spark.knowledge.reranker import multi_query, overlap_reranker


DOCS = [
    (1, "The quick brown fox jumps over the lazy dog. It runs fast. "
        "Dogs sleep all day. Cats chase mice at night. Mice hide in walls."),
    (2, "Spark executes queries lazily. Catalyst optimizes the plan. "
        "Tungsten generates code. Shuffles move data between executors."),
    (3, "word " * 300),  # one long unpunctuated sentence → window fallback
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


@pytest.fixture(scope="module")
def store(spark, docs_df, tmp_path_factory):
    st = KnowledgeStore(spark, str(tmp_path_factory.mktemp("kb")))
    st.ingest(docs_df, "doc_id", "text", max_tokens=12)
    return st


def test_fixed_chunks_reconstruct_and_budget(docs_df):
    chunks = fixed_chunks(docs_df, "doc_id", "text", max_tokens=12).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: text reconstructs exactly from ordered chunks
    d1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert " ".join(r["chunk_text"] for r in d1) == DOCS[0][1]
    # budget: every chunk ≤ max_tokens + the one overflowing sentence
    for r in chunks:
        n_words = len(r["chunk_text"].split())
        assert n_words <= 12 + 12  # cumsum packing overflow bound
    # doc 3 (300 tokens, no punctuation) must still split into many chunks
    assert len(by_doc[3]) >= 300 // 24
    # chunk ids unique + deterministic
    ids = [r["chunk_id"] for r in chunks]
    assert len(ids) == len(set(ids))
    again = fixed_chunks(docs_df, "doc_id", "text", max_tokens=12).collect()
    assert sorted(ids) == sorted(r["chunk_id"] for r in again)


def test_semantic_chunks_cover_and_order(docs_df):
    chunks = semantic_chunks(docs_df, "doc_id", "text", max_tokens=50).collect()
    d1 = sorted(
        [r for r in chunks if r["doc_id"] == 1], key=lambda r: r["chunk_idx"]
    )
    assert " ".join(r["chunk_text"] for r in d1) == DOCS[0][1]
    assert len(d1) >= 2  # breakpoints actually split the 5-sentence doc


def _bm25_oracle(query, chunks):
    """Textbook BM25 (k1=1.2, b=0.75) over whitespace tokens."""
    k1, b = 1.2, 0.75
    toks = [c["text"].lower().split() for c in chunks]
    n = len(chunks)
    avgdl = sum(len(t) for t in toks) / n
    scores = {}
    for qt in set(query.lower().split()):
        df = sum(1 for t in toks if qt in t)
        if df == 0:
            continue
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        for c, t in zip(chunks, toks):
            tf = t.count(qt)
            if tf:
                s = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(t) / avgdl))
                scores[c["chunk_id"]] = scores.get(c["chunk_id"], 0.0) + s
    return scores


def test_keyword_bm25_matches_oracle(store):
    chunks = store.chunks().collect()
    got = {r["chunk_id"]: r["score"] for r in store.keyword_scores("lazy dog plan").collect()}
    want = _bm25_oracle("lazy dog plan", chunks)
    assert set(got) == set(want)
    for cid in got:
        assert got[cid] == pytest.approx(want[cid], rel=1e-9)


def test_dense_scores_match_ngram_cosine_oracle(store):
    import hashlib

    def vec(text, dim=2048):
        c = Counter()
        s = text.lower()
        for j in range(max(0, len(s) - 2)):
            h = int(hashlib.md5(s[j:j+3].encode()).hexdigest()[:15], 16)
            c[h % dim] += 1
        return c

    q = "quick brown fox"
    qv = vec(q)
    chunks = store.chunks().collect()
    got = {r["chunk_id"]: r["score"] for r in store.dense_scores(q).collect()}
    for c in chunks:
        cv = vec(c["text"])
        dot = sum(qv[k] * cv[k] for k in qv)
        if dot == 0:
            assert c["chunk_id"] not in got
            continue
        sim = dot / (
            math.sqrt(sum(v * v for v in qv.values()))
            * math.sqrt(sum(v * v for v in cv.values()))
        )
        assert got[c["chunk_id"]] == pytest.approx(sim, rel=1e-9)


def test_hybrid_search_returns_relevant_topk(store):
    hits = store.search("quick brown fox", top_k=2, mode="hybrid").collect()
    assert len(hits) == 2
    assert "fox" in hits[0]["text"].lower()
    # reranker hook composes
    hits_rr = store.search(
        "quick brown fox", top_k=2, mode="hybrid", reranker=overlap_reranker()
    ).collect()
    assert len(hits_rr) == 2


def test_rrf_fusion_oracle(spark):
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["chunk_id", "rank"])
    b = spark.createDataFrame([(3, 1), (1, 2)], ["chunk_id", "rank"])
    got = {r["chunk_id"]: r["rrf_score"] for r in rrf_fuse([a, b]).collect()}
    assert got[1] == pytest.approx(1 / 61 + 1 / 62)
    assert got[3] == pytest.approx(1 / 63 + 1 / 61)
    assert got[2] == pytest.approx(1 / 62)


def test_attach_context_per_row(spark, store):
    rows = spark.createDataFrame(
        [(10, "tell me about the quick fox"), (11, "how does catalyst optimize")],
        ["_row_id", "question"],
    )
    out = attach_context(rows, store, ["question"], top_k=2).collect()
    by_id = {r["_row_id"]: r for r in out}
    assert "fox" in by_id[10]["_kb_context"].lower()
    assert "catalyst" in by_id[11]["_kb_context"].lower()
    assert by_id[10]["_evidence_count"] == 2


def test_multi_query_transform_with_mock():
    class FakeClient:
        def complete(self, prompt, system=None):
            class R:
                text = "variant one\nvariant two\nvariant three\nextra"
            return R()

    vs = multi_query(FakeClient(), "q", n=3)
    assert vs == ["variant one", "variant two", "variant three"]


def test_ivf_topk_matches_brute_force_full_probe(spark):
    """IVF with nprobe=nlist is exact — equals brute force."""
    from ondine_spark.operators.similarity_search import (
        brute_force_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.limit(300)
    queries = (
        emb.limit(5)
        .select(
            emb.vec_id.alias("query_id"), emb.embedding.alias("query_vec")
        )
    )
    cents = train_ivf_centroids(corpus, nlist=8)
    assert len(cents) == 8

    exact = brute_force_topk(corpus, queries, k=5)
    full = ivf_topk(corpus, queries, k=5, centroids=cents, nprobe=8)
    e = {(r["query_id"], r["rank"]): r["vec_id"] for r in exact.collect()}
    f = {(r["query_id"], r["rank"]): r["vec_id"] for r in full.collect()}
    assert e == f

    # nprobe=2 is approximate but must keep high recall on top-5
    approx = ivf_topk(corpus, queries, k=5, centroids=cents, nprobe=2)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    ex = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    recall = len(a & ex) / len(ex)
    assert recall >= 0.6, recall


def test_preprocess_stats(spark):
    from ondine_spark.operators.quality import preprocess_stats

    before = spark.createDataFrame(
        [(1, "hello   world"), (2, "short"), (3, None)], ["_row_id", "t"]
    )
    after = spark.createDataFrame(
        [(1, "hello world"), (2, "short"), (3, None)], ["_row_id", "t"]
    )
    s = preprocess_stats(before, after, "t")
    assert s.rows == 3
    assert s.chars_before == 18 and s.chars_after == 16
    assert s.truncated == 1 and s.nulls == 1


def test_llm_judge_rag_eval(spark):
    """R8: three 0-1 score columns from a deterministic judge."""
    import sys as _sys

    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(_sys.modules[__name__])
    from ondine_spark.knowledge.eval import judge_scores

    def judge_factory():
        class Judge:
            def complete(self, prompt, system=None):
                from ondine_spark.llm.client import LLMResult

                if prompt.startswith("Rate 0.0-1.0 how faithful"):
                    t = "0.9" if "paris" in prompt.lower() else "0.1"
                elif "how relevant" in prompt:
                    t = "Score: 0.8"
                else:
                    t = "no idea"  # unparseable → null
                return LLMResult(text=t, tokens_in=1, tokens_out=1,
                                model="j", cost="0", latency_ms=0.1)

        return Judge()

    df = spark.createDataFrame(
        [
            (1, "capital of france?", "Paris", "Paris is the capital of France"),
            (2, "capital of spain?", "Berlin", "Madrid is the capital of Spain"),
        ],
        ["_row_id", "q", "a", "_kb_context"],
    )
    out = {r["_row_id"]: r for r in judge_scores(
        df, judge_factory, "q", "a"
    ).collect()}
    assert out[1]["_kb_eval_faithfulness"] == 0.9
    assert out[2]["_kb_eval_faithfulness"] == 0.1
    assert out[1]["_kb_eval_relevancy"] == 0.8
    assert out[1]["_kb_eval_context_precision"] is None  # unparseable


def test_redis_bucket_import_guard():
    import pytest as _pytest

    from ondine_spark.llm.redis_bucket import RedisTokenBucket

    try:
        import redis  # noqa
        has_redis = True
    except ImportError:
        has_redis = False
    if not has_redis:
        with _pytest.raises(ImportError, match="redis"):
            RedisTokenBucket("redis://localhost", "m", 60)


def test_store_meta_persists_ngram_dim(spark, docs_df, tmp_path_factory):
    """The dense index's bucket ids are hash % ngram_dim, so a store
    ingested at one dim and reopened at another mis-hashes every query
    with no error. Ingest persists the dim in store_meta.json; a bare
    reopen (the pipeline surface's KnowledgeStore(spark, path)) must
    inherit it, and a conflicting explicit arg must raise."""
    path = str(tmp_path_factory.mktemp("kb_meta"))
    st = KnowledgeStore(spark, path, ngram_dim=8192)
    st.ingest(docs_df, "doc_id", "text", max_tokens=12)

    reopened = KnowledgeStore(spark, path)  # no arg — pipeline-surface shape
    assert reopened.ngram_dim == 8192
    # retrieval through the reopened store matches the original: same
    # top-1 chunk + identical dense score for the same query
    q = "unique purple elephants"
    a = st.search(q, top_k=1, mode="dense").collect()
    b = reopened.search(q, top_k=1, mode="dense").collect()
    assert [(r["chunk_id"], round(r["score"], 9)) for r in a] == [
        (r["chunk_id"], round(r["score"], 9)) for r in b
    ]

    # matching explicit arg is fine; conflicting one is loud
    assert KnowledgeStore(spark, path, ngram_dim=8192).ngram_dim == 8192
    with pytest.raises(ValueError, match="ingested with ngram_dim=8192"):
        KnowledgeStore(spark, path, ngram_dim=2048)


def test_store_without_meta_defaults(spark, docs_df, tmp_path_factory):
    """Pre-sidecar stores (no store_meta.json) keep the old contract:
    constructor arg wins, default is 2048."""
    import os as _os

    path = str(tmp_path_factory.mktemp("kb_nometa"))
    KnowledgeStore(spark, path, ngram_dim=4096).ingest(
        docs_df, "doc_id", "text", max_tokens=12
    )
    _os.remove(_os.path.join(path, "store_meta.json"))
    assert KnowledgeStore(spark, path).ngram_dim == 2048
    assert KnowledgeStore(spark, path, ngram_dim=4096).ngram_dim == 4096


def test_reopened_store_reads_tables_without_jobs(
    spark, store, count_jobs
):
    """Ingest records the tables' schemas next to ngram_dim, so a fresh
    store (one per pipeline plan build) reads chunks, terms and buckets
    without a parquet schema-inference job each, and reads the same
    rows."""
    reopened = KnowledgeStore(spark, store.path)
    jobs, frames = count_jobs(
        lambda: (reopened.chunks(), reopened.terms(), reopened.buckets())
    )
    assert jobs == 0
    for got, name in zip(frames, ("chunks", "terms", "buckets")):
        inferred = spark.read.parquet(f"{store.path}/{name}")
        assert got.dtypes == inferred.dtypes
        assert sorted(got.collect()) == sorted(inferred.collect())


def test_store_meta_without_schemas_still_opens(
    spark, docs_df, tmp_path_factory
):
    """A store whose sidecar predates the recorded schemas (ngram_dim
    only) opens and reads its tables by inference."""
    import json as _json
    import os as _os

    path = str(tmp_path_factory.mktemp("kb_v1meta"))
    st = KnowledgeStore(spark, path, ngram_dim=4096)
    st.ingest(docs_df, "doc_id", "text", max_tokens=12)
    with open(_os.path.join(path, "store_meta.json"), "w") as fh:
        _json.dump({"ngram_dim": 4096, "version": 1}, fh)
    crc = _os.path.join(path, ".store_meta.json.crc")  # Hadoop checksum
    if _os.path.exists(crc):
        _os.remove(crc)
    old = KnowledgeStore(spark, path)
    assert old.ngram_dim == 4096
    assert old.chunks().count() == st.chunks().count()
    q = "Catalyst optimizes the plan"
    assert [r["chunk_id"] for r in old.search(q, top_k=2).collect()] == [
        r["chunk_id"] for r in st.search(q, top_k=2).collect()
    ]


def test_ingest_raises_first_and_logs_second_index_error(
    spark, docs_df, tmp_path_factory, caplog
):
    """The two index writes run on their own threads. When both fail,
    ingest raises the first error on the caller thread and logs the
    second instead of dropping it."""
    import logging
    import os as _os

    path = str(tmp_path_factory.mktemp("kb_fail"))
    for name in ("terms", "buckets"):
        _os.makedirs(_os.path.join(path, name))
    with caplog.at_level(logging.ERROR, logger="ondine_spark"):
        with pytest.raises(Exception, match="already exists"):
            KnowledgeStore(spark, path).ingest(
                docs_df, "doc_id", "text", max_tokens=12, mode="error"
            )
    assert [
        r for r in caplog.records
        if "second index write also failed" in r.getMessage() and r.exc_info
    ]


def test_search_single_mode_topk_is_true_topk(spark, tmp_path_factory):
    """Regression (round 8): in dense-/keyword-only modes nothing consumed
    the `rank` column, so Catalyst pruned the ranking window (and its
    sort) and `.limit(fetch)` kept arbitrary rows — search(top_k=1)
    dropped the true best chunk ~30% of the time once candidates exceeded
    fetch. Pin: top-1 score equals the max over the full score frame."""
    import random as _random
    import string as _string

    rng = _random.Random(13)
    shared = "commontoken"
    docs = [
        (
            i,
            shared
            + " "
            + " ".join(
                "".join(rng.choice(_string.ascii_lowercase) for _ in range(6))
                for _ in range(6)
            ),
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    st = KnowledgeStore(spark, str(tmp_path_factory.mktemp("kb_topk")))
    st.ingest(df, "doc_id", "text", max_tokens=32)

    for i in (3, 17, 29):
        q = " ".join(docs[i][1].split()[:4])  # shared token → 40 candidates
        for mode, scores in (
            ("dense", st.dense_scores(q)),
            ("keyword", st.keyword_scores(q)),
        ):
            best = scores.agg(F.max("score")).collect()[0][0]
            top1 = st.search(q, top_k=1, mode=mode).collect()
            assert top1 and abs(top1[0]["score"] - best) < 1e-12, (
                f"{mode} top-1 {top1[0]['score'] if top1 else None} != "
                f"max {best} for doc {i}"
            )
