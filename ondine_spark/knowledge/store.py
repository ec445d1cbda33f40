"""KnowledgeStore (R1/R2): ingest → chunk → index → hybrid search.

Reference (ondine/knowledge/store.py:132-213 + the Rust store,
crates/ondine-core/src/evidence/store.rs:260-335,524-702): documents are
chunked, stored in SQLite with an FTS5 keyword index and an embedding BLOB
table; search runs dense cosine + FTS5 keyword in parallel, fuses with
reciprocal-rank fusion (k=60), dedups by chunk keeping max score, reranks,
and returns top-k.

Spark-first redesign:
- chunks + indexes are DataFrames persisted as parquet; the keyword and
  dense indexes are INVERTED-INDEX frames (term → chunk postings), so a
  query is a broadcast join against postings — no crossJoin, no per-row
  Python, scales to 100 TB corpora by partitioning on term.
- keyword scoring is textbook BM25 (k1=1.2, b=0.75) — a documented
  divergence from SQLite FTS5's internal rank (SURVEY.md §7 hard-part 5);
  ranking overlap, not score equality, is the parity contract.
- dense scoring is TF cosine over md5-hashed char-ngram buckets — exact,
  deterministic, ANSI-SQL-reproducible (the oracle can recompute every
  score bit-for-bit; no model downloads).
- RRF, dedup-max-score, and top-k are plain window/agg ops (W3/W4).
"""

from __future__ import annotations

import json
import logging
import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ondine_spark.core.partitioning import spread_small
from ondine_spark.functions.similarity import tokens
from ondine_spark.knowledge.chunker import fixed_chunks, semantic_chunks
from ondine_spark.knowledge.embedders import ngram_buckets

RRF_K = 60  # reference constant: evidence/store.rs:672-702

STORE_META_FILE = "store_meta.json"


def _meta_fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for the store's meta sidecar — the
    Hadoop API so the sidecar lives on whatever scheme the store's
    parquet does (local, hdfs://, s3a://), not just the driver's disk."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path, STORE_META_FILE)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


def _read_store_meta(spark: SparkSession, path: str) -> dict | None:
    try:
        fs, p = _meta_fs_path(spark, path)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            raw = spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return json.loads(raw)
    except Exception:
        # unreadable/corrupt sidecar: behave like a pre-sidecar store
        # (caller falls back to the explicit arg or the default)
        return None


def _write_store_meta(spark: SparkSession, path: str, meta: dict) -> None:
    fs, p = _meta_fs_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        out.close()


def rrf_fuse(
    ranked_lists: list[DataFrame], id_col: str = "chunk_id", k: int = RRF_K
) -> DataFrame:
    """W4: reciprocal-rank fusion. Each input frame must carry ``id_col``
    and ``rank`` (1-based). Returns (id_col, rrf_score) sorted desc."""
    scored = [
        df.select(id_col, (1.0 / (k + F.col("rank"))).alias("_rrf"))
        for df in ranked_lists
    ]
    unioned = scored[0]
    for s in scored[1:]:
        unioned = unioned.unionByName(s)
    return (
        unioned.groupBy(id_col)
        .agg(F.sum("_rrf").alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), id_col)
    )


def _with_rank(df: DataFrame, score_col: str) -> DataFrame:
    """CONTRACT: ``df`` is a per-query RESULT LIST (≤ top_k rows already
    reduced by score filters), never a corpus-sized frame — the global
    unpartitioned Window here funnels all rows to one task, which is fine
    for k rows and catastrophic for 10¹⁰. Corpus-sized ranking must
    partition the window (see retrieval.py's per-query rank)."""
    w = Window.orderBy(F.desc(score_col), "chunk_id")
    return df.withColumn("rank", F.row_number().over(w))


BM25_K1, BM25_B = 1.2, 0.75


def bm25_frame(
    df: DataFrame, id_col: str, text_col: str, query: str,
    k1: float = BM25_K1, b: float = BM25_B,
) -> DataFrame:
    """Standalone BM25 over any (id, text) frame treated as the corpus —
    (id_col, score) for OR-matched query terms. Same formula as
    KnowledgeStore.keyword_scores; this variant computes postings on the
    fly so entry queries can oracle-check the scoring math directly."""
    q_terms = sorted({t for t in (query or "").lower().split() if t})
    if not q_terms:
        return df.select(id_col).limit(0).withColumn("score", F.lit(0.0))
    # r8 rewrite — zero keyed shuffles (was: explode every corpus token →
    # broadcast-join the query terms → THREE groupBys). Per-term tf is a
    # per-doc array count (the query has a handful of terms); n_docs,
    # avgdl and every per-term document frequency come from ONE tiny
    # global aggregate; the score is a projection against that broadcast
    # 1-row frame. Same BM25 floats per term; the OR-match sum runs in
    # fixed sorted-term order (the old groupBy summed in arrival order —
    # both land on the same 1e-6-rounded values the oracle pins).
    base = spread_small(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).withColumn("dl", F.size("_toks"))
    def _tf_of(term: str):
        return F.coalesce(
            F.size(F.filter("_toks", lambda x: x == F.lit(term))), F.lit(0)
        ).cast("long")

    tfs = base.select(
        id_col,
        "dl",
        *[_tf_of(t).alias(f"_tf{i}") for i, t in enumerate(q_terms)],
    )
    stats = tfs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") >= 1).cast("long")).alias(f"_df{i}")
            for i in range(len(q_terms))
        ],
    )
    matched = tfs.where(
        sum(F.col(f"_tf{i}") for i in range(len(q_terms))) >= 1
    ).crossJoin(F.broadcast(stats))

    def _term_score(i: int):
        tf = F.col(f"_tf{i}").cast("double")
        idf = F.log(
            (F.col("n_docs") - F.col(f"_df{i}") + 0.5)
            / (F.col(f"_df{i}") + 0.5)
            + 1.0
        )
        tf_part = (tf * (k1 + 1)) / (
            tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
        return F.when(F.col(f"_tf{i}") >= 1, idf * tf_part).otherwise(
            F.lit(0.0)
        )

    from functools import reduce
    from operator import add

    score = reduce(add, (_term_score(i) for i in range(len(q_terms))))
    return matched.select(id_col, score.alias("score"))


def ngram_cosine_frame(
    df: DataFrame, id_col: str, text_col: str, query: str, dim: int = 2048
) -> DataFrame:
    """Standalone hashed char-3gram TF cosine of ``query`` against every
    row's text — (id_col, score), rows with zero overlap absent. The
    md5-bucket hashing is ANSI-SQL-portable (oracle contract)."""
    import hashlib

    s = (query or "").lower()
    counts: dict[int, int] = {}
    for j in range(max(0, len(s) - 2)):
        h = int(hashlib.md5(s[j : j + 3].encode()).hexdigest()[:15], 16)
        counts[h % dim] = counts.get(h % dim, 0) + 1
    if not counts:
        return df.select(id_col).limit(0).withColumn("score", F.lit(0.0))
    qnorm = math.sqrt(sum(v * v for v in counts.values()))
    # r8 rewrite — ZERO keyed shuffles (was: explode every doc bucket →
    # groupBy (id, bucket) → two more aggregates + a join). The query
    # vector is a CONSTANT, so per-doc dot and norm need only the doc's
    # own bucket array: the md5 ngram hashing stays JVM (the
    # oracle-portable contract), one Arrow kernel bincounts each doc and
    # takes dot + norm against the dense query vector. Bit-identical
    # floats: tf/qtf are exact integers in float64 (products and sums
    # < 2⁵³ commute exactly), cnorm the same sqrt, and the score the same
    # _dot / (cnorm · qnorm) division. Docs sharing no bucket (dot 0) are
    # absent, exactly like the old inner join on bucket.
    import numpy as np

    qv = np.zeros(dim, dtype=np.float64)
    for b_, v in counts.items():
        qv[b_] = v

    base = spread_small(df).select(
        F.col(id_col), ngram_buckets(F.col(text_col), dim=dim).alias("_b")
    )
    id_type = dict(base.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, score double"
    rows_per_block = max(1, (1 << 21) // dim)

    def _cosine_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for lo in range(0, len(pdf), rows_per_block):
                blk = pdf.iloc[lo : lo + rows_per_block]
                n = len(blk)
                # null text → null bucket array (None here); score it as
                # empty, exactly like the old explode (no rows)
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
                T = np.zeros((n, dim), dtype=np.float64)
                np.add.at(T, (row_of, flat), 1.0)
                dot = T @ qv
                keep = dot > 0
                if not keep.any():
                    continue
                cnorm = np.sqrt((T[keep] * T[keep]).sum(axis=1))
                yield pd.DataFrame(
                    {
                        id_col: blk[id_col].to_numpy()[keep],
                        "score": dot[keep] / (cnorm * qnorm),
                    }
                )

    return base.mapInPandas(_cosine_batches, schema=out_schema)


class KnowledgeStore:
    """Chunk corpus + two inverted indexes, persisted under ``path``.

    Layout: ``{path}/chunks`` (chunk_id, text, source, chunk_tokens),
    ``{path}/terms`` (term, chunk_id, tf) — word-level, BM25;
    ``{path}/buckets`` (bucket, chunk_id, tf) — hashed char-ngrams, dense
    cosine. Both indexes pre-aggregate postings so a query touches only
    matching postings (partition pruning by term at scale).
    """

    def __init__(
        self, spark: SparkSession, path: str, ngram_dim: int | None = None
    ):
        self.spark = spark
        self.path = path
        # The dense index's bucket ids are ``hash(ngram) % ngram_dim`` —
        # a store ingested at one dim and REOPENED at another silently
        # mis-hashes every query (near-zero posting overlap, no error).
        # Ingest therefore persists the dim in a meta sidecar, and the
        # constructor resolves it from there so pipeline-surface reopens
        # (with_knowledge_base → KnowledgeStore(spark, path)) inherit the
        # ingest-time dim instead of the default. An explicit arg that
        # CONFLICTS with the sidecar is a loud error, not a quiet wrong
        # answer.
        meta = _read_store_meta(spark, path)
        meta_dim = meta.get("ngram_dim") if meta else None
        # the tables' schemas as ingest wrote them: reading with a given
        # schema skips parquet's schema-inference job, which a fresh store
        # (one per pipeline plan build) otherwise pays per table. A store
        # written without them infers as before.
        self._schemas = (meta or {}).get("schemas") or {}
        if ngram_dim is None:
            self.ngram_dim = meta_dim if meta_dim is not None else 2048
        else:
            if meta_dim is not None and meta_dim != ngram_dim:
                raise ValueError(
                    f"KnowledgeStore at {path} was ingested with "
                    f"ngram_dim={meta_dim} but opened with "
                    f"ngram_dim={ngram_dim}; omit the argument to use the "
                    "stored value, or re-ingest"
                )
            self.ngram_dim = ngram_dim
        self._chunks = None
        self._terms = None
        self._buckets = None
        self._chunk_count: int | None = None

    # ------------------------------------------------------------- ingest

    def ingest(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        source_col: str | None = None,
        max_tokens: int = 128,
        chunking: str = "fixed",
        mode: str = "overwrite",
    ) -> DataFrame:
        """Load → chunk → write chunk table + both indexes (R1).

        One pass over the corpus; the chunker is pure window/array exprs and
        the indexes are explode+groupBy, so the job count does not grow
        with the corpus: 12 jobs for a 30-doc parquet corpus on 4 cores
        (each adaptive stage of the chunk write and of the two concurrent
        index writes is a job; reference's batched-FFI ingest optimization
        is moot: DataFrame writes are already batched)."""
        chunker = fixed_chunks if chunking == "fixed" else semantic_chunks
        chunks = chunker(docs, id_col, text_col, max_tokens=max_tokens)
        src = (
            F.col(id_col).cast("string")
            if source_col is None
            else F.col(source_col).cast("string")
        )
        # carry source through the chunker via join back on doc id
        doc_src = docs.select(
            F.col(id_col), src.alias("source")
        ).dropDuplicates([id_col])
        chunks = (
            chunks.join(doc_src, on=id_col, how="left")
            .select(
                "chunk_id",
                F.col("chunk_text").alias("text"),
                "source",
                "chunk_tokens",
                F.col(id_col).cast("string").alias("doc_id"),
                "chunk_idx",
            )
        )
        chunks.write.mode(mode).parquet(os.path.join(self.path, "chunks"))
        # drop memoized readers — a re-ingest overwrote their file listings
        # — and the recorded schemas, so the re-read infers what was written
        self._chunks = self._terms = self._buckets = None
        self._chunk_count = None
        self._schemas = {}
        chunks = self.chunks()  # re-read: single source of truth
        # the re-read is one file (one task) on a small corpus: spread it
        # so both index builds hash the chunks on every core
        spread = spread_small(chunks)

        terms = (
            spread.select(
                "chunk_id", F.explode(tokens(F.col("text"))).alias("term")
            )
            .groupBy("term", "chunk_id")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        buckets = (
            spread.select(
                "chunk_id",
                F.explode(
                    ngram_buckets(F.col("text"), dim=self.ngram_dim)
                ).alias("bucket"),
            )
            .groupBy("bucket", "chunk_id")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        # The two index builds read the SAME written chunk table and write
        # to disjoint paths, so they are independent jobs: submit both and
        # let the second's tasks back-fill the first's straggler tail
        # (guide §2.6). Each job's plan — and therefore each index's
        # content — is exactly what the sequential writes produced.
        # InheritableThread (not a bare pool): the caller's Spark local
        # properties (job group/description/scheduler pool) carry into
        # both write jobs, so sc.cancelJobGroup() around ingest still
        # cancels them, and under pinned-thread mode the matching JVM
        # threads are cleaned up instead of leaking across ingests.
        from pyspark import InheritableThread

        errs: list[Exception] = []

        def _write(df: DataFrame, name: str) -> None:
            try:
                df.write.mode(mode).parquet(os.path.join(self.path, name))
            except Exception as exc:  # surfaced on the caller thread
                errs.append(exc)

        threads = [
            InheritableThread(target=_write, args=(df, name))
            for df, name in ((terms, "terms"), (buckets, "buckets"))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for exc in errs[1:]:
            logging.getLogger("ondine_spark").error(
                "knowledge ingest: second index write also failed",
                exc_info=exc,
            )
        if errs:
            raise errs[0]
        self._terms = self._buckets = None
        # nullable, as a parquet read reports every column
        self._schemas = {
            name: T.StructType(
                [T.StructField(f.name, f.dataType) for f in df.schema]
            ).json()
            for name, df in (
                ("chunks", chunks), ("terms", terms), ("buckets", buckets)
            )
        }
        _write_store_meta(
            self.spark, self.path,
            {"ngram_dim": self.ngram_dim, "version": 1,
             "schemas": self._schemas},
        )
        return chunks

    def _read(self, name: str) -> DataFrame:
        reader = self.spark.read
        schema = self._schemas.get(name)
        if schema:
            reader = reader.schema(T.StructType.fromJson(json.loads(schema)))
        return reader.parquet(os.path.join(self.path, name))

    def chunks(self) -> DataFrame:
        if self._chunks is None:
            self._chunks = self._read("chunks")
        return self._chunks

    def chunk_count(self) -> int:
        """Corpus size, memoized (the store is immutable between ingests).

        Read from parquet FOOTER metadata when the path is a local
        directory (pyarrow ``count_rows`` — no Spark job, no data scan);
        fall back to one Spark count otherwise. Callers that size plans
        by corpus scale (LSH auto band width, ``attach_context``
        method="auto") hit this on every plan build, so it must be a
        metadata read, not a repeated job (round-7 ADVICE)."""
        if self._chunk_count is None:
            chunk_dir = os.path.join(self.path, "chunks")
            try:
                import glob

                import pyarrow.dataset as pads

                parts = glob.glob(os.path.join(chunk_dir, "*.parquet"))
                if not parts:  # non-local FS or empty dir: Spark path
                    raise FileNotFoundError(chunk_dir)
                self._chunk_count = pads.dataset(
                    parts, format="parquet"
                ).count_rows()
            except Exception:
                self._chunk_count = self.chunks().count()
        return self._chunk_count

    def terms(self) -> DataFrame:
        if self._terms is None:
            self._terms = self._read("terms")
        return self._terms

    def buckets(self) -> DataFrame:
        if self._buckets is None:
            self._buckets = self._read("buckets")
        return self._buckets

    # ------------------------------------------------------------ scoring

    def keyword_scores(self, query: str) -> DataFrame:
        """BM25 over the word-level inverted index (F12 analog).

        OR-semantics across query words (the reference ORs quoted words into
        FTS5: evidence/store.rs:310-335). Returns (chunk_id, score)."""
        spark = self.spark
        q_terms = sorted(
            {t for t in (query or "").lower().split() if t}
        )
        if not q_terms:
            return self.chunks().select("chunk_id").limit(0).withColumn(
                "score", F.lit(0.0)
            )
        qdf = spark.createDataFrame([(t,) for t in q_terms], ["term"])
        chunks = self.chunks()
        stats = chunks.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("chunk_tokens").alias("avgdl"),
        )
        postings = self.terms().join(F.broadcast(qdf), on="term")
        df_per_term = postings.groupBy("term").agg(
            F.count(F.lit(1)).alias("df")
        )
        scored = (
            postings.join(F.broadcast(df_per_term), on="term")
            .join(
                chunks.select("chunk_id", "chunk_tokens"), on="chunk_id"
            )
            .crossJoin(F.broadcast(stats))
        )
        k1, b = 1.2, 0.75
        idf = F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        tf_part = (F.col("tf") * (k1 + 1)) / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("chunk_tokens") / F.col("avgdl"))
        )
        return (
            scored.withColumn("_s", idf * tf_part)
            .groupBy("chunk_id")
            .agg(F.sum("_s").alias("score"))
        )

    def dense_scores(self, query: str) -> DataFrame:
        """TF cosine over hashed-ngram buckets (F11 analog): a broadcast
        join on bucket — the inverted-index form of dense retrieval."""
        spark = self.spark
        import hashlib

        s = (query or "").lower()
        counts: dict[int, int] = {}
        for j in range(max(0, len(s) - 2)):
            g = s[j : j + 3]
            h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
            counts[h % self.ngram_dim] = counts.get(h % self.ngram_dim, 0) + 1
        if not counts:
            return self.chunks().select("chunk_id").limit(0).withColumn(
                "score", F.lit(0.0)
            )
        qnorm = math.sqrt(sum(v * v for v in counts.values()))
        qdf = spark.createDataFrame(
            [(b, v) for b, v in sorted(counts.items())], ["bucket", "qtf"]
        )
        chunk_norm = (
            self.buckets()
            .groupBy("chunk_id")
            .agg(F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("cnorm"))
        )
        return (
            self.buckets()
            .join(F.broadcast(qdf), on="bucket")
            .groupBy("chunk_id")
            .agg(F.sum(F.col("tf") * F.col("qtf")).alias("_dot"))
            .join(chunk_norm, on="chunk_id")
            .select(
                "chunk_id",
                (F.col("_dot") / (F.col("cnorm") * F.lit(qnorm))).alias("score"),
            )
        )

    # ------------------------------------------------------------- search

    def search(
        self,
        query: str,
        top_k: int = 5,
        mode: str = "hybrid",
        query_variants: list[str] | None = None,
        reranker=None,
    ) -> DataFrame:
        """R2: per-variant hybrid (dense + BM25) → RRF → dedup max-score →
        optional rerank → top-k. Over-fetches ``top_k*3`` per variant before
        fusion (reference: ondine/knowledge/store.py:169-213)."""
        variants = [query] + list(query_variants or [])
        fetch = top_k * 3
        per_variant = []
        for v in variants:
            # top-fetch via FILTER on the window rank, not .limit(): when a
            # mode doesn't consume `rank` downstream (dense/keyword-only),
            # Catalyst's column pruning deletes the unused window AND its
            # sort, and limit() then keeps `fetch` arbitrary rows — the
            # true top-1 was dropped ~30% of the time at top_k=1 (caught
            # by an end-to-end drive, round 8). Filtering on rank makes
            # the window load-bearing in every mode.
            if mode in ("hybrid", "dense"):
                dense = _with_rank(self.dense_scores(v), "score").filter(
                    F.col("rank") <= fetch
                )
            if mode in ("hybrid", "keyword"):
                kw = _with_rank(self.keyword_scores(v), "score").filter(
                    F.col("rank") <= fetch
                )
            if mode == "hybrid":
                # RRF ranks are coarse (ties are common on small candidate
                # sets) — carry the dense cosine as a deterministic tiebreak
                fused = (
                    rrf_fuse([dense, kw])
                    .withColumnRenamed("rrf_score", "score")
                    .join(
                        dense.select("chunk_id", F.col("score").alias("_tie")),
                        on="chunk_id",
                        how="left",
                    )
                    .fillna({"_tie": 0.0})
                )
            elif mode == "dense":
                fused = dense.select(
                    "chunk_id", "score", F.col("score").alias("_tie")
                )
            else:
                fused = kw.select(
                    "chunk_id", "score", F.col("score").alias("_tie")
                )
            per_variant.append(fused)
        merged = per_variant[0]
        for p in per_variant[1:]:
            merged = merged.unionByName(p)
        # dedup across variants keeping max score (§2.6)
        deduped = merged.groupBy("chunk_id").agg(
            F.max("score").alias("score"), F.max("_tie").alias("_tie")
        )
        hits = deduped.join(self.chunks(), on="chunk_id").select(
            "chunk_id", "text", "source", "score", "_tie"
        )
        if reranker is not None:
            hits = reranker(query, hits)
        return (
            hits.orderBy(F.desc("score"), F.desc("_tie"), "chunk_id")
            .limit(top_k)
            .drop("_tie")
        )
