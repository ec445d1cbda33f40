"""Phase-level timing breakdown for the heaviest bench queries (guide §1:
measure first, isolate with the noop sink, label jobs).

Usage: python tools/profile_phases.py [sf_dir] [phase ...]
Phases: dup_clusters naive_exec batched_exec winnow dsir ivfpq ann minhash
Times every sub-phase with bench.py's session and measure() (median of
GC-fenced, load-gated reps; one stderr line each), then prints a summary
sorted by wall seconds. Run on a quiet box.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    want = set(sys.argv[2:])

    from pyspark.sql import functions as F

    import bench

    spark = bench.session("profile_phases")
    import __spark_entry__ as entry

    bench.warm_up(spark)
    book = bench.Measured()

    def phase(name, fn, reps=2):
        """Time ``fn`` under a job label; returns its last result."""
        spark.sparkContext.setJobDescription(name)
        _, res = bench.measure(spark, book, name, fn, reps)
        spark.sparkContext.setJobDescription(None)
        return res

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    if not want or "dup_clusters" in want:
        from ondine_spark.operators.dedup import (
            connected_components,
            minhash_lsh_pairs,
        )

        def lsh_pairs():
            return minhash_lsh_pairs(
                docs, "doc_id", "text", num_hashes=8, bands=4, threshold=0.25
            )

        phase("dup_clusters.pairs_only", lambda: noop(lsh_pairs()))
        n_pairs = lsh_pairs().count()
        print(f"  (pair count: {n_pairs})")
        phase("dup_clusters.full", lambda: connected_components(lsh_pairs()).count())

    if not want or "winnow" in want:
        from ondine_spark.operators.dedup import (
            winnow_fingerprint_rows,
            winnow_overlap_pairs,
        )

        for impl in ("expr", "arrow"):
            phase(
                f"winnow.{impl}.fp_rows_only",
                lambda impl=impl: noop(
                    winnow_fingerprint_rows(docs, "doc_id", "text", 12, 8, impl=impl)
                ),
            )
            phase(
                f"winnow.{impl}.full_pairs",
                lambda impl=impl: winnow_overlap_pairs(
                    docs, "doc_id", "text", k=12, w=8, min_shared=10,
                    max_df=20, impl=impl,
                ).count(),
            )

    if not want or "dsir" in want:
        from ondine_spark.operators.importance import (
            dsir_llr_table,
            dsir_resample,
            dsir_weights,
        )

        n = docs.count()
        llr = phase("dsir.llr_fit", lambda: dsir_llr_table(
            docs, docs.where(F.col("lang") == "en"), "text",
            num_features=1 << 13, use_bigrams=True,
        ), reps=1)
        phase(
            "dsir.weights_literal",
            lambda: noop(
                dsir_weights(docs.select("doc_id", "text"), llr, "text",
                             num_features=1 << 13, use_bigrams=True)
            ),
        )
        phase(
            "dsir.weights_broadcast",
            lambda: noop(
                dsir_weights(docs.select("doc_id", "text"), llr, "text",
                             num_features=1 << 13, use_bigrams=True,
                             lut_mode="broadcast", id_col="doc_id")
            ),
        )
        w = dsir_weights(docs.select("doc_id", "text"), llr, "text",
                         num_features=1 << 13, use_bigrams=True)
        phase(
            "dsir.weights+resample",
            lambda: dsir_resample(w, "doc_id", "dsir_w_q", max(n // 10, 1)).count(),
        )

    if not want or "ivfpq" in want:
        from ondine_spark.operators.product_quantization import (
            pq_encode,
            train_pq_codebooks,
        )
        from ondine_spark.operators.similarity_search import (
            _nearest_centroids_expr,
            train_ivf_centroids,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        books = phase("ivfpq.train_pq_codebooks", lambda: train_pq_codebooks(
            emb, "embedding", m=8, nbits=8, max_train_rows=25_000), reps=1)
        cents = phase("ivfpq.train_ivf_centroids", lambda: train_ivf_centroids(
            emb, nlist=8, max_train_rows=25_000), reps=1)
        phase(
            "ivfpq.encode_only",
            lambda: noop(
                pq_encode(emb, "embedding", books).withColumn(
                    "ivf_cell", _nearest_centroids_expr("embedding", cents, 1)[0]
                )
            ),
        )
        phase("ivfpq.bench_full", lambda: bench._q_ivfpq_topk(spark, sf_dir).count())

    if not want or "ann" in want:
        qs = dict(entry.queries())
        phase("topk_brute_vs_ivf.full", lambda: qs["topk_brute_vs_ivf"](spark, sf_dir).count())
        phase("pq_codes_adc.full", lambda: qs["pq_codes_adc"](spark, sf_dir).count())

    if not want or "minhash" in want:
        qs = dict(entry.queries())
        phase("minhash_sigs.full", lambda: qs["minhash_sigs"](spark, sf_dir).count())
        phase("jaccard_pairs.full", lambda: qs["jaccard_pairs"](spark, sf_dir).count())
        phase("simhash_pairs.full", lambda: qs["simhash_pairs"](spark, sf_dir).count())

    if not want or "naive_exec" in want or "batched_exec" in want:
        big, builder = bench.spine_100k(spark, sf_dir)
        if not want or "naive_exec" in want:
            phase("naive.base_only", lambda: noop(big))
            phase(
                "naive.spine_count",
                lambda: builder(1).result_frame().select("uid", "sentiment").count(),
            )
            phase("naive.execute", lambda: builder(1).execute())
        if not want or "batched_exec" in want:
            phase(
                "batched.spine_count",
                lambda: builder(25).result_frame().select("uid", "sentiment").count(),
            )
            phase("batched.execute", lambda: builder(25).execute())

    print("\nsummary:")
    for k, v in sorted(book.timings.items(), key=lambda kv: -kv[1]):
        print(f"  {k:43s} {v:7.3f}s")


if __name__ == "__main__":
    main()
