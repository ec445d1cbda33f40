"""Trained-artifact persistence: save/load round-trips must reproduce the
exact downstream results (tokenization, PQ top-k, IVF assignment), and the
Spark ML classifier persists through its native writer."""

import json

import pytest
from pyspark.sql import functions as F

from ondine_spark.operators.artifacts import (
    load_artifact,
    load_bpe_tokenizer,
    save_artifact,
    save_bpe_tokenizer,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_bpe_tokenizer_roundtrip(spark, docs, tmp_path):
    from ondine_spark.operators.tokenizer import (
        tokenize_with_bpe,
        train_bpe,
        word_counts,
    )

    tok = train_bpe(word_counts(docs, "text"), num_merges=60, min_count=2)
    path = str(tmp_path / "bpe.json")
    save_bpe_tokenizer(tok, path, spark=spark)
    tok2 = load_bpe_tokenizer(path, spark=spark)
    assert tok2.merges == tok.merges
    assert tok2.vocab == tok.vocab

    sample = docs.limit(50)
    a = tokenize_with_bpe(sample, "text", tok).select("doc_id", "token_ids")
    b = tokenize_with_bpe(sample, "text", tok2).select("doc_id", "token_ids")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pq_and_ivf_artifact_roundtrip(spark, sf_dir, tmp_path, monkeypatch):
    from ondine_spark.operators.product_quantization import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )
    from ondine_spark.operators.similarity_search import train_ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )

    def capped_fit(train, **kw):
        """Fit on a corpus larger than the cap; every collect the trainer
        makes brings at most ``max_train_rows`` rows to the driver."""
        sizes, real = [], type(emb).collect

        def counting_collect(self):
            rows = real(self)
            sizes.append(len(rows))
            return rows

        with monkeypatch.context() as mp:
            mp.setattr(type(emb), "collect", counting_collect)
            out = train(emb, max_train_rows=200, **kw)
        assert sizes and max(sizes) <= 200 < emb.count()
        return out

    books = capped_fit(train_pq_codebooks, vec_col="embedding", m=8, nbits=4)
    cents = capped_fit(train_ivf_centroids, nlist=4)

    bp, cp = str(tmp_path / "books.json"), str(tmp_path / "cents.json")
    save_artifact(bp, "pq_codebooks", books, spark=spark)
    save_artifact(cp, "ivf_centroids", cents, spark=spark)
    books2 = load_artifact(bp, expect="pq_codebooks", spark=spark)
    cents2 = load_artifact(cp, expect="ivf_centroids", spark=spark)
    assert books2 == books
    assert cents2 == cents

    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    coded = pq_encode(emb, "embedding", books).cache()
    a = pq_topk(coded, queries, 5, books).collect()
    b = pq_topk(coded, queries, 5, books2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 15
    coded.unpersist()


def test_artifact_kind_and_version_guards(tmp_path):
    p = str(tmp_path / "a.json")
    save_artifact(p, "pq_codebooks", [[1.0]])
    with pytest.raises(ValueError, match="expected 'bpe_tokenizer'"):
        load_artifact(p, expect="bpe_tokenizer")
    with open(p, "w") as f:
        json.dump({"kind": "x", "format_version": 99, "payload": 1}, f)
    with pytest.raises(ValueError, match="newer format"):
        load_artifact(p)
    with open(p, "w") as f:
        json.dump(["not", "an", "artifact"], f)
    with pytest.raises(ValueError, match="not an ondine_spark artifact"):
        load_artifact(p)


def test_quality_classifier_native_persistence(spark, docs, tmp_path):
    from pyspark.ml import PipelineModel

    from ondine_spark.operators.quality_classifier import (
        score_quality,
        train_quality_classifier,
    )

    labeled = docs.limit(200).withColumn(
        "label", (F.length("text") > 200).cast("int")
    )
    model = train_quality_classifier(
        labeled, num_features=1 << 12, max_iter=10
    )
    path = str(tmp_path / "qc_model")
    model.write().overwrite().save(path)
    model2 = PipelineModel.load(path)

    sample = docs.limit(50)
    a = score_quality(sample, model).select("doc_id", "quality_prob")
    b = score_quality(sample, model2).select("doc_id", "quality_prob")
    ra = {r["doc_id"]: round(r["quality_prob"], 9) for r in a.collect()}
    rb = {r["doc_id"]: round(r["quality_prob"], 9) for r in b.collect()}
    assert ra == rb


def test_real_jvm_failure_propagates_for_schemeless_paths(monkeypatch):
    # A genuine Hadoop-side failure (Py4JJavaError) must RAISE even on a
    # schemeless path — falling back to driver-local IO would silently
    # "succeed" onto the wrong filesystem on an HDFS-default cluster
    from ondine_spark.operators import artifacts as art

    class _FakeJavaErr(art.Py4JJavaError):
        def __init__(self):
            Exception.__init__(self, "boom")

    def _boom(spark, path):
        raise _FakeJavaErr()

    monkeypatch.setattr(art, "_hadoop_fs", _boom)
    with pytest.raises(art.Py4JJavaError):
        art._write_text("relative/path.json", "{}", spark=object())
    with pytest.raises(art.Py4JJavaError):
        art._read_text("relative/path.json", spark=object())


def test_py4j_gap_still_falls_back_local(tmp_path):
    # a session stub with no working gateway (AttributeError inside
    # _hadoop_fs) → schemeless paths use plain local IO
    from ondine_spark.operators.artifacts import load_artifact, save_artifact

    class _NoGateway:
        pass  # no _jvm attribute

    p = str(tmp_path / "x.json")
    save_artifact(p, "probe", {"v": 1}, spark=_NoGateway())
    assert load_artifact(p, expect="probe", spark=_NoGateway()) == {"v": 1}
