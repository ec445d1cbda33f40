"""Driver collects on the retrieval and dedup paths are columnar whatever
the session's ``spark.sql.execution.arrow.pyspark.enabled``: with the conf
off, ``toPandas`` builds one Row object per record, so these paths must
not call it. The suite's session turns the conf on, which would hide such
a collect; this module turns it off and makes ``toPandas`` raise."""

import sys

import pytest
from pyspark import cloudpickle
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from ondine_spark.knowledge.retrieval import retrieve_topk
from ondine_spark.knowledge.store import KnowledgeStore
from ondine_spark.operators.dedup import connected_components

# test modules aren't importable on executors — ship closures by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])

ARROW = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture
def arrow_off(spark, monkeypatch):
    def refuse(self, *a, **k):
        raise AssertionError("row-by-row toPandas on a driver collect")

    before = spark.conf.get(ARROW)
    spark.conf.set(ARROW, "false")
    monkeypatch.setattr(ClassicDataFrame, "toPandas", refuse)
    try:
        yield
    finally:
        spark.conf.set(ARROW, before)


@pytest.fixture(scope="module")
def kb(spark, tmp_path_factory):
    docs = spark.createDataFrame(
        [(i, f"{city} is the capital of {land}, document {i}.")
         for i, (city, land) in enumerate(
             [("Paris", "France"), ("Madrid", "Spain"), ("Rome", "Italy")] * 8
         )],
        ["doc_id", "text"],
    )
    store = KnowledgeStore(spark, str(tmp_path_factory.mktemp("kb_arrow")))
    store.ingest(docs, "doc_id", "text", max_tokens=64)
    return store


def test_dense_retrieval_without_arrow_conf(spark, kb, arrow_off):
    rows = spark.createDataFrame(
        [(f"q{i}", f"capital of {land} {i}")
         for i, land in enumerate(["France", "Spain", "Italy", "nowhere"] * 3)],
        ["_row_id", "q"],
    )
    cols = ["_row_id", "chunk_id", "score", "rank"]

    def topk(impl):
        return sorted(
            tuple(r)
            for r in retrieve_topk(rows, kb, ["q"], top_k=3, impl=impl)
            .select(*cols).collect()
        )

    dense = topk("dense")
    assert dense
    assert dense == topk("join")  # bit-identical scores and ranks


def test_driver_components_without_arrow_conf(spark, arrow_off):
    edges = [(1, 2), (2, 3), (10, 11), (12, 11), (40, 41)]
    df = spark.createDataFrame(edges, "a: long, b: long")

    def components(threshold):
        return sorted(
            tuple(r)
            for r in connected_components(
                df, driver_threshold=threshold
            ).collect()
        )

    driver = components(1_000_000)
    assert driver == components(0)  # the distributed star rounds
    assert driver == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10),
                      (40, 40), (41, 40)]
