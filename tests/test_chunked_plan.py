"""The chunked runner's one plan: retrieval, prompt rendering and
``after_prompt`` stages run once per run, not once per chunk, and no chunk
leaves a persisted frame behind."""

import sys

import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from ondine_spark import PipelineBuilder, mock_client_factory
from ondine_spark.knowledge import KnowledgeStore
from ondine_spark.streaming.runner import execute_chunked

cloudpickle.register_pickle_by_value(sys.modules[__name__])

N_ROWS = 60


def _suffix(df):
    return df.withColumn("_prompt_len", F.length("prompt")).withColumn(
        "prompt", F.concat(F.col("prompt"), F.lit(" Reply in one word."))
    )


def _build(spark, ckpt, batch_size, stage, kb=None):
    rows = spark.createDataFrame(
        [(f"q{i:02d}", f"capital of {('Spain', 'Germany')[i % 2]} {i}")
         for i in range(N_ROWS)],
        ["qid", "question"],
    )
    b = (
        PipelineBuilder(spark)
        .from_dataframe(rows, ["question"], id_column="qid")
        .with_prompt("Answer: {question}", ["answer"])
        .with_custom_llm_client(mock_client_factory())
        .with_batch_size(batch_size)
        .with_checkpoint_dir(ckpt, "plan")
    )
    if stage:
        b.with_stage(_suffix, position="after_prompt")
    if kb is not None:
        b.with_knowledge_base(kb.path, ["question"], top_k=1, min_score=0.1)
    return b.build()


@pytest.fixture(scope="module")
def kb(spark, tmp_path_factory):
    store = KnowledgeStore(spark, str(tmp_path_factory.mktemp("kb_plan")))
    store.ingest(
        spark.createDataFrame(
            [(1, "Madrid is the capital of Spain."),
             (2, "Berlin is the capital of Germany.")],
            ["doc_id", "text"],
        ),
        "doc_id", "text", max_tokens=64,
    )
    return store


@pytest.mark.parametrize("stage", [False, True], ids=["plain", "stage"])
@pytest.mark.parametrize("batch_size", [1, 4])
def test_fixed_jobs_per_chunk(spark, kb, tmp_path, batch_size, stage,
                              count_jobs):
    """(jobs at 6 chunks − jobs at 2 chunks) / 4 is the per-chunk cost:
    one pruned read → invoke → write job, whatever the spec. Retrieval,
    rendering and stages are per-run work; any of them rebuilt per chunk
    costs several jobs per chunk on a KB spec."""

    def run(tag, chunk_size):
        p = _build(spark, str(tmp_path / tag), batch_size, stage, kb)
        return count_jobs(lambda: execute_chunked(p, chunk_size=chunk_size))[0]

    run("warm", 30)
    six, two = run("six", N_ROWS // 6), run("two", N_ROWS // 2)
    assert (six - two) / 4 <= 1.5, (six, two)


def test_chunks_leave_no_persisted_frames(spark, tmp_path):
    """A batched run with an after_prompt stage releases every frame it
    persists: the persisted-RDD count ends where it started."""
    sc = spark.sparkContext
    p = _build(spark, str(tmp_path / "ckpt"), 4, stage=True)
    before = len(sc._jsc.getPersistentRDDs())
    summary = execute_chunked(p, chunk_size=N_ROWS // 6)
    assert len(summary.chunks) == 6
    assert len(sc._jsc.getPersistentRDDs()) == before
