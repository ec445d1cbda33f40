"""One output contract at every entry point: ``execute()``,
``execute_chunked`` + ``chunked_result_frame``, ``run_file_stream`` and
provider-batch ``submit``/``collect`` run one spec — KB retrieval, a custom
parser, an ``after_parse`` stage and grounding — and return the same
columns, in the same order, and the same rows."""

import sys

import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from ondine_spark import PipelineBuilder, mock_client_factory
from ondine_spark.knowledge import KnowledgeStore
from ondine_spark.llm.provider_batch import (
    LocalMockBatchProvider,
    collect,
    submit,
)
from ondine_spark.plans.pipeline import public_frame
from ondine_spark.streaming.runner import (
    chunked_result_frame,
    execute_chunked,
    run_file_stream,
)

cloudpickle.register_pickle_by_value(sys.modules[__name__])

# the retrieved context decides the mock's label for the first two
# questions ("great"/"terrible" appear only in the KB), so a prompt that
# lost its context block gives a different answer
QUESTIONS = [
    ("q%02d" % i, q) for i, q in enumerate(
        ["capital of Spain", "capital of Germany", "zz qq unmatched"] * 3
    )
]

CONTRACT = ["_row_id", "qid", "question", "_kb_context", "_kb_count",
            "answer", "_tagged", "_grounding_score", "_grounded"]


def _upper_parser(responses, out_cols):
    return responses.withColumn(out_cols[0], F.upper("response_text"))


def _tag(df):
    return df.withColumn("_tagged", F.concat(F.col("answer"), F.lit("!")))


@pytest.fixture(scope="module")
def kb(spark, tmp_path_factory):
    docs = spark.createDataFrame(
        [
            (1, "Madrid is the capital of Spain. Its food is great."),
            (2, "Berlin is the capital of Germany. Its winter is terrible."),
        ],
        ["doc_id", "text"],
    )
    store = KnowledgeStore(spark, str(tmp_path_factory.mktemp("kb_contract")))
    store.ingest(docs, "doc_id", "text", max_tokens=64)
    return store


@pytest.mark.parametrize("batch_size", [1, 4])
def test_every_entry_point_returns_one_contract(spark, kb, tmp_path, batch_size):
    rows = spark.createDataFrame(QUESTIONS, ["qid", "question"])

    def build(ckpt=None, count_file=None):
        b = (
            PipelineBuilder(spark)
            .from_dataframe(rows, ["question"], id_column="qid")
            .with_prompt("Answer: {question}", ["answer"])
            .with_custom_llm_client(mock_client_factory(count_file=count_file))
            .with_custom_parser(_upper_parser)
            .with_stage(_tag, position="after_parse")
            .with_knowledge_base(kb.path, ["question"], top_k=1,
                                 min_score=0.3)
            .with_grounding(threshold=0.1)
            .with_batch_size(batch_size)
        )
        if ckpt:
            b.with_checkpoint_dir(ckpt, "contract")
        return b.build()

    outputs = {"execute": build().execute().data}

    ckpt, calls = str(tmp_path / "ckpt"), tmp_path / "calls.txt"
    chunked = build(ckpt, str(calls))
    execute_chunked(chunked, chunk_size=5)
    n_calls = len(calls.read_text().splitlines())
    outputs["chunked"] = chunked_result_frame(chunked, ckpt, "contract")

    src = str(tmp_path / "stream_in")
    rows.coalesce(1).write.parquet(src)
    run_file_stream(
        build(), src, "parquet", str(tmp_path / "stream_out"),
        str(tmp_path / "stream_ckpt"), schema=rows.schema,
        timeout_s=120,
    )
    outputs["file_stream"] = spark.read.parquet(str(tmp_path / "stream_out"))

    batch = build()
    provider = LocalMockBatchProvider(str(tmp_path / "spool"))
    handle = submit(batch, provider, str(tmp_path / "work"))
    # collect returns result_frame()'s columns; cli collect writes them
    # through public_frame
    outputs["provider_batch"] = public_frame(collect(batch, provider, handle))

    want = outputs["execute"]
    assert want.columns == CONTRACT
    expected = sorted(map(tuple, want.collect()))
    assert len(expected) == len(QUESTIONS)
    answers = {r[1]: r[5] for r in expected}
    assert answers["q00"] == "POSITIVE" and answers["q01"] == "NEGATIVE"
    assert answers["q02"] == "NEUTRAL"
    for name, got in outputs.items():
        assert got.columns == CONTRACT, name
        assert sorted(map(tuple, got.collect())) == expected, name
    # chunked assembly verifies from the durable cache: no LLM call
    assert len(calls.read_text().splitlines()) == n_calls
    assert chunked._call_counter.value == n_calls
