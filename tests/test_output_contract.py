"""One output contract at every entry point: ``execute()``,
``execute_chunked`` + ``chunked_result_frame``, ``run_file_stream`` and
provider-batch ``submit``/``collect`` run one spec — KB retrieval, an
``after_prompt`` stage, a custom parser, an ``after_parse`` stage and
grounding — and return the same columns, in the same order, and the same
rows, from the same prompts."""

import json
import os
import sys

import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from ondine_spark import PipelineBuilder, mock_client_factory
from ondine_spark.knowledge import KnowledgeStore
from ondine_spark.llm.client import _parse_batch_items
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
            "_prompt_len", "answer", "_tagged", "_grounding_score",
            "_grounded"]
SUFFIX = " Reply in one word."


def _upper_parser(responses, out_cols):
    return responses.withColumn(out_cols[0], F.upper("response_text"))


def _tag(df):
    return df.withColumn("_tagged", F.concat(F.col("answer"), F.lit("!")))


def _suffix(df):
    return df.withColumn("_prompt_len", F.length("prompt")).withColumn(
        "prompt", F.concat(F.col("prompt"), F.lit(SUFFIX))
    )


def _recording_factory(path):
    def factory():
        from ondine_spark.llm.client import DeterministicMockClient

        class Recording(DeterministicMockClient):
            def complete(self, prompt, system=None):
                with open(path, "a") as f:
                    f.write(json.dumps(prompt) + "\n")
                return super().complete(prompt, system)

        return Recording()

    return factory


def _row_prompts(requests):
    """Per-row prompts inside LLM requests: a mega-prompt's item inputs,
    or the request itself when unbatched."""
    out = []
    for r in requests:
        items = _parse_batch_items(r)
        out += [inp for _, inp in items] if items is not None else [r]
    return sorted(out)


def _logged(path):
    return [json.loads(line) for line in open(path)]


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

    def build(ckpt=None, log=None):
        b = (
            PipelineBuilder(spark)
            .from_dataframe(rows, ["question"], id_column="qid")
            .with_prompt("Answer: {question}", ["answer"])
            .with_custom_llm_client(
                _recording_factory(log) if log else mock_client_factory()
            )
            .with_stage(_suffix, position="after_prompt")
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

    live_log = str(tmp_path / "live.jsonl")
    outputs = {"execute": build(log=live_log).execute().data}
    live = _row_prompts(_logged(live_log))
    assert len(live) == len(QUESTIONS)
    assert all(p.endswith(SUFFIX) for p in live)

    ckpt, calls = str(tmp_path / "ckpt"), str(tmp_path / "calls.jsonl")
    chunked = build(ckpt, calls)
    execute_chunked(chunked, chunk_size=5)
    n_calls = len(_logged(calls))
    assert _row_prompts(_logged(calls)) == live
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
    spool = str(tmp_path / "spool")
    provider = LocalMockBatchProvider(spool)
    handle = submit(batch, provider, str(tmp_path / "work"))
    compiled = [
        json.loads(line)["body"]["messages"][-1]["content"]
        for job in handle.provider_job_ids
        for line in open(os.path.join(spool, job, "input.jsonl"))
    ]
    assert _row_prompts(compiled) == live
    # collect returns result_frame()'s columns; cli collect writes them
    # through public_frame
    outputs["provider_batch"] = public_frame(collect(batch, provider, handle))

    want = outputs["execute"]
    assert want.columns == CONTRACT
    expected = sorted(map(tuple, want.collect()))
    assert len(expected) == len(QUESTIONS)
    answers = {r[1]: r[CONTRACT.index("answer")] for r in expected}
    assert answers["q00"] == "POSITIVE" and answers["q01"] == "NEGATIVE"
    assert answers["q02"] == "NEUTRAL"
    for name, got in outputs.items():
        assert got.columns == CONTRACT, name
        assert sorted(map(tuple, got.collect())) == expected, name
    # chunked assembly verifies from the durable cache: no LLM call
    assert len(_logged(calls)) == n_calls
    assert chunked._call_counter.value == n_calls
