"""End-to-end: KB retrieval + verification stages inside the pipeline plan
(reference lifecycle: ondine/api/pipeline.py:694-751,873-893,929-1107)."""

import math
import sys

from pyspark import cloudpickle
import pytest
from pyspark.sql import functions as F

from ondine_spark import PipelineBuilder
from ondine_spark.knowledge import KnowledgeStore

# test modules aren't importable on executors — ship closures by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def echo_context_factory():
    """Deterministic client: answers with the first context line if present
    (so grounding against the KB context scores high), else a fixed
    hallucination. Defined inside a factory so cloudpickle ships it by
    value (test modules aren't importable on executors)."""

    class EchoContextClient:
        def complete(self, prompt, system=None):
            from ondine_spark.llm.client import LLMResult

            text = "unsupported hallucinated claim xyz"
            if prompt.startswith("Context:\n"):
                text = prompt.split("\n")[1]
            return LLMResult(
                text=text, tokens_in=len(prompt.split()), tokens_out=5,
                model="echo-ctx", cost="0.000001", latency_ms=0.5,
            )

    return EchoContextClient()


@pytest.fixture(scope="module")
def kb(spark, tmp_path_factory):
    docs = spark.createDataFrame(
        [
            (1, "Paris is the capital of France. It lies on the Seine."),
            (2, "Madrid is the capital of Spain. It is a large city."),
            (3, "Berlin is the capital of Germany. It has many museums."),
        ],
        ["doc_id", "text"],
    )
    store = KnowledgeStore(spark, str(tmp_path_factory.mktemp("kb_e2e")))
    store.ingest(docs, "doc_id", "text", max_tokens=64)
    return store


def test_kb_pipeline_grounded_answers(spark, kb, tmp_path):
    rows = spark.createDataFrame(
        [
            ("q1", "capital of France"),
            ("q2", "capital of Spain"),
            ("q3", "zz qq completely unmatched tokens"),
        ],
        ["qid", "question"],
    )
    p = (
        PipelineBuilder(spark)
        .from_dataframe(rows, ["question"], id_column="qid")
        .with_prompt("Answer: {question}", ["answer"])
        .with_custom_llm_client(echo_context_factory)
        .with_knowledge_base(kb.path, ["question"], top_k=1, min_score=0.3)
        .with_grounding(threshold=0.2)
        .with_confidence_scoring()
        .build()
    )
    res = p.execute()
    got = {r["qid"]: r for r in res.data.collect()}
    assert "paris" in got["q1"]["answer"].lower()
    assert "madrid" in got["q2"]["answer"].lower()
    assert got["q1"]["_grounded"] is True
    assert got["q1"]["_grounding_score"] > 0.5
    # unmatched query gets no context → hallucinated answer → ungrounded
    assert got["q3"]["answer"] == "unsupported hallucinated claim xyz"
    assert got["q3"]["_grounded"] is False
    assert got["q1"]["_confidence_score"] > got["q3"]["_confidence_score"]


@pytest.mark.parametrize("batch_size", [1, 5])
def test_verification_invokes_llm_once_per_batch(spark, kb, tmp_path,
                                                 batch_size):
    """Grounding, contradiction detection and confidence read the unpinned
    invoke lineage once: ⌈N/batch⌉ calls, each made exactly once."""
    from ondine_spark import mock_client_factory

    n = 12
    rows = spark.createDataFrame(
        [("q%02d" % i, "capital of %s is good"
          % ("France" if i % 2 else "Spain"), "g%d" % (i % 3))
         for i in range(n)],
        ["qid", "question", "grp"],
    )
    count_file = str(tmp_path / "calls.txt")
    res = (
        PipelineBuilder(spark)
        .from_dataframe(rows, ["question", "grp"], id_column="qid")
        .with_prompt("Answer: {question}", ["answer"])
        .with_custom_llm_client(mock_client_factory(count_file=count_file))
        .with_knowledge_base(kb.path, ["question"], top_k=1, min_score=0.3)
        .with_batch_size(batch_size)
        .with_grounding()
        .with_contradiction_detection(["grp"], ["answer"])
        .with_confidence_scoring()
        .build()
        .execute()
    )
    out = res.data.select(
        "_grounding_score", "_contradiction", "_confidence_score"
    ).collect()
    assert len(out) == n
    assert all(v is not None for r in out for v in r)
    assert res.api_calls == math.ceil(n / batch_size)
    with open(count_file) as f:
        assert len(f.readlines()) == res.api_calls


def test_contradiction_in_pipeline(spark):
    def fixed_factory():
        class FixedClient:
            def complete(self, prompt, system=None):
                from ondine_spark.llm.client import LLMResult

                val = "42" if "alpha one" in prompt else "7"
                return LLMResult(text=val, tokens_in=3, tokens_out=1,
                                model="fixed", cost="0", latency_ms=0.1)

        return FixedClient()

    spark_df = spark.createDataFrame(
        [("a", "alpha one"), ("b", "alpha two"), ("c", "beta one")],
        ["k", "item"],
    )
    p = (
        PipelineBuilder(spark)
        .from_dataframe(spark_df, ["item"], id_column="k")
        .with_prompt("Value of {item}?", ["value"])
        .with_custom_llm_client(fixed_factory)
        .with_contradiction_detection(["grp"], ["value"])
        .build()
    )
    # add the grouping column through a pre-transform: group = first word
    df = p.input_frame().withColumn("grp", F.split(F.col("item"), " ")[0])
    out = p.result_frame(df).collect()
    got = {r["k"]: r["_contradiction"] for r in out}
    assert got == {"a": True, "b": True, "c": False}


def mega_echo_factory():
    """Mega-batch-aware context echo: parses the engine's batch prompt
    (JSON items whose ``input`` is the context-wrapped per-row prompt)
    and answers each item with its context's first line when present."""

    class MegaEchoClient:
        def complete(self, prompt, system=None):
            import json as _json
            import re as _re

            from ondine_spark.llm.client import LLMResult

            m = _re.search(r"INPUT:\n(\[.*\])\n\nCRITICAL", prompt, _re.DOTALL)
            items = _json.loads(m.group(1))
            out = []
            for it in items:
                text = "unsupported hallucinated claim xyz"
                if it["input"].startswith("Context:\n"):
                    text = it["input"].split("\n")[1]
                out.append({"id": it["id"], "result": text})
            return LLMResult(
                text=_json.dumps(out), tokens_in=len(prompt.split()),
                tokens_out=5, model="mega-echo", cost="0.000001",
                latency_ms=0.5,
            )

    return MegaEchoClient()


def test_kb_retrieval_chunked_matches_batch(spark, kb, tmp_path):
    """KB context attach + mega-batching through the CHUNKED runner must
    equal the one-shot batched execute(): round 6 moved the context
    join and prompt render from per-chunk plan builds into the
    assemble-once spill job, so this pins that the retrieved context
    reaches every chunk's mega-prompts identically."""
    from ondine_spark.streaming.runner import (
        chunked_result_frame,
        execute_chunked,
    )

    qs = [("q%02d" % i, "capital of France" if i % 3 == 0
           else "capital of Spain" if i % 3 == 1
           else "zz qq unmatched tokens %d" % i) for i in range(12)]
    rows = spark.createDataFrame(qs, ["qid", "question"])

    def build(ckpt, sid):
        return (
            PipelineBuilder(spark)
            .from_dataframe(rows, ["question"], id_column="qid")
            .with_prompt("Answer: {question}", ["answer"])
            .with_custom_llm_client(mega_echo_factory)
            .with_knowledge_base(kb.path, ["question"], top_k=1, min_score=0.3)
            .with_batch_size(4)
            .with_checkpoint_dir(ckpt, sid)
            .build()
        )

    p1 = build(str(tmp_path / "c1"), "chunked")
    execute_chunked(p1, chunk_size=5)  # 3 chunks, batches split 2/2 per chunk edge
    chunked = {
        r["qid"]: r["answer"]
        for r in chunked_result_frame(p1, str(tmp_path / "c1"), "chunked").collect()
    }

    p2 = build(str(tmp_path / "c2"), "batch")
    batch = {r["qid"]: r["answer"] for r in p2.execute().data.collect()}

    assert chunked == batch
    assert "paris" in chunked["q00"].lower()
    assert "madrid" in chunked["q01"].lower()
    assert chunked["q02"] == "unsupported hallucinated claim xyz"


def test_rowwise_execute_runs_retrieval_once(spark, kb, tmp_path, monkeypatch,
                                            count_jobs):
    """Row-wise execute() with a knowledge base and grounding pays for
    each stage once: the dense retrieval kernel runs one task wave (the
    invoke's spread must not run the retrieval plan ahead of the action),
    and the whole call, result collect included, stays within its job
    budget (17 jobs and 16 kernel tasks when it ran twice, 13 and 4 once
    it ran once, 11 and 4 now on 4 cores: the store's tables are read
    with the schemas ingest recorded, not inferred per read)."""
    from ondine_spark import mock_client_factory

    cls = type(spark.range(1))
    runs = str(tmp_path / "kernel_tasks.txt")
    map_in_pandas = cls.mapInPandas

    def counting(self, func, schema, *a, **k):
        if "score double, rank int" in str(schema):
            kernel = func

            def func(batches):
                with open(runs, "a") as fh:
                    fh.write("task\n")
                yield from kernel(batches)

        return map_in_pandas(self, func, schema, *a, **k)

    monkeypatch.setattr(cls, "mapInPandas", counting)
    path = str(tmp_path / "rows")
    spark.createDataFrame(
        [("q%02d" % i, "capital of %s %d" % (("France", "Spain")[i % 2], i))
         for i in range(60)],
        ["qid", "question"],
    ).coalesce(1).write.parquet(path)
    p = (
        PipelineBuilder(spark)
        .from_parquet(path, ["question"], id_column="qid")
        .with_prompt("Answer: {question}", ["answer"])
        .with_custom_llm_client(mock_client_factory())
        .with_knowledge_base(kb.path, ["question"], top_k=2)
        .with_grounding()
        .build()
    )
    jobs, out = count_jobs(
        lambda: p.execute().data.select("qid", "_grounding_score").collect()
    )
    assert len(out) == 60
    assert all(r["_grounding_score"] is not None for r in out)
    with open(runs) as fh:
        tasks = len(fh.readlines())
    assert 0 < tasks <= spark.sparkContext.defaultParallelism
    assert jobs <= 11, jobs
