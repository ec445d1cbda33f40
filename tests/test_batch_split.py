"""The batched invoke splits its own answers: ``invoke_llm(per_row=True)``
returns, from the worker that made the calls, the same per-row frame as
``disaggregate_batches`` over its batch-level output, and the batched
plans carry one Python stage fewer."""

import re
import sys
from decimal import Decimal

import pytest
from pyspark import cloudpickle

from ondine_spark import PipelineBuilder, mock_client_factory
from ondine_spark.core.specs import ErrorPolicy, LLMSpec, ProcessingSpec
from ondine_spark.llm.client import LLMResult
from ondine_spark.llm.invoke import invoke_llm
from ondine_spark.operators.batching import disaggregate_batches

cloudpickle.register_pickle_by_value(sys.modules[__name__])

SPLIT_COLUMNS = [
    "_batch_id", "_row_id", "response_text", "tokens_in", "tokens_out",
    "cost", "latency_ms", "resp_model", "error",
]
CALL_COST = Decimal("0.123456789012345678")

ANSWERS = {
    "well": '[{"id": 1, "result": "a"}, {"id": 2, "result": {"x": 1}},'
            ' {"id": 3, "result": "c"}]',
    "fenced": '```json\n[{"id": 1, "result": "f1"},'
              ' {"id": 2, "result": "f2"}]\n```',
    "missing": '[{"id": 1, "result": "m1"}, {"id": 3, "result": "m3"}]',
    "out_of_range": '[{"id": 7, "result": "o1"}, {"id": 0, "result": "o2"}]',
    "non_json": "Sorry, I cannot answer that.",
}


class _FixedLatency(LLMResult):
    """A result whose latency the invoke cannot overwrite, so two runs of
    the same calls compare equal cell for cell."""

    @property
    def latency_ms(self):
        return 7.5

    @latency_ms.setter
    def latency_ms(self, _):
        pass


class _CannedClient:
    model = "canned"

    def complete(self, prompt, system=None):
        if prompt == "boom":
            raise ValueError("boom")
        return _FixedLatency(
            text=ANSWERS[prompt], tokens_in=len(prompt), tokens_out=5,
            model="canned-1", cost=CALL_COST,
        )


def _batches(spark, prompts):
    """One batch row per prompt: batch ``b`` holds rows ``b-0 .. b-k``."""
    sizes = {"well": 3, "missing": 3}
    rows = [
        (b, [f"{b}-{j}" for j in range(sizes.get(p, 2))], p)
        for b, p in enumerate(prompts)
    ]
    return spark.createDataFrame(
        rows, "_batch_id long, _row_ids array<string>, prompt string"
    ).repartition(2)


def _specs(policy, **proc):
    return (
        LLMSpec(model="canned", client_factory=_CannedClient),
        ProcessingSpec(error_policy=policy, max_retries=0, concurrency=2,
                       **proc),
    )


def _sorted(df):
    return sorted(df.collect(), key=lambda r: (r["_batch_id"], r["_row_id"]))


@pytest.mark.parametrize(
    "policy", [ErrorPolicy.SKIP, ErrorPolicy.USE_DEFAULT], ids=lambda p: p.value
)
def test_worker_split_equals_disaggregate(spark, policy):
    prompts = [*ANSWERS, "boom", None]
    frame = _batches(spark, prompts)
    llm, proc = _specs(policy, default_value="n/a")
    in_worker = invoke_llm(frame, llm, proc, per_row=True)
    after = disaggregate_batches(invoke_llm(frame, llm, proc))

    assert in_worker.columns == after.columns == SPLIT_COLUMNS
    assert in_worker.dtypes == after.dtypes
    assert dict(in_worker.dtypes)["cost"] == "decimal(38,18)"
    rows = _sorted(in_worker)
    assert rows == _sorted(after)

    by_id = {r["_row_id"]: r for r in rows}
    texts = {k: r["response_text"] for k, r in by_id.items()}
    assert (texts["0-0"], texts["0-1"], texts["0-2"]) == ("a", '{"x":1}', "c")
    assert (texts["1-0"], texts["1-1"]) == ("f1", "f2")
    assert (texts["2-0"], texts["2-1"], texts["2-2"]) == ("m1", None, "m3")
    assert (texts["3-0"], texts["3-1"]) == ("o1", "o2")
    assert {texts["4-0"], texts["4-1"], texts["5-0"], texts["6-0"]} == {None}
    assert by_id["5-1"]["error"] == "ValueError: boom"
    assert by_id["6-1"]["error"] == "null prompt"

    # one row per member; tokens and cost on the first row only; latency,
    # model and error copied to every row
    assert len(rows) == 3 + 2 + 3 + 2 + 2 + 2 + 2
    answered = len(ANSWERS)
    assert sum(r["cost"] for r in rows if r["cost"] is not None) == (
        CALL_COST * answered
    )
    for r in rows:
        first = r["_row_id"].endswith("-0")
        prompt = prompts[r["_batch_id"]]
        called = r["_batch_id"] < answered
        assert r["tokens_in"] == (len(prompt) if first and called else 0)
        assert r["tokens_out"] == (5 if first and called else 0)
        assert (r["cost"] is None) == (not first)
        assert r["latency_ms"] == (7.5 if called else 0.0)
        assert r["resp_model"] == ("canned-1" if called else None)
    total = in_worker.selectExpr("sum(cost)").first()[0]
    assert total == CALL_COST * answered


def test_worker_split_fail_policy_raises(spark):
    llm, proc = _specs(ErrorPolicy.FAIL)
    with pytest.raises(Exception, match="boom"):
        invoke_llm(
            _batches(spark, ["well", "boom"]), llm, proc, per_row=True
        ).collect()


# ------------------------------------------------------------- plan pins

_PYTHON_EXEC = re.compile(
    r"\b(MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas"
    r"|WindowInPandas)\b"
)


def _python_nodes(df):
    return len(_PYTHON_EXEC.findall(
        df._jdf.queryExecution().executedPlan().toString()
    ))


def _reviews(spark, path, n=200):
    spark.createDataFrame(
        [(f"r{i:03d}", f"a {('great', 'bad', 'plain')[i % 3]} review {i}")
         for i in range(n)],
        ["id", "review"],
    ).coalesce(1).write.parquet(path)


def _json_builder(spark, path):
    return (
        PipelineBuilder(spark)
        .from_parquet(path, ["review"], id_column="id")
        .with_prompt("Review: {review}", ["label", "n_words"])
        .with_batch_size(25)
        .with_parser("json")
        .with_custom_llm_client(
            mock_client_factory(json_fields=("label", "n_words"))
        )
    )


def test_batched_result_frame_has_two_python_stages(spark, tmp_path):
    """Invoke (which splits) and the JSON parse: 3 when the split ran in
    a Python stage of its own."""
    path = str(tmp_path / "reviews")
    _reviews(spark, path)
    p = _json_builder(spark, path).build()
    try:
        assert _python_nodes(p.result_frame()) == 2
    finally:
        for df in p._persisted:
            df.unpersist()


def test_chunk_invoke_plan_has_one_python_stage(spark, tmp_path, monkeypatch):
    import ondine_spark.streaming.runner as runner

    plans = []
    write = runner.write_responses

    def recording(frame, *a, **k):
        plans.append(_python_nodes(frame))
        return write(frame, *a, **k)

    monkeypatch.setattr(runner, "write_responses", recording)
    path = str(tmp_path / "reviews")
    _reviews(spark, path, n=100)
    p = (
        _json_builder(spark, path)
        .with_checkpoint_dir(str(tmp_path / "ckpt"), "split")
        .build()
    )
    summary = runner.execute_chunked(p, chunk_size=50)
    assert len(summary.chunks) == 2
    assert plans == [1, 1]


def test_batched_execute_job_budget(spark, tmp_path, count_jobs):
    """Batched execute() on a single-file parquet input: 11 jobs when the
    batch-size check ran an aggregate over its sample."""
    path = str(tmp_path / "reviews")
    _reviews(spark, path)
    p = _json_builder(spark, path).build()
    jobs, res = count_jobs(p.execute)
    assert res.api_calls == 8
    out = res.data.select("id", "label").collect()
    assert len(out) == 200
    assert all(r["label"] in ("positive", "negative", "neutral") for r in out)
    assert jobs <= 10, jobs
