"""Integrations facade + context-limit validation."""

import sys

import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def test_context_limit_validation(spark):
    from ondine_spark.llm.context_limits import validate_batch_size

    prompts = spark.createDataFrame(
        [(i, "word " * 100) for i in range(50)], ["id", "prompt"]
    )
    ok = validate_batch_size(prompts, batch_size=10, model="mock")
    assert ok["ok"] and ok["max_batch_size"] > 10

    # tiny context: deepseek 64k*0.8; 100-word prompts ≈ 130+12 tokens
    with pytest.raises(ValueError, match="exceeds"):
        validate_batch_size(prompts, batch_size=500, model="deepseek-chat")


def test_batch_size_check_is_one_job(spark, tmp_path, count_jobs):
    """The ≤ 200-row sample is collected and averaged on the driver: one
    job over the first partition (an aggregate over the limit added a
    single-partition exchange, a second job under AQE)."""
    from ondine_spark.llm.context_limits import validate_batch_size

    spark.createDataFrame(
        [(i, "word " * (i % 7 + 1)) for i in range(400)], ["id", "prompt"]
    ).coalesce(1).write.parquet(str(tmp_path / "prompts"))
    prompts = spark.read.parquet(str(tmp_path / "prompts"))
    jobs, ok = count_jobs(
        lambda: validate_batch_size(prompts, batch_size=10, model="mock")
    )
    assert jobs == 1
    # first 200 rows: words cycle 1..7 → ceil(words * 1.3) averaged, + 12
    est = [-(-(i % 7 + 1) * 13 // 10) for i in range(200)]
    per_item = sum(est) / len(est) + 12
    assert ok["est_batch_tokens"] == int(per_item * 10 + 160)
    with pytest.raises(ValueError, match="exceeds"):
        validate_batch_size(prompts, batch_size=20_000, model="deepseek-chat")


def _suffix(df):
    return df.withColumn("prompt", F.concat("prompt", F.lit(" Be brief.")))


@pytest.mark.parametrize("entry,stage", [
    pytest.param(entry, stage, id=entry + ("-stage" if stage else ""))
    for stage in (False, True) for entry in ("execute", "execute_chunked")
])
def test_batch_size_check_counts_retrieved_context(
    spark, tmp_path, entry, stage
):
    """The pre-spend batch-size check measures the prompt the model sees:
    ~300 words of prepended KB context per row overflow a 32K window at
    batch 100 although the bare template (~5 tokens) would fit. Both
    batched entry points raise before any LLM call, with or without an
    after_prompt stage."""
    from ondine_spark import PipelineBuilder, mock_client_factory
    from ondine_spark.knowledge import KnowledgeStore
    from ondine_spark.streaming.runner import execute_chunked

    passage = "Madrid is the capital of Spain " + "and a city " * 100
    store = KnowledgeStore(spark, str(tmp_path / "kb"))
    store.ingest(
        spark.createDataFrame([(1, passage)], ["doc_id", "text"]),
        "doc_id", "text", max_tokens=1000,
    )
    calls = tmp_path / "calls.txt"
    p = (
        PipelineBuilder(spark)
        .from_dataframe(
            spark.createDataFrame(
                [(f"q{i}", "capital of Spain") for i in range(6)],
                ["qid", "question"],
            ),
            ["question"], id_column="qid",
        )
        .with_prompt("Answer: {question}", ["answer"])
        .with_custom_llm_client(mock_client_factory(count_file=str(calls)))
        .with_llm("custom-x")  # not in CONTEXT_LIMITS: 32K × 0.8 usable
        .with_knowledge_base(store.path, ["question"], top_k=1)
        .with_batch_size(100)
        .with_checkpoint_dir(str(tmp_path / "ckpt"), "s")
    )
    if stage:
        p.with_stage(_suffix, position="after_prompt")
    p = p.build()
    with pytest.raises(ValueError, match="exceeds custom-x"):
        if entry == "execute":
            p.execute()
        else:
            execute_chunked(p, chunk_size=50)
    assert not calls.exists() or calls.read_text() == ""


def test_integration_shared_body(spark, tmp_path):
    import csv
    import yaml

    from ondine_spark.integrations import (
        estimate_from_config,
        run_pipeline_from_config,
    )

    path = tmp_path / "r.csv"
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "review"])
        for i in range(12):
            w.writerow([f"k{i}", f"item {i} is great"])
    cfg = {
        "dataset": {"source": str(path), "format": "csv",
                    "input_columns": ["review"],
                    "output_columns": ["sentiment"], "id_column": "id"},
        "prompt": {"template": "Classify: {review}"},
        "llm": {"model": "mock"},
        "processing": {"checkpoint_dir": str(tmp_path / "ck"),
                       "session_id": "int-1"},
    }
    cfg_path = tmp_path / "p.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))

    est = estimate_from_config(str(cfg_path), sample=5)
    assert est["rows"] == 12

    out = run_pipeline_from_config(
        str(cfg_path), registry_path=str(tmp_path / "runs.db"),
        chunked=True, chunk_size=5,
    )
    assert out["rows"] == 12 and out["chunks"] == 3


def test_framework_factories_error_cleanly():
    from ondine_spark.integrations import (
        llm_transform_operator,
        mcp_server,
        prefect_task,
    )

    for factory, name in [
        (lambda: llm_transform_operator(task_id="x", config_path="p.yaml"),
         "airflow"),
        (prefect_task, "prefect"),
        (mcp_server, "mcp"),
    ]:
        with pytest.raises(ImportError):
            factory()
