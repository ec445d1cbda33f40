"""Config loader, CLI, RunRegistry, composer, provider presets."""

import csv
import json
import sys

import pytest
from pyspark import cloudpickle

from ondine_spark.config import load_config, spec_from_dict
from ondine_spark.orchestration.registry import RunRegistry, RunState

cloudpickle.register_pickle_by_value(sys.modules[__name__])


@pytest.fixture()
def reviews_csv(tmp_path):
    path = tmp_path / "reviews.csv"
    labels = ["great", "terrible", "okay"]
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "review"])
        for i in range(30):
            w.writerow([f"k{i}", f"item {i} is {labels[i % 3]}"])
    return str(path)


def _config(tmp_path, reviews_csv, **processing):
    return {
        "dataset": {
            "source": reviews_csv, "format": "csv",
            "input_columns": ["review"], "output_columns": ["sentiment"],
            "id_column": "id",
        },
        "prompt": {"template": "Classify: {review}"},
        "llm": {"model": "mock"},
        "processing": {
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "session_id": "cli-sess",
            **processing,
        },
    }


def test_yaml_config_env_expansion(tmp_path, reviews_csv, monkeypatch):
    import yaml

    monkeypatch.setenv("MY_MODEL", "mock")
    cfg = _config(tmp_path, reviews_csv)
    cfg["llm"]["model"] = "${MY_MODEL}"
    cfg["prompt"]["system_message"] = "${MISSING_VAR:-fallback}"
    path = tmp_path / "p.yaml"
    path.write_text(yaml.safe_dump(cfg))
    spec = load_config(str(path))
    assert spec.llm.model == "mock"
    assert spec.prompt.system_message == "fallback"
    with pytest.raises(KeyError):
        spec_from_dict({**cfg, "llm": {"model": "${DEFINITELY_NOT_SET}"}})


def test_config_rejects_unknown_keys(tmp_path, reviews_csv):
    cfg = _config(tmp_path, reviews_csv)
    cfg["processing"]["not_a_knob"] = 1
    with pytest.raises(ValueError, match="not_a_knob"):
        spec_from_dict(cfg)


def test_config_rejects_checkpoint_interval(tmp_path, reviews_csv):
    """The durable commit unit is the chunk (execute_chunked's
    chunk_size); a config that still sets a checkpoint cadence fails
    like any other unknown key instead of being silently ignored."""
    cfg = _config(tmp_path, reviews_csv, checkpoint_interval=100)
    with pytest.raises(ValueError, match="checkpoint_interval"):
        spec_from_dict(cfg)


@pytest.mark.parametrize("strategy", ["append", "update"])
def test_validate_rejects_unapplied_merge_strategy(tmp_path, reviews_csv,
                                                   strategy):
    """execute() writes the merged frame as is, so an output merge
    strategy other than the default is refused at validation rather than
    accepted and ignored; the default passes."""
    cfg = _config(tmp_path, reviews_csv)
    cfg["output"] = {"path": str(tmp_path / "out.parquet"),
                     "merge_strategy": strategy}
    spec = spec_from_dict(cfg)
    with pytest.raises(ValueError, match="merge_strategy"):
        spec.validate()
    cfg["output"]["merge_strategy"] = "replace"
    spec_from_dict(cfg).validate()


def test_cli_process_status_resume_flow(spark, tmp_path, reviews_csv):
    import yaml

    from ondine_spark.cli import main

    cfg_path = tmp_path / "p.yaml"
    cfg_path.write_text(yaml.safe_dump(_config(tmp_path, reviews_csv)))
    registry = str(tmp_path / "runs.db")

    rc = main(["validate", str(cfg_path)])
    assert rc == 0

    rc = main([
        "process", str(cfg_path), "--run-id", "r1",
        "--registry", registry, "--chunked", "--chunk-size", "10",
    ])
    assert rc == 0
    reg = RunRegistry(registry)
    assert reg.get("r1").state == RunState.SUCCEEDED
    assert reg.get("r1").meta["rows"] == 30

    rc = main(["status", "r1", "--registry", registry])
    assert rc == 0
    rc = main(["list-runs", "--registry", registry])
    assert rc == 0
    rc = main(["list-providers"])
    assert rc == 0


def test_cli_progress_rendering(spark, tmp_path, reviews_csv, capsys,
                                monkeypatch):
    import yaml

    import ondine_spark.cli as cli
    from ondine_spark.cli import main
    from ondine_spark.orchestration.progress import TrackerObserver

    built = []
    pipeline = cli._pipeline
    monkeypatch.setattr(
        cli, "_pipeline", lambda cfg: built.append(pipeline(cfg)) or built[-1]
    )
    cfg_path = tmp_path / "pp.yaml"
    cfg_path.write_text(yaml.safe_dump(
        _config(tmp_path, reviews_csv, session_id="prog-sess")
    ))
    rc = main([
        "process", str(cfg_path), "--run-id", "rp",
        "--chunked", "--chunk-size", "10", "--progress",
    ])
    assert rc == 0
    # one progress surface, so every chunk event renders once
    observers = built[0].spec.processing.observers
    assert len(observers) == 1
    assert isinstance(observers[0], TrackerObserver)
    err = capsys.readouterr().err
    # the tracker's per-chunk stages: live start at 0/10, then the full
    # bar with the run's cumulative rows and cost at finish
    assert "chunk 3/3" in err and "rows=30" in err
    assert "|########################|" in err
    assert "0/10" in err  # tracker stage opened before the chunk ran
    assert err.count("10/10") >= 3  # every chunk stage finished full
    assert "cost=" in err


def test_registry_state_machine(tmp_path):
    reg = RunRegistry(str(tmp_path / "runs.db"))
    reg.create("a")
    reg.transition("a", RunState.RUNNING)
    with pytest.raises(ValueError):
        reg.transition("a", RunState.PENDING)
    reg.transition("a", RunState.FAILED, error="boom")
    assert reg.get("a").meta["error"] == "boom"
    reg.transition("a", RunState.RUNNING)  # resume path
    reg.transition("a", RunState.SUCCEEDED)
    with pytest.raises(ValueError):
        reg.transition("a", RunState.RUNNING)
    assert [r.run_id for r in reg.list()] == ["a"]


def test_composer_dependent_columns(spark):
    from ondine_spark import PipelineBuilder
    from ondine_spark.plans.composer import PipelineComposer

    def upper_factory():
        class C:
            def complete(self, prompt, system=None):
                from ondine_spark.llm.client import LLMResult

                # prompt: "U:<text>" -> upper, "L:<text>" -> len
                tag, _, payload = prompt.partition(":")
                out = payload.upper() if tag == "U" else str(len(payload))
                return LLMResult(text=out, tokens_in=1, tokens_out=1,
                                model="m", cost="0", latency_ms=0.1)

        return C()

    df = spark.createDataFrame([("a", "hi"), ("b", "yo")], ["id", "word"])

    def step(template, col):
        # input columns inferred from the template placeholders — a later
        # step may reference columns produced by earlier steps
        return (
            PipelineBuilder(spark)
            .from_dataframe(df, id_column="id")
            .with_prompt(template, [col])
            .with_custom_llm_client(upper_factory)
            .build()
        )

    comp = (
        PipelineComposer()
        .add_column("upper", step("U:{word}", "upper"))
        .add_column("ulen", step("L:{upper}", "ulen"), depends_on=["upper"])
    )
    out = {r["id"]: r for r in comp.execute(df).collect()}
    assert out["a"]["upper"] == "HI" and out["a"]["ulen"] == "2"
    assert out["b"]["upper"] == "YO"

    # cycle detection
    comp2 = (
        PipelineComposer()
        .add_column("x", step("U:{word}", "x"), depends_on=["y"])
        .add_column("y", step("U:{word}", "y"), depends_on=["x"])
    )
    with pytest.raises(ValueError, match="cycle"):
        comp2.execute(df)


def test_provider_registry_and_presets():
    from ondine_spark.core.specs import LLMSpec
    from ondine_spark.llm.providers import (
        client_factory_for,
        preset_costs,
        provider,
    )

    assert preset_costs("gpt-4o-mini") is not None
    assert preset_costs("openai/gpt-4o-mini") is not None
    assert preset_costs("never-heard-of-it") is None

    with pytest.raises(ValueError, match="no client"):
        client_factory_for(LLMSpec(model="never-heard-of-it"))

    @provider("testprov")
    def _factory(model=None):
        return ("client-for", model)

    f = client_factory_for(LLMSpec(model="testprov/x1"))
    assert f() == ("client-for", "testprov/x1")

    mock = client_factory_for(LLMSpec(model="mock"))()
    assert hasattr(mock, "complete")


def test_intent_planner_drafts_valid_spec(spark):
    from ondine_spark.plans.intent import plan

    class PlannerClient:
        def complete(self, prompt, system=None):
            from ondine_spark.llm.client import LLMResult

            return LLMResult(
                text='```json\n{"prompt_template": "Classify sentiment: '
                     '{review}", "output_columns": ["sentiment"], '
                     '"response_format": "raw", "batch_size": 25, '
                     '"system_message": null}\n```',
                tokens_in=50, tokens_out=40, model="planner",
                cost="0.0001", latency_ms=1.0,
            )

    p = plan(PlannerClient(), "label reviews by sentiment", ["review"])
    assert p.spec.prompt.template == "Classify sentiment: {review}"
    assert p.spec.dataset.output_columns == ["sentiment"]
    assert p.spec.prompt.batch_size == 25

    # drafted placeholder not in input columns → rejected
    class BadPlanner:
        def complete(self, prompt, system=None):
            from ondine_spark.llm.client import LLMResult

            return LLMResult(
                text='{"prompt_template": "Do {nope}", '
                     '"output_columns": ["x"]}',
                tokens_in=1, tokens_out=1, model="p", cost="0",
                latency_ms=0.1,
            )

    with pytest.raises(ValueError, match="nope"):
        plan(BadPlanner(), "g", ["review"])


def test_enrich_front_door(spark, tmp_path, reviews_csv):
    from ondine_spark import enrich, mock_client_factory

    res = enrich(
        reviews_csv,
        "Classify: {review}",
        ["sentiment"],
        client_factory=mock_client_factory(),
        id_column="id",
        batch_size=10,
        spark=spark,
        output_path=str(tmp_path / "out.parquet"),
    )
    assert res.quality.valid_rows == 30
    assert res.api_calls == 3  # ceil(30/10) mega-calls
    written = spark.read.parquet(str(tmp_path / "out.parquet"))
    assert written.count() == 30
    assert "sentiment" in written.columns


def test_cached_tokens_from_usage_shapes():
    """L2 cache-hit detection handles OpenAI (nested details), Anthropic
    (flat field), dict- and attribute-shaped usage, and absent data."""
    from types import SimpleNamespace

    from ondine_spark.llm.providers import cached_tokens_from_usage

    # OpenAI dict shape
    assert cached_tokens_from_usage(
        {"prompt_tokens": 100, "prompt_tokens_details": {"cached_tokens": 64}}
    ) == 64
    # OpenAI attribute shape
    assert cached_tokens_from_usage(SimpleNamespace(
        prompt_tokens=100,
        prompt_tokens_details=SimpleNamespace(cached_tokens=32),
    )) == 32
    # Anthropic flat field
    assert cached_tokens_from_usage(
        {"input_tokens": 100, "cache_read_input_tokens": 90}
    ) == 90
    # nothing cached / absent / malformed
    assert cached_tokens_from_usage({"prompt_tokens": 10}) == 0
    assert cached_tokens_from_usage(None) == 0
    assert cached_tokens_from_usage(
        {"prompt_tokens_details": {"cached_tokens": "garbage"}}
    ) == 0
    # LLMResult default stays 0 for clients that do not report caching
    from ondine_spark.llm.client import LLMResult

    r = LLMResult(text="x", tokens_in=1, tokens_out=1, model="m", cost="0")
    assert r.tokens_cached == 0


def test_orc_source_end_to_end(spark, tmp_path):
    """S1-family: ORC input flows through the same pipeline spine."""
    from ondine_spark import PipelineBuilder, mock_client_factory

    src = str(tmp_path / "reviews_orc")
    spark.createDataFrame(
        [(f"r{i}", f"row {i} is great") for i in range(12)],
        "id string, review string",
    ).write.orc(src)
    p = (
        PipelineBuilder(spark)
        .from_source(src, ["review"], id_column="id", format="orc")
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(mock_client_factory())
        .build()
    )
    rows = {r["id"]: r["sentiment"] for r in p.result_frame().collect()}
    assert len(rows) == 12 and rows["r0"] == "positive"


def test_orc_sink_roundtrip(spark, tmp_path):
    from ondine_spark import PipelineBuilder, mock_client_factory

    out = str(tmp_path / "out_orc")
    (
        PipelineBuilder(spark)
        .from_dataframe(
            spark.createDataFrame(
                [(f"r{i}", "love it") for i in range(6)],
                "id string, review string",
            ),
            ["review"], id_column="id",
        )
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(mock_client_factory())
        .with_output(out, format="orc")
        .build()
        .execute()
    )
    back = spark.read.orc(out)
    assert back.count() == 6
    assert {r["sentiment"] for r in back.collect()} == {"positive"}


def test_api_surface_table_in_sync():
    """Drift guard (round-5): COVERAGE.md's builder-method parity table
    must equal a fresh regeneration from introspection. Dropping or
    renaming a PipelineBuilder method (or letting the reference list
    drift) fails here instead of silently shrinking the documented
    surface. Regenerate with `python tools/gen_api_table.py --write`."""
    import os

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import gen_api_table

    block = gen_api_table.generate()  # raises on mapping/reference drift
    cov = os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    with open(cov) as fh:
        text = fh.read()
    assert gen_api_table.BEGIN in text, "COVERAGE.md lost the api-surface block"
    current = text[
        text.index(gen_api_table.BEGIN): text.index(gen_api_table.END)
        + len(gen_api_table.END)
    ]
    assert current == block, (
        "COVERAGE.md api-surface table is stale — "
        "run `python tools/gen_api_table.py --write`"
    )
