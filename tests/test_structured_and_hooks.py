"""Structured output (L3/F7), custom parser/stage hooks (U1/U2),
adaptive concurrency (O5)."""

import sys

import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from ondine_spark import PipelineBuilder

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def json_factory():
    class C:
        def complete(self, prompt, system=None):
            from ondine_spark.llm.client import LLMResult

            if "bad" in prompt:
                text = "this is not json at all"
            elif "fence" in prompt:
                text = '```json\n{"label": "f", "score": 2.5}\n```'
            else:
                text = '{"label": "ok", "score": 1.5}'
            return LLMResult(text=text, tokens_in=2, tokens_out=2,
                            model="m", cost="0", latency_ms=0.1)

    return C()


def _run(spark, schema):
    df = spark.createDataFrame(
        [("a", "good input"), ("b", "bad input"), ("c", "fence input")],
        ["id", "txt"],
    )
    return (
        PipelineBuilder(spark)
        .from_dataframe(df, ["txt"], id_column="id")
        .with_prompt("Do: {txt}", ["label", "score"])
        .with_structured_output(schema)
        .with_custom_llm_client(json_factory)
        .build()
        .result_frame()
        .collect()
    )


@pytest.mark.parametrize("schema", [
    "label STRING, score DOUBLE",
    {"label": "string", "score": "double"},
])
def test_structured_output_validates(spark, schema):
    rows = {r["id"]: r for r in _run(spark, schema)}
    assert rows["a"]["label"] == "ok" and rows["a"]["score"] == 1.5
    assert rows["a"]["_parse_error"] is False
    # markdown fences stripped
    assert rows["c"]["label"] == "f" and rows["c"]["score"] == 2.5
    # invalid json -> nulls + parse error flag
    assert rows["b"]["label"] is None
    assert rows["b"]["_parse_error"] is True


def test_schema_parser_coerces_quoted_numbers(spark):
    """Numeric fields sent as JSON strings coerce like Pydantic's lax mode;
    a present value that is not a number flags the row instead of being
    silently nulled."""
    from ondine_spark.functions.parsing import apply_schema_parser

    df = spark.createDataFrame([
        ("quoted", '{"label":"positive","score":"4"}'),
        ("number", '{"label":"positive","score":4}'),
        ("text", '{"label":"positive","score":"abc"}'),
    ], ["id", "response_text"])
    rows = {r["id"]: r for r in apply_schema_parser(
        df, ["label", "score"], "label STRING, score DOUBLE"
    ).collect()}
    for k in ("quoted", "number"):
        assert rows[k]["score"] == 4.0 and rows[k]["_parse_error"] is False
    assert rows["text"]["score"] is None
    assert rows["text"]["label"] == "positive"
    assert rows["text"]["_parse_error"] is True


def test_structured_output_rejects_missing_column(spark):
    with pytest.raises(ValueError, match="not in output_schema"):
        _run(spark, "label STRING")


def test_custom_parser_and_stages(spark):
    def shout_factory():
        class C:
            def complete(self, prompt, system=None):
                from ondine_spark.llm.client import LLMResult

                return LLMResult(text=prompt[-3:], tokens_in=1, tokens_out=1,
                                model="m", cost="0", latency_ms=0.1)

        return C()

    def my_parser(responses, out_cols):
        return responses.withColumn(out_cols[0], F.upper("response_text"))

    df = spark.createDataFrame([("a", "xyz")], ["id", "txt"])
    p = (
        PipelineBuilder(spark)
        .from_dataframe(df, ["txt"], id_column="id")
        .with_prompt("{txt}", ["out"])
        .with_custom_llm_client(shout_factory)
        .with_custom_parser(my_parser)
        .with_stage(lambda d: d.withColumn("txt", F.concat(F.col("txt"), F.lit("!"))),
                    position="after_load")
        .with_stage(lambda d: d.withColumn("staged", F.lit(True)),
                    position="after_parse")
        .build()
    )
    row = p.result_frame().collect()[0]
    # after_load stage mutated the input before prompting: "xyz!"[-3:]="yz!"
    assert row["out"] == "YZ!"
    assert row["staged"] is True


def test_adaptive_concurrency_shrinks_and_completes(spark):
    def flaky_factory():
        class C:
            def __init__(self):
                self.n = 0

            def complete(self, prompt, system=None):
                from ondine_spark.llm.client import (
                    LLMResult,
                    TransientLLMError,
                )

                self.n += 1
                if self.n % 7 == 0:
                    raise TransientLLMError("429", retry_after=0.001)
                return LLMResult(text="ok", tokens_in=1, tokens_out=1,
                                model="m", cost="0", latency_ms=0.1)

        return C()

    df = spark.createDataFrame([(str(i), f"t{i}") for i in range(60)], ["id", "txt"])
    p = (
        PipelineBuilder(spark)
        .from_dataframe(df, ["txt"], id_column="id")
        .with_prompt("{txt}", ["out"])
        .with_custom_llm_client(flaky_factory)
        .with_adaptive_concurrency()
        .with_max_retries(3)
        .build()
    )
    rows = p.result_frame().collect()
    assert len(rows) == 60
    assert all(r["out"] == "ok" for r in rows)


def test_adaptive_limiter_unit():
    from ondine_spark.llm.invoke import AdaptiveLimiter

    lim = AdaptiveLimiter(16)
    start = lim.limit
    lim.acquire()
    lim.release(0.1, throttled=True)
    assert lim.limit < start  # multiplicative shrink
    shrunk = lim.limit
    lim.last_shrink = 0.0  # bypass cooldown
    lim.acquire()
    lim.release(0.1, throttled=True)
    assert lim.limit < shrunk
    # growth toward max only when SATURATED at near-baseline latency
    for _ in range(50):
        k = int(lim.limit)
        for _ in range(k):
            lim.acquire()
        for _ in range(k):
            lim.release(0.05, throttled=False)
    assert lim.limit > shrunk
    # and an unsaturated workload must NOT grow the cap
    before = lim.limit
    for _ in range(20):
        lim.acquire()
        lim.release(0.05, throttled=False)
    assert lim.limit == before


# ---------------------------------------------------------------- L3 depth:
# tools → json → prompt mode-fallback chain (llm/structured.py)


class _Result:
    def __init__(self, text):
        self.text = text
        self.tokens_in = 3
        self.tokens_out = 1
        self.model = "stub"
        self.cost = "0"
        self.latency_ms = 0.0
        self.error = None


def test_fallback_tools_rejected_json_succeeds():
    """Stub provider rejects tools mode (HTTP-400 style), accepts json
    mode; the chain must land on json and stick to it."""
    from ondine_spark.llm.structured import (
        StructuredModeError,
        StructuredOutputClient,
    )

    calls = []

    class Stub:
        model = "stub"

        def complete_tools(self, prompt, fields, system=None):
            calls.append("tools")
            raise StructuredModeError("tools not supported for this model")

        def complete_json(self, prompt, fields, system=None):
            calls.append("json")
            return _Result('{"label": "x", "score": "1"}')

        def complete(self, prompt, system=None):
            calls.append("prompt")
            return _Result("plain")

    c = StructuredOutputClient(Stub(), ["label", "score"])
    r = c.complete("classify this")
    assert r.text == '{"label": "x", "score": "1"}'
    assert c.mode == "json"
    # sticky: the second call must NOT re-probe tools
    c.complete("another")
    assert calls == ["tools", "json", "json"]


def test_fallback_to_prompt_mode_appends_instruction():
    """A client with no structured modes gets the JSON instruction
    appended to the prompt (the always-works degradation)."""
    from ondine_spark.llm.structured import StructuredOutputClient

    seen = []

    class Bare:
        model = "bare"

        def complete(self, prompt, system=None):
            seen.append(prompt)
            return _Result('{"label": "y"}')

    c = StructuredOutputClient(Bare(), ["label"])
    c.complete("do the thing")
    assert c.mode == "prompt"
    assert seen[0].startswith("do the thing")
    assert '"label"' in seen[0] and "JSON" in seen[0]


def test_fallback_all_modes_fail_raises():
    from ondine_spark.llm.structured import (
        StructuredModeError,
        StructuredOutputClient,
    )

    class Dead:
        model = "dead"

        def complete_tools(self, prompt, fields, system=None):
            raise StructuredModeError("no tools")

        def complete_json(self, prompt, fields, system=None):
            raise StructuredModeError("no json")

        def complete(self, prompt, system=None):
            raise StructuredModeError("no completions at all")

    c = StructuredOutputClient(Dead(), ["label"])
    with pytest.raises(StructuredModeError, match="every structured"):
        c.complete("x")


def test_fallback_transport_errors_propagate():
    """Only StructuredModeError falls through — transport errors must
    reach the retry machinery untouched."""
    from ondine_spark.llm.structured import StructuredOutputClient

    class Flaky:
        model = "flaky"

        def complete_tools(self, prompt, fields, system=None):
            raise TimeoutError("socket timeout")

        def complete(self, prompt, system=None):
            return _Result("never reached")

    c = StructuredOutputClient(Flaky(), ["label"])
    with pytest.raises(TimeoutError):
        c.complete("x")


def structured_stub_factory():
    def factory():
        from ondine_spark.llm.client import LLMResult
        from ondine_spark.llm.structured import StructuredModeError

        class Stub:
            model = "stub"

            def complete_tools(self, prompt, fields, system=None):
                raise StructuredModeError("tools rejected")

            def complete_json(self, prompt, fields, system=None):
                import json as j

                return LLMResult(
                    text=j.dumps({"label": "ok", "score": "0.5"}),
                    tokens_in=3, tokens_out=1, model="stub", cost="0",
                )

            def complete(self, prompt, system=None):  # pragma: no cover
                raise AssertionError("chain should have stopped at json")

        return Stub()

    return factory


def test_structured_pipeline_with_mode_fallback(spark):
    """End-to-end: with_structured_output(mode_fallback=True) wraps the
    client factory; every row parses through the json-mode responses."""
    df = spark.createDataFrame(
        [(f"d{i}", f"document {i}") for i in range(12)], "id string, txt string"
    )
    p = (
        PipelineBuilder(spark)
        .from_dataframe(df, ["txt"], id_column="id")
        .with_prompt("Classify: {txt}", ["label", "score"])
        .with_custom_llm_client(structured_stub_factory())
        .with_structured_output("label STRING, score STRING",
                                mode_fallback=True)
        .build()
    )
    rows = p.result_frame().select("id", "label", "score").collect()
    assert len(rows) == 12
    assert all(r["label"] == "ok" and r["score"] == "0.5" for r in rows)


def test_repeated_build_is_idempotent(spark):
    """build() must not mutate the builder's spec: a second build() on the
    same builder would otherwise wrap the already-wrapped client factory in
    a second StructuredOutputClient (ADVICE r2, builder.py:310)."""
    df = spark.createDataFrame(
        [(f"d{i}", f"document {i}") for i in range(3)], "id string, txt string"
    )
    base_factory = structured_stub_factory()
    b = (
        PipelineBuilder(spark)
        .from_dataframe(df, ["txt"], id_column="id")
        .with_prompt("Classify: {txt}", ["label", "score"])
        .with_custom_llm_client(base_factory)
        .with_structured_output("label STRING, score STRING",
                                mode_fallback=True)
    )
    p1 = b.build()
    # the caller's spec object is untouched — still the raw factory
    assert b.spec.llm.client_factory is base_factory
    p2 = b.build()
    from ondine_spark.llm.structured import StructuredOutputClient

    for p in (p1, p2):
        client = p.spec.llm.client_factory()
        assert isinstance(client, StructuredOutputClient)
        # single wrap: the inner client is the stub, not another wrapper
        assert not isinstance(client.base, StructuredOutputClient)
    rows = p2.result_frame().select("id", "label").collect()
    assert len(rows) == 3


def test_after_prompt_stage_with_batching(spark):
    """A user after_prompt stage forces the eager-prompt persist path
    (the lazy pre-prompt persist can't see prompt mutations); the stage's
    rewrite must reach the provider inside the mega-batch."""
    from ondine_spark import PipelineBuilder

    def echo_factory():
        from decimal import Decimal

        from ondine_spark.llm.client import LLMResult

        class C:
            model = "mock"

            def complete(self, prompt, system=None):
                import json

                # each staged per-row prompt is an "input" item inside the
                # mega-prompt; answer "ok" only if the stage's suffix is
                # there — the assertion travels with the response
                start = prompt.index("INPUT:\n") + 7
                end = prompt.index("\n\nCRITICAL")
                items = json.loads(prompt[start:end])
                text = json.dumps(
                    [
                        {
                            "id": it["id"],
                            "result": "ok"
                            if it["input"].endswith(" STAGED") else "missing",
                        }
                        for it in items
                    ]
                )
                return LLMResult(
                    text=text, tokens_in=1, tokens_out=1,
                    model="mock", cost=Decimal("0"),
                )

        return C()

    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], ["id", "txt"]
    )
    p = (
        PipelineBuilder(spark)
        .from_dataframe(df, ["txt"], id_column="id")
        .with_prompt("{txt}", ["out"])
        .with_custom_llm_client(echo_factory)
        .with_batch_size(5)
        .with_stage(
            lambda d: d.withColumn(
                "prompt", F.concat(F.col("prompt"), F.lit(" STAGED"))
            ),
            position="after_prompt",
        )
        .build()
    )
    rows = p.result_frame().collect()
    assert len(rows) == 10
    # "ok" only flows back when the stage's suffix reached the provider
    # inside every mega-prompt item
    assert all(r["out"] == "ok" for r in rows)
