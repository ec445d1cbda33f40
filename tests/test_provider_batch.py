"""Provider Batch mode (L5): submit → poll → collect across 'processes',
mock provider, parity with live mode."""

import sys

import pytest
from pyspark import cloudpickle

from ondine_spark import PipelineBuilder, mock_client_factory
from ondine_spark.llm.provider_batch import (
    LocalMockBatchProvider,
    RunHandle,
    collect,
    submit,
)
from ondine_spark.orchestration.registry import RunRegistry, RunState

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _rows(n):
    labels = ["great", "terrible", "okay"]
    return [
        {"id": f"k{i:03d}", "review": f"row {i} is {labels[i % 3]}"}
        for i in range(n)
    ]


def _build(spark, batch_size=1):
    b = (
        PipelineBuilder(spark)
        .from_dataframe(spark.createDataFrame(_rows(30)), ["review"],
                        id_column="id")
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(mock_client_factory())
    )
    if batch_size > 1:
        b.with_batch_size(batch_size)
    return b.build()


def test_submit_poll_collect_unbatched(spark, tmp_path):
    provider = LocalMockBatchProvider(str(tmp_path / "spool"), latency_polls=2)
    reg = RunRegistry(str(tmp_path / "runs.db"))
    p = _build(spark)
    handle = submit(p, provider, str(tmp_path / "work"), run_id="bj1",
                    registry=reg)
    assert handle.provider_job_id.startswith("mockbatch-")
    assert reg.get("bj1").state == RunState.RUNNING
    assert reg.get("bj1").provider_job_id == ",".join(handle.provider_job_ids)
    assert reg.get("bj1").meta["requests"] == 30

    # 'another process': reload the handle from disk
    handle2 = RunHandle.load(str(tmp_path / "work"), "bj1")
    result = collect(p, provider, handle2, registry=reg)
    rows = {r["id"]: r["sentiment"] for r in result.collect()}
    assert len(rows) == 30
    assert rows["k000"] == "positive"
    assert rows["k001"] == "negative"
    assert rows["k002"] == "neutral"
    assert reg.get("bj1").state == RunState.SUCCEEDED


def test_batched_mode_matches_live(spark, tmp_path):
    """Mega-batched provider-batch run agrees with live execution."""
    import os

    provider = LocalMockBatchProvider(str(tmp_path / "spool"))
    p = _build(spark, batch_size=10)
    handle = submit(p, provider, str(tmp_path / "work"))

    # exactly ceil(30/10)=3 requests compiled (the call-reduction headline),
    # possibly spread over several part files / provider jobs
    total = 0
    for job_id in handle.provider_job_ids:
        job_dir = os.path.join(str(tmp_path / "spool"), job_id)
        with open(os.path.join(job_dir, "input.jsonl")) as f:
            total += sum(1 for _ in f)
    assert total == 3

    batch_result = collect(p, provider, handle)
    live_result = _build(spark, batch_size=10).execute().data
    got_b = {r["id"]: r["sentiment"] for r in batch_result.collect()}
    got_l = {r["id"]: r["sentiment"] for r in live_result.collect()}
    assert got_b == got_l
    assert None not in got_b.values()


def test_driver_never_materializes_requests(spark, tmp_path, monkeypatch):
    """The request set must reach the provider via executor-written part
    files, never via a driver-side collect of the full frame (driver OOM
    at 10⁸ requests). Every collect/toPandas/toLocalIterator during
    submit() is recorded on the class sessions actually return: none may
    read the JSONL request lines, and none over a frame carrying prompts
    may return more rows than the batch-size check's sample."""
    import inspect

    from ondine_spark.llm.context_limits import validate_batch_size

    sample = inspect.signature(validate_batch_size).parameters["sample"].default
    cls = type(spark.range(1))
    calls = []

    def recording(name):
        orig = getattr(cls, name)

        def wrapper(self, *a, **k):
            out = orig(self, *a, **k)
            rows = len(out) if hasattr(out, "__len__") else None
            calls.append((name, tuple(self.columns), rows))
            return out

        return wrapper

    for name in ("collect", "toPandas", "toLocalIterator"):
        monkeypatch.setattr(cls, name, recording(name))
    provider = LocalMockBatchProvider(str(tmp_path / "spool"))
    p = _build(spark, batch_size=10)
    handle = submit(p, provider, str(tmp_path / "work"))
    assert handle.provider_job_ids
    # the recorder is live: the global index's partition counts and the
    # batch-size check's sample are small driver-side collects
    assert calls
    for name, cols, rows in calls:
        assert "line" not in cols, (name, cols)
        if "prompt" in cols:
            assert rows is not None and rows <= sample, (name, cols, rows)


def test_multipart_sharded_submit(spark, tmp_path):
    """max_requests_per_file caps per-job request counts: 30 unbatched
    requests at cap 7 → ≥5 provider jobs, and collect still reassembles
    the full result."""
    provider = LocalMockBatchProvider(str(tmp_path / "spool"))
    p = _build(spark)
    handle = submit(p, provider, str(tmp_path / "work"),
                    max_requests_per_file=7)
    assert len(handle.provider_job_ids) >= 5
    result = collect(p, provider, handle)
    rows = {r["id"]: r["sentiment"] for r in result.collect()}
    assert len(rows) == 30
    assert None not in rows.values()


class _FakeOpenAITransport:
    """In-memory OpenAI Batch endpoints: upload file → create batch →
    status completed → download content produced by the deterministic
    mock rules (so results agree with live mode)."""

    def __init__(self):
        self.files: dict[str, bytes] = {}
        self.batches: dict[str, dict] = {}
        self.calls: list[str] = []

    def __call__(self, method, url, headers, body):
        import json as j

        self.calls.append(f"{method} {url.split('/v1')[1]}")
        assert headers.get("Authorization", "").startswith("Bearer ")
        if url.endswith("/files") and method == "POST":
            fid = f"file-{len(self.files)}"
            # body is multipart; the payload sits between the jsonl header
            # and the trailing boundary
            marker = b"application/jsonl\r\n\r\n"
            payload = body.split(marker, 1)[1].rsplit(b"\r\n--", 1)[0]
            self.files[fid] = payload
            return 200, j.dumps({"id": fid}).encode()
        if url.endswith("/batches") and method == "POST":
            req = j.loads(body)
            bid = f"batch-{len(self.batches)}"
            out_fid = f"file-out-{bid}"
            from ondine_spark.llm.client import DeterministicMockClient

            client = DeterministicMockClient()
            lines = []
            for line in self.files[req["input_file_id"]].decode().splitlines():
                r = j.loads(line)
                resp = client.complete(r["body"]["messages"][-1]["content"])
                lines.append(j.dumps({
                    "custom_id": r["custom_id"],
                    "response": {"body": {
                        "choices": [{"message": {"content": resp.text}}],
                        "usage": {"prompt_tokens": resp.tokens_in,
                                  "completion_tokens": resp.tokens_out},
                        "model": resp.model,
                    }},
                    "error": None,
                }))
            self.files[out_fid] = "\n".join(lines).encode()
            self.batches[bid] = {"id": bid, "status": "completed",
                                 "output_file_id": out_fid}
            return 200, j.dumps(self.batches[bid]).encode()
        if "/batches/" in url and method == "GET":
            bid = url.rsplit("/", 1)[1]
            return 200, j.dumps(self.batches[bid]).encode()
        if url.endswith("/content") and method == "GET":
            fid = url.rsplit("/", 2)[1]
            return 200, self.files[fid]
        raise AssertionError(f"unexpected call {method} {url}")


def test_openai_provider_end_to_end(spark, tmp_path):
    from ondine_spark.llm.provider_batch import OpenAIBatchProvider

    transport = _FakeOpenAITransport()
    provider = OpenAIBatchProvider(api_key="sk-test", transport=transport,
                                   download_dir=str(tmp_path / "dl"))
    p = _build(spark, batch_size=10)
    handle = submit(p, provider, str(tmp_path / "work"))
    result = collect(p, provider, handle)
    rows = {r["id"]: r["sentiment"] for r in result.collect()}
    live = {r["id"]: r["sentiment"]
            for r in _build(spark, batch_size=10).execute().data.collect()}
    assert rows == live
    assert any(c.startswith("POST /files") for c in transport.calls)
    assert any(c.startswith("POST /batches") for c in transport.calls)


class _FakeAnthropicTransport:
    """In-memory Message Batches endpoints with the native Anthropic
    result shape (content blocks + input/output token usage)."""

    def __init__(self):
        self.batches: dict[str, list] = {}

    def __call__(self, method, url, headers, body):
        import json as j

        assert headers.get("x-api-key")
        assert headers.get("anthropic-version")
        if url.endswith("/messages/batches") and method == "POST":
            bid = f"msgbatch-{len(self.batches)}"
            self.batches[bid] = j.loads(body)["requests"]
            return 200, j.dumps(
                {"id": bid, "processing_status": "in_progress"}
            ).encode()
        if url.endswith("/results") and method == "GET":
            bid = url.rsplit("/", 2)[1]
            from ondine_spark.llm.client import DeterministicMockClient

            client = DeterministicMockClient()
            lines = []
            for req in self.batches[bid]:
                resp = client.complete(req["params"]["messages"][-1]["content"])
                lines.append(j.dumps({
                    "custom_id": req["custom_id"],
                    "result": {"type": "succeeded", "message": {
                        "content": [{"type": "text", "text": resp.text}],
                        "usage": {"input_tokens": resp.tokens_in,
                                  "output_tokens": resp.tokens_out},
                        "model": resp.model,
                    }},
                }))
            return 200, "\n".join(lines).encode()
        if "/messages/batches/" in url and method == "GET":
            bid = url.rsplit("/", 1)[1]
            return 200, j.dumps(
                {"id": bid, "processing_status": "ended"}
            ).encode()
        raise AssertionError(f"unexpected call {method} {url}")


def test_anthropic_provider_end_to_end(spark, tmp_path):
    from ondine_spark.llm.provider_batch import AnthropicBatchProvider

    provider = AnthropicBatchProvider(
        api_key="sk-ant-test", transport=_FakeAnthropicTransport(),
        download_dir=str(tmp_path / "dl"),
    )
    p = _build(spark)
    handle = submit(p, provider, str(tmp_path / "work"))
    result = collect(p, provider, handle)
    rows = {r["id"]: r["sentiment"] for r in result.collect()}
    assert len(rows) == 30
    assert rows["k000"] == "positive"
    assert rows["k001"] == "negative"
    assert rows["k002"] == "neutral"


def test_handle_roundtrip_multi_job(tmp_path):
    h = RunHandle(run_id="r1", provider_job_ids=["a", "b", "c"],
                  handle_dir=str(tmp_path))
    h.save()
    h2 = RunHandle.load(str(tmp_path), "r1")
    assert h2.provider_job_ids == ["a", "b", "c"]
    assert h2.provider_job_id == "a"


def test_handle_loads_round1_single_job_format(tmp_path):
    import json as j

    with open(tmp_path / "old.handle.json", "w") as f:
        j.dump({"run_id": "old", "provider_job_id": "job-7"}, f)
    h = RunHandle.load(str(tmp_path), "old")
    assert h.provider_job_ids == ["job-7"]


def test_max_tokens_reaches_compiled_body_and_anthropic(spark, tmp_path):
    """spec.llm.max_tokens must land in every compiled request body, and
    AnthropicBatchProvider must honor it per-request over its own default
    (ADVICE r2; reference provider_batch.py:313,332)."""
    import json as j

    from ondine_spark.llm.provider_batch import (
        AnthropicBatchProvider,
        compile_requests,
    )

    b = (
        PipelineBuilder(spark)
        .from_dataframe(spark.createDataFrame(_rows(6)), ["review"],
                        id_column="id")
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_llm("mock-sentiment", max_tokens=4096)
        .with_custom_llm_client(mock_client_factory())
        .with_batch_size(3)
    )
    p = b.build()
    n, parts = compile_requests(p, str(tmp_path / "staging"))
    assert n == 2
    bodies = [j.loads(line)["body"] for part in parts
              for line in open(part)]
    assert all(body["max_tokens"] == 4096 for body in bodies)

    transport = _FakeAnthropicTransport()
    provider = AnthropicBatchProvider(
        api_key="sk-ant-test", transport=transport,
        download_dir=str(tmp_path / "dl"),
    )
    for part in parts:
        provider.submit_file(part, "mock-sentiment")
    sent = [req["params"]["max_tokens"]
            for reqs in transport.batches.values() for req in reqs]
    assert sent and all(v == 4096 for v in sent)


def test_openai_download_includes_error_file(tmp_path):
    """Failed requests live in error_file_id on a completed batch; they
    must surface as error rows, not silently vanish (ADVICE r2)."""
    import json as j

    from ondine_spark.llm.provider_batch import OpenAIBatchProvider

    ok_line = j.dumps({"custom_id": "row-a", "response": {"body": {
        "choices": [{"message": {"content": "fine"}}],
        "usage": {"prompt_tokens": 1, "completion_tokens": 1},
        "model": "m"}}, "error": None})
    err_line = j.dumps({"custom_id": "row-b", "response": None,
                        "error": {"code": "rate_limited"}})

    def transport(method, url, headers, body):
        if "/batches/" in url:
            return 200, j.dumps({"id": "b0", "status": "completed",
                                 "output_file_id": "f-ok",
                                 "error_file_id": "f-err"}).encode()
        if "f-ok/content" in url:
            return 200, ok_line.encode()
        if "f-err/content" in url:
            return 200, err_line.encode()
        raise AssertionError(url)

    provider = OpenAIBatchProvider(api_key="sk-test", transport=transport,
                                   download_dir=str(tmp_path))
    path = provider.download("b0")
    got = [j.loads(line) for line in open(path)]
    assert {g["custom_id"] for g in got} == {"row-a", "row-b"}
    errs = {g["custom_id"]: g["error"] for g in got}
    assert errs["row-a"] is None and errs["row-b"] is not None


def test_openai_download_all_failed_uses_error_file_only(tmp_path):
    """output_file_id may be null when every request failed — the GET must
    not 404; results come from error_file_id alone."""
    import json as j

    from ondine_spark.llm.provider_batch import OpenAIBatchProvider

    err_line = j.dumps({"custom_id": "row-x", "response": None,
                        "error": {"code": "invalid_request"}})

    def transport(method, url, headers, body):
        if "/batches/" in url:
            return 200, j.dumps({"id": "b1", "status": "completed",
                                 "output_file_id": None,
                                 "error_file_id": "f-err"}).encode()
        if "f-err/content" in url:
            return 200, err_line.encode()
        raise AssertionError(url)

    provider = OpenAIBatchProvider(api_key="sk-test", transport=transport,
                                   download_dir=str(tmp_path))
    got = [j.loads(line) for line in open(provider.download("b1"))]
    assert len(got) == 1 and got[0]["error"] is not None


def test_collect_fails_cleanly_on_bad_job(spark, tmp_path):
    provider = LocalMockBatchProvider(str(tmp_path / "spool"))

    class FailingProvider(LocalMockBatchProvider):
        def poll(self, job_id):
            return "failed"

    p = _build(spark)
    handle = submit(p, provider, str(tmp_path / "work"))
    failing = FailingProvider(str(tmp_path / "spool"))
    with pytest.raises(RuntimeError, match="failed"):
        collect(p, failing, handle)


def _upper_parser(responses, out_cols):
    from pyspark.sql import functions as F

    return responses.withColumn(out_cols[0], F.upper("response_text"))


def _collect_built(spark, tmp_path, configure):
    b = (
        PipelineBuilder(spark)
        .from_dataframe(spark.createDataFrame(_rows(9)), ["review"],
                        id_column="id")
        .with_custom_llm_client(mock_client_factory())
    )
    p = configure(b).build()
    provider = LocalMockBatchProvider(str(tmp_path / "spool"))
    handle = submit(p, provider, str(tmp_path / "work"))
    return collect(p, provider, handle)


def test_collect_structured_output_is_typed(spark, tmp_path, monkeypatch):
    """collect parses through the pipeline's parser: schema-typed
    structured output (it used to raise 'schema parser requires
    output_schema')."""
    import functools

    from ondine_spark.llm import client

    # the mock provider answers with a default DeterministicMockClient;
    # make it emit the JSON object the schema describes
    monkeypatch.setattr(client, "DeterministicMockClient", functools.partial(
        client.DeterministicMockClient, json_fields=("label", "score")))
    result = _collect_built(spark, tmp_path, lambda b: b.with_prompt(
        "Classify: {review}", ["label", "score"],
    ).with_structured_output("label STRING, score DOUBLE"))
    assert dict(result.dtypes)["score"] == "double"
    rows = {r["id"]: r for r in result.collect()}
    assert len(rows) == 9
    assert rows["k000"]["label"] == "positive"
    assert rows["k001"]["label"] == "negative"
    # the mock quotes the prompt's word count: "Classify: row i is <label>"
    assert {r["score"] for r in rows.values()} == {5.0}
    assert not any(r["_parse_error"] for r in rows.values())


def test_collect_applies_custom_parser(spark, tmp_path):
    result = _collect_built(spark, tmp_path, lambda b: b.with_prompt(
        "Classify: {review}", ["sentiment"],
    ).with_custom_parser(_upper_parser))
    rows = {r["id"]: r for r in result.collect()}
    assert rows["k000"]["sentiment"] == "POSITIVE"
    assert rows["k002"]["sentiment"] == "NEUTRAL"


def _recording_factory(path):
    def factory():
        import json

        from ondine_spark.llm.client import DeterministicMockClient

        class Recording(DeterministicMockClient):
            def complete(self, prompt, system=None):
                with open(path, "a") as f:
                    f.write(json.dumps(prompt) + "\n")
                return super().complete(prompt, system)

        return Recording()

    return factory


def test_compiled_requests_carry_retrieved_context(spark, tmp_path):
    """With a knowledge base, every compiled request's user content is
    exactly the prompt live mode sends for that row, context block
    included."""
    import json
    import os

    from ondine_spark.knowledge import KnowledgeStore

    store = KnowledgeStore(spark, str(tmp_path / "kb"))
    store.ingest(
        spark.createDataFrame(
            [(1, "A great row is rare."), (2, "Terrible rows are common.")],
            ["doc_id", "text"],
        ),
        "doc_id", "text", max_tokens=64,
    )
    live_log = str(tmp_path / "live.jsonl")

    def build(factory):
        return (
            PipelineBuilder(spark)
            .from_dataframe(spark.createDataFrame(_rows(9)), ["review"],
                            id_column="id")
            .with_prompt("Classify: {review}", ["sentiment"])
            .with_custom_llm_client(factory)
            .with_knowledge_base(store.path, ["review"], top_k=1,
                                 min_score=0.1)
            .build()
        )

    build(_recording_factory(live_log)).execute().data.collect()
    live = sorted(json.loads(line) for line in open(live_log))

    spool = str(tmp_path / "spool")
    handle = submit(build(mock_client_factory()),
                    LocalMockBatchProvider(spool), str(tmp_path / "work"))
    compiled = sorted(
        json.loads(line)["body"]["messages"][-1]["content"]
        for job in handle.provider_job_ids
        for line in open(os.path.join(spool, job, "input.jsonl"))
    )
    assert len(compiled) == 9
    assert compiled == live
    assert any(c.startswith("Context:\n") for c in compiled)
