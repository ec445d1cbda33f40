"""Provider Batch API execution mode (L5): submit / poll / collect.

Reference (ondine/orchestration/backends/provider_batch.py:85-527 and the
pipeline split ondine/api/pipeline.py:1881-1960): the pipeline's front half
(load → format → aggregate) compiles prompts to a JSONL batch file, uploads
it to the provider's Batch endpoint (24 h SLA, ~50% price), persists the
provider_job_id on a RunHandle; a later process polls, downloads results,
and runs the back half (disaggregate → parse → merge → write).

Spark-first split:
- FRONT half is a DataFrame plan: the prompts frame (with row ids and
  batch ids) is written as JSONL part files BY THE EXECUTORS
  (``df.write.text`` into a staging dir, ``maxRecordsPerFile``-capped) —
  the driver never materializes the request set; it only streams each
  bounded part file to the provider. At 10⁸ requests this is the
  difference between driver OOM and a constant-memory upload loop.
- The provider boundary is a small ``BatchProvider`` protocol
  (submit_file/poll/download). One provider job is created per part file,
  which also respects real per-job request caps (OpenAI: 50K requests per
  batch). A deterministic ``LocalMockBatchProvider`` ships for tests;
  ``OpenAIBatchProvider`` / ``AnthropicBatchProvider`` speak the real
  HTTP APIs through an injectable transport (stdlib urllib by default,
  fake transports in tests — no network needed).
- Both halves build prompts with the live plan's context + request step
  (``after_prompt`` stages included), so a compiled request carries
  exactly the prompt live mode would send.
- BACK half joins the downloaded responses back on ``custom_id`` = row_id
  and runs the live plan's assembly (``Pipeline.assemble``).
- The RunRegistry carries the handoff across processes (submit and collect
  can be different drivers).
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable, Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ondine_spark.operators.batching import (
    BATCH_ID,
    aggregate_batches,
    disaggregate_batches,
)
from ondine_spark.plans.pipeline import Pipeline
from ondine_spark.sources.readers import ROW_ID


class BatchProvider(Protocol):
    def submit_file(self, jsonl_path: str, model: str) -> str:
        """Upload + create the batch job → provider_job_id."""

    def poll(self, job_id: str) -> str:
        """→ one of: validating | in_progress | completed | failed |
        expired | cancelled."""

    def download(self, job_id: str) -> str:
        """→ local path of the results JSONL (one object per custom_id,
        normalized to the OpenAI batch-output shape)."""


class LocalMockBatchProvider:
    """Deterministic in-filesystem provider: 'uploads' into a spool dir,
    completes after ``latency_polls`` polls, answers with the same
    deterministic rules as DeterministicMockClient (so live and batch
    modes agree bit-for-bit)."""

    def __init__(self, spool_dir: str, latency_polls: int = 1):
        self.spool = spool_dir
        self.latency_polls = latency_polls
        os.makedirs(spool_dir, exist_ok=True)

    def submit_file(self, jsonl_path: str, model: str) -> str:
        job_id = "mockbatch-" + uuid.uuid4().hex[:10]
        job_dir = os.path.join(self.spool, job_id)
        os.makedirs(job_dir)
        os.rename(jsonl_path, os.path.join(job_dir, "input.jsonl"))
        with open(os.path.join(job_dir, "meta.json"), "w") as f:
            json.dump({"polls": 0, "model": model}, f)
        return job_id

    def _meta(self, job_id: str) -> tuple[str, dict]:
        job_dir = os.path.join(self.spool, job_id)
        with open(os.path.join(job_dir, "meta.json")) as f:
            return job_dir, json.load(f)

    def poll(self, job_id: str) -> str:
        job_dir, meta = self._meta(job_id)
        meta["polls"] += 1
        with open(os.path.join(job_dir, "meta.json"), "w") as f:
            json.dump(meta, f)
        if meta["polls"] <= self.latency_polls:
            return "in_progress"
        out = os.path.join(job_dir, "output.jsonl")
        if not os.path.exists(out):
            from ondine_spark.llm.client import DeterministicMockClient

            client = DeterministicMockClient()
            with open(os.path.join(job_dir, "input.jsonl")) as fin, \
                    open(out, "w") as fout:
                for line in fin:
                    req = json.loads(line)
                    prompt = req["body"]["messages"][-1]["content"]
                    r = client.complete(prompt)
                    fout.write(json.dumps({
                        "custom_id": req["custom_id"],
                        "response": {"body": {
                            "choices": [{"message": {"content": r.text}}],
                            "usage": {"prompt_tokens": r.tokens_in,
                                      "completion_tokens": r.tokens_out},
                            "model": r.model,
                        }},
                        "error": None,
                    }) + "\n")
        return "completed"

    def download(self, job_id: str) -> str:
        job_dir, _ = self._meta(job_id)
        return os.path.join(job_dir, "output.jsonl")


# --------------------------------------------------------------------------
# real-provider backends: stdlib-urllib HTTP behind an injectable transport
# (tests pass a fake transport; nothing here imports an SDK).
# Transport signature: (method, url, headers, body_bytes) -> (status, bytes).

Transport = Callable[[str, str, dict, bytes], tuple[int, bytes]]


def _urllib_transport(method: str, url: str, headers: dict,
                      body: bytes) -> tuple[int, bytes]:
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=body or None, headers=headers,
                                 method=method)
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:  # pragma: no cover - network path
        return e.code, e.read()


def _multipart(fields: dict[str, str], file_field: str, filename: str,
               payload: bytes) -> tuple[bytes, str]:
    """Minimal multipart/form-data encoder for the file-upload endpoint."""
    boundary = "----ondine-" + uuid.uuid4().hex
    parts = []
    for k, v in fields.items():
        parts.append(
            f"--{boundary}\r\nContent-Disposition: form-data; "
            f'name="{k}"\r\n\r\n{v}\r\n'.encode()
        )
    parts.append(
        f"--{boundary}\r\nContent-Disposition: form-data; "
        f'name="{file_field}"; filename="{filename}"\r\n'
        f"Content-Type: application/jsonl\r\n\r\n".encode()
    )
    parts.append(payload)
    parts.append(f"\r\n--{boundary}--\r\n".encode())
    return b"".join(parts), f"multipart/form-data; boundary={boundary}"


class OpenAIBatchProvider:
    """OpenAI Batch API (files + batches endpoints). Per-part memory is
    bounded by ``max_requests_per_file`` at compile time, so reading one
    part for upload is constant-size regardless of total request count.

    Reference semantics: ondine/orchestration/backends/provider_batch.py:85-285
    (upload file purpose=batch → create batch → poll → download
    output_file_id)."""

    base = "https://api.openai.com/v1"

    def __init__(self, api_key: str | None = None,
                 transport: Transport | None = None,
                 completion_window: str = "24h",
                 download_dir: str | None = None):
        self.api_key = api_key or os.environ.get("OPENAI_API_KEY", "")
        if not self.api_key:
            raise RuntimeError(
                "OpenAIBatchProvider needs an api_key (or OPENAI_API_KEY)"
            )
        self.transport = transport or _urllib_transport
        self.completion_window = completion_window
        self.download_dir = download_dir

    def _call(self, method: str, path: str, body: bytes = b"",
              content_type: str = "application/json") -> dict | bytes:
        headers = {"Authorization": f"Bearer {self.api_key}"}
        if body:
            headers["Content-Type"] = content_type
        status, data = self.transport(method, self.base + path, headers, body)
        if status >= 300:
            raise RuntimeError(f"{method} {path} -> HTTP {status}: "
                               f"{data[:300]!r}")
        if path.endswith("/content"):
            return data
        return json.loads(data)

    def submit_file(self, jsonl_path: str, model: str) -> str:
        with open(jsonl_path, "rb") as f:
            payload = f.read()
        body, ctype = _multipart({"purpose": "batch"}, "file",
                                 os.path.basename(jsonl_path), payload)
        up = self._call("POST", "/files", body, ctype)
        batch = self._call("POST", "/batches", json.dumps({
            "input_file_id": up["id"],
            "endpoint": "/v1/chat/completions",
            "completion_window": self.completion_window,
        }).encode())
        return batch["id"]

    def poll(self, job_id: str) -> str:
        st = self._call("GET", f"/batches/{job_id}")["status"]
        return {"validating": "in_progress", "finalizing": "in_progress",
                "in_progress": "in_progress", "completed": "completed",
                "failed": "failed", "expired": "expired",
                "cancelling": "in_progress",
                "cancelled": "cancelled"}.get(st, st)

    def download(self, job_id: str) -> str:
        # A completed batch may carry failures in error_file_id (and, if
        # EVERY request failed, output_file_id is null) — fetch both and
        # concatenate so failed rows surface as error rows instead of
        # silently dropping in the collect left-join (reference
        # provider_batch.py:223-224 falls back the same way).
        batch = self._call("GET", f"/batches/{job_id}")
        chunks: list[bytes] = []
        for key in ("output_file_id", "error_file_id"):
            fid = batch.get(key)
            if fid:
                content = self._call("GET", f"/files/{fid}/content")
                if not isinstance(content, bytes):
                    content = json.dumps(content).encode()
                if content and not content.endswith(b"\n"):
                    content += b"\n"
                chunks.append(content)
        if not chunks:
            raise RuntimeError(
                f"batch {job_id} completed with neither output_file_id nor "
                "error_file_id — nothing to download"
            )
        out_dir = self.download_dir or os.path.join(
            os.path.expanduser("~"), ".ondine_spark", "batch_results"
        )
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{job_id}.output.jsonl")
        with open(path, "wb") as f:
            for c in chunks:
                f.write(c)
        return path


class AnthropicBatchProvider:
    """Anthropic Message Batches API. Requests are submitted inline (the
    API takes a JSON array, not a file); ``download`` normalizes the
    results JSONL to the OpenAI batch-output shape the collect plan
    parses, so the back half is provider-agnostic.

    Reference semantics: ondine/orchestration/backends/provider_batch.py:287-527."""

    base = "https://api.anthropic.com/v1"

    def __init__(self, api_key: str | None = None,
                 transport: Transport | None = None,
                 max_tokens: int = 1024,
                 download_dir: str | None = None):
        self.api_key = api_key or os.environ.get("ANTHROPIC_API_KEY", "")
        if not self.api_key:
            raise RuntimeError(
                "AnthropicBatchProvider needs an api_key (or ANTHROPIC_API_KEY)"
            )
        self.transport = transport or _urllib_transport
        self.max_tokens = max_tokens
        self.download_dir = download_dir

    def _call(self, method: str, path: str, body: bytes = b"") -> bytes:
        headers = {
            "x-api-key": self.api_key,
            "anthropic-version": "2023-06-01",
        }
        if body:
            headers["Content-Type"] = "application/json"
        status, data = self.transport(method, self.base + path, headers, body)
        if status >= 300:
            raise RuntimeError(f"{method} {path} -> HTTP {status}: "
                               f"{data[:300]!r}")
        return data

    def submit_file(self, jsonl_path: str, model: str) -> str:
        requests = []
        with open(jsonl_path) as f:
            for line in f:
                req = json.loads(line)
                msgs = req["body"]["messages"]
                system = [m["content"] for m in msgs if m["role"] == "system"]
                params = {
                    "model": req["body"].get("model", model),
                    # per-request max_tokens from the compiled body wins over
                    # the provider-level default (reference
                    # provider_batch.py:313,332)
                    "max_tokens": req["body"].get("max_tokens",
                                                  self.max_tokens),
                    "messages": [m for m in msgs if m["role"] != "system"],
                }
                if system:
                    params["system"] = system[0]
                requests.append(
                    {"custom_id": req["custom_id"], "params": params}
                )
        resp = json.loads(self._call(
            "POST", "/messages/batches",
            json.dumps({"requests": requests}).encode(),
        ))
        return resp["id"]

    def poll(self, job_id: str) -> str:
        resp = json.loads(self._call("GET", f"/messages/batches/{job_id}"))
        return {"in_progress": "in_progress", "canceling": "in_progress",
                "ended": "completed"}.get(resp["processing_status"],
                                          resp["processing_status"])

    def download(self, job_id: str) -> str:
        raw = self._call("GET", f"/messages/batches/{job_id}/results")
        out_dir = self.download_dir or os.path.join(
            os.path.expanduser("~"), ".ondine_spark", "batch_results"
        )
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{job_id}.output.jsonl")
        with open(path, "w") as f:
            for line in raw.decode().splitlines():
                if not line.strip():
                    continue
                r = json.loads(line)
                res = r.get("result", {})
                if res.get("type") == "succeeded":
                    msg = res["message"]
                    text = "".join(
                        b.get("text", "") for b in msg.get("content", [])
                    )
                    f.write(json.dumps({
                        "custom_id": r["custom_id"],
                        "response": {"body": {
                            "choices": [{"message": {"content": text}}],
                            "usage": {
                                "prompt_tokens":
                                    msg["usage"]["input_tokens"],
                                "completion_tokens":
                                    msg["usage"]["output_tokens"],
                            },
                            "model": msg.get("model", ""),
                        }},
                        "error": None,
                    }) + "\n")
                else:
                    f.write(json.dumps({
                        "custom_id": r["custom_id"],
                        "response": None,
                        "error": json.dumps(res.get("error", res)),
                    }) + "\n")
        return path


@dataclass
class RunHandle:
    """Submit-side artifact; everything collect needs (reference:
    provider_batch.py RunHandle + run_registry handoff). A run maps to one
    provider job PER request part file (bounded-size shards)."""

    run_id: str
    provider_job_ids: list[str] = field(default_factory=list)
    handle_dir: str = ""

    @property
    def provider_job_id(self) -> str:
        """First (often only) job id — kept for single-job callers."""
        return self.provider_job_ids[0] if self.provider_job_ids else ""

    def save(self) -> str:
        path = os.path.join(self.handle_dir, f"{self.run_id}.handle.json")
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id,
                       "provider_job_ids": self.provider_job_ids}, f)
        return path

    @classmethod
    def load(cls, handle_dir: str, run_id: str) -> "RunHandle":
        with open(os.path.join(handle_dir, f"{run_id}.handle.json")) as f:
            d = json.load(f)
        ids = d.get("provider_job_ids")
        if ids is None:  # round-1 single-job handle files
            ids = [d["provider_job_id"]]
        return cls(run_id=d["run_id"], provider_job_ids=ids,
                   handle_dir=handle_dir)


def _list_parts(spark, staging_dir: str) -> list[str]:
    """List non-empty ``part-*`` files via the Hadoop FS API (scheme-aware,
    unlike a driver-local ``glob``), mapped back to driver-readable local
    paths. A non-``file:`` scheme that the driver can't open locally raises
    instead of silently resolving to zero provider jobs."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(staging_dir)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return []
        out = []
        for st in fs.listStatus(jpath):
            p = st.getPath()
            if not st.isFile() or not p.getName().startswith("part-") \
                    or st.getLen() == 0:
                continue
            uri = p.toUri()
            scheme = uri.getScheme()
            local = uri.getPath()
            if scheme not in (None, "file") and not os.path.exists(local):
                raise RuntimeError(
                    f"staging part {p.toString()} is on scheme "
                    f"{scheme!r} and not driver-readable; provider upload "
                    "streams each part from the driver — stage to a shared "
                    "or local filesystem"
                )
            out.append(local)
        return sorted(out)
    except RuntimeError:
        raise
    except Exception:  # py4j unavailable (plain tests) → driver-local glob
        return [
            p for p in sorted(glob.glob(os.path.join(staging_dir, "part-*")))
            if not p.endswith(".crc") and os.path.getsize(p) > 0
        ]


def compile_requests(
    pipeline: Pipeline,
    staging_dir: str,
    max_requests_per_file: int = 50_000,
) -> tuple[int, list[str]]:
    """FRONT half: prompts frame → provider JSONL part files (OpenAI Batch
    request shape, custom_id = row_id). Returns (request count, part paths).

    The executors write the part files (``df.write.text``); the driver
    never holds the request set — only streams each bounded part to the
    provider. ``max_requests_per_file`` caps rows per part so any single
    upload is constant-memory AND respects provider per-job caps (OpenAI:
    50K requests/job). The prompts frame is live mode's request step
    (context, prompt, ``after_prompt`` stages) and mega-batch
    aggregation, so batch mode sends the live prompts, gets the same call
    reduction as live mode, and runs live mode's pre-spend batch-size
    check before anything is written."""
    spec = pipeline.spec
    df = pipeline._with_prompt(pipeline._with_context(pipeline.input_frame()))
    if spec.prompt.batch_size > 1:
        pipeline._check_batch_size(df)
        df = aggregate_batches(df, spec.prompt.batch_size)
        id_col = F.concat(F.lit("batch-"), F.col(BATCH_ID).cast("string"))
    else:
        id_col = F.concat(F.lit("row-"), F.col(ROW_ID).cast("string"))
    msgs = []
    if spec.prompt.system_message:
        msgs.append(F.struct(F.lit("system").alias("role"),
                             F.lit(spec.prompt.system_message).alias("content")))
    msgs.append(F.struct(F.lit("user").alias("role"),
                         F.col("prompt").alias("content")))
    body_fields = [
        F.lit(spec.llm.model).alias("model"),
        F.array(*msgs).alias("messages"),
    ]
    if spec.llm.max_tokens:
        # without this the provider's own default caps batched (N:1)
        # responses and the disaggregator yields null rows (reference
        # writes record['body']['max_tokens'], provider_batch.py:313)
        body_fields.append(
            F.lit(int(spec.llm.max_tokens)).alias("max_tokens"))
    requests = df.select(
        F.to_json(F.struct(
            id_col.alias("custom_id"),
            F.lit("POST").alias("method"),
            F.lit("/v1/chat/completions").alias("url"),
            F.struct(*body_fields).alias("body"),
        )).alias("line")
    )
    (requests.write.mode("overwrite")
     .option("maxRecordsPerFile", max_requests_per_file)
     .text(staging_dir))
    for _c in getattr(df, "_ondine_cached", []):
        _c.unpersist()
    parts = _list_parts(pipeline.spark, staging_dir)
    if not parts and not requests.isEmpty():
        raise RuntimeError(
            f"compile_requests wrote a non-empty prompts frame but found no "
            f"part files under {staging_dir!r}. The staging dir must be a "
            "filesystem the driver can read (shared FS / local in "
            "local-mode); executor-only storage is not supported for the "
            "upload step."
        )
    n = sum(1 for p in parts for _ in open(p, "rb"))
    return n, parts


def submit(
    pipeline: Pipeline,
    provider: BatchProvider,
    work_dir: str,
    run_id: str | None = None,
    registry=None,
    max_requests_per_file: int = 50_000,
) -> RunHandle:
    os.makedirs(work_dir, exist_ok=True)
    run_id = run_id or uuid.uuid4().hex[:12]
    staging = os.path.join(work_dir, f"{run_id}.requests")
    n, parts = compile_requests(pipeline, staging, max_requests_per_file)
    job_ids = [provider.submit_file(p, pipeline.spec.llm.model)
               for p in parts]
    handle = RunHandle(run_id=run_id, provider_job_ids=job_ids,
                       handle_dir=work_dir)
    handle.save()
    if registry is not None:
        from ondine_spark.orchestration.registry import RunState

        try:
            registry.get(run_id)
        except KeyError:
            registry.create(run_id, requests=n)
        registry.transition(run_id, RunState.RUNNING, requests=n)
        registry.set_provider_job(run_id, ",".join(job_ids))
    return handle


def collect(
    pipeline: Pipeline,
    provider: BatchProvider,
    handle: RunHandle,
    poll_interval_s: float = 0.0,
    max_polls: int = 10_000,
    registry=None,
) -> DataFrame:
    """BACK half: poll every job → download → join on custom_id →
    disaggregate → :meth:`Pipeline.assemble`. Returns the same columns as
    live-mode ``result_frame()``: ``RESPONSE_META`` kept (tokens and the
    batch-discounted cost), ``_batch_id`` when batched;
    :func:`~ondine_spark.plans.pipeline.public_frame` of it is the public
    output contract."""
    spec = pipeline.spec
    pending = list(handle.provider_job_ids)
    done: list[str] = []
    for _ in range(max_polls):
        still = []
        for job_id in pending:
            status = provider.poll(job_id)
            if status == "completed":
                done.append(job_id)
            elif status in ("failed", "expired", "cancelled"):
                raise RuntimeError(f"batch job {job_id} ended as {status!r}")
            else:
                still.append(job_id)
        pending = still
        if not pending:
            break
        if poll_interval_s:
            time.sleep(poll_interval_s)
    if pending:
        raise RuntimeError(
            f"batch jobs still pending after {max_polls} polls: {pending}"
        )
    out_paths = [provider.download(job_id) for job_id in done]
    spark = pipeline.spark
    raw = spark.read.json(out_paths)
    responses = raw.select(
        F.col("custom_id"),
        F.col("response.body.choices")[0]["message"]["content"]
          .alias("response_text"),
        F.col("response.body.usage.prompt_tokens").cast("int")
          .alias("tokens_in"),
        F.col("response.body.usage.completion_tokens").cast("int")
          .alias("tokens_out"),
        F.col("response.body.model").alias("resp_model"),
        F.col("error").cast("string").alias("error"),
    ).withColumn(
        # batch-API pricing: published 50% discount on list price
        "cost",
        ((F.col("tokens_in") * F.lit(spec.llm.input_cost_per_1k)
          + F.col("tokens_out") * F.lit(spec.llm.output_cost_per_1k))
         / 2000).cast("decimal(38,18)"),
    ).withColumn("latency_ms", F.lit(0.0))

    # the request step compile_requests ran: the batch ids recomputed
    # here name the rows compile grouped
    rows = pipeline._with_prompt(
        pipeline._with_context(pipeline.input_frame())
    )
    df = rows.drop("prompt")
    if spec.prompt.batch_size > 1:
        batches = aggregate_batches(rows, spec.prompt.batch_size)
        # custom_id = "batch-<n>": strip the 6-char prefix (never split on
        # "-" — row ids are strings that may contain dashes)
        keyed = responses.withColumn(
            BATCH_ID, F.substring(F.col("custom_id"), 7, 1 << 20).cast("long")
        ).drop("custom_id")
        invoked = batches.join(keyed, on=BATCH_ID, how="left")
        per_row = disaggregate_batches(invoked)
        joined = df.join(per_row, on=ROW_ID, how="left")
    else:
        keyed = responses.withColumn(
            ROW_ID, F.substring(F.col("custom_id"), 5, 1 << 20)
        ).drop("custom_id")
        joined = df.join(keyed, on=ROW_ID, how="left")

    result = pipeline.assemble(joined)
    if registry is not None:
        from ondine_spark.orchestration.registry import RunState

        registry.transition(handle.run_id, RunState.SUCCEEDED)
    return result
