"""LLM invocation operator: the engine's "compute".

Maps a ``prompt`` column to a response struct via an Arrow-batched
``mapInPandas`` with bounded concurrency, exponential-backoff retry,
token-bucket rate limiting, and error policies — the Spark-first
re-expression of the reference's LLMInvocationStage
(reference: ondine/stages/llm_invocation_stage.py:39-637).

Design notes (scale):
- The UDF is the only Python hot path in the engine; everything around it
  stays JVM-side. Prompts arrive in Arrow batches; calls within a batch
  overlap through a thread pool sized by ``concurrency`` (network I/O
  releases the GIL — same effect as the reference's asyncio.gather with a
  semaphore, without blocking Spark task threads).
- One client per Python worker process, built lazily from a broadcast
  factory (reference pattern: one client per executor).
- Rate limit: the driver divides the global rpm across task slots
  (``rpm / defaultParallelism``) — each worker enforces its share with a
  local token bucket honoring server Retry-After
  (reference: ondine/utils/rate_limiter.py:41-208). Exact global limiting
  across a real cluster would use a shared Redis bucket
  (reference: ondine/utils/redis_rate_limiter.py) — out of scope here.
- Cost is carried as a string through Arrow and cast to DECIMAL(38,18)
  JVM-side, never float (reference invariant: all costs are Decimal,
  ondine/core/models.py:29).
"""

from __future__ import annotations

import math
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ondine_spark.core.specs import SKIPPED, ErrorPolicy, LLMSpec, ProcessingSpec
from ondine_spark.llm.client import FatalLLMError, LLMResult, TransientLLMError
from ondine_spark.operators.batching import SPLIT_SCHEMA, split_batch_rows

from pyspark.sql import types as T

RESPONSE_FIELDS = [
    T.StructField("response_text", T.StringType()),
    T.StructField("tokens_in", T.IntegerType()),
    T.StructField("tokens_out", T.IntegerType()),
    T.StructField("resp_model", T.StringType()),
    T.StructField("cost_str", T.StringType()),
    T.StructField("latency_ms", T.DoubleType()),
    T.StructField("error", T.StringType()),
]

# per-worker singletons
_client_lock = threading.Lock()
_clients: dict[int, Any] = {}
_buckets: dict[int, "TokenBucket"] = {}


class TokenBucket:
    """Thread-safe token bucket (requests per minute) with Retry-After
    penalty: a server-provided delay drains the bucket for all callers
    (reference semantics: ondine/utils/rate_limiter.py:107-155)."""

    def __init__(self, rpm: float, burst: float | None = None):
        self.rate = rpm / 60.0
        self.capacity = burst if burst is not None else max(1.0, rpm / 60.0)
        self.tokens = self.capacity
        self.updated = time.monotonic()
        self.not_before = 0.0
        self.lock = threading.Lock()

    def acquire(self) -> None:
        while True:
            with self.lock:
                now = time.monotonic()
                self.tokens = min(
                    self.capacity, self.tokens + (now - self.updated) * self.rate
                )
                self.updated = now
                wait = self.not_before - now
                if wait <= 0 and self.tokens >= 1.0:
                    self.tokens -= 1.0
                    return
                if wait <= 0:
                    wait = (1.0 - self.tokens) / self.rate
            time.sleep(min(wait, 1.0))

    def penalize(self, delay: float) -> None:
        with self.lock:
            self.not_before = max(self.not_before, time.monotonic() + delay)


_CACHE_MAX = 8  # old runs' clients evicted FIFO in long-lived workers


class AdaptiveLimiter:
    """O5: Gradient2-flavored adaptive concurrency cap (reference:
    ondine/utils/adaptive_limiter.py:1-100, concurrency_controller.py).

    Multiplicative shrink ×0.9 on throttle signals (with a 0.2 s cooldown
    so one burst of 429s counts once); gradient growth toward the
    configured max when RTT stays near the observed baseline. Thread-safe;
    gates a ThreadPoolExecutor via acquire/release."""

    def __init__(self, max_limit: int, min_limit: int = 1):
        self.max = max(1, max_limit)
        self.min = min_limit
        self.limit = float(max(1, max_limit // 2))
        self.inflight = 0
        self.baseline_rtt = None
        self.last_shrink = 0.0
        self.cv = threading.Condition()

    def acquire(self):
        with self.cv:
            while self.inflight >= int(self.limit):
                self.cv.wait(timeout=0.5)
            self.inflight += 1

    def release(self, rtt_s: float | None, throttled: bool):
        with self.cv:
            self.inflight -= 1
            now = time.monotonic()
            if throttled:
                if now - self.last_shrink > 0.2:
                    self.limit = max(self.min, self.limit * 0.9)
                    self.last_shrink = now
            elif rtt_s is not None:
                if self.baseline_rtt is None or rtt_s < self.baseline_rtt:
                    self.baseline_rtt = rtt_s
                # grow only when saturated and latency near baseline
                near = rtt_s <= self.baseline_rtt * 2.0
                saturated = self.inflight + 1 >= int(self.limit)
                if near and saturated:
                    gradient = self.baseline_rtt / max(rtt_s, 1e-9)
                    target = self.limit * gradient + math.sqrt(self.limit)
                    self.limit = min(
                        float(self.max), self.limit * 0.8 + target * 0.2
                    )
            self.cv.notify_all()


def _get_client(factory_key: str, factory: Callable[[], Any]):
    with _client_lock:
        if factory_key not in _clients:
            while len(_clients) >= _CACHE_MAX:
                _clients.pop(next(iter(_clients)))
            _clients[factory_key] = factory()
        return _clients[factory_key]


def _get_bucket(key: str, rpm: float | None) -> TokenBucket | None:
    if rpm is None:
        return None
    with _client_lock:
        if key not in _buckets:
            while len(_buckets) >= _CACHE_MAX:
                _buckets.pop(next(iter(_buckets)))
            _buckets[key] = TokenBucket(rpm)
        return _buckets[key]


def _call_with_retry(
    client,
    prompt: str,
    system: str | None,
    bucket: TokenBucket | None,
    max_retries: int,
    base_delay: float,
    max_delay: float,
) -> LLMResult:
    """Exponential backoff 1s→2s→4s… capped (reference:
    ondine/utils/retry_handler.py:52-172), honoring Retry-After."""
    attempt = 0
    while True:
        if bucket is not None:
            bucket.acquire()
        t0 = time.monotonic()
        try:
            res = client.complete(prompt, system)
            if isinstance(res, (str, dict)):
                # custom clients may return the completion directly as a
                # plain str, or as a dict with text/token fields — the
                # two simplest client shapes; wrap either so accounting
                # columns exist (unknown tokens/cost charged as zero,
                # same tolerance as clients that skip cost fields).
                # Any other object is treated as result-like and only
                # needs to tolerate attribute assignment, as before.
                from ondine_spark.llm.client import LLMResult

                if isinstance(res, str):
                    res = LLMResult(
                        text=res, tokens_in=0, tokens_out=0,
                        model=getattr(client, "model", "custom"),
                        cost=Decimal(0),
                    )
                else:
                    text = res.get("text", res.get("content",
                                   res.get("completion")))
                    if not isinstance(text, str):
                        raise TypeError(
                            "custom client returned a dict without a "
                            "str 'text'/'content'/'completion' field: "
                            f"{sorted(res)!r}"
                        )
                    res = LLMResult(
                        text=text,
                        tokens_in=int(res.get("tokens_in",
                                      res.get("prompt_tokens", 0))),
                        tokens_out=int(res.get("tokens_out",
                                       res.get("completion_tokens", 0))),
                        model=str(res.get("model",
                                  getattr(client, "model", "custom"))),
                        cost=Decimal(str(res.get("cost", 0))),
                    )
            res.latency_ms = (time.monotonic() - t0) * 1000.0
            return res
        except TransientLLMError as e:
            attempt += 1
            if bucket is not None and e.retry_after:
                bucket.penalize(e.retry_after)
            if attempt > max_retries:
                raise
            delay = min(base_delay * (2 ** (attempt - 1)), max_delay)
            if e.retry_after:
                delay = max(delay, e.retry_after)
            time.sleep(delay)


def invoke_llm(
    df: DataFrame,
    llm: LLMSpec,
    proc: ProcessingSpec,
    prompt_col: str = "prompt",
    system_message: str | None = None,
    call_counter=None,
    call_events=None,
    cost_acc=None,
    per_row: bool = False,
) -> DataFrame:
    """Append response columns to ``df`` by invoking the LLM per row.

    Output columns: response_text, tokens_in, tokens_out, resp_model,
    cost (decimal(38,18)), latency_ms, error.

    ``per_row`` — ``df`` is a mega-batch frame (``_batch_id``,
    ``_row_ids``, prompt): the worker that made each call splits its
    answer with :func:`~ondine_spark.operators.batching.split_batch_rows`
    and returns :func:`~ondine_spark.operators.batching.disaggregate_batches`'
    per-row frame instead, so the batch never crosses back to the JVM
    and the split runs no second Python worker. The default output stays
    batch-level (one row per prompt, input columns kept).

    ``call_counter`` — optional Spark accumulator incremented once per API
    call actually issued (BASELINE.md's "API calls = ceil(N/batch_size)"
    check reads this).

    ``call_events`` — optional list-valued accumulator
    (observability.make_call_event_accumulator): when
    ``proc.call_event_sample`` is set, every Nth call per partition (plus
    the first, hard-capped per partition) appends a SANITIZED event dict
    — prompt replaced by its sha digest worker-side, so raw text never
    leaves the executor. The driver drains it into the dispatcher.
    """
    from ondine_spark.llm.providers import client_factory_for

    factory = client_factory_for(llm)

    # divide the global rpm across task slots (see module docstring)
    per_worker_rpm = None
    if proc.rate_limit_rpm:
        slots = max(1, df.sparkSession.sparkContext.defaultParallelism)
        per_worker_rpm = max(1.0, proc.rate_limit_rpm / slots)

    concurrency = max(1, proc.concurrency)
    max_retries = proc.max_retries
    base_delay, max_delay = proc.retry_base_delay, proc.retry_max_delay
    policy = proc.error_policy
    default_value = proc.default_value
    sys_msg = system_message
    # unique per run: id(factory) is unsafe (CPython reuses ids after GC, so
    # a long-lived worker could serve a STALE client cached under the same
    # id by a previous run). One client per worker per run = the reference's
    # one-client-per-run semantics.
    import uuid

    factory_key = uuid.uuid4().hex

    out_schema = (
        SPLIT_SCHEMA if per_row
        else T.StructType(list(df.schema.fields) + RESPONSE_FIELDS)
    )

    adaptive = proc.adaptive_concurrency
    event_every = proc.call_event_sample if call_events is not None else None

    redis_url = proc.redis_rate_limit_url
    file_limit_dir = proc.file_rate_limit_dir
    model_scope = llm.model or "default"
    global_rpm = proc.rate_limit_rpm

    def run_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = _get_client(factory_key, factory)
        bucket = None
        if redis_url and global_rpm:
            try:
                from ondine_spark.llm.redis_bucket import RedisTokenBucket

                bucket = RedisTokenBucket(redis_url, model_scope, global_rpm)
            except ImportError:
                bucket = None  # fall back to the file/local bucket
        if bucket is None and file_limit_dir and global_rpm:
            # exact global limit over a shared FS: one flock-guarded
            # state file shared by every executor PROCESS
            from ondine_spark.orchestration.coordination import (
                FileTokenBucket,
            )

            bucket = FileTokenBucket(file_limit_dir, model_scope, global_rpm)
        if bucket is None:
            bucket = _get_bucket(factory_key, per_worker_rpm)
        pool = ThreadPoolExecutor(max_workers=concurrency)
        limiter = AdaptiveLimiter(concurrency) if adaptive else None

        def one(prompt: str) -> tuple:
            if prompt is None:
                return (None, 0, 0, None, "0", 0.0, "null prompt")
            if limiter is not None:
                limiter.acquire()
            t0 = time.monotonic()
            throttled = False
            try:
                r = _call_with_retry(
                    client, prompt, sys_msg, bucket, max_retries, base_delay, max_delay
                )
                # custom clients may not account cost/latency (None or the
                # attribute missing entirely) — a zero cost row, not a
                # "None" string that poisons the Decimal partition sum
                cost = getattr(r, "cost", None)
                return (
                    r.text, r.tokens_in, r.tokens_out, r.model,
                    str(cost) if cost is not None else "0",
                    getattr(r, "latency_ms", None), None,
                )
            except (TransientLLMError, FatalLLMError, Exception) as e:
                throttled = isinstance(e, TransientLLMError)
                if policy == ErrorPolicy.FAIL:
                    raise
                text = default_value if policy == ErrorPolicy.USE_DEFAULT else SKIPPED
                return (text, 0, 0, None, "0", 0.0, f"{type(e).__name__}: {e}")
            finally:
                if limiter is not None:
                    limiter.release(time.monotonic() - t0, throttled)

        n_seen = 0  # per-partition call index for event sampling
        n_emitted = 0

        def sample_events(prompts, results):
            # from the single generator thread (same reason as the
            # counter below); scrub worker-side before accumulating
            nonlocal n_seen, n_emitted
            from pyspark import TaskContext

            from ondine_spark.observability import (
                CALL_EVENT_PARTITION_CAP,
                sanitize_prompt,
            )

            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else -1
            batch = []
            for p, r in zip(prompts, results):
                idx = n_seen
                n_seen += 1
                if idx % event_every:
                    continue
                if n_emitted >= CALL_EVENT_PARTITION_CAP:
                    break
                n_emitted += 1
                batch.append(
                    {
                        "prompt": sanitize_prompt(p),
                        "model": r[3],
                        "tokens_in": r[1],
                        "tokens_out": r[2],
                        "latency_ms": r[5],
                        "error": r[6],
                        "call_index": idx,
                        # (epoch, partition, call_index) is the event's
                        # identity: Spark only dedups accumulator updates
                        # inside actions, so a retried/speculative task
                        # re-emits its events — both attempts run the SAME
                        # closure (same epoch) and the same deterministic
                        # call_index sequence, so the driver drain can drop
                        # the duplicate. A new invoke-stage build (next
                        # chunk, next execute, auto-retry pass) gets a
                        # fresh epoch, so its events are never mistaken
                        # for duplicates of the previous job's.
                        "partition": pid,
                        "epoch": factory_key,
                    }
                )
            if batch:
                call_events.add(batch)

        part_cost = Decimal(0)
        try:
            for pdf in batches:
                prompts = pdf[prompt_col].tolist()
                # Slice-submission instead of one future per prompt: a
                # future costs ~30-50 µs of queue/condition handoff under
                # thread contention, which dominates fast clients (measured
                # 7.4 s vs 2.2 s for 100K mock calls in one partition).
                # Slices of ~8 per thread keep work-stealing granularity
                # for slow/retrying calls while cutting the handoff count
                # ~chunk-fold. In-flight calls stay bounded by the pool's
                # ``concurrency`` workers either way, and results keep
                # prompt order (pool.map is order-preserving; slices are
                # contiguous).
                n_p = len(prompts)
                chunk = max(1, min(64, -(-n_p // (concurrency * 8))))
                if chunk > 1:
                    slices = [
                        prompts[i : i + chunk] for i in range(0, n_p, chunk)
                    ]
                    results = [
                        r
                        for part in pool.map(
                            lambda sl: [one(p) for p in sl], slices
                        )
                        for r in part
                    ]
                else:
                    results = list(pool.map(one, prompts))
                if cost_acc is not None:
                    # exact Decimal partition cost, summed in the single
                    # generator thread; delivered ONCE per partition below
                    part_cost += sum(
                        (Decimal(r[4]) for r in results), Decimal(0)
                    )
                if event_every:
                    sample_events(prompts, results)
                if call_counter is not None:
                    # count from the single generator thread: Python
                    # accumulator .add is a plain read-modify-write, so
                    # calling it from the 16 pool threads races under the
                    # GIL and silently LOSES ~0.5% of updates (measured:
                    # 99478/100000 at concurrency 16). A success is a row
                    # whose error slot is None.
                    call_counter.add(
                        sum(1 for r in results if r[6] is None)
                    )
                res = pd.DataFrame(
                    results,
                    columns=[
                        "response_text", "tokens_in", "tokens_out",
                        "resp_model", "cost_str", "latency_ms", "error",
                    ],
                    index=pdf.index,
                )
                out = pd.concat([pdf, res], axis=1)
                yield split_batch_rows(out, "cost_str") if per_row else out
            if cost_acc is not None:
                # keyed like the call events: (epoch, partition) — a
                # retried/speculative attempt recomputes the IDENTICAL sum
                # under the same key, so the driver drain keeps one; a new
                # invoke-stage build gets a fresh epoch. Added only after
                # full exhaustion (a failed task's updates are discarded
                # by Spark anyway).
                from pyspark import TaskContext

                tc = TaskContext.get()
                cost_acc.add([
                    (factory_key,
                     tc.partitionId() if tc is not None else -1,
                     str(part_cost))
                ])
        finally:
            pool.shutdown(wait=False)

    out = df.mapInPandas(run_partition, schema=out_schema)
    if per_row:
        return out.withColumn("cost", F.col("cost").cast("decimal(38,18)"))
    return out.withColumn("cost", F.col("cost_str").cast("decimal(38,18)")).drop(
        "cost_str"
    )
