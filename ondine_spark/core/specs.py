"""Configuration layer: pipeline specifications.

Engine-agnostic declarative specs mirroring the reference's Pydantic
specification layer (reference: ondine/core/specifications.py). Plain
dataclasses here — the spec object is the "query language" of this engine:
the plan builder in ``ondine_spark.plans`` compiles a ``PipelineSpec`` into
a lazy PySpark DataFrame chain.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Callable


class ResponseFormat(str, enum.Enum):
    RAW = "raw"
    JSON = "json"
    REGEX = "regex"
    SCHEMA = "schema"  # validated structured output (L3/F7)


class MergeStrategy(str, enum.Enum):
    """How parsed output columns merge back onto the input table.

    Reference semantics: ondine/core/specifications.py:47-53.
    """

    REPLACE = "replace"  # overwrite column if it exists
    APPEND = "append"  # error if column exists
    UPDATE = "update"  # only fill where existing value is null


class ErrorPolicy(str, enum.Enum):
    """Reference: ondine/core/specifications.py:38-44."""

    RETRY = "retry"
    SKIP = "skip"
    FAIL = "fail"
    USE_DEFAULT = "use_default"


#: Sentinel written into output cells for rows skipped after errors
#: (reference: ondine/core/models.py:18).
SKIPPED = "[SKIPPED]"


@dataclass
class DatasetSpec:
    """What to read and which columns matter.

    Reference: ondine/core/specifications.py:55-118 (DatasetSpec).
    """

    source: Any = None  # path str | DataFrame | pandas.DataFrame | list[dict]
    format: str | None = None  # csv|parquet|json|jsonl|excel (inferred from suffix)
    input_columns: list[str] = field(default_factory=list)
    output_columns: list[str] = field(default_factory=list)
    # equality filters applied right after load (reference: data_loader_stage.py:158-175)
    filters: dict[str, Any] = field(default_factory=dict)
    # stable key column for row identity; None -> deterministic derived row_id
    id_column: str | None = None
    # csv options
    delimiter: str = ","
    encoding: str = "utf-8"
    header: bool = True
    # excel
    sheet_name: str | int = 0

    def validate(self) -> None:
        overlap = set(self.input_columns) & set(self.output_columns)
        if overlap:
            raise ValueError(f"output_columns overlap input_columns: {sorted(overlap)}")


@dataclass
class PromptSpec:
    """Prompt template + parsing contract.

    Reference: ondine/core/specifications.py:121-181 (PromptSpec).
    """

    template: str = ""
    system_message: str | None = None
    few_shot_examples: list[dict[str, str]] = field(default_factory=list)
    response_format: ResponseFormat = ResponseFormat.RAW
    json_fields: list[str] | None = None
    regex_patterns: dict[str, str] | None = None
    use_jinja2: bool | None = None  # None = auto-detect on "{{"
    # N:1 mega-prompt batching (reference: batch_aggregator_stage.py)
    batch_size: int = 1
    batch_strategy: str = "json"
    # structured output (L3/F7): Spark StructType, DDL string, or
    # {field: ddl_type} dict; parsed with from_json + validation error col
    output_schema: Any = None
    # L3 production depth: walk the tools → json → prompt provider-mode
    # chain inside each worker's client (llm/structured.py; reference:
    # unified_litellm_client.py:1055-1331). Off by default — prompt-mode
    # fallback appends a JSON instruction, which changes the prompt the
    # deterministic gates replay.
    structured_mode_fallback: bool = False
    # custom parser (U2): callable (DataFrame, output_cols) -> DataFrame
    custom_parser: Callable[..., Any] | None = None


@dataclass
class LLMSpec:
    """Model + pricing. Reference: ondine/core/specifications.py:183-300."""

    model: str = "mock-sentiment"
    provider: str = "mock"
    temperature: float = 0.0
    max_tokens: int | None = None
    input_cost_per_1k: Decimal = Decimal("0.0005")
    output_cost_per_1k: Decimal = Decimal("0.0015")
    # factory returning an LLMClient; broadcast to executors.
    client_factory: Callable[[], Any] | None = None
    # litellm request-cache config (reference with_redis_cache:
    # pipeline_builder.py:1362-1388); applied by the guarded litellm
    # adapter when litellm is installed. {"type": "redis"|"disk", ...}
    cache_config: dict | None = None


@dataclass
class ProcessingSpec:
    """Execution knobs. Reference: ondine/core/specifications.py:400-470."""

    concurrency: int = 8
    max_retries: int = 3
    retry_base_delay: float = 1.0
    retry_max_delay: float = 60.0
    rate_limit_rpm: int | None = None
    # O4: exact global rate limit via a shared Redis bucket (import-guarded;
    # falls back to the local per-worker bucket when unavailable)
    redis_rate_limit_url: str | None = None
    # O4 without redis: exact global limit via a flock-guarded state file
    # on a shared filesystem (orchestration/coordination.FileTokenBucket).
    # Precedence in the invoke path: redis > file > local divided bucket.
    file_rate_limit_dir: str | None = None
    # Multi-process chunk coordination (orchestration/coordination.py):
    # concurrent iter_chunks workers on the same session claim disjoint
    # chunks (no row invoked twice) and share a cost ledger so one
    # worker's spend stops every worker's budget check within one chunk.
    coordinate: bool = False
    # claim lease: a claimed-but-uncommitted chunk whose owner stopped
    # heartbeating for this long is STALE and stealable by survivors
    coordinate_lease_ttl: float = 120.0
    error_policy: ErrorPolicy = ErrorPolicy.RETRY
    default_value: str | None = None
    max_budget: Decimal | None = None
    checkpoint_dir: str | None = None
    session_id: str | None = None  # resume identity for the response cache
    preprocess: bool = False
    preprocess_max_length: int = 500
    auto_retry_failed: bool = False
    max_auto_retries: int = 3
    # O5: Gradient2-style adaptive in-flight cap inside the LLM UDF
    adaptive_concurrency: bool = False
    # U1: [(position, fn)] custom DataFrame->DataFrame stages;
    # position in {after_load, after_prompt, after_parse}
    stages: list = field(default_factory=list)
    # U6/O14: observer objects with on_event(PipelineEvent)
    observers: list = field(default_factory=list)
    # cross-run prompt-keyed response memoization (reference
    # with_disk_cache/with_redis_cache: identical requests = $0 cost);
    # parquet dir, see ondine_spark/llm/memo.py
    memo_path: str | None = None
    # O14: executor-side sampled per-call events — every Nth provider
    # call per partition (plus the first) ships a sanitized event dict to
    # the driver over a list accumulator, emitted as kind 'llm_call'
    # after each action. None = off. See observability.py.
    call_event_sample: int | None = None


@dataclass
class OutputSpec:
    """Sink. Reference: ondine/core/specifications.py:520-545."""

    path: str | None = None
    format: str | None = None  # csv|parquet|json (inferred from suffix)
    merge_strategy: MergeStrategy = MergeStrategy.REPLACE
    mode: str = "overwrite"


@dataclass
class ContextSpec:
    """Knowledge-base retrieval + anti-hallucination verification knobs.

    Reference: with_knowledge_base / with_context_store / with_grounding /
    with_contradiction_detection / with_confidence_scoring
    (ondine/api/pipeline_builder.py) and the verification wiring
    (ondine/api/pipeline.py:694-751, 873-893, 929-1107).
    """

    # per-row KB retrieval (R3): prepend top-k chunk context to prompts
    kb_path: str | None = None
    kb_query_columns: list[str] = field(default_factory=list)
    kb_top_k: int = 3
    kb_min_score: float = 0.0
    # retrieval plan: auto (LSH above LSH_AUTO_THRESHOLD chunks) | exact | lsh
    kb_method: str = "auto"
    # evidence priming (R4) from a ClaimStore
    evidence_path: str | None = None
    evidence_query_columns: list[str] = field(default_factory=list)
    evidence_top_k: int = 3
    evidence_min_score: float = 0.0
    # verification (V1-V4)
    grounding_enabled: bool = False
    grounding_source_column: str | None = None  # default: _kb_context/_evidence_context
    grounding_threshold: float = 0.3
    grounding_on_fail: str = "flag"  # flag|discard
    store_claims: bool = False
    contradiction_key_columns: list[str] = field(default_factory=list)
    contradiction_value_columns: list[str] = field(default_factory=list)
    contradiction_tolerance: float | None = None
    confidence_enabled: bool = False
    confidence_mode: str = "default"  # default|sigmoid|grounding_only


@dataclass
class PipelineSpec:
    """The full declarative pipeline — the engine's 'query'."""

    dataset: DatasetSpec = field(default_factory=DatasetSpec)
    prompt: PromptSpec = field(default_factory=PromptSpec)
    llm: LLMSpec = field(default_factory=LLMSpec)
    processing: ProcessingSpec = field(default_factory=ProcessingSpec)
    context: ContextSpec = field(default_factory=ContextSpec)
    output: OutputSpec | None = None

    def validate(self) -> None:
        self.dataset.validate()
        if not self.dataset.output_columns:
            raise ValueError("at least one output column required")
        if self.output and self.output.merge_strategy != MergeStrategy.REPLACE:
            # execute() writes the merged frame as is; no other strategy
            # is applied on the way to the sink
            raise ValueError(
                f"output.merge_strategy={self.output.merge_strategy.value!r} "
                "is not supported; only 'replace' is"
            )
        placeholders = template_placeholders(self.prompt.template)
        if self.prompt.use_jinja2 is not False and "{{" in self.prompt.template:
            return  # jinja2 templates are validated at render time
        missing = [p for p in placeholders if p not in self.dataset.input_columns]
        if missing and self.dataset.input_columns:
            raise ValueError(
                f"template placeholders {missing} not in input_columns "
                f"{self.dataset.input_columns}"
            )


def template_placeholders(template: str) -> list[str]:
    """Extract `{name}` placeholders from a str.format template.

    Mirrors the reference's input-column inference (ondine/api/quick.py:66-72).
    """
    import string

    names = []
    for _, field_name, _, _ in string.Formatter().parse(template):
        if field_name:
            base = field_name.split(".")[0].split("[")[0]
            if base and base not in names:
                names.append(base)
    return names
