"""Context-window validation of the mega-batch size (reference:
ondine/utils/model_context_limits.py:13-80 +
ondine/stages/batch_aggregator_stage.py:103-137).

Driver-side check before launching a batched run: estimated tokens of one
mega-prompt (batch_size × avg row prompt tokens + format overhead) must
fit the model's context window. Token estimate = whitespace words × 1.3
(the reference's fallback heuristic when tiktoken is unavailable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# public context-window sizes (tokens)
CONTEXT_LIMITS = {
    "gpt-4o-mini": 128_000,
    "gpt-4o": 128_000,
    "gpt-4.1-mini": 1_000_000,
    "claude-3-5-haiku": 200_000,
    "claude-sonnet-4": 200_000,
    "deepseek-chat": 64_000,
    "gemini-2.0-flash": 1_000_000,
    "mock": 1_000_000,
}
DEFAULT_LIMIT = 32_000
BATCH_FORMAT_OVERHEAD_TOKENS = 160  # mega-prompt instruction scaffolding
PER_ITEM_OVERHEAD_TOKENS = 12  # json wrapper per item


def context_limit(model: str) -> int:
    base = model.split("/")[-1]
    for name, limit in CONTEXT_LIMITS.items():
        if base.startswith(name):
            return limit
    return DEFAULT_LIMIT


def estimate_tokens_expr(col) -> "F.Column":
    """words × 1.3 fallback heuristic (reference:
    unified_litellm_client.py:1015-1020)."""
    words = F.size(F.filter(F.split(F.trim(col), r"\s+"), lambda x: x != ""))
    return F.ceil(words * 1.3).cast("long")


def validate_batch_size(
    prompts: DataFrame,
    batch_size: int,
    model: str,
    prompt_col: str = "prompt",
    sample: int = 200,
    safety_margin: float = 0.8,
) -> dict:
    """Check ceil(avg prompt tokens)×batch_size against the model window.

    Returns {'ok', 'est_batch_tokens', 'limit', 'max_batch_size'}; raises
    ValueError when the configured batch cannot fit.

    The ≤ ``sample`` estimates are collected and averaged on the driver:
    a ``CollectLimit`` reads the first partition's rows in one job, where
    an aggregate over the limit adds a single-partition exchange (a second
    job under AQE)."""
    est_tokens = [
        r[0]
        for r in prompts.select(estimate_tokens_expr(F.col(prompt_col)))
        .limit(sample)
        .collect()
        if r[0] is not None
    ]
    avg_tokens = sum(est_tokens) / len(est_tokens) if est_tokens else 0.0
    per_item = avg_tokens + PER_ITEM_OVERHEAD_TOKENS
    est = int(per_item * batch_size + BATCH_FORMAT_OVERHEAD_TOKENS)
    limit = int(context_limit(model) * safety_margin)
    max_bs = max(1, int((limit - BATCH_FORMAT_OVERHEAD_TOKENS) / max(per_item, 1)))
    result = {
        "ok": est <= limit,
        "est_batch_tokens": est,
        "limit": limit,
        "max_batch_size": max_bs,
    }
    if not result["ok"]:
        raise ValueError(
            f"batch_size={batch_size} ≈ {est} tokens exceeds {model}'s "
            f"usable context ({limit}); max batch_size ≈ {max_bs}"
        )
    return result
