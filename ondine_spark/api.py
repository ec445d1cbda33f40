"""One-function front door: enrich().

Reference: ondine/api/enrich.py:45-137 + QuickPipeline smart defaults
(ondine/api/quick.py:66-330): input columns inferred from {placeholders},
JSON parser auto-selected for multi-column output.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import SparkSession

from ondine_spark.plans.builder import PipelineBuilder
from ondine_spark.plans.pipeline import ExecutionResult


def enrich(
    data: Any,
    prompt: str,
    output_columns: list[str],
    *,
    client_factory: Callable[[], Any],
    model: str = "custom",
    batch_size: int | None = None,
    concurrency: int = 8,
    max_budget=None,
    error_policy: str = "retry",
    id_column: str | None = None,
    output_path: str | None = None,
    spark: SparkSession | None = None,
) -> ExecutionResult:
    """Enrich ``data`` (path or DataFrame) with LLM-computed columns."""
    b = PipelineBuilder(spark)
    if isinstance(data, str):
        from ondine_spark.core.specs import template_placeholders

        cols = template_placeholders(prompt)
        fmt_method = {
            "csv": b.from_csv, "parquet": b.from_parquet, "json": b.from_json,
        }
        from ondine_spark.sources.readers import infer_format

        fmt = infer_format(data)
        if fmt not in fmt_method:
            raise ValueError(f"unsupported input format {fmt}")
        fmt_method[fmt](data, cols, id_column=id_column)
    else:
        b.from_dataframe(data, id_column=id_column)
    b.with_prompt(prompt, output_columns)
    b.with_custom_llm_client(client_factory).with_llm(model)
    b.with_concurrency(concurrency)
    if batch_size is not None:
        b.with_batch_size(batch_size)
    if max_budget is not None:
        b.with_max_budget(max_budget)
    b.with_error_policy(error_policy)
    if output_path:
        b.with_output(output_path)
    return b.build().execute()
