"""PipelineComposer (J4): multi-pipeline column composition.

Reference (ondine/api/pipeline_composer.py:27-120): each added column is
produced by its own pipeline; ``depends_on`` forms a DAG; execution runs in
topological order, each pipeline seeing the columns produced before it.

Spark-first: the composition is a chain of plan fragments over ONE
DataFrame — each step's result_frame output becomes the next step's input,
so Catalyst sees the whole multi-column plan and can pipeline the stages;
nothing is materialized between columns unless a step needs it.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ondine_spark.plans.pipeline import Pipeline, public_frame


@dataclass
class _Step:
    name: str
    pipeline: Pipeline
    depends_on: list[str] = field(default_factory=list)


class PipelineComposer:
    def __init__(self):
        self._steps: list[_Step] = []

    def add_column(self, name: str, pipeline: Pipeline,
                   depends_on: list[str] | None = None) -> "PipelineComposer":
        if any(s.name == name for s in self._steps):
            raise ValueError(f"duplicate column: {name}")
        self._steps.append(_Step(name, pipeline, list(depends_on or [])))
        return self

    def _ordered(self) -> list[_Step]:
        """Kahn toposort; deterministic (insertion order among ready
        nodes). Reference: pipeline_composer.py:111+."""
        by_name = {s.name: s for s in self._steps}
        for s in self._steps:
            for d in s.depends_on:
                if d not in by_name:
                    raise ValueError(
                        f"column {s.name!r} depends on unknown column {d!r}"
                    )
        done: list[_Step] = []
        done_names: set[str] = set()
        pending = list(self._steps)
        while pending:
            ready = [s for s in pending
                     if all(d in done_names for d in s.depends_on)]
            if not ready:
                cyc = [s.name for s in pending]
                raise ValueError(f"dependency cycle among columns: {cyc}")
            for s in ready:
                done.append(s)
                done_names.add(s.name)
                pending.remove(s)
        return done

    def execute(self, df: DataFrame) -> DataFrame:
        """Run every step over the accumulating frame. Each step's spec must
        declare exactly [name] as its output column; the step's prompt may
        reference any input column or previously produced column."""
        from ondine_spark.sources.readers import ROW_ID, with_row_id

        if ROW_ID not in df.columns:
            df = with_row_id(df, None)
        for step in self._ordered():
            out_cols = step.pipeline.spec.dataset.output_columns
            if out_cols != [step.name]:
                raise ValueError(
                    f"step {step.name!r} must output exactly [{step.name!r}], "
                    f"got {out_cols}"
                )
            df = public_frame(step.pipeline.result_frame(df))
        return df
