"""Run-level aggregates: quality report (A3), cost/token totals (A4),
no-output guard (O10), failed-row selection (P6).

Reference: ondine/core/models.py:262-355 (QualityReport),
ondine/api/pipeline.py:1685-1823. Plain Spark aggregates — one pass, all
map-side combinable.
"""

from __future__ import annotations

from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ondine_spark.core.specs import SKIPPED


@dataclass
class QualityReport:
    total_rows: int
    valid_rows: int
    null_cells: int
    empty_cells: int
    skipped_cells: int
    success_rate: float
    #: first non-null per-row error, when the result carries an ``error``
    #: column — so total-failure runs name their cause instead of just
    #: counting zeros
    sample_error: str | None = None

    @property
    def quality_score(self) -> str:
        if self.success_rate >= 0.99:
            return "excellent"
        if self.success_rate >= 0.95:
            return "good"
        if self.success_rate >= 0.80:
            return "fair"
        return "poor"


@dataclass
class RunStats:
    rows: int
    total_cost: Decimal
    tokens_in: int
    tokens_out: int
    api_calls: int | None = None


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """One-pass per-column profile: rows, nulls, distinct count, min, max
    (min/max stringified so every column fits one schema). The corpus-
    triage step of a training-data pipeline — run it before dedup/filter
    decisions.

    Output: column, n_rows, n_nulls, n_distinct, min_val, max_val.

    Scale: a single aggregate over the table; all metrics are map-side
    combinable except exact distinct counts, which Catalyst computes via
    one expand (rows × profiled columns). At full-corpus scale pass
    ``exact_distinct=False`` to use HyperLogLog ``approx_count_distinct``
    (±2% default error) and keep the pass fully combinable. Atomic
    columns only (arrays/structs/binary are skipped).
    """
    atomic = {
        f.name for f in df.schema.fields
        if f.dataType.typeName() not in ("array", "struct", "map", "binary")
    }
    cols = [c for c in (columns or df.columns) if c in atomic]
    if not cols:
        raise ValueError("no atomic columns to profile")
    distinct = (
        (lambda c: F.countDistinct(F.col(c)))
        if exact_distinct
        else (lambda c: F.approx_count_distinct(F.col(c)))
    )
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            # coalesce: sum over zero rows is NULL, but "0 nulls" is the
            # right profile of an empty table
            F.coalesce(
                F.sum(F.col(c).isNull().cast("long")), F.lit(0)
            ).alias(f"_nulls_{c}"),
            distinct(c).alias(f"_dist_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    row = df.agg(*aggs)
    per_col = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n").alias("n_rows"),
            F.col(f"_nulls_{c}").alias("n_nulls"),
            F.col(f"_dist_{c}").alias("n_distinct"),
            F.col(f"_min_{c}").alias("min_val"),
            F.col(f"_max_{c}").alias("max_val"),
        )
        for c in cols
    ])
    return row.select(F.explode(per_col).alias("_p")).select("_p.*")


_SKIPPED_SQL = "'" + SKIPPED.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _ident(c: str) -> str:
    return "`" + c.replace("`", "``") + "`"


def _empty_sql(c: str) -> str:
    """SQL for "cell ``c`` failed": null, blank or ``SKIPPED``. Never
    NULL itself (the ``IS NULL`` arm decides every null cell)."""
    col = f"CAST({_ident(c)} AS STRING)"
    return f"({col} IS NULL OR trim({col}) = '' OR {col} = {_SKIPPED_SQL})"


def _count_sql(cond: str) -> str:
    return f"sum(CASE WHEN {cond} THEN 1 ELSE 0 END)"


def quality_report(df: DataFrame, output_cols: list[str]) -> QualityReport:
    """A3: one aggregate pass over the result frame (thin wrapper over the
    combined fold — single source of truth for the failure predicates)."""
    return run_stats_and_quality(df, output_cols)[1]


def run_stats(df: DataFrame) -> RunStats:
    """A4: cost/token totals. Cost stays Decimal end-to-end. Wrapper over
    the combined fold with no quality columns."""
    return run_stats_and_quality(df, [])[0]


def run_stats_and_quality(
    df: DataFrame, output_cols: list[str]
) -> tuple[RunStats, QualityReport, int]:
    """A4 + A3 + the auto-retry probe in ONE aggregation job.

    ``execute()`` previously ran three jobs over the persisted result —
    run_stats, quality_report, and auto-retry's failed-row take(1) — all
    map-side-combinable aggregates over the same frame. At 100 TB each
    extra pass re-reads the whole (cached or spilled) result, so they are
    folded into a single agg; the third return value is the count of rows
    whose EVERY output cell failed, letting the caller skip the auto-retry
    machinery without a probe job when it is zero.

    The aggregate is one ``selectExpr`` of parsed SQL strings: built from
    Column calls it was ~60 py4j round trips (0.10-0.13 s of driver time
    per ``execute()`` for two output columns).
    """
    cols = set(df.columns)
    aggs = ["count(1) AS n"]
    if "cost" in cols:
        aggs.append("sum(cost) AS cost")
    if "tokens_in" in cols:
        aggs += ["sum(tokens_in) AS tin", "sum(tokens_out) AS tout"]
    for i, c in enumerate(output_cols):
        col = f"CAST({_ident(c)} AS STRING)"
        aggs += [
            _count_sql(f"{col} IS NULL") + f" AS null_{i}",
            _count_sql(f"{col} IS NOT NULL AND trim({col}) = ''")
            + f" AS empty_{i}",
            _count_sql(f"{col} = {_SKIPPED_SQL}") + f" AS skip_{i}",
        ]
    if output_cols:
        empty = [_empty_sql(c) for c in output_cols]
        aggs += [
            _count_sql(" AND ".join(f"NOT {e}" for e in empty)) + " AS valid",
            _count_sql(" AND ".join(empty)) + " AS failed",
        ]
    else:
        # no quality columns: every row is vacuously valid, none failed
        aggs += ["count(1) AS valid", "sum(0) AS failed"]
    if "error" in cols:
        # ONE sample cause, folded into the same pass: when every row
        # failed, "what went wrong" should not require a second job
        aggs.append("first(error, true) AS sample_error")
    d = df.selectExpr(*aggs).collect()[0].asDict()
    n = d["n"]
    stats = RunStats(
        rows=n,
        total_cost=Decimal(d.get("cost") or 0),
        tokens_in=int(d.get("tin") or 0),
        tokens_out=int(d.get("tout") or 0),
    )
    idx = range(len(output_cols))
    report = QualityReport(
        total_rows=n,
        valid_rows=d["valid"] or 0,
        null_cells=sum(d[f"null_{i}"] or 0 for i in idx),
        empty_cells=sum(d[f"empty_{i}"] or 0 for i in idx),
        skipped_cells=sum(d[f"skip_{i}"] or 0 for i in idx),
        success_rate=((d["valid"] or 0) / n) if n else 0.0,
        sample_error=d.get("sample_error"),
    )
    return stats, report, int(d["failed"] or 0)


def failed_rows(df: DataFrame, output_cols: list[str]) -> DataFrame:
    """P6: rows where ALL output cells are null/empty/skipped
    (reference: ondine/api/pipeline.py:1794-1823) — the auto-retry set."""
    return df.filter(" AND ".join(_empty_sql(c) for c in output_cols))


def assert_some_output(report: QualityReport, stats: RunStats) -> None:
    """O10 no-output guard (reference: ondine/api/pipeline.py:1685-1739)."""
    if report.valid_rows == 0 and (
        report.skipped_cells > 0 or stats.tokens_out == 0
    ):
        cause = (
            f"; first error: {report.sample_error}"
            if report.sample_error
            else ""
        )
        raise RuntimeError(
            "pipeline produced no valid outputs "
            f"({report.total_rows} rows, {report.skipped_cells} skipped cells, "
            f"{stats.tokens_out} output tokens{cause})"
        )


@dataclass
class PreprocessStats:
    """A5: preprocessing aggregate (reference:
    ondine/utils/input_preprocessing.py:19-34)."""

    rows: int
    chars_before: int
    chars_after: int
    truncated: int
    nulls: int


def preprocess_stats(
    before: DataFrame, after: DataFrame, col: str, id_col: str = "_row_id"
) -> PreprocessStats:
    """One aggregation over the joined before/after frames."""
    j = before.select(id_col, F.col(col).alias("_b")).join(
        after.select(id_col, F.col(col).alias("_a")), on=id_col
    )
    row = j.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.coalesce(F.length("_b"), F.lit(0))).alias("cb"),
        F.sum(F.coalesce(F.length("_a"), F.lit(0))).alias("ca"),
        F.sum(
            F.when(
                F.coalesce(F.length("_a"), F.lit(0))
                < F.coalesce(F.length("_b"), F.lit(0)),
                1,
            ).otherwise(0)
        ).alias("tr"),
        F.sum(F.when(F.col("_b").isNull(), 1).otherwise(0)).alias("nu"),
    ).collect()[0]
    return PreprocessStats(
        rows=row["rows"], chars_before=int(row["cb"] or 0),
        chars_after=int(row["ca"] or 0), truncated=int(row["tr"] or 0),
        nulls=int(row["nu"] or 0),
    )
