"""Run stats, quality report and the failed-row count from one aggregate
(``operators/quality.py::run_stats_and_quality``), against hand-counted
expected values."""

from decimal import Decimal

from ondine_spark.operators.quality import (
    QualityReport,
    RunStats,
    failed_rows,
    run_stats_and_quality,
)

ROWS = [
    # _row_id, label, score, tokens_in, tokens_out, cost, error
    ("r0", "positive", "0.9", 10, 2, Decimal("0.000100000000000001"), None),
    ("r1", None, "0.1", 0, 0, None, "TransientLLMError: 429"),
    ("r2", "", None, 4, 1, Decimal("0.000000000000000007"), None),
    ("r3", "   ", "  ", 0, 0, None, "ValueError: bad"),
    ("r4", "[SKIPPED]", "[SKIPPED]", 0, 0, Decimal("0"), "FatalLLMError: x"),
    ("r5", "negative", "[SKIPPED]", 6, 3, Decimal("1.5"), None),
    ("r6", "neutral", "0.5", 5, 1, None, None),
]
SCHEMA = (
    "_row_id string, label string, score string, tokens_in int, "
    "tokens_out int, cost decimal(38,18), error string"
)


def test_stats_quality_and_failed_count(spark):
    df = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    stats, report, failed = run_stats_and_quality(df, ["label", "score"])
    assert stats == RunStats(
        rows=7,
        total_cost=Decimal("1.500100000000000008"),
        tokens_in=25,
        tokens_out=7,
    )
    assert report == QualityReport(
        total_rows=7,
        valid_rows=2,  # r0, r6
        null_cells=2,  # r1.label, r2.score
        empty_cells=3,  # r2.label "", r3.label and r3.score (spaces)
        skipped_cells=3,  # r4 ×2, r5.score
        success_rate=2 / 7,
        sample_error="TransientLLMError: 429",
    )
    assert report.quality_score == "poor"
    assert failed == 3  # r2, r3, r4: every output cell failed
    assert sorted(
        r["_row_id"] for r in failed_rows(df, ["label", "score"]).collect()
    ) == ["r2", "r3", "r4"]


def test_stats_without_output_columns(spark):
    df = spark.createDataFrame(ROWS, SCHEMA).drop("error")
    stats, report, failed = run_stats_and_quality(df, [])
    assert stats.total_cost == Decimal("1.500100000000000008")
    assert (stats.tokens_in, stats.tokens_out) == (25, 7)
    assert report == QualityReport(
        total_rows=7, valid_rows=7, null_cells=0, empty_cells=0,
        skipped_cells=0, success_rate=1.0, sample_error=None,
    )
    assert failed == 0
