"""Contradiction detection (V3/A6): same key, different values.

Reference (ondine/api/pipeline.py:1024-1059; tolerance compare
pipeline.py:73-89; symmetric edge store crates/ondine-core/src/evidence/
store.rs:202-212): group result rows by ``key_columns``; within a group,
differing ``value_columns`` (numeric values compared with relative
tolerance) mark every row of the group as ``_contradiction`` and store
symmetric contradiction edges.

Spark-first: one ``Window.partitionBy(key)`` pass with collect_set /
min-max — no join, no Python. The input is read once, so an unpinned
upstream (the LLM invoke in ``Pipeline._verify``) runs once per row. Rows
with a null key belong to no group and are never flagged. Numeric
tolerance uses the group's (max-min)/max(|max|,|min|) relative spread,
equivalent to the reference's pairwise check for the flag (a group
contradicts iff its extreme pair contradicts).
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CONTRADICTION = "_contradiction"


def _group_flag(value_col: str, tolerance: float | None, w: Window):
    v = F.col(value_col)
    distinct = F.size(F.collect_set(v).over(w)) > 1
    if tolerance is None:
        return distinct
    num = v.try_cast("double")
    mn, mx = F.min(num).over(w), F.max(num).over(w)
    rel = (mx - mn) / F.greatest(F.abs(mx), F.abs(mn), F.lit(1e-12))
    # non-numeric values fall back to exact distinctness
    any_non_numeric = F.max(
        F.when(v.isNotNull() & num.isNull(), 1).otherwise(0)
    ).over(w) == 1
    return F.when(any_non_numeric, distinct).otherwise(rel > tolerance)


def detect_contradictions(
    df: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    tolerance: float | None = None,
) -> DataFrame:
    """Append ``_contradiction`` boolean to every row."""
    w = Window.partitionBy(*key_cols)
    any_flag = reduce(or_, (_group_flag(c, tolerance, w) for c in value_cols))
    keyed = reduce(and_, (F.col(k).isNotNull() for k in key_cols))
    return df.withColumn(CONTRADICTION, keyed & F.coalesce(any_flag, F.lit(False)))


def contradiction_edges(
    df: DataFrame,
    id_col: str,
    key_cols: list[str],
    value_cols: list[str],
    tolerance: float | None = None,
) -> DataFrame:
    """Symmetric (id_a, id_b) pairs within contradicting groups — the
    evidence-graph edge table (both directions materialized, matching the
    reference's symmetric pair inserts)."""
    flagged = detect_contradictions(df, key_cols, value_cols, tolerance).filter(
        F.col(CONTRADICTION)
    )
    a = flagged.select(*key_cols, F.col(id_col).alias("id_a"))
    b = flagged.select(*key_cols, F.col(id_col).alias("id_b"))
    return (
        a.join(b, on=key_cols)
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", *key_cols)
    )
