"""Partitioning helpers.

Local-mode parquet fixtures often arrive as ONE file = ONE partition, which
serializes CPU-bound operators (regex tokenize, md5 shingling, UDF batches).
``spread_small`` widens such inputs to the cores (``defaultParallelism``):
one task per core, so the operators behind it run in one task wave. On a
real cluster with many input splits it's a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def shuffle_partitions(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def _starts_jobs(plan) -> bool:
    """True when building this physical plan's RDD would start Spark
    jobs: an adaptive plan (its shuffle stages run to learn the final
    partitioning), an exchange or subquery (prepared when the RDD is
    built, with AQE off), or a cache not yet materialized (its buffers
    are built from its own plan)."""
    name = plan.getClass().getSimpleName()
    if (
        name == "AdaptiveSparkPlanExec"
        or "Exchange" in name
        or not plan.subqueries().isEmpty()
    ):
        return True
    if name == "InMemoryTableScanExec":
        return not plan.relation().cacheBuilder().isCachedColumnBuffersLoaded()
    kids = plan.children()
    return any(_starts_jobs(kids.apply(i)) for i in range(kids.size()))


def spread_small(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition when the input has fewer partitions than the
    target parallelism (default: the cores). One cheap shuffle of the
    (small) input buys full parallelism for every downstream CPU-bound
    stage. Starts no Spark job: the partition count is read only from a
    plan without an exchange, where it is known at planning time; any
    other plan is repartitioned to the target."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    if _starts_jobs(qe.executedPlan()) or qe.toRdd().getNumPartitions() < target:
        return df.repartition(target)
    return df


# Skew-handling note (r9): the salted-aggregation helpers that lived here
# (with_salt / salted_agg / replicate_dim_join) were removed — they had
# zero call sites, and salted_agg was redundant by construction: Spark's
# hash aggregate already performs partial (map-side) aggregation for the
# sum/count/min/max aggregates it supported, so a hot key collapses to
# one partial row per map task without any salt. The operators that
# needed skew hardening (e.g. dup_ngram_fraction) use partially-
# aggregating groupBy shapes instead of windows; skewed JOIN partitions
# are handled by AQE (spark.sql.adaptive.skewJoin), and a broadcast-
# ineligible hot-key dim join, should one ever appear, is a ~10-line
# inline salt at the call site.
