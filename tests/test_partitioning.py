"""``spread_small`` widens small inputs to the cores without starting a
Spark job: it reads a partition count only where planning knows it."""

from pyspark.sql import functions as F

from ondine_spark.core.partitioning import spread_small


def test_joined_frame_starts_no_job(spark, count_jobs):
    """A join is an adaptive plan: reading its partition count would run
    its shuffle stages. It is repartitioned to the cores instead."""
    left = spark.range(2000).withColumn("k", F.col("id") % 50)
    right = spark.range(50).withColumnRenamed("id", "k")
    joined = left.join(right.hint("shuffle_hash"), "k")
    assert (
        joined._jdf.queryExecution().executedPlan().getClass().getSimpleName()
        == "AdaptiveSparkPlanExec"
    )
    jobs, out = count_jobs(lambda: spread_small(joined))
    assert jobs == 0
    cores = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == cores
    assert out.count() == 2000


def test_single_file_scan_spreads_to_the_cores(spark, tmp_path, count_jobs):
    """The target is the cores, not ``spark.sql.shuffle.partitions``
    (8 on this session's 4 cores): one task wave behind the spread."""
    path = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    jobs, out = count_jobs(lambda: spread_small(df))
    assert jobs == 0
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_wide_scan_is_unchanged(spark, tmp_path, count_jobs):
    """A multi-file scan with at least one partition per core comes back
    as is."""
    cores = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "many")
    spark.range(4000).repartition(4 * cores).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() >= cores
    jobs, out = count_jobs(lambda: spread_small(df))
    assert jobs == 0
    assert out is df
