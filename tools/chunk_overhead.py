"""Per-chunk fixed-cost measurement of the chunked runner.

The chunked runner renders, stages and spills every request once, so a
chunk's job should be a pruned read → invoke → durable write whatever the
spec. Measure that instead of asserting it: run the SAME spine through
execute_chunked at two chunk sizes (5 chunks vs 1000 chunks) and report
total wall + the derived per-chunk fixed cost

    fixed = (wall_1000_chunks - wall_5_chunks) / (1000 - 5)

(the per-row work is identical across arms, so the wall difference is
pure per-chunk overhead: plan build, the chunk job, durable parquet
commit, memento write). ``--batch-size 1`` measures the row-wise arm,
anything larger the mega-batched arm. Appends the result to
benchmarks/CHUNK_OVERHEAD.json and prints one JSON line.

Usage: python tools/chunk_overhead.py [n_rows] [--batch-size N]
(run ALONE, like bench)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n_rows", nargs="?", type=int, default=1_000_000)
    ap.add_argument("--batch-size", type=int, default=25,
                    help="rows per LLM call; 1 measures the row-wise arm")
    args = ap.parse_args()
    n_rows = args.n_rows
    arms = [n_rows // 5, max(1, n_rows // 1000)]  # chunks: 5 vs 1000

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ondine_spark import PipelineBuilder
    from ondine_spark.llm.client import mock_client_factory
    from ondine_spark.streaming.runner import execute_chunked

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        # AQE, as in bench.py: coalesces the batching shuffle for tiny
        # chunks so a 1000-row chunk's write is not 32 micro-tasks
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # same warmups as bench.py: Arrow worker pool + codegen
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    n_cpu = int(cpus) if cpus.isdigit() else 32
    spark.range(n_cpu * 4).repartition(n_cpu).mapInPandas(
        lambda it: it, "id long"
    ).count()

    import tempfile

    df = spark.range(n_rows).select(
        F.col("id"),
        F.concat(F.lit("review number "), F.col("id")).alias("review"),
    )

    def run(chunk_size: int) -> dict:
        work = tempfile.mkdtemp(prefix=f"chunk_ovh_{chunk_size}_")
        p = (
            PipelineBuilder(spark)
            .from_dataframe(df, ["review"], id_column="id")
            .with_prompt("Sentiment of: {review}", ["sentiment"])
            .with_custom_llm_client(mock_client_factory())
            .with_batch_size(args.batch_size)
            .with_checkpoint_dir(work, f"ovh{chunk_size}")
            .build()
        )
        spark._jvm.System.gc()
        time.sleep(0.2)
        t0 = time.monotonic()
        summary = execute_chunked(p, chunk_size=chunk_size)
        wall = time.monotonic() - t0
        assert summary.total_rows == n_rows, summary.total_rows
        n_chunks = len(summary.chunks)
        import shutil

        shutil.rmtree(work, ignore_errors=True)
        return {
            "chunk_size": chunk_size,
            "n_chunks": n_chunks,
            "wall_sec": round(wall, 3),
            "rows_per_sec": round(n_rows / wall),
        }

    runs = [run(cs) for cs in arms]
    big, small = runs[0], runs[1]
    fixed = (small["wall_sec"] - big["wall_sec"]) / (
        small["n_chunks"] - big["n_chunks"]
    )

    # Machine floor probe: ONE job that does the chunk loop's irreducible
    # work — a python (Arrow) stage over an in-memory 40-row frame plus a
    # durable parquet append — with zero pipeline logic. Whatever this
    # measures is unreachable headroom for ANY per-chunk-durable design
    # on this box (the python runner handshake alone is ~150 ms/job).
    floor_dir = tempfile.mkdtemp(prefix="chunk_floor_")
    mem = spark.range(40).selectExpr(
        "CAST(id AS STRING) AS _row_id", "repeat('x', 3000) AS prompt"
    ).coalesce(1).localCheckpoint()
    floors = []
    for i in range(12):
        t0 = time.monotonic()
        mem.mapInPandas(
            lambda it: it, "_row_id string, prompt string"
        ).write.mode("append").parquet(f"{floor_dir}/session_id=s")
        floors.append(time.monotonic() - t0)
    floors.sort()
    floor = floors[len(floors) // 2]
    import shutil

    shutil.rmtree(floor_dir, ignore_errors=True)

    line = {
        "metric": "per_chunk_fixed_cost",
        "value": round(fixed, 4),
        "unit": "sec/chunk",
        "n_rows": n_rows,
        "batch_size": args.batch_size,
        "arms": runs,
        "job_floor_sec": round(floor, 4),
        "job_floor_note": (
            "median of 12 no-op jobs (python stage + parquet append on a "
            "40-row in-memory frame): the per-job machine floor below "
            "which no per-chunk-durable design can go on this box"
        ),
        "ts": time.time(),
    }
    print(json.dumps(line))
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "benchmarks", "CHUNK_OVERHEAD.json",
    )
    with open(out, "w") as fh:
        json.dump(line, fh, indent=1)


if __name__ == "__main__":
    main()
