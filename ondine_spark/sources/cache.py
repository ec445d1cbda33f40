"""Durable response cache + resume (O7 / J5 / P5).

The reference persists every completed row to SQLite and resumes by
replaying the cache and skipping cached rows
(reference: ondine/adapters/response_cache.py, ondine/api/pipeline.py:1128-1202).

Spark-first: the cache is an append-only parquet table partitioned by
``session_id``; resume is a broadcast-able LEFT ANTI join on ``_row_id``
(zero LLM re-invocations for cached rows — the BASELINE crash test).
Durability granularity is the task/micro-batch, Spark's atomic commit unit
(the reference accepts the same trade in its own streaming mode,
SURVEY.md §2.11 T5); the streaming runner keeps micro-batches small so an
interrupted run loses at most one micro-batch of *work*, never *data*.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ondine_spark.sources.readers import ROW_ID


def append_parquet_atomic(df: DataFrame, target_dir: str) -> None:
    """Append ``df``'s rows to ``target_dir`` safely under CONCURRENT
    writers: Spark writes to a fresh underscore-prefixed staging dir
    (invisible to readers), then the part files are renamed into place
    (same-FS rename, one syscall per file). A plain ``mode("append")``
    from two processes races on the directory's shared ``_temporary/0``
    commit staging — one job's commit deletes it under the other
    (observed: FileNotFoundException in FileOutputCommitter). Part
    filenames embed a per-job UUID, so renames never collide. Readers
    de-dup rows idempotently, so a crash mid-rename (some files moved)
    costs re-invocation of the unmoved rows only, never duplicates.

    Non-local targets (scheme://) fall back to the plain append —
    single-writer semantics there, as before."""
    if "://" in target_dir:
        df.write.mode("append").parquet(target_dir)
        return
    base = os.path.dirname(target_dir.rstrip("/")) or "."
    staging = os.path.join(base, f"_staging_{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    os.makedirs(target_dir, exist_ok=True)
    try:
        for f in os.listdir(staging):
            if f.startswith("part-") and not f.endswith(".crc"):
                os.replace(
                    os.path.join(staging, f), os.path.join(target_dir, f)
                )
    finally:
        shutil.rmtree(staging, ignore_errors=True)

# per-row response columns: invoke output, cache schema, dropped by public_frame
RESPONSE_META = ["response_text", "tokens_in", "tokens_out", "resp_model",
                 "cost", "latency_ms", "error"]


def _cache_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "responses")


def _session_part_dir(spark, checkpoint_dir: str, session_id: str) -> str | None:
    """The session's partition directory, escaped with Spark's OWN
    partition-value escaping (ExternalCatalogUtils) so direct-path
    writes/rewrites land exactly where ``partitionBy`` would put them
    and partition discovery reads the value back. None if the JVM
    helper is unavailable (callers fall back to partitionBy)."""
    try:
        esc = (
            spark._jvm.org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName(session_id)
        )
    except Exception:  # pragma: no cover - JVM helper missing
        return None
    return os.path.join(_cache_path(checkpoint_dir), f"session_id={esc}")


def read_cache(spark, checkpoint_dir: str, session_id: str) -> DataFrame | None:
    path = _cache_path(checkpoint_dir)
    try:
        df = spark.read.parquet(path)
    except Exception:
        return None
    sess = df.filter(F.col("session_id") == session_id).drop("session_id")
    if "error" not in sess.columns:
        return sess.dropDuplicates([ROW_ID])
    # prefer error-free rows per _row_id: auto-retry appends its successful
    # re-invocations AFTER the failed originals, and an arbitrary
    # dropDuplicates could resurrect the failure on resume. One window
    # shuffle over the cache (resume path only).
    from pyspark.sql.window import Window

    w = Window.partitionBy(ROW_ID).orderBy(
        F.col("error").isNotNull().cast("int")
    )
    return (
        sess.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def resume_filter(
    df: DataFrame, checkpoint_dir: str, session_id: str
) -> tuple[DataFrame, DataFrame | None]:
    """Split input into (rows still to process, cached response rows).

    The cached side carries the input columns too (replayed from the cache
    table) so it can union with freshly-invoked rows downstream.
    """
    cached = read_cache(df.sparkSession, checkpoint_dir, session_id)
    if cached is None:
        return df, None
    # reattach input columns to cached responses by joining back to input
    replay = df.join(cached, on=ROW_ID, how="inner")
    return pending_rows(df, cached), replay


def pending_rows(df: DataFrame, cached: DataFrame) -> DataFrame:
    """The rows of ``df`` with no response in ``cached`` (``read_cache``'s
    frame): the resume split of every entry point.

    UNHINTED anti-join: after a deep-into-the-run crash the cached side
    is most of the corpus — a forced broadcast would OOM. AQE broadcasts
    small caches at runtime and shuffles large ones (SCALE.md "Resume");
    tests/test_resume_crash.py asserts the SortMergeJoin fallback."""
    cached_ids = cached.select(ROW_ID).distinct()
    return df.join(cached_ids, on=ROW_ID, how="left_anti")


def write_responses(
    result: DataFrame, checkpoint_dir: str, session_id: str
) -> None:
    """Append this run's responses for ``session_id``. Idempotent per row:
    readers de-dup on ``_row_id``, preferring error-free rows (so a
    retried success appended after a failure wins on resume).

    Writes straight into the ``session_id=<escaped>`` partition directory
    instead of going through dynamic ``partitionBy``: the on-disk layout
    (and the partition-discovery read path) is identical, but the write
    skips the dynamic-partition commit machinery — measured ~40 ms per
    append, which the chunked runner pays once per chunk (1000 chunks =
    40 s of pure commit overhead, tools/chunk_overhead.py). Partition
    values are escaped with Spark's own ExternalCatalogUtils so weird
    session ids land in the same directory either path would produce;
    if that JVM helper ever disappears, the partitionBy fallback keeps
    correctness."""
    cols = [ROW_ID] + [c for c in RESPONSE_META if c in result.columns]
    spark = result.sparkSession
    part_dir = _session_part_dir(spark, checkpoint_dir, session_id)
    if part_dir is not None:
        # staging + rename (not mode("append")): concurrent coordinated
        # workers commit chunks to the same session dir simultaneously
        append_parquet_atomic(result.select(*cols), part_dir)
        # The old partitionBy write refreshed the responses BASE path as
        # a side effect; the direct-path append only refreshes the
        # session directory. Refresh the base explicitly so a user-held
        # DataFrame/plan rooted at the responses table sees the append
        # (driver-side catalog call, does not touch the chunk spill).
        result.sparkSession.catalog.refreshByPath(_cache_path(checkpoint_dir))
        return
    out = result.select(*cols).withColumn("session_id", F.lit(session_id))
    (
        out.write.mode("append")
        .partitionBy("session_id")
        .parquet(_cache_path(checkpoint_dir))
    )


def compact_responses(spark, checkpoint_dir: str, session_id: str) -> int:
    """Rewrite a session's cache partition keeping one row per ``_row_id``
    (small-file + duplicate cleanup for long-lived resume sessions — many
    chunked appends accumulate one file set per commit). Returns the row
    count after compaction. Run this BETWEEN runs, never concurrently
    with a writer: the rewrite replaces the partition directory."""
    part_dir = _session_part_dir(spark, checkpoint_dir, session_id)
    if part_dir is None:  # pragma: no cover - JVM helper missing
        part_dir = os.path.join(
            _cache_path(checkpoint_dir), f"session_id={session_id}"
        )
    if not os.path.isdir(part_dir):
        return 0
    # the same row per _row_id that resume replays (error-free preferred)
    compacted = read_cache(spark, checkpoint_dir, session_id)
    n = compacted.count()
    tmp = part_dir + ".compacting"
    compacted.write.mode("overwrite").parquet(tmp)
    import shutil

    shutil.rmtree(part_dir)
    os.rename(tmp, part_dir)
    spark.catalog.refreshByPath(_cache_path(checkpoint_dir))
    return n
