"""Chunked / streaming execution (T1-T5).

The reference's "streaming" is chunked micro-batch over a static source
with bounded memory, per-chunk durability, and cumulative budget
enforcement (reference: ondine/api/pipeline.py:1326-1497). Two Spark-first
forms:

- ``execute_chunked``: deterministic chunk ids over the static input
  (global-index / chunk_size), driver loop per chunk: invoke → append to
  the durable response cache → budget check. Crash kills at most the
  in-flight chunk's WORK; committed chunks are never re-invoked on resume
  (left-anti join against the cache). This is the crash-test path
  (BASELINE.md: 0 rows lost, 0 re-invocations of cached rows).
- ``run_file_stream``: Structured Streaming file source + ``foreachBatch``
  running the same plan per micro-batch with Spark's own checkpointing —
  the scale path for continuously-arriving data (strictly better than the
  reference's no-resume streaming, SURVEY.md §2.11 T5).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ondine_spark.operators.batching import (
    aggregate_batches_per_chunk,
    with_global_index,
)
from ondine_spark.plans.pipeline import Pipeline, public_frame
from ondine_spark.sources.cache import (
    pending_rows,
    read_cache,
    write_responses,
)
from ondine_spark.sources.readers import ROW_ID


class BudgetExceededError(RuntimeError):
    pass


@dataclass
class ChunkResult:
    chunk_id: int
    rows: int
    cost: Decimal
    cumulative_cost: Decimal


@dataclass
class StreamSummary:
    chunks: list[ChunkResult] = field(default_factory=list)
    total_rows: int = 0
    total_cost: Decimal = Decimal(0)
    resumed_rows: int = 0
    # coordinated runs only: chunks another same-generation worker
    # claimed but had not committed when THIS worker finished — either
    # its owner is alive and slow, or it died < lease_ttl ago. Empty on
    # a healthy run; a follow-up run with the same session id heals any
    # survivors (new generation → resume anti-join re-derives the rows).
    unresolved_chunks: list[int] = field(default_factory=list)


def _drain_cost(acc) -> Decimal:
    """Sum the invoke stage's per-(epoch, partition) Decimal cost entries
    delivered since the last drain, keeping ONE entry per key: a retried
    or speculative task recomputes the identical sum under the same key
    (deterministic input, Decimal arithmetic), so duplicates are dropped
    even across drain boundaries. Driver-side."""
    if acc is None:
        return Decimal(0)
    entries = list(acc.value)
    acc.value = []
    seen = getattr(acc, "_ondine_cost_seen", None)
    if seen is None:
        seen = set()
        acc._ondine_cost_seen = seen
    total = Decimal(0)
    for epoch, pid, cost_str in entries:
        if (epoch, pid) in seen:
            continue
        seen.add((epoch, pid))
        total += Decimal(cost_str)
    return total


def execute_chunked(
    pipeline: Pipeline,
    chunk_size: int = 10_000,
    checkpoint_dir: str | None = None,
    session_id: str | None = None,
) -> StreamSummary:
    """Run the pipeline chunk-by-chunk with per-chunk durable commits.

    Memory bound ≈ chunk_size × row size per executor slice (T4). Budget is
    enforced cumulatively BETWEEN chunks — the reference's own granularity
    in streaming mode (O6; ondine/api/pipeline.py:1460-1462) — and includes
    cost already in the cache when resuming.
    """
    summary = StreamSummary()
    for chunk in iter_chunks(
        pipeline, chunk_size, checkpoint_dir, session_id, _summary=summary
    ):
        pass
    return summary


def iter_chunks(
    pipeline: Pipeline,
    chunk_size: int = 10_000,
    checkpoint_dir: str | None = None,
    session_id: str | None = None,
    _summary: StreamSummary | None = None,
) -> Iterator[ChunkResult]:
    """Generator form (T2 parity: the reference's execute_stream yields a
    result per chunk, ondine/api/pipeline.py:1233-1324). Each yielded
    ChunkResult is already DURABLY COMMITTED; the consumer can stop at any
    point and resume later with the same session id.

    One plan for every spec: the rows still to do get their retrieval
    context, prompt and ``after_prompt`` stages once (the pipeline's
    request step), a global index, the pre-spend batch-size check when
    batched, and one spill of the requests (mega-prompt batch rows, or
    ``(_row_id, prompt)`` rows at batch 1). Each chunk is then one job:
    pruned read of its requests → invoke (whose worker splits batch
    answers into rows when batched) → durable append to the response
    cache.

    CONSUMER-CRASH CONTRACT: the chunk commit (the durable response-cache
    append, which happens BEFORE the yield) is the single source of
    truth. If the consumer crashes between receiving a yield and applying
    its own side effect, re-iteration with the same session id yields
    ONLY the not-yet-committed chunks — the chunk whose yield was lost is
    already committed and is never re-yielded (and its rows are never
    re-invoked). Consumers must therefore derive per-chunk side effects
    from the cache (``chunked_result_frame``) on resume, or keep their
    own durable progress marker and reconcile; accumulating yields alone
    under-counts by exactly the crashed-yield chunk. Pinned by
    tests/test_resume_crash.py::test_consumer_crash_between_yield_and_side_effect.
    """
    summary = _summary if _summary is not None else StreamSummary()
    spec = pipeline.spec
    ckpt = checkpoint_dir or spec.processing.checkpoint_dir
    sid = session_id or spec.processing.session_id or "default"
    if ckpt is None:
        raise ValueError("execute_chunked requires a checkpoint_dir")
    spark = pipeline.spark
    from ondine_spark.observability import EventDispatcher
    from ondine_spark.orchestration.state import RunMemento, StateManager

    dispatcher = EventDispatcher(spec.processing.observers)
    state = StateManager(ckpt, sid)

    df = pipeline.input_frame()
    cached = read_cache(spark, ckpt, sid)
    spent = Decimal(0)
    if cached is not None:
        todo = pending_rows(df, cached)
        agg = cached.agg(
            F.count(F.lit(1)).alias("n"), F.sum("cost").alias("c")
        ).collect()[0]
        summary.resumed_rows = agg["n"]
        spent = Decimal(agg["c"] or 0)
    else:
        todo = df

    # One path for every spec: attach retrieval context, render the
    # prompt and run the after_prompt stages ONCE over the rows still to
    # do, then spill the requests — at batch > 1 every chunk's mega-prompt
    # batch rows, at batch 1 the (_row_id, prompt) rows. Batch membership
    # depends only on the static global index, so nothing about a
    # request is per-chunk work: each per-chunk job is a pruned scan of
    # its own requests → invoke UDF → (explode) → durable write. ONE
    # narrow stage, zero per-chunk shuffles, no per-chunk retrieval.
    requests = pipeline._with_prompt(pipeline._with_context(todo))
    pipeline._ensure_accumulators()
    batch_size = spec.prompt.batch_size
    seq = with_global_index(requests, "_seq")
    if batch_size > 1:
        # pre-spend: the sample reads the index pass's cached rows
        pipeline._check_batch_size(seq)
    # total rows fall out of the index's offset pass — no count job
    n_rows = int(getattr(seq, "_ondine_total_rows", 0))
    n_chunks = -(-n_rows // chunk_size) if n_rows else 0
    sc = spark.sparkContext
    # Chunk SPILL, not localCheckpoint (round-5): the requests are
    # written ONCE as parquet partitioned BY _chunk, so each chunk's job
    # reads only its own partition directory — O(chunk_size) per job. A
    # localCheckpoint held the whole todo set as pinned RDD blocks AND
    # made every chunk job re-scan all N cached rows just to filter one
    # chunk out: O(N × n_chunks) per run (tools/chunk_overhead.py). The
    # spill also freezes the requests against write_responses'
    # refreshByPath (separate directory, static files) without pinning
    # executor memory for the run's lifetime. Its columns are all
    # internal, so parquet's column-name rules never bite.
    spill = f"{ckpt}/chunk_spill/session_id={sid}"
    if spec.processing.coordinate:
        # concurrent workers each spill their own copy: the spill is
        # run-scoped scratch, and a shared path would race (overwrite
        # deletes files under another worker's in-flight chunk reads)
        import uuid as _uuid

        spill = f"{spill}/worker={_uuid.uuid4().hex}"
    chunked = seq.withColumn(
        "_chunk", (F.col("_seq") / chunk_size).cast("long")
    )
    if batch_size > 1:
        spillable = aggregate_batches_per_chunk(
            chunked, batch_size, chunk_size
        )
    else:
        spillable = chunked.select(ROW_ID, "prompt", "_chunk")
    if n_chunks >= sc.defaultParallelism:
        # many small chunks: co-locate each chunk's rows in one writer
        # task so the spill is ~1 file per chunk, not tasks × chunks
        spillable = spillable.repartition(sc.defaultParallelism, "_chunk")
    if n_rows:
        spillable.write.mode("overwrite").partitionBy("_chunk").parquet(spill)
    # the spill materialized from the index's internal cache (one source
    # scan total for offsets + spill); release those blocks now
    for _c in getattr(seq, "_ondine_cached", []):
        _c.unpersist()
    # per-chunk reads go straight at the chunk's partition directory with
    # the schema pinned driver-side: no per-chunk partition pruning over
    # n_chunks directories and no per-chunk footer-based schema inference
    # (measured ~25 ms/chunk at 1000 chunks)
    spill_schema = StructType(
        [f for f in spillable.schema.fields if f.name != "_chunk"]
    )
    # Multi-process coordination (opt-in): disjoint chunk claims + a
    # shared cost ledger (orchestration/coordination.py). The claim
    # GENERATION digests the chunk assignment's inputs — workers that
    # observed the same committed cache state (and thus computed the
    # same todo set and chunking) share one claim namespace; a worker
    # that starts later sees different inputs, gets a different
    # generation, and degrades to plain resume semantics.
    claims = ledger = None
    if spec.processing.coordinate and n_rows:
        import hashlib

        from ondine_spark.orchestration.coordination import (
            ChunkClaims,
            CostLedger,
        )
        from ondine_spark.sources.cache import _session_part_dir

        token = os.path.basename(
            _session_part_dir(spark, ckpt, sid)
            or f"session_id={sid}"
        ).split("=", 1)[1]
        gen = hashlib.md5(
            f"{summary.resumed_rows}|{spent}|{n_rows}|{chunk_size}".encode()
        ).hexdigest()[:16]
        claims = ChunkClaims(
            ckpt, token, gen,
            lease_ttl=spec.processing.coordinate_lease_ttl,
        )
        ledger = CostLedger(ckpt, token)
    try:
        budget = spec.processing.max_budget

        def _budget_check():
            # global spend first: the ledger carries every coordinated
            # process's committed chunks, so one worker crossing the
            # budget stops ALL workers at their next chunk boundary.
            # max() with the local view keeps pre-coordination history
            # (cache-derived `spent`) counted without double counting.
            if budget is None:
                return
            spent_global = (
                max(spent, ledger.total()) if ledger is not None
                else spent
            )
            if spent_global >= budget:
                raise BudgetExceededError(
                    f"budget {budget} exhausted after {spent_global} "
                    f"({len(summary.chunks)} chunks committed)"
                )

        skipped: list[int] = []

        def _owned_chunks():
            """Chunk ids this worker owns: its claim wins, then — after
            the normal sweep — STALE claims stolen from same-generation
            workers that died mid-chunk (ChunkClaims docstring). The
            recovery pass POLLS each skipped claim until it resolves
            (committed, or stale → stolen), bounded by a 2x-lease_ttl
            deadline (r8 verdict: one instantaneous staleness check
            reported a just-died claimant's chunk as a hole because its
            lease hadn't expired yet). Claims still FRESH at the
            deadline have a live, heartbeating owner; they land in
            ``summary.unresolved_chunks`` (their owner may still commit
            them, or a follow-up run heals them via plain resume
            semantics)."""
            for cid in range(int(n_chunks)):
                _budget_check()
                if claims is not None and not claims.claim(cid):
                    skipped.append(cid)
                    continue  # another worker owns this chunk
                yield cid
            if claims is None:
                return
            leftover = yield from claims.recover(
                skipped, budget_check=_budget_check
            )
            summary.unresolved_chunks.extend(leftover)

        for cid in _owned_chunks():
            dispatcher.emit(
                "chunk_start", run_id=sid, chunk_id=cid,
                chunks_total=int(n_chunks),
                rows_total=min(chunk_size, n_rows - cid * chunk_size),
            )
            # ONE job per chunk: the durable write is the only action. The
            # row count needs no job at all — chunk assignment is a
            # contiguous slice of the global index, so it is
            # min(chunk_size, n_rows - cid*chunk_size) by construction
            # (the response frame is row-preserving: error-policy rows are
            # written as [SKIPPED], and the invoke worker's batch split
            # yields one row per member row). The Decimal cost rides an
            # (epoch, partition)-keyed accumulator filled by the invoke
            # stage — retry/speculation safe because both attempts of a
            # partition deliver the IDENTICAL sum under the same key and
            # the drain keeps one
            # (same scheme as the sampled call events). The old shape paid
            # a second driver-blocking job per chunk (an aggregate over a
            # persisted responses frame) — ~0.2 s/chunk of fixed cost at
            # 1000 chunks (tools/chunk_overhead.py). pyspark's Observation
            # API is the obvious alternative and is BANNED here: creating
            # one instantiates the session's lazy ObservationManager,
            # which later Spark ML ScalaUDF closures capture and fail to
            # serialize (measured on 4.1.2 — one Observation broke every
            # subsequent ML transform on the shared session).
            n_chunk_rows = int(min(chunk_size, n_rows - cid * chunk_size))
            # batched chunks come back per-row from the invoke worker that
            # made the calls (it splits each answer), so the chunk's plan
            # has one Python stage; the split is 1:N row-preserving and the
            # durable write keeps _row_id + response columns only, so no
            # base ⋈ responses join ever happens in chunked mode
            responses = pipeline._invoke(
                spark.read.schema(spill_schema).parquet(f"{spill}/_chunk={cid}"),
                per_row=batch_size > 1,
            )
            # commit this chunk's responses durably BEFORE touching the next
            write_responses(responses, ckpt, sid)
            cost = _drain_cost(pipeline._cost_acc)
            # memo write-back per committed chunk: later chunks of THIS run
            # then hit the memo for any prompt already answered (the memo is
            # re-read per chunk), and a crash loses at most one chunk's memo
            pipeline.flush_memo()
            spent += cost
            if ledger is not None:
                ledger.add(cost)
            if claims is not None:
                # durable responses + ledger line are on disk: mark the
                # claim committed so it can never be reported as a hole
                # or stolen (a death BETWEEN write_responses and here
                # costs one re-invoked chunk on steal — the cache read
                # de-dups by _row_id, so never duplicate data)
                claims.commit(cid)
            result = ChunkResult(cid, n_chunk_rows, cost, spent)
            summary.chunks.append(result)
            summary.total_rows += n_chunk_rows
            summary.total_cost = spent
            # O8: driver-side counter memento per committed chunk
            state.save(RunMemento(
                session_id=sid,
                chunks_committed=len(summary.chunks),
                rows_processed=summary.resumed_rows + summary.total_rows,
                cumulative_cost=str(spent),
            ))
            # executor-side sampled per-call events: drain per committed
            # chunk so observers see them as the run progresses, not only
            # at the end (observability.drain_call_events)
            if getattr(pipeline, "_call_events", None) is not None:
                from ondine_spark.observability import drain_call_events

                drain_call_events(pipeline._call_events, dispatcher, sid)
            dispatcher.emit(
                "chunk_committed", run_id=sid, chunk_id=cid,
                rows=n_chunk_rows, cumulative_cost=str(spent),
                chunks_done=len(summary.chunks), chunks_total=int(n_chunks),
            )
            yield result
    finally:
        # the spill is a run-scoped scratch dir: delete it whether the run
        # completed or crashed (a resume re-derives the remaining rows from
        # the source ⋈ cache anti-join and re-spills). Best-effort — a
        # failed delete costs disk, never correctness.
        try:
            jvm = spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(spill)
            fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
            fs.delete(jpath, True)
        except Exception:  # pragma: no cover - cleanup only
            pass
    summary.total_cost = spent
    state.cleanup()  # success: the response cache alone is the record


def chunked_result_frame(pipeline: Pipeline, checkpoint_dir: str, session_id: str) -> DataFrame:
    """The final result of an ``execute_chunked`` run, from the durable
    cache alone: the request step's rows (retrieval context and
    ``after_prompt`` stage columns, ``prompt`` dropped) ⋈ cached responses
    → :meth:`Pipeline.assemble` (parse, ``after_parse`` stages,
    verification) → :func:`public_frame`. Same columns and rows as
    ``execute().data``; never calls the LLM."""
    cached = read_cache(pipeline.spark, checkpoint_dir, session_id)
    if cached is None:
        raise ValueError("no cached responses for session")
    df = pipeline._with_prompt(
        pipeline._with_context(pipeline.input_frame())
    ).drop("prompt")
    return public_frame(
        pipeline.assemble(df.join(cached, on=ROW_ID, how="left"))
    )


def run_file_stream(
    pipeline: Pipeline,
    input_path: str,
    input_format: str,
    output_path: str,
    checkpoint_location: str,
    schema=None,
    max_files_per_trigger: int = 1,
    output_format: str = "parquet",
    await_termination: bool = True,
    timeout_s: float | None = None,
):
    """Structured Streaming: watch ``input_path`` for new files, run the
    enrichment plan per micro-batch, append its public rows
    (:func:`public_frame`) to ``output_path``. Backpressure via
    maxFilesPerTrigger (the reference's max_pending_chunks analog);
    exactly-once via checkpointLocation."""
    spark = pipeline.spark
    spec = pipeline.spec
    reader = spark.readStream.format(input_format).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if schema is not None:
        reader = reader.schema(schema)
    if input_format == "csv":
        reader = reader.option("header", "true")
    stream = reader.load(input_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        from ondine_spark.sources.readers import with_row_id

        keyed = with_row_id(batch_df, spec.dataset.id_column)
        out = public_frame(pipeline.result_frame(keyed))
        out.write.mode("append").format(output_format).save(output_path)

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_location)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination(timeout_s)
    return query
