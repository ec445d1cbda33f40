"""Pipeline: compiles a PipelineSpec into a lazy DataFrame plan.

The reference hand-orders an imperative stage list
(reference: ondine/api/pipeline.py:626-927). Here the spec compiles to ONE
declarative DataFrame chain and Catalyst owns physical planning — column
pruning, filter pushdown into the scan, and whole-stage codegen around the
two Python hops (LLM invoke, which also splits mega-batch answers into
rows; JSON parse). Stage order preserved:

  load → preprocess? → context? → resume-filter? → prompt → after_prompt? →
  [aggregate → invoke + split | invoke] → parse → after_parse? →
  verify? → write?

Unbatched runs never join: output columns are computed in place on the
input frame. Batched runs join the disaggregated responses back on
``_row_id`` (the result side is the same cardinality, hash join on a
compact key).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ondine_spark.core.specs import (
    ErrorPolicy,
    MergeStrategy,
    PipelineSpec,
    ResponseFormat,
)
from ondine_spark.functions.parsing import apply_parser
from ondine_spark.functions.preprocessing import preprocess_udf
from ondine_spark.functions.templates import prompt_column
from ondine_spark.llm.invoke import invoke_llm
from ondine_spark.operators.batching import (
    BATCH_ID,
    aggregate_batches,
    disaggregate_batches,
)
from ondine_spark.operators.merge import merge_results, patch_retried_rows
from ondine_spark.operators.quality import (
    QualityReport,
    RunStats,
    assert_some_output,
    failed_rows,
    run_stats,
    run_stats_and_quality,
)
from ondine_spark.sources.cache import RESPONSE_META
from ondine_spark.sources.readers import ROW_ID, infer_format, load_dataset


@dataclass
class ExecutionResult:
    """Result facade (reference shape: ondine/core/models.py:143-230)."""

    data: DataFrame
    stats: RunStats
    quality: QualityReport
    api_calls: int | None = None
    errors: list = field(default_factory=list)

    def to_pandas(self):
        return self.data.toPandas()


class Pipeline:
    def __init__(self, spec: PipelineSpec, spark: SparkSession | None = None):
        self.spec = spec
        self.spark = spark or SparkSession.getActiveSession() or _default_session()
        self._call_counter = None
        self._call_events = None  # sampled per-call event accumulator
        # per-(epoch, partition) Decimal cost sums from the invoke stage —
        # lets the chunked runner account cost in the SAME action as the
        # durable write (one job per chunk). NOTE: pyspark's Observation
        # would be the natural tool, but instantiating it poisons the
        # session: the lazy ObservationManager it creates is captured by
        # later Spark ML ScalaUDF closures and is not serializable
        # (measured on 4.1.2 — any Observation use breaks every subsequent
        # ML transform on the session).
        self._cost_acc = None
        self._persisted: list[DataFrame] = []
        # prompt Column cache keyed by the input frame's column tuple: the
        # expression tree is immutable, and rebuilding it is ~100 py4j
        # round-trips per plan build (execute, the retry pass, the
        # batch-size check and result assembly render the same shape)
        self._prompt_cols: dict[tuple, object] = {}
        # (invoked frame still carrying _memo_key, memo path) pairs awaiting
        # write-back — flushed by execute()/the chunked runner AFTER the
        # run's results are materialized (see flush_memo)
        self._memo_pending: list[tuple[DataFrame, str]] = []

    # ---------------------------------------------------------------- plan

    def input_frame(self) -> DataFrame:
        df = load_dataset(self.spark, self.spec.dataset)
        if self.spec.processing.preprocess:
            clean = preprocess_udf(self.spec.processing.preprocess_max_length)
            for c in self.spec.dataset.input_columns:
                df = df.withColumn(c, clean(F.col(c).cast("string")))
        return self._apply_stages(df, "after_load")

    def response_frame(
        self, df: DataFrame | None = None, resume: bool = True
    ) -> DataFrame:
        """Input rows → rows + response columns (pre-parse)."""
        spec = self.spec
        if df is None:
            df = self.input_frame()
        # context before the resume split: replayed rows carry it too
        df = self._with_context(df)
        if resume and spec.processing.session_id and spec.processing.checkpoint_dir:
            from ondine_spark.sources.cache import resume_filter

            df, cached = resume_filter(
                df, spec.processing.checkpoint_dir, spec.processing.session_id
            )
            self._cached_responses = cached
        else:
            self._cached_responses = None

        self._ensure_accumulators()
        if spec.prompt.batch_size > 1:
            # The frame is consumed three times in this branch: the
            # global-index count pass, the batch-assembly pass, and the
            # row join below. Persist it ONCE here (the count pass
            # materializes the cache) so the source is scanned a single
            # time per run — at 100 TB the re-scan was the biggest
            # avoidable cost in the batched spine. Released in execute();
            # lazy consumers fall back to Spark's LRU eviction.
            #
            # Without after_prompt stages the persist happens BEFORE the
            # prompt projection: the rendered prompt is consumed exactly
            # once (batch assembly), so rendering it on top of the cache
            # costs one projection that the count pass prunes away
            # entirely, while keeping the prompt strings OUT of the cached
            # blocks — measured ~0.25 s (~40%) of the cache-materialize
            # cost at 100K rows. A stage may add columns the row join
            # keeps, so with stages the request step runs below the cache.
            # The cache pins partition layout and intra-partition order,
            # so the global index computed above it is stable across the
            # count and assembly passes.
            from pyspark import StorageLevel

            staged = any(
                pos == "after_prompt" for pos, _ in spec.processing.stages
            )
            if staged:
                df = self._with_prompt(df)
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            self._persisted.append(df)
            batches = aggregate_batches(
                df if staged else self._with_prompt(df),
                spec.prompt.batch_size, persist=False,
            )
            responses = self._invoke(batches, per_row=True)
            out = df.drop("prompt").join(responses, on=ROW_ID, how="left")
        else:
            # The per-row invoke inherits the INPUT's partitioning — a
            # single-file source (or a broadcast-join output) feeds the
            # whole Python invocation stage to ONE worker while every
            # other core idles (measured 6.3 s vs 1.4 s for 100K mock
            # calls at local[32]). One round-robin shuffle of the prompt
            # rows spreads the invoke over the cores. With retrieval the
            # rows come from an adaptive join plan, whose partition count
            # is known only once its stages have run, so spread_small
            # repartitions it without reading the count.
            from ondine_spark.core.partitioning import spread_small

            out = self._invoke(spread_small(self._with_prompt(df)))
            out = out.drop("prompt")
        if self._cached_responses is not None:
            out = out.unionByName(self._cached_responses, allowMissingColumns=True)
        return out

    def _with_context(self, df: DataFrame) -> DataFrame:
        """Attach the retrieval context columns (``_kb_context``/
        ``_kb_count``, ``_evidence_*``) to input rows.

        R3/R4: per-row retrieval BEFORE prompt formatting (reference stage
        order: ondine/api/pipeline.py:694-758) — both are one
        inverted-index join over the whole frame, not per-row store calls."""
        ctx = self.spec.context
        if ctx.kb_path and ctx.kb_query_columns:
            from ondine_spark.knowledge.retrieval import attach_context
            from ondine_spark.knowledge.store import KnowledgeStore

            df = attach_context(
                df, KnowledgeStore(self.spark, ctx.kb_path),
                ctx.kb_query_columns, ctx.kb_top_k, ctx.kb_min_score,
                context_col="_kb_context", count_col="_kb_count",
                method=getattr(ctx, "kb_method", "auto"),
            )
        if ctx.evidence_path and ctx.evidence_query_columns:
            from ondine_spark.context.store import ClaimStore

            df = ClaimStore(self.spark, ctx.evidence_path).attach_evidence(
                df, ctx.evidence_query_columns,
                ctx.evidence_top_k, ctx.evidence_min_score,
            )
        return df

    def _prompt_col(self, df: DataFrame) -> Column:
        """The prompt Column for ``df`` (context attached): F4, non-empty
        retrieved context is prepended. The parsed template is cached per
        input-column set (py4j latency, paid per plan build)."""
        spec = self.spec
        pkey = tuple(df.columns)
        p = self._prompt_cols.get(pkey)
        if p is None:
            p = prompt_column(
                spec.prompt.template,
                spec.prompt.use_jinja2,
                spec.prompt.few_shot_examples,
                available_columns=df.columns,
            )
            self._prompt_cols[pkey] = p
        for c in ("_kb_context", "_evidence_context"):
            if c in df.columns:
                p = F.when(
                    (F.col(c).isNotNull()) & (F.col(c) != ""),
                    F.concat(F.lit("Context:\n"), F.col(c), F.lit("\n\n"), p),
                ).otherwise(p)
        return p

    def _with_prompt(self, df: DataFrame) -> DataFrame:
        """The request step: context-attached rows → ``prompt`` column →
        ``after_prompt`` stages. The only place those stages run, so every
        entry point (``execute()``, the chunked runner, provider batch)
        sends the same prompts and carries the same stage columns."""
        return self._apply_stages(
            df.withColumn("prompt", self._prompt_col(df)), "after_prompt"
        )

    def _check_batch_size(self, rows: DataFrame) -> None:
        """§4 pre-spend context-window check of the mega-batch size on a
        sample of ``rows`` rendered as the LLM sees it, context and
        ``after_prompt`` stages included. Batched entry points call it
        before any LLM call or upload."""
        from ondine_spark.llm.context_limits import validate_batch_size

        if "prompt" not in rows.columns:
            rows = self._with_prompt(rows)
        validate_batch_size(
            rows, self.spec.prompt.batch_size, self.spec.llm.model
        )

    def _ensure_accumulators(self) -> None:
        """Create the call/cost/event accumulators once per Pipeline, not
        per plan build: the auto-retry pass builds a second plan, and
        replacing an accumulator would zero the count of the main pass —
        api_calls is cumulative for the pipeline object."""
        if self._call_counter is None:
            self._call_counter = self.spark.sparkContext.accumulator(0)
        if self._cost_acc is None:
            from ondine_spark.observability import make_call_event_accumulator

            self._cost_acc = make_call_event_accumulator(
                self.spark.sparkContext
            )
        if self._call_events is None and self.spec.processing.call_event_sample:
            from ondine_spark.observability import make_call_event_accumulator

            self._call_events = make_call_event_accumulator(
                self.spark.sparkContext
            )

    def _invoke(self, frame: DataFrame, per_row: bool = False) -> DataFrame:
        """LLM invocation with optional cross-run memoization.

        ``per_row`` — ``frame`` holds mega-batches and the caller wants
        per-row responses (:func:`disaggregate_batches`' frame). Without a
        memo the invoke worker splits each answer itself; the memo keeps
        batch-level text under the mega-prompt key, so its output is
        split after the memo join instead.

        Without a memo path this is a straight ``invoke_llm``. With one
        (with_response_memo / with_disk_cache), the to-invoke frame is
        split against the prompt-keyed memo table: hits take memoized
        responses at cost 0 and never reach the provider (the api-call
        counter only sees misses); misses are invoked, persisted (so the
        later memo write-back reads blocks, never re-invokes), and queued
        for flush_memo. Works at whichever granularity hits the provider:
        per-row prompts or mega-batched prompts."""
        spec = self.spec
        kw = dict(
            system_message=spec.prompt.system_message,
            call_counter=self._call_counter,
            call_events=self._call_events,
            cost_acc=self._cost_acc,
        )
        memo_path = spec.processing.memo_path
        if not memo_path:
            return invoke_llm(
                frame, spec.llm, spec.processing, per_row=per_row, **kw
            )
        from pyspark import StorageLevel

        from ondine_spark.llm.memo import (
            MEMO_KEY,
            memo_key_col,
            read_memo,
            split_by_memo,
        )

        keyed = frame.withColumn(
            MEMO_KEY, memo_key_col(spec.llm.model, spec.prompt.system_message)
        )
        hits, misses = split_by_memo(keyed, read_memo(self.spark, memo_path))
        # intra-run dedup: identical uncached requests are invoked ONCE and
        # fanned back out (the memo join below), so api_calls = #distinct
        # uncached prompts. Cost/tokens are charged to one row per key
        # (same attribution rule as the batch disaggregator).
        fresh = invoke_llm(
            misses.select(MEMO_KEY, "prompt").dropDuplicates([MEMO_KEY]),
            spec.llm, spec.processing, **kw,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        self._memo_pending.append((fresh, memo_path))
        from pyspark.sql import Window

        order_col = ROW_ID if ROW_ID in misses.columns else BATCH_ID
        first = F.row_number().over(
            Window.partitionBy(MEMO_KEY).orderBy(order_col)
        ) == 1
        invoked = (
            misses.join(fresh.drop("prompt"), on=MEMO_KEY)
            .withColumn("tokens_in", F.when(first, F.col("tokens_in")).otherwise(F.lit(0)))
            .withColumn("tokens_out", F.when(first, F.col("tokens_out")).otherwise(F.lit(0)))
            .withColumn(
                "cost",
                F.when(first, F.col("cost")).otherwise(
                    F.lit(None).cast("decimal(38,18)")
                ),
            )
        )
        out = invoked if hits is None else invoked.unionByName(hits)
        out = out.drop(MEMO_KEY)
        return disaggregate_batches(out) if per_row else out

    def flush_memo(self) -> None:
        """Append this run's fresh responses to the prompt-keyed memo.
        No-op unless memoization is configured. Must run AFTER the run's
        results are materialized (execute() and the chunked runner do)."""
        from ondine_spark.llm.memo import write_memo

        for frame, path in self._memo_pending:
            write_memo(frame, path)
            frame.unpersist()
        self._memo_pending.clear()

    def result_frame(
        self, df: DataFrame | None = None, resume: bool = True
    ) -> DataFrame:
        """Full plan: :meth:`response_frame` → :meth:`assemble`. The frame
        KEEPS ``RESPONSE_META`` (and ``_batch_id`` when batched) — run
        stats, quality and the budget check read them; ``execute().data``
        is this frame through :func:`public_frame`.

        ``resume=False`` bypasses the response-cache replay — required by
        the auto-retry pass, whose failed rows are already IN the cache
        (written by the main pass); with resume on, the retry plan would
        replay those failed responses instead of re-invoking."""
        return self.assemble(self.response_frame(df, resume=resume))

    def assemble(self, responses: DataFrame) -> DataFrame:
        """The one result assembly (``result_frame``, ``chunked_result_frame``
        over the durable cache, provider-batch ``collect``): rows with their
        context and responses → parse → ``after_parse`` stages → verify.
        Never invokes the LLM.

        Output contract: every public output — ``execute().data``,
        ``chunked_result_frame``, ``run_file_stream``'s rows,
        ``PipelineComposer.execute``, ``cli collect`` — is
        :func:`public_frame` of this frame, so one spec gives the same
        columns, in order, and rows at every entry point: ``_row_id``, the
        input columns, the context columns (``_kb_*``/``_evidence_*``), the
        output columns, ``after_parse`` stage columns, then verification
        columns (``_grounding_score``, ``_grounded``, ...). ``RESPONSE_META``
        and ``_batch_id`` stay here for stats and are dropped there."""
        parsed = self.parse_responses(responses)
        return self._verify(self._apply_stages(parsed, "after_parse"))

    def parse_responses(self, responses: DataFrame) -> DataFrame:
        """Parse a response frame into the output columns: the custom
        parser if one is set, else the response format's parser. Called
        only by :meth:`assemble`."""
        spec = self.spec
        if spec.prompt.custom_parser is not None:
            return spec.prompt.custom_parser(
                responses, spec.dataset.output_columns
            )
        return apply_parser(
            responses,
            spec.dataset.output_columns,
            spec.prompt.response_format.value
            if isinstance(spec.prompt.response_format, ResponseFormat)
            else spec.prompt.response_format,
            spec.prompt.regex_patterns,
            output_schema=spec.prompt.output_schema,
        )

    def _apply_stages(self, df: DataFrame, position: str) -> DataFrame:
        """U1: user stages (DataFrame -> DataFrame) at named positions
        (reference: @stage registry + with_stage(position=...),
        ondine/stages/stage_registry.py, pipeline_builder.py:1101-1190)."""
        for pos, fn in self.spec.processing.stages:
            if pos == position:
                df = fn(df)
        return df

    def _verify(self, df: DataFrame) -> DataFrame:
        """V1/V3/V4 lazy verification transforms after parse (reference:
        ondine/api/pipeline.py:873-893,929-1107). Claim/edge persistence
        (V2) happens in execute() — it is a write, not a transform."""
        ctx = self.spec.context
        out_cols = self.spec.dataset.output_columns
        if ctx.grounding_enabled:
            from ondine_spark.context.grounding import grounding_scores

            source = ctx.grounding_source_column or (
                "_kb_context" if "_kb_context" in df.columns
                else "_evidence_context"
            )
            if source in df.columns:
                df = df.withColumn(
                    "_out_text", F.concat_ws(" ", *[F.col(c) for c in out_cols])
                )
                df = grounding_scores(
                    df, "_out_text", source,
                    threshold=ctx.grounding_threshold,
                    on_fail="flag",
                )
                if ctx.grounding_on_fail == "discard":
                    for c in out_cols:
                        df = df.withColumn(
                            c, F.when(F.col("_grounded"), F.col(c))
                        )
                df = df.drop("_out_text")
        if ctx.contradiction_key_columns and ctx.contradiction_value_columns:
            from ondine_spark.context.contradiction import detect_contradictions

            df = detect_contradictions(
                df, ctx.contradiction_key_columns,
                ctx.contradiction_value_columns,
                ctx.contradiction_tolerance,
            )
        if ctx.confidence_enabled:
            from ondine_spark.context.confidence import confidence_scores

            support = (
                "_evidence_count" if "_evidence_count" in df.columns
                else "_kb_count"
            )
            df = confidence_scores(
                df, support_col=support, mode=ctx.confidence_mode
            )
        return df

    # ------------------------------------------------------------- execute

    def execute(self) -> ExecutionResult:
        spec = self.spec
        spec.validate()
        from ondine_spark.observability import EventDispatcher

        dispatcher = EventDispatcher(spec.processing.observers)
        dispatcher.emit(
            "pipeline_start", run_id=spec.processing.session_id,
            model=spec.llm.model, batch_size=spec.prompt.batch_size,
        )
        try:
            result = self._execute_inner(spec)
        except Exception as e:
            dispatcher.emit(
                "error", run_id=spec.processing.session_id,
                error=f"{type(e).__name__}: {e}"[:500],
            )
            raise
        if self._call_events is not None:
            from ondine_spark.observability import drain_call_events

            drain_call_events(
                self._call_events, dispatcher, spec.processing.session_id
            )
        dispatcher.emit(
            "pipeline_end", run_id=spec.processing.session_id,
            rows=result.stats.rows,
            valid_rows=result.quality.valid_rows,
            cost=str(result.stats.total_cost),
            api_calls=result.api_calls,
        )
        return result

    def _execute_inner(self, spec) -> ExecutionResult:
        # the accumulator is shared across plan builds (the retry pass must
        # not zero the main pass's count), so an earlier estimate_cost() on
        # the same pipeline would otherwise leak its sample calls into this
        # run's api_calls — reset at run start, on the driver
        if self._call_counter is not None:
            self._call_counter.value = 0
        # The result feeds several actions (durable cache write, quality/cost
        # aggregates, the user's own consumption) — without pinning it each
        # action would re-invoke the LLM. Built BEFORE the batch-size
        # validation so the validation sample can read the spine's
        # persisted base (fully cached by the global-index count pass that
        # runs during construction) instead of rebuilding the source
        # lineage — a measured ~0.3-0.5 s separate job at 100K rows.
        # LLM invocation stays lazy through construction (the invoke is a
        # mapInPandas transformation), so the pre-spend ordering holds:
        # validation still runs before any action that could call the LLM.
        result = self.result_frame()
        if spec.prompt.batch_size > 1:
            # the batched spine persisted its context-attached base
            self._check_batch_size(self._persisted[-1])
        if spec.processing.session_id and spec.processing.checkpoint_dir:
            # localCheckpoint, not persist: with resume active the lineage
            # reads the cache parquet dir, and write_responses appends to that
            # same dir — the post-write refreshByPath would invalidate a
            # persisted plan and re-invoke the LLM on the next action.
            result = result.localCheckpoint(eager=True)
            from ondine_spark.sources.cache import write_responses

            write_responses(
                result, spec.processing.checkpoint_dir, spec.processing.session_id
            )
        else:
            result = result.persist()

        out_cols = spec.dataset.output_columns
        ctx = spec.context
        if ctx.store_claims and ctx.evidence_path:
            from ondine_spark.context.store import ClaimStore

            cs = ClaimStore(self.spark, ctx.evidence_path)
            cs.store_claims(
                result.withColumn(
                    "_out_text",
                    F.concat_ws(" ", *[F.col(c) for c in out_cols]),
                ),
                spec.dataset.input_columns,
                "_out_text",
                session_id=spec.processing.session_id or "default",
            )
            if ctx.contradiction_key_columns and ctx.contradiction_value_columns:
                from ondine_spark.context.contradiction import contradiction_edges

                cs.store_contradiction_edges(
                    contradiction_edges(
                        result, ROW_ID,
                        ctx.contradiction_key_columns,
                        ctx.contradiction_value_columns,
                        ctx.contradiction_tolerance,
                    )
                )
        # one aggregation job yields stats + quality + the failed count;
        # auto-retry (and its second pass) runs only when failures exist.
        # The aggregate runs BEFORE the meta drop so stats see the real
        # tokens_in/tokens_out (dropping first zeroed them, which also
        # made assert_some_output's tokens_out==0 arm always true).
        stats, report, n_failed = run_stats_and_quality(result, out_cols)
        if spec.processing.auto_retry_failed and n_failed:
            result = self._auto_retry(result, out_cols)
            stats, report, _ = run_stats_and_quality(result, out_cols)
        assert_some_output(report, stats)
        # result is materialized (checkpointed or persisted + aggregated):
        # the prompt-frame cache pinned in response_frame is no longer
        # reachable from any pending action — release the blocks
        for _df in self._persisted:
            _df.unpersist()
        self._persisted.clear()
        self.flush_memo()
        if spec.processing.max_budget is not None and stats.total_cost > spec.processing.max_budget:
            # batch-mode budget is enforced pre-run via estimate and
            # post-run here; hard mid-run stop happens at micro-batch
            # boundaries in the streaming runner (SURVEY.md §4 hard-part 2).
            self.errors = [f"budget exceeded: {stats.total_cost}"]
        final = public_frame(result)

        if spec.output and spec.output.path:
            write_output(final.drop(ROW_ID), spec.output)
        return ExecutionResult(
            data=final,
            stats=stats,
            quality=report,
            api_calls=self._call_counter.value if self._call_counter else None,
        )

    def _auto_retry(self, result: DataFrame, out_cols: list[str]) -> DataFrame:
        """O9: re-run the plan for rows whose every output cell failed
        (≤ max_auto_retries rounds; reference: ondine/api/pipeline.py:1741-1879)."""
        proc = self.spec.processing
        # retry from the input columns only: the plan re-derives the rest
        inputs = self.input_frame().columns
        for _ in range(proc.max_auto_retries):
            failed_inputs = failed_rows(result, out_cols).select(*inputs)
            if not failed_inputs.take(1):
                break
            # resume=False: the failed rows are already in the response
            # cache (the main pass wrote them) — with resume on, the retry
            # plan would replay those cached failures instead of
            # re-invoking, making auto-retry a no-op that burns all
            # max_auto_retries rounds.
            # Eager localCheckpoint: without it the retry sub-plan is lazy
            # and every later action (the post-retry aggregate, the user's
            # own consumption of .data) re-invokes the LLM for the failed
            # rows — repeated paid calls on a real provider. The retried
            # set is small (failed rows only); its blocks back the
            # returned frame, so they share the result pin's lifecycle
            # and cannot be freed here.
            retried = self.result_frame(
                failed_inputs, resume=False
            ).localCheckpoint(eager=True)
            if proc.session_id and proc.checkpoint_dir:
                # write the fixes back so a RESUMED run replays the
                # retried responses, not the failures (read_cache prefers
                # error-free rows per _row_id)
                from ondine_spark.sources.cache import write_responses

                write_responses(retried, proc.checkpoint_dir, proc.session_id)
            # patch every derived column: meta (the retry's spend must reach
            # total_cost and max_budget), stage and verification columns
            patch_cols = [c for c in retried.columns if c not in inputs]
            result = patch_retried_rows(
                result, retried.select(ROW_ID, *patch_cols), patch_cols
            )
        return result

    def health_check(self) -> dict:
        """Reference: ondine/api/health_check.py — cheap preflight: spark
        alive, source readable, client constructible, checkpoint writable,
        spec valid. Never raises; each check reports ok/error."""
        checks: dict = {}

        def run(name, fn):
            try:
                fn()
                checks[name] = {"ok": True}
            except Exception as e:
                checks[name] = {"ok": False,
                                "error": f"{type(e).__name__}: {e}"[:200]}

        run("spec", self.spec.validate)
        run("spark", lambda: self.spark.sparkContext.parallelize([1]).count())
        run("source", lambda: self.input_frame().limit(1).collect())
        from ondine_spark.llm.providers import client_factory_for

        run("client", lambda: client_factory_for(self.spec.llm)())
        ckpt = self.spec.processing.checkpoint_dir
        if ckpt:
            def check_ckpt():
                import os
                import uuid

                os.makedirs(ckpt, exist_ok=True)
                probe = os.path.join(ckpt, f".hc-{uuid.uuid4().hex[:8]}")
                with open(probe, "w") as f:
                    f.write("ok")
                os.remove(probe)

            run("checkpoint_dir", check_ckpt)
        checks["ok"] = all(v["ok"] for v in checks.values())
        return checks

    def estimate_cost(self, sample: int = 10) -> dict:
        """O12: sample → invoke → scale ×(N/sample)
        (reference: ondine/api/pipeline.py:224-269)."""
        df = self.input_frame().persist()
        n = df.count()
        head = df.limit(sample)
        sampled = self.response_frame(head)
        s = run_stats(sampled)
        k = max(1, s.rows)
        df.unpersist()
        return {
            "rows": n,
            "estimated_cost": s.total_cost / k * n,
            "estimated_tokens_in": s.tokens_in * n // k,
            "estimated_tokens_out": s.tokens_out * n // k,
            "confidence": "sample-based",
        }


def public_frame(assembled: DataFrame) -> DataFrame:
    """An assembled result (:meth:`Pipeline.assemble`) as every public
    output returns it: ``RESPONSE_META`` and ``_batch_id`` dropped,
    ``_row_id`` first — the output contract documented there."""
    internal = {ROW_ID, BATCH_ID, *RESPONSE_META}
    return assembled.select(
        ROW_ID, *[f"`{c}`" for c in assembled.columns if c not in internal]
    )


def write_output(df: DataFrame, output) -> None:
    """S8 result sink: format by suffix; Spark's commit protocol already
    gives atomic visibility (reference flag: specifications.py:533-541)."""
    fmt = infer_format(output.path, output.format)
    writer = df.write.mode(output.mode)
    if fmt == "csv":
        writer.option("header", "true").csv(output.path)
    elif fmt == "parquet":
        writer.parquet(output.path)
    elif fmt == "json":
        writer.json(output.path)
    elif fmt == "orc":
        writer.orc(output.path)
    elif fmt == "excel":
        _write_excel(df, output)
    else:
        raise ValueError(f"unsupported output format: {fmt}")


def _write_excel(df: DataFrame, output) -> None:
    """Excel sink: a driver-side single .xlsx file, like the reference's
    ``df.to_excel`` (ondine/cli/main.py:105; pipeline_builder output
    format "excel"). The OOXML 2^20-row sheet cap bounds driver memory;
    anything bigger belongs in parquet/csv. openpyxl is used when
    installed, the stdlib OOXML writer (sources/xlsx.write_xlsx)
    otherwise."""
    import os

    from ondine_spark.sources.xlsx import XLSX_MAX_DATA_ROWS, write_xlsx

    if output.mode in ("error", "errorifexists") and os.path.exists(output.path):
        raise FileExistsError(f"{output.path} exists and mode={output.mode}")
    if output.mode == "append":
        raise ValueError(
            "append is not supported for the excel sink (single-file "
            "format) — use overwrite, or a csv/parquet sink"
        )
    pdf = df.limit(XLSX_MAX_DATA_ROWS + 1).toPandas()
    if len(pdf) > XLSX_MAX_DATA_ROWS:
        raise ValueError(
            f"result exceeds the xlsx sheet cap ({XLSX_MAX_DATA_ROWS} "
            "rows) — write parquet/csv for results this large"
        )
    try:
        pdf.to_excel(output.path, index=False)  # needs openpyxl
    except ImportError:
        import pandas as pd

        cells = pdf.astype(object).where(pd.notnull(pdf), None)
        write_xlsx(
            output.path, [str(c) for c in pdf.columns],
            cells.values.tolist(),
        )


def _default_session() -> SparkSession:
    import os

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ondine_spark")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
