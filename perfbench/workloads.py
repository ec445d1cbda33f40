"""The benchmark's workloads.

Each workload generates its inputs from the seed, runs one closed-loop
iteration through public entry points only, and verifies the outputs
against values computed independently from the generator. ``traced``
runs the same iteration under a span, then repeats the work as a chain
of single-module calls with each intermediate materialized, so every
layer gets a span of its own.

Sizes are scaled so that one iteration takes a few seconds on a 4-core
host (``nominal_s``); a run repeats a fixed number of iterations and
reports medians.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from decimal import Decimal

import pandas as pd

import gen
from tracing import materialize

TEMPLATE = "Review: {review}"
SID = "bench"


def _rm(path):
    shutil.rmtree(path, ignore_errors=True)


def _count_lines(path):
    if not os.path.exists(path):
        return 0
    with open(path) as fh:
        return sum(1 for _ in fh)


def check_outputs(got: pd.DataFrame, expected: pd.DataFrame,
                  cols: list[str]) -> tuple[int, list[str]]:
    """(failed rows, errors): every expected id must come back once with
    exactly the expected output values; a row with a null output counts
    as failed."""
    errors = []
    if got["id"].duplicated().any():
        errors.append(f"{int(got['id'].duplicated().sum())} duplicated ids")
    merged = expected.merge(got.drop_duplicates("id"), on="id", how="left",
                            suffixes=("", "_got"))
    failed = int(merged[[f"{c}_got" for c in cols]].isna().any(axis=1).sum())
    if failed:
        errors.append(f"{failed} rows without output")
    for c in cols:
        bad = merged[c] != merged[f"{c}_got"]
        if bad.any():
            row = merged[bad].iloc[0]
            errors.append(f"{int(bad.sum())} rows with wrong {c}, e.g. "
                          f"{row['id']}: {row[f'{c}_got']!r} != {row[c]!r}")
    return failed, errors


class Workload:
    """One workload: inputs at ``sizes`` for timing, ``warm_sizes`` for
    the set-up pass, both generated from the seed."""

    sizes: dict = {}
    warm_sizes: dict = {}
    nominal_s = 1.0  # iteration wall at ``sizes`` on a 4-core host

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.inputs = None
        self._warm_inputs = None

    def warm(self, spark):
        if self._warm_inputs is None:
            self._warm_inputs = self.make(os.path.join(self.work, "warm"),
                                          **self.warm_sizes)
        it = self.run(spark, self._warm_inputs, "warm")
        self.cleanup(spark)
        if it["errors"]:
            raise RuntimeError(f"warm-up pass failed: {it['errors']}")

    def prepare(self, spark):
        self.inputs = self.make(os.path.join(self.work, "in"), **self.sizes)

    def iteration(self, spark, tag: str) -> dict:
        return self.run(spark, self.inputs, tag)

    def cleanup(self, spark):
        spark.catalog.clearCache()
        _rm(os.path.join(self.work, "iter"))

    def path(self, tag: str, name: str) -> str:
        return os.path.join(self.work, "iter", tag, name)


# ---------------------------------------------------------------- enrich

class EnrichBatched(Workload):
    """Reviews → two-field JSON labels through Pipeline.execute(), 25 rows
    per call, zero-latency mock: every second is engine overhead."""

    sizes = {"n": 40_000}
    warm_sizes = {"n": 500}
    nominal_s = 2.0
    out_cols = ["label", "n_words"]

    def make(self, d, n):
        df = gen.reviews(self.seed, n)
        path = os.path.join(d, "reviews")
        gen.write_parquet(df, path, parts=4)
        expected = pd.DataFrame({
            "id": df["id"],
            "label": gen.expected_labels(df["review"]),
            # the mock counts the words of the rendered row prompt
            "n_words": (df["review"].str.split().str.len() + 1).astype(str),
        })
        return {"path": path, "n": n, "expected": expected}

    def builder(self, spark, inp, **client):
        from ondine_spark import PipelineBuilder, mock_client_factory

        return (
            PipelineBuilder(spark)
            .from_parquet(inp["path"], ["review"], id_column="id")
            .with_prompt(TEMPLATE, self.out_cols)
            .with_batch_size(25)
            .with_parser("json")
            .with_custom_llm_client(mock_client_factory(
                json_fields=tuple(self.out_cols), **client))
            .with_concurrency(16)
        )

    def run(self, spark, inp, tag):
        n = inp["n"]
        t0 = time.monotonic()
        res = self.builder(spark, inp).build().execute()
        got = res.data.select("id", *self.out_cols).toPandas()
        wall = time.monotonic() - t0
        failed, errors = check_outputs(got, inp["expected"], self.out_cols)
        if res.api_calls != math.ceil(n / 25):
            errors.append(f"api_calls {res.api_calls} != ceil({n}/25)")
        return {"rows": n, "wall": wall, "commits": [wall], "attempted": n,
                "failed": failed, "errors": errors,
                "api_calls": res.api_calls}

    def traced(self, spark, tr):
        from ondine_spark.functions.templates import prompt_column
        from ondine_spark.operators.batching import (
            aggregate_batches,
            disaggregate_batches,
        )
        from ondine_spark.operators.quality import run_stats_and_quality
        from ondine_spark.sources.readers import ROW_ID, load_dataset

        inp = self.inputs
        it, out = _traced_iteration(self, spark, tr)
        spec = self.builder(spark, inp).build().spec
        with tr.span("sources.scan"):
            base, _ = materialize(load_dataset(spark, spec.dataset))
        with tr.span("functions.render"):
            prompts, _ = materialize(base.withColumn("prompt", prompt_column(
                spec.prompt.template, available_columns=base.columns)))
        with tr.span("batching.assemble"):
            batches, out["batching.batches"] = materialize(
                aggregate_batches(prompts, spec.prompt.batch_size,
                                  persist=False))
        invoked = _traced_invoke(spark, tr, batches, spec, out)
        with tr.span("batching.disaggregate"):
            responses, _ = materialize(disaggregate_batches(invoked))
        with tr.span("merge.join"):
            joined, _ = materialize(base.join(responses, on=ROW_ID, how="left"))
        parsed = _traced_parse(tr, joined, spec, out)
        with tr.span("quality.stats"):
            run_stats_and_quality(parsed, self.out_cols)
        out["batching.shuffle_bytes"] = sum(
            s["shuffle_bytes"] for s in tr.find("batching.assemble"))
        for name in ("batching.assemble", "batching.disaggregate",
                     "merge.join", "quality.stats", "sources.scan",
                     "functions.render"):
            out[f"{name}_s"] = tr.wall(name)
        self._traced_chunked(spark, tr, out, it)
        return out, it

    def _traced_chunked(self, spark, tr, out, it):
        """Chunked execution's layers, on a slice of the same reviews:
        per-chunk commit and spill times from a crash + resume run, and
        the cache's read (resume) and write (commit) paths."""
        from ondine_spark.sources.cache import (
            read_cache,
            resume_filter,
            write_responses,
        )
        from ondine_spark.sources.readers import load_dataset

        chunk = 500
        inp = self.make(os.path.join(self.work, "chunked"), n=10_000)

        def at_crash(p, ckpt):
            with tr.span("sources.resume_read"):
                todo, replay = resume_filter(
                    load_dataset(spark, p.spec.dataset), ckpt, SID)
                materialize(todo)
                materialize(replay)
            # one chunk's durable commit, rewritten to a scratch cache
            frame, _ = materialize(read_cache(spark, ckpt, SID).limit(chunk))
            with tr.span("sources.cache_write"):
                write_responses(frame, self.path("chunked", "scratch"), SID)

        ch = chunked_crash_resume(self, spark, inp, "chunked", chunk, at_crash)
        it["errors"] += ch["errors"]
        it["attempted"] += ch["attempted"]
        it["failed"] += ch["failed"]
        firsts = [ch["commits"][i] for i in ch["phase_first"]]
        rest = [c for i, c in enumerate(ch["commits"])
                if i not in ch["phase_first"]]
        out["streaming.chunk_s"] = statistics.median(rest)
        out["streaming.spill_s"] = statistics.median(firsts) - out[
            "streaming.chunk_s"]
        out["sources.resume_read_s"] = tr.wall("sources.resume_read")
        out["sources.cache_write_s"] = tr.wall("sources.cache_write")


def _traced_iteration(wl, spark, tr):
    """The public-API iteration under one span: job count and driver
    time (wall minus the union of job intervals)."""
    t0 = time.monotonic()
    with tr.span("plans.execute") as s:
        it = wl.run(spark, wl.inputs, "traced")
        # a streaming query runs its jobs under a job group of its own
        s["groups"] += it.get("job_groups", [])
    it["wall"] = time.monotonic() - t0  # harvest included: the trace's cost
    wl.cleanup(spark)
    return it, {"plans.jobs": s["jobs"], "plans.driver_s": s["driver_s"]}


def _traced_invoke(spark, tr, frame, spec, out):
    from pyspark.sql import functions as F

    from ondine_spark.llm.invoke import invoke_llm

    counter = spark.sparkContext.accumulator(0)
    with tr.span("llm.invoke"):
        invoked, _ = materialize(invoke_llm(
            frame, spec.llm, spec.processing,
            system_message=spec.prompt.system_message, call_counter=counter))
    invoke_s = tr.wall("llm.invoke")
    busy = invoked.agg(F.sum("latency_ms")).first()[0] / 1000.0
    slots = spark.sparkContext.defaultParallelism
    out.update({
        "llm.invoke_s": invoke_s,
        "llm.calls": counter.value,
        "llm.call_busy_s": busy,
        "llm.overlap": busy / (invoke_s * slots * spec.processing.concurrency),
        "llm.python_worker_s": tr.sql(
            "llm.invoke", "MapInPandas", "time to run Python workers"),
        "llm.arrow_bytes": tr.sql(
            "llm.invoke", "MapInPandas", "data sent to Python workers")
        + tr.sql("llm.invoke", "MapInPandas",
                 "data returned from Python workers"),
    })
    return invoked


def _traced_parse(tr, frame, spec, out):
    from pyspark.sql import functions as F

    from ondine_spark.functions.parsing import apply_parser

    cols = spec.dataset.output_columns
    with tr.span("functions.parse"):
        parsed, _ = materialize(apply_parser(
            frame, cols, spec.prompt.response_format.value,
            spec.prompt.regex_patterns))
    out["functions.parse_s"] = tr.wall("functions.parse")
    any_null = F.lit(False)
    for c in cols:
        any_null = any_null | F.col(c).isNull()
    out["functions.parse_failed_rows"] = parsed.filter(any_null).count()
    return parsed


def chunked_crash_resume(wl, spark, inp, tag, chunk, at_crash):
    """iter_chunks over ``inp`` with a durable checkpoint, abandoned after
    half the chunks (the consumer crash), then resumed to completion by a
    fresh Pipeline; ``at_crash(pipeline, ckpt)`` runs in between. Checks
    rows_lost = 0, re_invocations = 0 (mock calls counted across both
    phases) and an exact Decimal total cost."""
    from ondine_spark.sources.cache import read_cache
    from ondine_spark.streaming.runner import chunked_result_frame, iter_chunks

    n = inp["n"]
    ckpt = wl.path(tag, "ckpt")
    count_file = wl.path(tag, "calls.txt")
    os.makedirs(ckpt, exist_ok=True)
    commits, phase_first, costs = [], [], []
    last = None
    for stop_after in (math.ceil(n / chunk) // 2, None):
        p = (wl.builder(spark, inp, count_file=count_file)
             .with_checkpoint_dir(ckpt, SID).build())
        chunks = iter_chunks(p, chunk_size=chunk)
        phase_first.append(len(commits))
        t = time.monotonic()
        for k, c in enumerate(chunks):
            now = time.monotonic()
            commits.append(now - t)
            t = now
            costs.append(c.cost)
            last = c
            if stop_after is not None and k + 1 == stop_after:
                chunks.close()  # the consumer dies here
                at_crash(p, ckpt)
                break
    got = chunked_result_frame(p, ckpt, SID).select(
        "id", *wl.out_cols).toPandas()
    failed, errors = check_outputs(got, inp["expected"], wl.out_cols)
    calls = _count_lines(count_file)
    if calls != math.ceil(n / 25):
        errors.append(f"re_invocations: {calls} calls for "
                      f"{math.ceil(n / 25)} batches")
    cached = read_cache(spark, ckpt, SID).agg({"cost": "sum"}).first()[0]
    if not sum(costs, Decimal(0)) == last.cumulative_cost == Decimal(cached):
        errors.append(f"cost: chunks {sum(costs, Decimal(0))}, runner "
                      f"{last.cumulative_cost}, cache {cached}")
    return {"commits": commits, "phase_first": phase_first, "attempted": n,
            "failed": failed, "errors": errors}


# ------------------------------------------------------------------- rag

class RagRowwise(Workload):
    """Knowledge-store ingest, then per-row execute() with top-3
    retrieval, grounding, a 5 ms mock and a small transient-429 rate."""

    sizes = {"docs": 500, "rows": 200}
    warm_sizes = {"docs": 50, "rows": 20}
    nominal_s = 7.0
    # a Python worker's client raises a retryable 429 (once per prompt)
    # when its call counter sits on a multiple of this after the 5 ms
    # latency; each client serves ~250 calls, so ~3% of attempts fail
    fail_every = 199

    def make(self, d, docs, rows):
        kb = os.path.join(d, "kb_docs")
        gen.write_parquet(gen.kb_docs(self.seed, docs), kb)
        q = gen.reviews(self.seed, rows)
        path = os.path.join(d, "queries")
        gen.write_parquet(q, path)
        expected = pd.DataFrame({
            "id": q["id"], "label": gen.expected_labels(q["review"])})
        return {"kb": kb, "path": path, "n": rows, "expected": expected}

    def builder(self, spark, inp, kb_dir, count_file):
        from ondine_spark import PipelineBuilder, mock_client_factory

        return (
            PipelineBuilder(spark)
            .from_parquet(inp["path"], ["review"], id_column="id")
            .with_knowledge_base(kb_dir, ["review"], top_k=3)
            .with_prompt(TEMPLATE, ["label"])
            .with_grounding()
            .with_custom_llm_client(mock_client_factory(
                latency_s=0.005, fail_every=self.fail_every, fail_times=1,
                count_file=count_file))
        )

    def run(self, spark, inp, tag):
        from ondine_spark.knowledge.store import KnowledgeStore

        n = inp["n"]
        kb_dir = self.path(tag, "kb")
        count_file = self.path(tag, "calls.txt")
        os.makedirs(os.path.dirname(count_file), exist_ok=True)
        t0 = time.monotonic()
        KnowledgeStore(spark, kb_dir).ingest(
            spark.read.parquet(inp["kb"]), "doc_id", "text")
        res = self.builder(spark, inp, kb_dir, count_file).build().execute()
        got = res.data.select("id", "label", "_grounding_score").toPandas()
        wall = time.monotonic() - t0
        failed, errors = check_outputs(got, inp["expected"], ["label"])
        if got["_grounding_score"].isna().any():
            errors.append("rows without a grounding score")
        attempts = _count_lines(count_file)
        return {"rows": n, "wall": wall, "commits": [wall], "attempted": n,
                "failed": failed, "errors": errors,
                "api_calls": res.api_calls, "attempts": attempts}

    def traced(self, spark, tr):
        from pyspark.sql import functions as F

        from ondine_spark.context.grounding import grounding_scores
        from ondine_spark.functions.templates import prompt_column
        from ondine_spark.knowledge.retrieval import attach_context
        from ondine_spark.knowledge.store import KnowledgeStore
        from ondine_spark.sources.readers import load_dataset

        inp = self.inputs
        it, out = _traced_iteration(self, spark, tr)
        out["context.llm_reinvocations"] = it["api_calls"] - inp["n"]
        # injected 429s retried during the public iteration
        out["llm.retries"] = it["attempts"] - it["api_calls"]
        kb_dir = self.path("layers", "kb")
        count_file = self.path("layers", "calls.txt")
        os.makedirs(os.path.dirname(count_file), exist_ok=True)
        with tr.span("knowledge.ingest"):
            store = KnowledgeStore(spark, kb_dir)
            store.ingest(spark.read.parquet(inp["kb"]), "doc_id", "text")
        out["knowledge.chunks"] = store.chunk_count()
        spec = self.builder(spark, inp, kb_dir, count_file).build().spec
        ctx = spec.context
        with tr.span("sources.scan"):
            base, _ = materialize(load_dataset(spark, spec.dataset))
        with tr.span("knowledge.retrieve"):
            retrieved, _ = materialize(attach_context(
                base, store, ctx.kb_query_columns, ctx.kb_top_k,
                ctx.kb_min_score, context_col="_kb_context",
                count_col="_kb_count"))
        with tr.span("functions.render"):
            prompts, _ = materialize(retrieved.withColumn(
                "prompt", prompt_column(
                    spec.prompt.template, kb_context_col="_kb_context",
                    available_columns=retrieved.columns)))
        invoked = _traced_invoke(spark, tr, prompts, spec, out)
        parsed = _traced_parse(tr, invoked, spec, out)
        with tr.span("context.grounding"):
            materialize(grounding_scores(
                parsed.withColumn("_out_text", F.col("label")),
                "_out_text", "_kb_context",
                threshold=ctx.grounding_threshold))
        out.update({
            "knowledge.ingest_s": tr.wall("knowledge.ingest"),
            "knowledge.retrieve_s": tr.wall("knowledge.retrieve"),
            # rows read from the store's parquet tables (postings + chunks)
            "knowledge.postings_rows": tr.sql(
                "knowledge.retrieve", "Scan parquet", "number of output rows"),
            "context.grounding_s": tr.wall("context.grounding"),
            "sources.scan_s": tr.wall("sources.scan"),
            "functions.render_s": tr.wall("functions.render"),
        })
        return out, it


# ----------------------------------------------------------------- dedup

class DedupStream(Workload):
    """run_dedup_stream over a backlog of parquet files: near-dup
    clusters of 2-5 docs across files, one file with a mass cluster."""

    sizes = {"files": 3, "per_file": 500, "mass": 150}
    warm_sizes = {"files": 2, "per_file": 40, "mass": 10}
    nominal_s = 5.0
    num_hashes, bands = 16, 8

    def make(self, d, files, per_file, mass):
        frames = gen.dedup_corpus(self.seed, files, per_file, mass)
        backlog = os.path.join(d, "backlog")
        os.makedirs(backlog, exist_ok=True)
        t = 1_600_000_000
        for i, f in enumerate(frames):
            path = os.path.join(backlog, f"docs-{i:03d}.parquet")
            gen.write_parquet(f[["doc_id", "text"]], path + ".d")
            # one file per micro-batch, in order: the stream source orders
            # files by modification time
            os.replace(os.path.join(path + ".d", "part-00000.parquet"), path)
            os.rmdir(path + ".d")
            os.utime(path, (t + i, t + i))
        sizes = pd.concat(frames)["cluster"].value_counts()
        return {
            "backlog": backlog, "frames": frames,
            "n": int(sizes.sum()),
            "expected": gen.expected_dedup_kept(frames),
            "mass_share": float(sizes[sizes > 100].sum() / sizes.sum()),
        }

    def run(self, spark, inp, tag):
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from ondine_spark.streaming.incremental_dedup import run_dedup_stream

        out = self.path(tag, "out")
        schema = StructType([StructField("doc_id", LongType()),
                             StructField("text", StringType())])
        t0 = time.monotonic()
        q = run_dedup_stream(
            spark, inp["backlog"], schema, "doc_id", "text", out,
            self.path(tag, "state"), self.path(tag, "stream_ckpt"),
            num_hashes=self.num_hashes, bands=self.bands,
        )
        kept = spark.read.parquet(out).select("doc_id").toPandas()["doc_id"]
        wall = time.monotonic() - t0
        batches = [p for p in q.recentProgress if p.numInputRows]
        errors = []
        if q.exception() is not None:
            errors.append(f"stream failed: {q.exception()}")
        if kept.duplicated().any():
            errors.append(f"{int(kept.duplicated().sum())} duplicated kept ids")
        exp = inp["expected"]
        got = set(kept.tolist())
        if got != exp:
            errors.append(f"kept ids differ from ground truth: "
                          f"{len(got - exp)} extra, {len(exp - got)} missing")
        if len(batches) != len(inp["frames"]):
            errors.append(f"{len(batches)} micro-batches for "
                          f"{len(inp['frames'])} files")
        return {
            "rows": inp["n"], "wall": wall, "attempted": inp["n"],
            "failed": 0, "errors": errors,
            "commits": [p.durationMs["triggerExecution"] / 1000.0
                        for p in batches],
            "trigger_overhead": [
                (p.durationMs["triggerExecution"]
                 - p.durationMs.get("addBatch", 0)) / 1000.0
                for p in batches],
            "mass_share": inp["mass_share"],
            "job_groups": [str(q.runId)],
        }

    def traced(self, spark, tr):
        from pyspark.sql import functions as F

        from ondine_spark.operators.dedup import (
            connected_components,
            minhash_band_rows,
            minhash_signature,
        )

        inp = self.inputs
        it, out = _traced_iteration(self, spark, tr)
        out["streaming.trigger_overhead_s"] = statistics.median(
            it["trigger_overhead"])
        # The per-batch steps of dedup_batch_against_store, one call per
        # span, store carried across files like the stream carries it.
        # The survivors are checked against the same ground truth, so
        # this chain cannot drift from what the stream computes.
        h, thr = self.num_hashes, 0.5

        def agree(x, y):
            return (F.size(F.filter(F.zip_with(x, y, lambda p, q: p == q),
                                    lambda m: m)).cast("double") / F.lit(float(h)))

        store, kept, pairs_n, largest = None, set(), 0, 0
        for f in sorted(os.listdir(inp["backlog"])):
            batch = spark.read.parquet(os.path.join(inp["backlog"], f))
            with tr.span("dedup.signature"):
                rows, _ = materialize(minhash_band_rows(
                    minhash_signature(batch, "doc_id", "text", h, 3),
                    h, self.bands))
            largest = max(largest, rows.groupBy("band", "key").count()
                          .agg(F.max("count")).first()[0])
            if store is not None:
                with tr.span("dedup.store_check"):
                    hits = (rows.join(store.select(
                        "band", "key", F.col("sig").alias("_ssig")),
                        on=["band", "key"])
                        .filter(agree(F.col("sig"), F.col("_ssig")) >= thr)
                        .select("_id").distinct())
                    rows, _ = materialize(rows.join(hits, on="_id",
                                                    how="left_anti"))
            with tr.span("dedup.pairs"):
                a = rows.select(F.col("_id").alias("a"),
                                F.col("sig").alias("_sa"), "band", "key")
                b = rows.select(F.col("_id").alias("b"),
                                F.col("sig").alias("_sb"), "band", "key")
                pairs, n_pairs = materialize(
                    a.join(b, on=["band", "key"])
                    .filter(F.col("a") < F.col("b"))
                    .filter(agree(F.col("_sa"), F.col("_sb")) >= thr)
                    .select("a", "b").dropDuplicates(["a", "b"]))
            pairs_n += n_pairs
            with tr.span("dedup.cc"):
                comp, _ = materialize(connected_components(pairs))
            losers = comp.filter(F.col("node") != F.col("component")).select(
                F.col("node").alias("_id"))
            survivors, _ = materialize(
                rows.join(F.broadcast(losers), on="_id", how="left_anti"))
            kept |= {r["_id"] for r in survivors.select("_id").distinct().collect()}
            store = survivors if store is None else store.unionByName(survivors)
        if kept != inp["expected"]:
            it["errors"].append("traced dedup chain: kept ids differ from "
                                "ground truth")
        out.update({
            "dedup.signature_s": tr.wall("dedup.signature"),
            "dedup.store_check_s": tr.wall("dedup.store_check"),
            "dedup.pairs_to_cc": pairs_n,
            "dedup.cc_s": tr.wall("dedup.cc"),
            "dedup.largest_bucket": largest,
        })
        return out, it


WORKLOADS = {
    "enrich_batched": EnrichBatched,
    "rag_rowwise": RagRowwise,
    "dedup_stream": DedupStream,
}
