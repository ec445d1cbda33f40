"""CLI (reference: ondine/cli/main.py — process, estimate, resume,
validate, status, list-runs, list-providers).

Thin argparse front-end over the config loader + Pipeline + RunRegistry;
all heavy lifting is the same plan the programmatic API builds.
"""

from __future__ import annotations

import argparse
import json
import sys
import uuid


def _spark():
    from ondine_spark.plans.pipeline import _default_session

    return _default_session()


def _pipeline(config_path: str, spark=None):
    from ondine_spark.config import load_config
    from ondine_spark.plans.pipeline import Pipeline

    spec = load_config(config_path)
    return Pipeline(spec, spark or _spark())


def cmd_validate(args) -> int:
    from ondine_spark.config import load_config

    spec = load_config(args.config)
    spec.validate()
    print(json.dumps({"valid": True, "input_columns":
                      spec.dataset.input_columns,
                      "output_columns": spec.dataset.output_columns}))
    return 0


def cmd_estimate(args) -> int:
    p = _pipeline(args.config)
    est = p.estimate_cost(sample=args.sample)
    est["estimated_cost"] = str(est["estimated_cost"])
    print(json.dumps(est))
    return 0


def _registry(args):
    from ondine_spark.orchestration.registry import RunRegistry

    return RunRegistry(args.registry)


def cmd_process(args) -> int:
    from ondine_spark.orchestration.registry import RunState

    p = _pipeline(args.config)
    if getattr(args, "progress", False):
        from ondine_spark.orchestration.progress import (
            PlainProgressTracker,
            TrackerObserver,
        )

        # live per-stage bars: in-chunk rows come from polling the api-call
        # accumulator (executor heartbeats), cost/rows land at each commit;
        # errors surface through the re-raised exception
        bs = max(1, p.spec.prompt.batch_size)
        p.spec.processing.observers.append(
            TrackerObserver(
                PlainProgressTracker(),
                poll=lambda: (p._call_counter.value * bs)
                if p._call_counter is not None else 0,
            )
        )
    run_id = args.run_id or uuid.uuid4().hex[:12]
    reg = _registry(args) if args.registry else None
    if reg:
        try:
            reg.get(run_id)
        except KeyError:
            reg.create(
                run_id,
                session_id=p.spec.processing.session_id,
                checkpoint_dir=p.spec.processing.checkpoint_dir,
                config=args.config,
            )
        reg.transition(run_id, RunState.RUNNING)
    try:
        if args.chunked:
            from ondine_spark.streaming.runner import execute_chunked

            summary = execute_chunked(p, chunk_size=args.chunk_size)
            out = {"run_id": run_id, "rows": summary.total_rows,
                   "resumed_rows": summary.resumed_rows,
                   "chunks": len(summary.chunks),
                   "cost": str(summary.total_cost)}
        else:
            res = p.execute()
            out = {"run_id": run_id, "rows": res.stats.rows,
                   "valid_rows": res.quality.valid_rows,
                   "cost": str(res.stats.total_cost),
                   "api_calls": res.api_calls}
        if reg:
            # clear any stale failure note from a previous attempt
            reg.transition(run_id, RunState.SUCCEEDED, error=None, **{
                k: v for k, v in out.items() if k != "run_id"})
        print(json.dumps(out))
        return 0
    except Exception as e:
        if reg:
            reg.transition(run_id, RunState.FAILED, error=str(e)[:500])
        raise


def cmd_resume(args) -> int:
    """Re-run a FAILED/PARTIAL run: same config + session → the response
    cache anti-join skips every completed row (J5/P5)."""
    reg = _registry(args)
    rec = reg.get(args.run_id)
    config = rec.meta.get("config")
    if not config:
        print(f"run {args.run_id} has no recorded config", file=sys.stderr)
        return 2
    args.config = config
    args.chunked = True
    return cmd_process(args)


def cmd_status(args) -> int:
    rec = _registry(args).get(args.run_id)
    print(json.dumps({
        "run_id": rec.run_id, "state": rec.state.value,
        "session_id": rec.session_id, "checkpoint_dir": rec.checkpoint_dir,
        "provider_job_id": rec.provider_job_id, "meta": rec.meta,
    }))
    return 0


def cmd_list_runs(args) -> int:
    for rec in _registry(args).list(args.state):
        print(json.dumps({"run_id": rec.run_id, "state": rec.state.value,
                          "updated_at": rec.updated_at}))
    return 0


def cmd_list_providers(args) -> int:
    from ondine_spark.llm.providers import list_providers

    for row in list_providers():
        print(json.dumps(row))
    return 0


def cmd_list_checkpoints(args) -> int:
    """Sessions present in a checkpoint dir: cached rows, cost, memento."""
    import os

    from ondine_spark.orchestration.state import StateManager

    ckpt = args.checkpoint_dir
    responses = os.path.join(ckpt, "responses")
    sessions = set()
    if os.path.isdir(responses):
        for entry in os.listdir(responses):
            if entry.startswith("session_id="):
                sessions.add(entry.split("=", 1)[1])
    for entry in os.listdir(ckpt) if os.path.isdir(ckpt) else []:
        if entry.endswith(".state.json.gz"):
            sessions.add(entry[: -len(".state.json.gz")])
    if not sessions:
        print(json.dumps({"checkpoint_dir": ckpt, "sessions": []}))
        return 0
    spark = _spark()
    from ondine_spark.sources.cache import read_cache

    for sid in sorted(sessions):
        row: dict = {"session_id": sid}
        cached = read_cache(spark, ckpt, sid)
        if cached is not None:
            from pyspark.sql import functions as F

            agg = cached.agg(
                F.count(F.lit(1)).alias("rows"), F.sum("cost").alias("cost")
            ).collect()[0]
            row["cached_rows"] = agg["rows"]
            row["cached_cost"] = str(agg["cost"] or 0)
        memento = StateManager(ckpt, sid).load()
        if memento is not None:
            row["in_progress"] = {
                "chunks_committed": memento.chunks_committed,
                "rows_processed": memento.rows_processed,
                "cumulative_cost": memento.cumulative_cost,
            }
        print(json.dumps(row))
    return 0


def cmd_inspect(args) -> int:
    """Run record + checkpoint state in one view."""
    rec = _registry(args).get(args.run_id)
    out = {
        "run_id": rec.run_id, "state": rec.state.value,
        "session_id": rec.session_id, "checkpoint_dir": rec.checkpoint_dir,
        "provider_job_id": rec.provider_job_id, "meta": rec.meta,
    }
    if rec.checkpoint_dir and rec.session_id:
        from ondine_spark.orchestration.state import StateManager

        m = StateManager(rec.checkpoint_dir, rec.session_id).load()
        if m is not None:
            out["in_progress"] = {
                "chunks_committed": m.chunks_committed,
                "rows_processed": m.rows_processed,
                "cumulative_cost": m.cumulative_cost,
            }
    print(json.dumps(out))
    return 0


def _batch_provider(args):
    if args.provider == "mock":
        from ondine_spark.llm.provider_batch import LocalMockBatchProvider

        return LocalMockBatchProvider(args.spool or args.work_dir)
    if args.provider == "openai":
        from ondine_spark.llm.provider_batch import OpenAIBatchProvider

        return OpenAIBatchProvider(download_dir=args.work_dir)
    if args.provider == "anthropic":
        from ondine_spark.llm.provider_batch import AnthropicBatchProvider

        return AnthropicBatchProvider(download_dir=args.work_dir)
    raise SystemExit(
        f"unknown batch provider {args.provider!r} "
        f"(available: mock, openai, anthropic)"
    )


def cmd_submit(args) -> int:
    """Provider Batch front half: compile prompts → upload → persist the
    RunHandle (collect can run in a different process)."""
    from ondine_spark.llm.provider_batch import submit

    p = _pipeline(args.config)
    reg = _registry(args) if args.registry else None
    handle = submit(
        p, _batch_provider(args), args.work_dir, run_id=args.run_id,
        registry=reg,
    )
    print(json.dumps({"run_id": handle.run_id,
                      "provider_job_id": handle.provider_job_id,
                      "provider_job_ids": handle.provider_job_ids}))
    return 0


def cmd_collect(args) -> int:
    """Provider Batch back half: poll → download → assemble → write the
    public output (``public_frame``)."""
    from ondine_spark.llm.provider_batch import RunHandle, collect

    p = _pipeline(args.config)
    reg = _registry(args) if args.registry else None
    handle = RunHandle.load(args.work_dir, args.run_id)
    result = collect(
        p, _batch_provider(args), handle,
        poll_interval_s=args.poll_interval, registry=reg,
    )
    out_cols = p.spec.dataset.output_columns
    n = result.count()
    if args.output:
        from ondine_spark.plans.pipeline import public_frame, write_output
        from ondine_spark.core.specs import OutputSpec

        write_output(public_frame(result), OutputSpec(path=args.output))
    print(json.dumps({"run_id": handle.run_id, "rows": n,
                      "output": args.output}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="ondine-spark",
        description="PySpark-native batch LLM data-processing engine",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    def add(name, fn, **kw):
        p = sub.add_parser(name, **kw)
        p.set_defaults(fn=fn)
        return p

    p = add("validate", cmd_validate, help="validate a pipeline config")
    p.add_argument("config")

    p = add("estimate", cmd_estimate, help="sample-based cost estimate")
    p.add_argument("config")
    p.add_argument("--sample", type=int, default=10)

    p = add("process", cmd_process, help="run a pipeline from config")
    p.add_argument("config")
    p.add_argument("--run-id")
    p.add_argument("--registry")
    p.add_argument("--chunked", action="store_true",
                   help="chunked execution with per-chunk durable commits")
    p.add_argument("--chunk-size", type=int, default=10_000)
    p.add_argument("--progress", action="store_true",
                   help="render per-chunk progress lines on stderr")

    p = add("resume", cmd_resume, help="resume a failed/partial run")
    p.add_argument("run_id")
    p.add_argument("--registry", required=True)
    p.add_argument("--run-id", dest="run_id2", help=argparse.SUPPRESS)
    p.add_argument("--chunk-size", type=int, default=10_000)
    p.add_argument("--progress", action="store_true",
                   help="render per-chunk progress lines on stderr")

    p = add("status", cmd_status, help="show run state")
    p.add_argument("run_id")
    p.add_argument("--registry", required=True)

    p = add("list-runs", cmd_list_runs, help="list registry runs")
    p.add_argument("--registry", required=True)
    p.add_argument("--state")

    add("list-providers", cmd_list_providers, help="list model presets")

    p = add("list-checkpoints", cmd_list_checkpoints,
            help="sessions in a checkpoint dir")
    p.add_argument("--checkpoint-dir", required=True)

    p = add("inspect", cmd_inspect, help="run record + checkpoint state")
    p.add_argument("run_id")
    p.add_argument("--registry", required=True)

    p = add("submit", cmd_submit, help="submit a provider Batch job")
    p.add_argument("config")
    p.add_argument("--work-dir", required=True)
    p.add_argument("--run-id")
    p.add_argument("--registry")
    p.add_argument("--provider", default="mock")
    p.add_argument("--spool", help="mock provider spool dir")

    p = add("collect", cmd_collect, help="collect a provider Batch job")
    p.add_argument("config")
    p.add_argument("run_id")
    p.add_argument("--work-dir", required=True)
    p.add_argument("--registry")
    p.add_argument("--provider", default="mock")
    p.add_argument("--spool")
    p.add_argument("--poll-interval", type=float, default=2.0)
    p.add_argument("--output")
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    try:
        return args.fn(args)
    except (KeyError, ValueError, FileNotFoundError) as e:
        # operator-facing errors: one line, no traceback (use --traceback
        # style debugging via python -m pdb if needed)
        print(f"error: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
