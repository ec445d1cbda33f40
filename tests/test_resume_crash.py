"""Crash-safety / resume / budget tests (BASELINE.md targets:
rows lost on crash = 0; resume re-invokes 0 cached rows; budget stop).

Mirrors the reference's crash benchmark (os._exit at 60%,
reference: benchmarks/RESULTS.md:38-52) at chunk granularity: a fatal
client error aborts the run mid-stream; committed chunks survive; resume
completes the rest without re-invoking any cached row.
"""

import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from ondine_spark import PipelineBuilder, mock_client_factory
from ondine_spark.plans.pipeline import RESPONSE_META
from ondine_spark.streaming.runner import (
    BudgetExceededError,
    chunked_result_frame,
    execute_chunked,
)


def _rows(n):
    labels = ["great", "terrible", "okay"]
    return [
        {"id": f"k{i:04d}", "review": f"row {i} is {labels[i % 3]}"}
        for i in range(n)
    ]


def _builder(spark, tmp, factory):
    return (
        PipelineBuilder(spark)
        .from_dataframe(spark.createDataFrame(_rows(100)), ["review"], id_column="id")
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(factory)
        .with_checkpoint_dir(str(tmp), "sess1")
        .with_error_policy("fail")
        .with_max_retries(0)
    )


def _count_calls(path):
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        return sum(1 for _ in f)


def test_crash_resume_zero_reinvocations(spark, tmp_path):
    calls = str(tmp_path / "calls.txt")
    # run 1: client crashes on a row that lands in a later chunk
    crash_factory = mock_client_factory(count_file=calls, crash_on="row 57")
    p = _builder(spark, tmp_path / "ckpt", crash_factory).build()
    with pytest.raises(Exception):
        execute_chunked(p, chunk_size=20)
    calls_before = _count_calls(calls)
    assert 40 <= calls_before < 100  # chunks 0-1 committed, crash in chunk 2

    # run 2: healthy client, same session → only missing rows invoked
    ok_factory = mock_client_factory(count_file=calls)
    p2 = _builder(spark, tmp_path / "ckpt", ok_factory).build()
    summary = execute_chunked(p2, chunk_size=20)
    assert summary.resumed_rows == 40  # committed chunks replayed, not re-run
    assert summary.total_rows == 60
    total_calls = _count_calls(calls)
    # every row invoked at most once across both runs, plus the in-flight
    # crashed chunk's partial work (those rows were never committed)
    assert total_calls <= 100 + 20

    # final assembled result is complete and correct
    result = chunked_result_frame(p2, str(tmp_path / "ckpt"), "sess1")
    rows = {r["id"]: r["sentiment"] for r in result.collect()}
    assert len(rows) == 100
    assert rows["k0000"] == "positive"
    assert rows["k0001"] == "negative"
    assert rows["k0002"] == "neutral"
    assert None not in rows.values()  # 0 rows lost


def _upper_parser(responses, out_cols):
    return responses.withColumn(out_cols[0], F.upper("response_text"))


@pytest.mark.parametrize("parse", ["structured", "custom_parser"])
def test_chunked_result_frame_uses_pipeline_parser(spark, tmp_path, parse):
    """The chunked assembly parses the cached responses exactly as
    ``result_frame()`` does: schema-typed structured output and a custom
    parser both reach the chunked path."""
    b = (
        PipelineBuilder(spark)
        .from_dataframe(spark.createDataFrame(_rows(20)), ["review"], id_column="id")
        .with_prompt("Classify: {review}", ["label", "score"])
        .with_custom_llm_client(
            mock_client_factory(json_fields=("label", "score"))
        )
        .with_checkpoint_dir(str(tmp_path / "ckpt"), "sess1")
    )
    if parse == "structured":
        b.with_structured_output("label STRING, score DOUBLE")
    else:
        b.with_custom_parser(_upper_parser)
    p = b.build()
    execute_chunked(p, chunk_size=10)
    chunked = chunked_result_frame(p, str(tmp_path / "ckpt"), "sess1")
    direct = p.result_frame()  # replays the same cache: no new calls
    direct = direct.drop(*RESPONSE_META)
    assert chunked.columns == direct.columns
    got = sorted(map(tuple, chunked.collect()))
    assert got == sorted(map(tuple, direct.collect()))
    label = chunked.columns.index("label")
    assert len(got) == 20 and all(r[label] for r in got)


def test_resume_full_cache_zero_calls(spark, tmp_path):
    calls = str(tmp_path / "calls.txt")
    factory = mock_client_factory(count_file=calls)
    p = _builder(spark, tmp_path / "ckpt", factory).build()
    execute_chunked(p, chunk_size=50)
    n1 = _count_calls(calls)
    assert n1 == 100
    # second run: everything cached → zero LLM invocations
    summary = execute_chunked(p, chunk_size=50)
    assert _count_calls(calls) == n1
    assert summary.resumed_rows == 100
    assert summary.total_rows == 0


def test_budget_stops_between_chunks(spark, tmp_path):
    factory = mock_client_factory()
    b = _builder(spark, tmp_path / "ckpt", factory)
    b.with_max_budget("0.00001")  # exhausted after the first chunk
    p = b.build()
    with pytest.raises(BudgetExceededError):
        execute_chunked(p, chunk_size=10)
    # durable cache holds the committed chunks only
    from ondine_spark.sources.cache import read_cache

    cached = read_cache(spark, str(tmp_path / "ckpt"), "sess1")
    n = cached.count()
    assert 0 < n < 100
    assert n % 10 == 0  # whole chunks only


def test_batch_mode_resume_via_execute(spark, tmp_path):
    """Resume also works through the plain batch Pipeline.execute path."""
    calls = str(tmp_path / "calls.txt")
    factory = mock_client_factory(count_file=calls)
    p = _builder(spark, tmp_path / "ckpt", factory).build()
    res1 = p.execute()
    assert res1.quality.valid_rows == 100
    n1 = _count_calls(calls)
    assert n1 == 100
    res2 = p.execute()
    assert res2.quality.valid_rows == 100
    assert _count_calls(calls) == n1  # all rows served from cache


def test_memento_saved_on_crash_cleaned_on_success(spark, tmp_path):
    """O8: crashed run leaves a counters memento; success removes it."""
    from ondine_spark.orchestration.state import StateManager

    crash_factory = mock_client_factory(crash_on="row 57")
    p = _builder(spark, tmp_path / "ckpt", crash_factory).build()
    with pytest.raises(Exception):
        execute_chunked(p, chunk_size=20)
    st = StateManager(str(tmp_path / "ckpt"), "sess1")
    m = st.load()
    assert m is not None
    assert m.chunks_committed == 2
    assert m.rows_processed == 40
    assert Decimal(m.cumulative_cost) > 0

    ok = _builder(spark, tmp_path / "ckpt", mock_client_factory()).build()
    execute_chunked(ok, chunk_size=20)
    assert st.load() is None  # cleaned up on success


def test_chunk_committed_events(spark, tmp_path):
    from ondine_spark.observability import CollectingObserver

    obs = CollectingObserver()
    b = _builder(spark, tmp_path / "ckpt", mock_client_factory())
    b.with_observer(obs)
    execute_chunked(b.build(), chunk_size=25)
    kinds = [e.kind for e in obs.events]
    assert kinds.count("chunk_committed") == 4
    last = obs.events[-1].payload
    assert last["chunks_done"] == 4 and last["chunks_total"] == 4


def test_iter_chunks_generator_and_early_stop(spark, tmp_path):
    """T2 parity: per-chunk results stream out, each durably committed;
    abandoning the iterator keeps the memento (run is incomplete)."""
    from ondine_spark.orchestration.state import StateManager
    from ondine_spark.streaming.runner import iter_chunks

    p = _builder(spark, tmp_path / "ckpt", mock_client_factory()).build()
    it = iter_chunks(p, chunk_size=25)
    first = next(it)
    assert first.rows == 25 and first.chunk_id == 0
    it.close()  # consumer stops early
    st = StateManager(str(tmp_path / "ckpt"), "sess1")
    m = st.load()
    assert m is not None and m.chunks_committed == 1  # incomplete → kept

    # draining fully cleans up and resumes from the committed chunk
    results = list(iter_chunks(
        _builder(spark, tmp_path / "ckpt", mock_client_factory()).build(),
        chunk_size=25,
    ))
    assert sum(r.rows for r in results) == 75
    assert st.load() is None


def test_health_check(spark, tmp_path):
    b = _builder(spark, tmp_path / "ckpt", mock_client_factory())
    hc = b.build().health_check()
    assert hc["ok"] is True
    assert all(hc[k]["ok"] for k in ("spec", "spark", "source", "client",
                                     "checkpoint_dir"))

    from ondine_spark import PipelineBuilder

    bad = (
        PipelineBuilder(spark)
        .from_csv("/nope/missing.csv", ["x"])
        .with_prompt("{x}", ["y"])
        .with_custom_llm_client(mock_client_factory())
        .build()
    )
    hc2 = bad.health_check()
    assert hc2["ok"] is False
    assert hc2["source"]["ok"] is False


def test_resume_anti_join_no_forced_broadcast(spark, tmp_path, monkeypatch):
    """SCALE.md "Resume": after a deep crash the cached side is most of
    the corpus, so the resume anti-join must not carry a broadcast hint —
    with broadcasting disabled the plan falls back to SortMergeJoin. This
    holds for resume_filter and for a resumed execute_chunked run."""
    import ondine_spark.streaming.runner as runner
    from ondine_spark.sources.cache import resume_filter, write_responses
    from pyspark.sql import functions as F

    df = spark.range(500).select(
        F.col("id").cast("string").alias("_row_id"), F.col("id").alias("v")
    )
    done = df.limit(300).select(
        "_row_id", F.lit("ok").alias("response_text"),
        F.lit(1).alias("tokens_in"), F.lit(1).alias("tokens_out"),
        F.lit("m").alias("resp_model"),
        F.lit("0").cast("decimal(38,18)").alias("cost"),
        F.lit(0.0).alias("latency_ms"),
        F.lit(None).cast("string").alias("error"),
    )
    write_responses(done, str(tmp_path), "s1")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        todo, replay = resume_filter(df, str(tmp_path), "s1")
        plan = todo._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        assert todo.count() == 200
        assert replay.count() == 300

        # a chunked run that committed one chunk, then resumed: record
        # the plan of the rows it still has to do
        ckpt = tmp_path / "ckpt"
        p = _builder(spark, ckpt, mock_client_factory()).build()
        for _ in runner.iter_chunks(p, chunk_size=20):
            break
        plans = []
        index = runner.with_global_index

        def spy(requests, *args, **kw):
            plans.append(
                requests._jdf.queryExecution().executedPlan().toString()
            )
            return index(requests, *args, **kw)

        monkeypatch.setattr(runner, "with_global_index", spy)
        summary = execute_chunked(p, chunk_size=20)
        assert (summary.resumed_rows, summary.total_rows) == (20, 80)
        assert "LeftAnti" in plans[-1], plans[-1]
        assert "BroadcastHashJoin" not in plans[-1], plans[-1]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_compact_responses_dedups_and_preserves_resume(spark, tmp_path):
    """Compaction keeps one row per _row_id and the resume split is
    unchanged afterwards."""
    from ondine_spark.sources.cache import (
        compact_responses,
        resume_filter,
        write_responses,
    )
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.col("id").cast("string").alias("_row_id"), F.col("id").alias("v")
    )
    done = df.limit(60).select(
        "_row_id", F.lit("ok").alias("response_text"),
        F.lit(1).alias("tokens_in"), F.lit(1).alias("tokens_out"),
        F.lit("m").alias("resp_model"),
        F.lit("0").cast("decimal(38,18)").alias("cost"),
        F.lit(0.0).alias("latency_ms"),
        F.lit(None).cast("string").alias("error"),
    )
    # three appends of the same rows → duplicate files and rows
    for _ in range(3):
        write_responses(done, str(tmp_path), "s2")
    # auto-retry: ten rows failed first, then their retry succeeded
    retried = df.filter(F.col("v").between(60, 69)).select(
        "_row_id", F.lit("ok").alias("response_text"),
        F.lit(1).alias("tokens_in"), F.lit(1).alias("tokens_out"),
        F.lit("m").alias("resp_model"),
        F.lit("0").cast("decimal(38,18)").alias("cost"),
        F.lit(0.0).alias("latency_ms"),
        F.lit(None).cast("string").alias("error"),
    )
    failed = retried.withColumn("response_text", F.lit(None).cast("string"))
    failed = failed.withColumn("error", F.lit("timeout"))
    write_responses(failed, str(tmp_path), "s2")
    write_responses(retried, str(tmp_path), "s2")
    n = compact_responses(spark, str(tmp_path), "s2")
    assert n == 70
    todo, replay = resume_filter(df, str(tmp_path), "s2")
    assert todo.count() == 30
    assert replay.count() == 70
    # compaction kept the retry's success, not the failure it replaced
    assert replay.filter(F.col("error").isNotNull()).count() == 0
    # compacting a session that does not exist is a quiet no-op
    assert compact_responses(spark, str(tmp_path), "missing") == 0


def test_consumer_crash_between_yield_and_side_effect(spark, tmp_path):
    """Round-5 verdict item 8: the consumer-crash contract. A chunk's
    durable commit happens BEFORE its yield, so a consumer that dies
    between receiving a yield and applying its own side effect finds on
    re-iteration that (a) the crashed-yield chunk is NOT re-yielded and
    its rows are NOT re-invoked — commit is the source of truth — and
    (b) the full result, including that chunk, is recoverable from the
    cache via chunked_result_frame. A consumer accumulating yields alone
    under-counts by exactly that chunk; the docstring directs it to the
    cache."""
    from ondine_spark.streaming.runner import iter_chunks

    counts = str(tmp_path / "calls.txt")
    ckpt = tmp_path / "ckpt"

    class ConsumerCrash(RuntimeError):
        pass

    side_effects: list[int] = []
    p = _builder(spark, ckpt, mock_client_factory(count_file=counts)).build()
    with pytest.raises(ConsumerCrash):
        for ch in iter_chunks(p, chunk_size=25):
            if ch.chunk_id == 1:
                # crash AFTER chunk 1 committed + yielded, BEFORE the
                # consumer side-effects it
                raise ConsumerCrash()
            side_effects.append(ch.chunk_id)
    assert side_effects == [0]
    calls_before = sum(1 for _ in open(counts))
    assert calls_before == 50  # chunks 0 and 1 both invoked + committed

    # re-iteration: only the UNCOMMITTED chunks (2, 3) are yielded;
    # chunk 1 — committed but never consumer-side-effected — is not
    p2 = _builder(spark, ckpt, mock_client_factory(count_file=counts)).build()
    resumed = [ch.chunk_id for ch in iter_chunks(p2, chunk_size=25)]
    assert len(resumed) == 2
    assert sum(1 for _ in open(counts)) == 100  # 50 new, 0 re-invocations

    # the cache is the source of truth: all 100 rows, chunk 1 included
    out = chunked_result_frame(p2, str(ckpt), "sess1")
    assert out.count() == 100
    assert out.filter("sentiment IS NULL").count() == 0


def test_weird_session_id_direct_path_append(spark, tmp_path):
    """write_responses appends straight into the session_id=<escaped>
    partition directory (round 6, skipping the dynamic-partitionBy
    commit machinery). Session ids with slashes/spaces/'=' must land in
    the directory Spark's own partition escaping would produce, read
    back through partition discovery, and resume cleanly."""
    sid = "run 6/alpha=β"
    ckpt = str(tmp_path / "ckpt")
    p = (
        PipelineBuilder(spark)
        .from_dataframe(
            spark.createDataFrame(_rows(20)), ["review"], id_column="id"
        )
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(mock_client_factory())
        .with_batch_size(7)
        .with_checkpoint_dir(ckpt, sid)
        .build()
    )
    execute_chunked(p, chunk_size=8)
    out = chunked_result_frame(p, ckpt, sid)
    assert out.count() == 20
    assert out.filter("sentiment IS NULL").count() == 0
    # the cache reader sees exactly this session under partition discovery
    from ondine_spark.sources.cache import read_cache

    cached = read_cache(spark, ckpt, sid)
    assert cached is not None and cached.count() == 20
    # and a second run resumes fully from it: zero new chunks
    p2 = (
        PipelineBuilder(spark)
        .from_dataframe(
            spark.createDataFrame(_rows(20)), ["review"], id_column="id"
        )
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(mock_client_factory())
        .with_batch_size(7)
        .with_checkpoint_dir(ckpt, sid)
        .build()
    )
    s2 = execute_chunked(p2, chunk_size=8)
    assert s2.resumed_rows == 20 and s2.total_rows == 0


def test_memento_legacy_unescaped_filename_fallback(tmp_path):
    """ADVICE r6: session ids containing '%' wrote an unescaped memento
    filename before round 6's percent-encoding; load() must fall back to
    the legacy file so pre-upgrade runs keep their counters."""
    import gzip
    import json

    from ondine_spark.orchestration.state import RunMemento, StateManager

    sid = "run%6"
    ckpt = str(tmp_path / "ckpt")
    st = StateManager(ckpt, sid)
    # simulate a pre-upgrade memento at the unescaped filename
    os.makedirs(ckpt, exist_ok=True)
    legacy = os.path.join(ckpt, f"{sid}.state.json.gz")
    with gzip.open(legacy, "wt") as f:
        json.dump(
            {
                "session_id": sid,
                "chunks_committed": 3,
                "rows_processed": 240,
                "cumulative_cost": "1.5",
                "updated_at": 0.0,
            },
            f,
        )
    assert st.path != legacy  # escaping really changes the name
    m = st.load()
    assert m is not None and m.chunks_committed == 3 and m.rows_processed == 240
    # a save writes the NEW name; the new file then wins over legacy
    m.chunks_committed = 4
    st.save(m)
    assert os.path.exists(st.path)
    assert st.load().chunks_committed == 4
    # cleanup removes both
    st.cleanup()
    assert not os.path.exists(st.path) and not os.path.exists(legacy)


def test_direct_append_refreshes_base_path_catalog(spark, tmp_path):
    """ADVICE r6: a user-held DataFrame rooted at the responses BASE path
    must see rows appended via the direct session-partition write (the
    old partitionBy write refreshed the base path; the direct path must
    refresh it explicitly)."""
    from ondine_spark.sources.cache import _cache_path, write_responses

    ckpt = str(tmp_path / "ckpt")
    sid = "sessA"
    df1 = spark.createDataFrame(
        [("r1", "ok")], ["_row_id", "response_text"]
    )
    write_responses(df1, ckpt, sid)
    base = spark.read.parquet(_cache_path(ckpt)).cache()
    try:
        assert base.count() == 1  # materialize the cache
        # append through the direct path while the user holds the
        # CACHED frame; refreshByPath must recache it (uncached frames
        # pin their listing at read time under either write path)
        df2 = spark.createDataFrame(
            [("r2", "ok2")], ["_row_id", "response_text"]
        )
        write_responses(df2, ckpt, sid)
        assert base.count() == 2
    finally:
        base.unpersist()
