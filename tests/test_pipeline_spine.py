"""End-to-end spine: scan → prompt → mock LLM → parse → merge.

Mirrors the reference's mocked-LLM use-case tests
(reference: tests/verification/test_verify_use_cases.py).
"""

import math
from decimal import Decimal

import pytest

from ondine_spark import PipelineBuilder, mock_client_factory
from ondine_spark.core.specs import SKIPPED


REVIEWS = [
    {"review_id": f"r{i}", "review": text}
    for i, text in enumerate(
        [
            "This product is great and works well",
            "Terrible quality, broke after a day",
            "It is okay, nothing special",
            "Excellent build, love it",
            "Bad experience with poor support",
            "Average product for the price",
        ]
    )
]


def _pipeline(spark, **kw):
    b = (
        PipelineBuilder(spark)
        .from_dataframe(spark.createDataFrame(REVIEWS), ["review"], id_column="review_id")
        .with_prompt("Classify the sentiment of this review: {review}", ["sentiment"])
        .with_custom_llm_client(mock_client_factory())
    )
    for k, v in kw.items():
        getattr(b, f"with_{k}")(v)
    return b.build()


EXPECTED = ["positive", "negative", "neutral", "positive", "negative", "neutral"]


def test_unbatched_end_to_end(spark):
    res = _pipeline(spark).execute()
    rows = {r["review_id"]: r["sentiment"] for r in res.data.collect()}
    assert [rows[f"r{i}"] for i in range(6)] == EXPECTED
    assert res.api_calls == 6
    assert res.stats.total_cost > Decimal("0")
    assert res.quality.valid_rows == 6
    assert res.quality.success_rate == 1.0


def test_custom_client_without_cost_accounting(spark):
    """A user client that never computes cost (cost=None / no latency
    attr) must run clean with zero total cost — round-5 regression: the
    per-partition Decimal cost accumulator choked on str(None)."""

    class BareResult:
        def __init__(self, text):
            self.text = text
            self.tokens_in = 1
            self.tokens_out = 1
            self.model = "bare"
            self.cost = None  # user clients often skip cost accounting

    class BareClient:
        def complete(self, prompt, system=None):
            return BareResult("positive" if "great" in prompt else "neutral")

    p = (
        PipelineBuilder(spark)
        .from_dataframe(
            spark.createDataFrame(REVIEWS), ["review"], id_column="review_id"
        )
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(lambda: BareClient())
        .build()
    )
    res = p.execute()
    assert res.quality.valid_rows == 6
    assert res.stats.total_cost == Decimal("0")


def test_custom_client_returning_bare_string(spark):
    """The simplest possible custom client returns the completion text
    as a plain str (no LLMResult) — found on the round-6 verify drive:
    the retry wrapper set .latency_ms on the str and every row became
    an AttributeError row. Bare strings are wrapped with zero-cost
    accounting, same tolerance as cost=None clients."""

    class StrClient:
        def complete(self, prompt, system=None):
            return "positive" if "great" in prompt else "neutral"

    p = (
        PipelineBuilder(spark)
        .from_dataframe(
            spark.createDataFrame(REVIEWS), ["review"], id_column="review_id"
        )
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(lambda: StrClient())
        .build()
    )
    res = p.execute()
    assert res.quality.valid_rows == 6
    assert res.stats.total_cost == Decimal("0")
    vals = {r["sentiment"] for r in res.data.collect()}
    assert vals <= {"positive", "neutral"} and "positive" in vals


def test_batched_matches_unbatched(spark):
    res = _pipeline(spark, batch_size=4).execute()
    rows = {r["review_id"]: r["sentiment"] for r in res.data.collect()}
    assert [rows[f"r{i}"] for i in range(6)] == EXPECTED
    assert res.api_calls == math.ceil(6 / 4)


def test_error_policy_skip(spark):
    factory = mock_client_factory(fail_every=2, fail_times=10)
    b = (
        PipelineBuilder(spark)
        .from_dataframe(spark.createDataFrame(REVIEWS), ["review"], id_column="review_id")
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(factory)
        .with_max_retries(0)
        .with_error_policy("skip")
    )
    res = b.build().execute()
    vals = [r["sentiment"] for r in res.data.collect()]
    assert None in vals  # skipped rows parse to null
    assert res.quality.valid_rows < 6


def test_retry_recovers(spark):
    # every 3rd call fails once, then succeeds on retry
    factory = mock_client_factory(fail_every=3, fail_times=1)
    b = (
        PipelineBuilder(spark)
        .from_dataframe(spark.createDataFrame(REVIEWS), ["review"], id_column="review_id")
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(factory)
        .with_max_retries(3)
    )
    b.spec.processing.retry_base_delay = 0.01
    res = b.build().execute()
    assert res.quality.valid_rows == 6


def test_multi_column_json_output(spark):
    factory = mock_client_factory(json_fields=("sentiment", "n_words"))
    b = (
        PipelineBuilder(spark)
        .from_dataframe(spark.createDataFrame(REVIEWS), ["review"], id_column="review_id")
        .with_prompt("Classify: {review}", ["sentiment", "n_words"])
        .with_custom_llm_client(factory)
    )
    res = b.build().execute()
    row = {r["review_id"]: r for r in res.data.collect()}
    assert row["r0"]["sentiment"] == "positive"
    assert row["r0"]["n_words"] is not None


def test_estimate_cost(spark):
    p = _pipeline(spark)
    est = p.estimate_cost(sample=3)
    assert est["rows"] == 6
    assert est["estimated_cost"] > Decimal("0")
    assert est["confidence"] == "sample-based"


def test_plan_shapes(spark, sf_dir):
    """Plan-hygiene regression net (full audit: tools/plan_audit.py)."""
    import contextlib
    import io
    import re

    from ondine_spark import PipelineBuilder, mock_client_factory

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    p = (
        PipelineBuilder(spark)
        .from_parquet(f"{sf_dir}/documents.parquet", ["text"], id_column="doc_id")
        .with_filters({"lang": "en"})
        .with_prompt("Classify: {text}", ["sentiment"])
        .with_custom_llm_client(mock_client_factory())
        .build()
    )
    scan = plan_of(p.input_frame())
    assert "EqualTo(lang,en)" in scan  # filter reached the parquet scan
    rs = re.search(r"ReadSchema: struct<([^>]*)>", scan)
    assert set(re.findall(r"(\w+):", rs.group(1))) == {"doc_id", "text", "lang"}

    pb = (
        PipelineBuilder(spark)
        .from_parquet(f"{sf_dir}/documents.parquet", ["text"], id_column="doc_id")
        .with_prompt("Classify: {text}", ["sentiment"])
        .with_custom_llm_client(mock_client_factory())
        .with_batch_size(25)
        .build()
    )
    batched = plan_of(pb.result_frame())
    # one exchange total: the per-batch groupBy (map-side combined to one
    # shuffle row per batch — the global index keeps batches contiguous
    # within mapper partitions); the JVM offset map adds no join node
    assert len(re.findall(r"\(\d+\) Exchange\b", batched)) == 1
    assert "BroadcastHashJoin" in batched


def test_global_index_stable_under_aqe_flips(spark):
    """with_global_index reads partition ids in two separate jobs (count
    pass, assign pass); the index must stay contiguous and unique under
    AQE partition-coalescing flips and awkward input partitionings —
    including post-shuffle frames where AQE actually re-plans."""
    from ondine_spark.operators.batching import with_global_index

    def check(df, n):
        out = with_global_index(df)
        seqs = sorted(r["_seq"] for r in out.select("_seq").collect())
        assert seqs == list(range(n)), (seqs[:5], seqs[-5:], len(seqs))
        # and re-running the same plan gives the same assignment
        again = sorted(r["_seq"] for r in out.select("_seq").collect())
        assert again == seqs

    base = spark.range(997).withColumnRenamed("id", "v")
    for coalesce in ("true", "false"):
        old = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", coalesce
        )
        try:
            check(base, 997)                       # scan partitioning
            check(base.repartition(37), 997)       # many small post-shuffle
            check(base.repartition(1), 997)        # single partition
            # post-shuffle + filter: AQE coalescing target for tiny outputs
            check(base.repartition(37, "v").filter("v % 2 = 0"), 499)
        finally:
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled", old
            )


def test_batch_grouping_stable_under_aqe(spark):
    """Batch ids from the global index must form exactly ceil(N/b) batches
    of size b (last partial) regardless of input partitioning."""
    import math

    from ondine_spark.operators.batching import aggregate_batches

    df = (
        spark.range(203)
        .selectExpr("cast(id as string) as _row_id", "id as v")
        .repartition(13)
        .selectExpr("_row_id", "v", "concat('p', v) as prompt")
    )
    batches = aggregate_batches(df, 20)
    sizes = [r["n"] for r in
             batches.selectExpr("size(_row_ids) as n").collect()]
    assert len(sizes) == math.ceil(203 / 20)
    assert sorted(sizes, reverse=True)[:-1] == [20] * (len(sizes) - 1)
    assert sum(sizes) == 203
    # every row appears in exactly one batch
    members = batches.selectExpr("explode(_row_ids) as rid")
    assert members.count() == 203
    assert members.distinct().count() == 203


def test_batched_spine_single_source_scan(spark):
    """The batched spine consumes the prompt frame three times (global-index
    count, batch assembly, keep-columns join) — the round-3 persist means the
    SOURCE is computed exactly once per run (r2 verdict: at 100 TB the
    re-scan was the biggest avoidable cost). Measured with a row-counting
    accumulator planted under the whole plan."""
    acc = spark.sparkContext.accumulator(0)
    src = spark.createDataFrame(REVIEWS).repartition(3)

    def count_rows(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    counted = src.mapInPandas(count_rows, src.schema)
    pipe = (
        PipelineBuilder(spark)
        .from_dataframe(counted, ["review"], id_column="review_id")
        .with_prompt("Classify the sentiment of this review: {review}", ["sentiment"])
        .with_custom_llm_client(mock_client_factory())
        .with_batch_size(3)
        .build()
    )
    out = pipe.result_frame()
    rows = {r["review_id"]: r["sentiment"] for r in out.collect()}
    assert [rows[f"r{i}"] for i in range(6)] == EXPECTED
    assert acc.value == len(REVIEWS), (
        f"source computed {acc.value / len(REVIEWS):.1f}x, expected exactly once"
    )
    for df in pipe._persisted:
        df.unpersist()


# ---------------------------------------------------------- auto-retry (O9)

def _flaky_factory(marker_dir):
    """Client that fails any prompt containing 'flaky' on its FIRST attempt
    (tracked by a sentinel file, so the failure memory survives the fresh
    client instances the retry pass constructs in new tasks), succeeds
    after. Class is defined inside the closure so cloudpickle ships it by
    value to the workers (tests/ is not importable there)."""
    marker_dir = str(marker_dir)

    def factory():
        import hashlib
        import os

        from ondine_spark.llm.client import (
            DeterministicMockClient,
            TransientLLMError,
        )

        class FailFirstAttemptClient(DeterministicMockClient):
            def complete(self, prompt, system=None):
                if "flaky" in prompt.lower():
                    key = hashlib.md5(prompt.encode()).hexdigest()
                    p = os.path.join(marker_dir, key)
                    if not os.path.exists(p):
                        with open(p, "w"):
                            pass
                        raise TransientLLMError("injected first-attempt failure")
                return super().complete(prompt, system)

        return FailFirstAttemptClient()

    return factory


def test_auto_retry_recovers_failed_rows(spark, tmp_path):
    """O9: rows whose every output cell failed are re-run through the plan
    and patched in; the combined stats+quality+failed aggregate both gates
    the retry and reports post-retry numbers."""
    rows = [
        {"review_id": "r0", "review": "This product is great"},
        {"review_id": "r1", "review": "flaky terrible experience"},
        {"review_id": "r2", "review": "flaky but excellent build"},
    ]
    p = (
        PipelineBuilder(spark)
        .from_dataframe(spark.createDataFrame(rows), ["review"], id_column="review_id")
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(_flaky_factory(tmp_path))
        .with_max_retries(0)
        .with_error_policy("skip")
        .with_auto_retry(2)
        .build()
    )
    res = p.execute()
    got = {r["review_id"]: r["sentiment"] for r in res.data.collect()}
    assert got == {"r0": "positive", "r1": "negative", "r2": "positive"}
    # post-retry quality: every row valid, nothing left skipped
    assert res.quality.valid_rows == 3
    assert res.quality.skipped_cells == 0
    # the accumulator survives the retry pass's second plan build (it used
    # to be re-created there, zeroing the main pass's count): 1 success on
    # the first pass + 2 retry successes; the 2 first-attempt failures are
    # not counted (api_calls counts completed calls)
    assert res.api_calls == 3
    # the retried frame is checkpointed: consuming .data again must not
    # re-invoke the LLM (the live accumulator would drift if it did)
    res.data.collect()
    assert p._call_counter.value == 3


@pytest.mark.parametrize("batch_size", [1, 3])
def test_auto_retry_with_knowledge_base(spark, tmp_path, batch_size):
    """The retry pass re-runs the plan from the failed rows' INPUT
    columns: handing it the attached ``_kb_context``/``_kb_count`` (and
    ``_batch_id``, grounding columns) made retrieval attach them twice —
    AMBIGUOUS_REFERENCE from execute() as soon as a row failed. Patched
    rows carry the retried output's grounding, not the failure's."""
    from ondine_spark.knowledge import KnowledgeStore

    store = KnowledgeStore(spark, str(tmp_path / "kb"))
    store.ingest(
        spark.createDataFrame(
            [(1, "The flaky build got negative reviews and is terrible.")],
            ["doc_id", "text"],
        ),
        "doc_id", "text", max_tokens=64,
    )
    rows = [
        {"review_id": "r0", "review": "This product is great"},
        {"review_id": "r1", "review": "flaky build"},
        {"review_id": "r2", "review": "flaky but excellent build"},
    ]
    markers = tmp_path / "markers"
    markers.mkdir()
    p = (
        PipelineBuilder(spark)
        .from_dataframe(spark.createDataFrame(rows), ["review"], id_column="review_id")
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(_flaky_factory(markers))
        .with_knowledge_base(store.path, ["review"], top_k=1, min_score=0.1)
        .with_grounding(threshold=0.1)
        .with_batch_size(batch_size)
        .with_max_retries(0)
        .with_error_policy("skip")
        .with_auto_retry(2)
        .build()
    )
    res = p.execute()
    got = {r["review_id"]: r for r in res.data.collect()}
    # r1's label comes from the retrieved context ("... terrible")
    assert {k: r["sentiment"] for k, r in got.items()} == {
        "r0": "positive", "r1": "negative", "r2": "positive",
    }
    assert res.quality.valid_rows == 3
    assert got["r1"]["_kb_count"] == got["r2"]["_kb_count"] == 1
    # "negative" is in the context: the retried output is grounded
    assert got["r1"]["_grounding_score"] > 0 and got["r1"]["_grounded"]
    assert "_batch_id" not in res.data.columns


def test_auto_retry_no_failures_single_pass(spark, tmp_path):
    """With zero failed rows the retry machinery must not run at all —
    result_frame is built exactly once (the retry pass would construct a
    second plan over the failed inputs)."""
    p = _pipeline(spark)
    p.spec.processing.auto_retry_failed = True
    p.spec.processing.max_auto_retries = 2
    calls = {"n": 0}
    orig = p.result_frame

    def counting_result_frame(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    p.result_frame = counting_result_frame
    res = p.execute()
    assert res.quality.valid_rows == len(REVIEWS)
    assert calls["n"] == 1, "auto-retry ran a second plan with no failures"


def test_auto_retry_with_resume_checkpoint(spark, tmp_path):
    """The failed rows are IN the response cache when the retry pass runs
    (the main pass writes responses first): the retry plan must bypass
    resume (or it replays the cached failures and retries nothing), write
    its fixes back, and a later resumed run must replay the retried
    SUCCESS with zero new invocations."""
    rows = [
        {"review_id": "r0", "review": "This product is great"},
        {"review_id": "r1", "review": "flaky terrible experience"},
    ]
    markers = tmp_path / "markers"
    markers.mkdir()
    calls = str(tmp_path / "calls.txt")

    def build():
        base = _flaky_factory(markers)

        def factory():
            client = base()
            orig = client.complete

            def counted(prompt, system=None):
                with open(calls, "a") as f:
                    f.write("1\n")
                return orig(prompt, system)

            client.complete = counted
            return client

        return (
            PipelineBuilder(spark)
            .from_dataframe(
                spark.createDataFrame(rows), ["review"], id_column="review_id"
            )
            .with_prompt("Classify: {review}", ["sentiment"])
            .with_custom_llm_client(factory)
            .with_max_retries(0)
            .with_error_policy("skip")
            .with_auto_retry(2)
            .with_checkpoint_dir(str(tmp_path / "ckpt"), "sess-ar")
            .build()
        )

    res = build().execute()
    got = {r["review_id"]: r["sentiment"] for r in res.data.collect()}
    assert got == {"r0": "positive", "r1": "negative"}
    assert res.quality.skipped_cells == 0
    n_calls_run1 = sum(1 for _ in open(calls))
    # 2 first-pass + 1 retry re-invocation (NOT a cached-failure replay)
    assert n_calls_run1 == 3

    # resumed run: replays the retried success, invokes nothing
    res2 = build().execute()
    got2 = {r["review_id"]: r["sentiment"] for r in res2.data.collect()}
    assert got2 == got
    assert res2.quality.skipped_cells == 0
    assert sum(1 for _ in open(calls)) == n_calls_run1


def test_batching_sql_exprs(spark):
    """The r4 selectExpr rewrite of the batching projections must be
    byte-identical to the Column-chain form it replaced (the mock client,
    the DuckDB oracle, and the reference's parser all pattern-match the
    mega-prompt text). The old form is rebuilt inline here as the pin."""
    from pyspark.sql import functions as F

    from ondine_spark.operators.batching import aggregate_batches

    rows = [
        ("a", 'quote " and \\ backslash'),
        ("b", "newline\nand\ttab"),
        ("c", "unicode é中文  sep"),
        ("d", "braces {x} [y] 'single'"),
        ("e", "plain"),
    ]
    # one partition in row order so both constructions group identically —
    # the comparison is about prompt TEXT, not batch membership
    df = spark.createDataFrame(rows, ["_row_id", "prompt"]).coalesce(1)
    got = aggregate_batches(df, 2).select("prompt").collect()

    # ---- the pre-r4 Column-chain construction, verbatim
    seq_df = df.selectExpr(
        "_row_id", "prompt",
        "row_number() over (order by _row_id) - 1 as _seq",
    )
    items = (
        seq_df.withColumn("_batch_id", (F.col("_seq") / 2).cast("long"))
        .groupBy("_batch_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("_seq"), F.col("_row_id"),
                             F.col("prompt").alias("p"))
                )
            ).alias("_items")
        )
    )
    ids_json = F.to_json(
        F.transform(
            "_items",
            lambda x, i: F.struct(
                (i + 1).cast("int").alias("id"), x["p"].alias("input")
            ),
        )
    )
    n = F.size("_items")
    n_str = n.cast("string")
    old_expr = F.concat(
        F.lit("Process these "), n_str,
        F.lit(" items and return a JSON array.\n\nINPUT:\n"),
        ids_json,
        F.lit("\n\nCRITICAL OUTPUT REQUIREMENTS:\n1. Return a JSON array with "),
        n_str,
        F.lit(
            ' objects\n2. Each object must have "id" (number) and "result" '
            "(string, object, or number) fields\n3. IDs must match the input IDs (1 to "
        ),
        n_str,
        F.lit(
            ")\n4. Return ONLY the JSON array, no explanations or markdown\n\n"
            "OUTPUT FORMAT:\n[\n"
            '  {"id": 1, "result": "your result here"},\n'
            '  {"id": 2, "result": {"nested": "json object"}},\n'
            '  ...\n  {"id": '
        ),
        n_str,
        F.lit(', "result": "your result here"}\n]\n\nJSON Array:'),
    )
    want = items.select(old_expr.alias("prompt")).collect()
    assert sorted(r["prompt"] for r in got) == sorted(r["prompt"] for r in want)


def test_chunked_assembly_parity(spark):
    """aggregate_batches_per_chunk (the assemble-once spill of the chunked
    runner) must produce the SAME batches as running aggregate_batches on
    each chunk's slice: same membership, same _seq-order, and
    byte-identical mega-prompt text (memo keys and the mock client's
    parser both key on the bytes). Chunk size deliberately not a multiple
    of batch size so tail batches differ per chunk."""
    from pyspark.sql import functions as F

    from ondine_spark.operators.batching import (
        aggregate_batches,
        aggregate_batches_per_chunk,
    )

    n, cs, bs = 23, 7, 3
    rows = [(f"r{i:02d}", f'text {i} "q" é\n') for i in range(n)]
    df = (
        spark.createDataFrame(rows, ["_row_id", "prompt"])
        .coalesce(1)
        .selectExpr(
            "_row_id", "prompt",
            "row_number() over (order by _row_id) - 1 as _seq",
        )
        .withColumn("_chunk", (F.col("_seq") / cs).cast("long"))
    )
    got_rows = aggregate_batches_per_chunk(df, bs, cs).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r["_chunk"], []).append(
            (tuple(r["_row_ids"]), r["prompt"])
        )
    mbpc = -(-cs // bs)
    for cid in range(-(-n // cs)):
        slice_df = df.where(F.col("_chunk") == cid).select("_row_id", "prompt")
        want_rows = aggregate_batches(slice_df, bs, persist=False).collect()
        want = sorted(
            (tuple(r["_row_ids"]), r["prompt"]) for r in want_rows
        )
        assert sorted(got[cid]) == want, f"chunk {cid} mismatch"
        # global ids are chunk-rebased and dense from cid*mbpc
        ids = sorted(
            r["_batch_id"] for r in got_rows if r["_chunk"] == cid
        )
        assert ids == [cid * mbpc + j for j in range(len(want))]


def test_chunked_batched_calls_exact(spark, tmp_path):
    """Chunked + batched: total api calls must be exactly
    sum over chunks of ceil(chunk_rows / batch_size) — the chunk-aligned
    batch ids must keep per-chunk grouping contiguous from 0."""
    from ondine_spark.streaming.runner import execute_chunked

    rows = [{"id": f"k{i:03d}", "review": f"row {i}"} for i in range(95)]
    calls = str(tmp_path / "calls.txt")
    p = (
        PipelineBuilder(spark)
        .from_dataframe(spark.createDataFrame(rows), ["review"], id_column="id")
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(mock_client_factory(count_file=calls))
        .with_batch_size(7)
        .with_checkpoint_dir(str(tmp_path / "ckpt"), "sq")
        .build()
    )
    summary = execute_chunked(p, chunk_size=30)
    assert summary.total_rows == 95
    # chunks: 30,30,30,5 -> ceil/7 = 5+5+5+1 = 16 calls
    assert sum(1 for _ in open(calls)) == 16


def test_custom_client_returning_dict(spark):
    """Round-7 verify drive, same class as the round-6 bare-string find:
    a custom client returning a plain dict ({'text': ..., 'tokens_in':
    ...}) crashed the retry wrapper with AttributeError. Dicts with a
    text/content/completion field are wrapped into LLMResult, token and
    cost fields carried through; a dict WITHOUT a text field raises a
    TypeError naming the expected shapes."""

    class DictClient:
        def complete(self, prompt, system=None):
            return {
                "text": "positive" if "great" in prompt else "neutral",
                "tokens_in": 7,
                "tokens_out": 2,
                "cost": "0.001",
                "model": "dicty",
            }

    p = (
        PipelineBuilder(spark)
        .from_dataframe(
            spark.createDataFrame(REVIEWS), ["review"], id_column="review_id"
        )
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(lambda: DictClient())
        .build()
    )
    res = p.execute()
    assert res.quality.valid_rows == 6
    assert res.stats.total_cost == Decimal("0.001") * 6
    assert res.stats.tokens_in == 42 and res.stats.tokens_out == 12
    vals = {r["sentiment"] for r in res.data.collect()}
    assert vals <= {"positive", "neutral"} and "positive" in vals

    class BadDictClient:
        def complete(self, prompt, system=None):
            return {"label": "positive"}  # no text field

    p2 = (
        PipelineBuilder(spark)
        .from_dataframe(
            spark.createDataFrame(REVIEWS), ["review"], id_column="review_id"
        )
        .with_prompt("Classify: {review}", ["sentiment"])
        .with_custom_llm_client(lambda: BadDictClient())
        .with_error_policy("skip")
        .with_max_retries(0)
        .build()
    )
    # every row errors -> the no-output guard escalates, carrying the
    # shape-naming TypeError as the sample error
    with pytest.raises(RuntimeError, match="'text'/'content'/'completion'"):
        p2.execute()
