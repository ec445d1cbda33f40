"""N:1 mega-prompt batching (A1) and 1:N disaggregation (A2).

The reference's headline optimization: group N prompts into one JSON-array
"mega-prompt" → 1 API call answers N rows (15×-100× fewer calls; reference:
ondine/stages/batch_aggregator_stage.py:56-209 and
ondine/strategies/json_batch_strategy.py:35-240).

Spark-first design:
- Global contiguous row sequence via the two-pass offset trick (per-partition
  counts collected to the driver — tiny — then a mapInPandas assigns
  ``offset[pid] + local_pos``). This keeps API calls EXACTLY
  ceil(N/batch_size) (BASELINE.md target) without a single-partition window,
  and scales: no shuffle, one cheap count job.
- The mega-prompt text is built entirely JVM-side: ``collect_list(struct)``
  → ``array_sort`` → ``to_json`` → ``concat`` (whole-stage codegen).
- Disaggregation ports the reference's fallback-heavy parser (markdown
  fences, id- vs position-based matching, partial-parse padding) into one
  pandas kernel, :func:`split_batch_rows`, that turns answered batch rows
  into per-row responses. The invoke runs it in the same Python worker
  that made the calls, so a mega-batch crosses the JVM↔Python boundary
  once and the mega-prompt never travels back to the JVM.
"""

from __future__ import annotations

import json
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ondine_spark.sources.readers import ROW_ID

BATCH_ID = "_batch_id"


def with_global_index(
    df: DataFrame, out_col: str = "_seq", persist: bool = True
) -> DataFrame:
    """Assign a 0-based contiguous global index without a global shuffle.

    Two passes: (1) count rows per partition (driver collects numPartitions
    integers), (2) mapInPandas adds offset + local position. Index is
    contiguous and unique; ordering is partition order, which is
    deterministic for a fixed input + partitioning within a run (batch
    grouping only needs intra-run determinism — cross-run identity is
    ``_row_id``'s job).

    With ``persist`` (the default) the input is cached MEMORY_AND_DISK
    before the count pass, so pass 2 — and any further reuse of the frame
    downstream — reads cached blocks instead of re-running the source scan
    (at 100 TB the re-scan was the single biggest avoidable cost in the
    batched spine). The cache handle is attached to the returned frame as
    ``_ondine_cached`` so the caller can unpersist once results are
    materialized; partition ids are stable because ``_pid`` is computed
    once and stored in the cached blocks.
    """
    # Stay JVM-side: ``monotonically_increasing_id`` is
    # ``partition_index << 33 | row_index_within_partition`` with the low
    # 33 bits CONTIGUOUS from 0 per partition, so the per-partition offset
    # can be applied with a broadcast join — no Python worker round-trip
    # (the previous mapInPandas pass shipped every row through Arrow just
    # to add one column; measured ~0.5 s of the 100K-row spine).
    mid_df = df.withColumn("_mid", F.monotonically_increasing_id())
    if persist:
        from pyspark import StorageLevel

        mid_df = mid_df.persist(StorageLevel.MEMORY_AND_DISK)
    counts = dict(
        mid_df.groupBy(F.shiftright("_mid", 33).alias("_pid"))
        .count()
        .collect()
    )  # {partition_id: rows} — numPartitions entries, trivially small
    offsets = []
    acc = 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    pid = F.shiftright("_mid", 33)
    local = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    if len(offsets) <= 4096:
        # literal pid->offset map: a pure projection — no join node, so
        # the plan (and Catalyst's size estimates downstream) stay
        # identical to the input's. Built as ONE parsed SQL expression:
        # the F.create_map(*[F.lit(v) ...]) form costs 2 py4j round-trips
        # per partition (~0.1 s of driver latency at 32+ partitions,
        # per plan build) while expr() parses the whole literal JVM-side.
        if offsets:
            pairs = ", ".join(f"{k}L, {v}L" for k, v in offsets)
        else:
            pairs = "0L, 0L"
        off_map = F.expr(f"map({pairs})")
        seq = F.coalesce(F.element_at(off_map, pid), F.lit(0)) + local
        out = mid_df.withColumn(out_col, seq).drop("_mid")
    else:  # huge partition counts: broadcast the offsets table instead
        off_df = df.sparkSession.createDataFrame(
            offsets, schema="_pid long, _off long"
        )
        out = (
            mid_df.withColumn("_pid", pid)
            .join(F.broadcast(off_df), on="_pid", how="left")
            .withColumn(out_col, F.coalesce(F.col("_off"), F.lit(0)) + local)
            .drop("_pid", "_off", "_mid")
        )
    out._ondine_cached = [mid_df] if persist else []
    # the offset pass already counted every partition — expose the total
    # so callers (the chunked runner) never pay a separate count job
    out._ondine_total_rows = acc
    return out


def _mega_prompt_sql(items_json_sql: str, n_sql: str) -> str:
    """SQL-string concat reproducing the reference's batch prompt format
    (json_batch_strategy.py:80-99) — braces and wording kept identical so a
    deterministic mock client (and the oracle) can recognize it. Built as
    ONE parseable SQL expression instead of a 12-call ``F.concat`` chain:
    plan construction is pure py4j latency, paid per plan build, so the
    whole expression ships as a single string
    (byte-parity with the previous Column form is pinned by
    test_batching_sql_exprs)."""
    n = f"CAST({n_sql} AS STRING)"
    return (
        f"concat('Process these ', {n}, "
        f"' items and return a JSON array.\\n\\nINPUT:\\n', {items_json_sql}, "
        f"'\\n\\nCRITICAL OUTPUT REQUIREMENTS:\\n"
        f"1. Return a JSON array with ', {n}, ' objects\\n"
        f'2. Each object must have "id" (number) and "result" (string, '
        f"object, or number) fields\\n"
        f"3. IDs must match the input IDs (1 to ', {n}, ')\\n"
        f"4. Return ONLY the JSON array, no explanations or markdown\\n\\n"
        f"OUTPUT FORMAT:\\n[\\n"
        f'  {{"id": 1, "result": "your result here"}},\\n'
        f'  {{"id": 2, "result": {{"nested": "json object"}}}},\\n'
        f"  ...\\n"
        f'  {{"id": \', {n}, \', "result": "your result here"}}\\n'
        f"]\\n\\nJSON Array:')"
    )


def aggregate_batches(
    df: DataFrame, batch_size: int, prompt_col: str = "prompt",
    persist: bool = True,
) -> DataFrame:
    """A1: rows → one row per batch with ``prompt`` = mega-prompt and
    ``_row_ids`` = array of member row ids (position-aligned with batch ids
    1..n).

    The global index keeps batches CONTIGUOUS in the partition order, so
    every batch's rows live in one mapper partition and the groupBy's
    map-side combine collapses them BEFORE the exchange — the shuffle
    carries one row per batch, not one per input row. (A partition-local
    batch-key variant with a tiny tail re-batch was measured here and
    was ~1.6x slower: its full/tail branches re-run the aggregation and
    the saved count job is nearly free against the cached input.)

    Pass ``persist=False`` when the caller already cached ``df`` (the
    pipeline does — the prompt frame also feeds the keep-columns join)."""
    if batch_size <= 1:
        raise ValueError("batch_size must be > 1 for aggregation")
    seq = with_global_index(df, persist=persist)
    out = _assemble_batches(
        seq, f"CAST(_seq / {batch_size} AS LONG)", prompt_col
    )
    out._ondine_cached = getattr(seq, "_ondine_cached", [])
    return out


def aggregate_batches_per_chunk(
    df: DataFrame, batch_size: int, chunk_size: int,
    prompt_col: str = "prompt",
) -> DataFrame:
    """Chunk-aligned batch assembly for the chunked runner: assemble EVERY
    chunk's mega-prompt batches in ONE job over the run-level ``_seq`` and
    ``_chunk`` columns, so each per-chunk job is a shuffle-free scan of
    its own pre-assembled batch rows (the per-chunk groupBy exchange was
    the largest slice of the ~0.4 s/chunk fixed cost at 1000 chunks,
    tools/chunk_overhead.py). Batch membership depends only on the static
    global index, so nothing about it is per-chunk work.

    ``BATCH_ID`` is globally unique and ``_seq``-ordered:
    ``chunk * ceil(chunk_size/batch_size) + (chunk-rebased _seq) //
    batch_size``. Membership — and therefore the mega-prompt BYTES,
    ``api_calls = ceil(chunk_rows/batch_size)`` per chunk, and memo keys
    — is identical to running :func:`aggregate_batches` on each chunk
    slice (pinned by test_batching's chunked-assembly parity test).
    Output: one row per batch with ``_chunk``, ``BATCH_ID``, ``_row_ids``
    and the rendered mega-prompt.
    """
    if batch_size <= 1:
        raise ValueError("batch_size must be > 1 for aggregation")
    mbpc = -(-chunk_size // batch_size)  # max batches per chunk
    return _assemble_batches(
        df,
        f"_chunk * {mbpc}L + CAST((_seq - _chunk * {chunk_size}L)"
        f" / {batch_size} AS LONG)",
        prompt_col, lead=f"{BATCH_ID} DIV {mbpc} AS _chunk",
    )


def _assemble_batches(
    seq: DataFrame, batch_id_sql: str, prompt_col: str, lead: str = ""
) -> DataFrame:
    """The one batch-assembly body: group ``_seq``-indexed rows by
    ``batch_id_sql`` and render each group's mega-prompt. One parsed
    expression per projection: plan construction here is pure py4j
    latency paid per run (the previous Column-chain form was ~430 round
    trips ≈ 0.2 s per plan build; byte-parity pinned by
    test_batching_sql_exprs)."""
    items = (
        seq.selectExpr(
            f"{batch_id_sql} AS {BATCH_ID}",
            "_seq",
            ROW_ID,
            f"`{prompt_col}` AS _p",
        )
        .groupBy(BATCH_ID)
        .agg(
            F.expr(
                f"array_sort(collect_list(struct(_seq, {ROW_ID}, _p)))"
            ).alias("_items")
        )
    )
    ids_json_sql = (
        "to_json(transform(_items, (x, i) -> "
        "struct(CAST(i + 1 AS INT) AS id, x._p AS input)))"
    )
    return items.selectExpr(
        *([lead] if lead else []),
        BATCH_ID,
        f"transform(_items, x -> x.{ROW_ID}) AS _row_ids",
        _mega_prompt_sql(ids_json_sql, "size(_items)") + f" AS `{prompt_col}`",
    )


# ------------------------------------------------------------ A2: parse back

_ARRAY_RE = re.compile(r"\[(?:[^[\]]|\[(?:[^[\]]|\[[^\[\]]*\])*\])*\]", re.DOTALL)
_OBJ_RE = re.compile(r"\{[^{}]*(?:\{[^{}]*\}[^{}]*)*\}", re.DOTALL)


def parse_batch_response(response: str, expected: int) -> list:
    """Port of the reference's batch response parser
    (json_batch_strategy.py:101-240): regex-extract the JSON array (fence
    tolerant), unwrap ``{"items": [...]}``, match by id when the id looks
    like a 1-based batch index else by position, pad missing ids with None
    (the reference pads with the string "null" then parses it to None).
    Returns a list of ``expected`` result strings (or None)."""
    out: list = [None] * expected
    if not response:
        return out
    # strict parse first: a well-formed response must never lose data to
    # the regex fallback (bracket characters INSIDE string literals break
    # the balanced-bracket matcher — found by hypothesis)
    data = None
    stripped = response.strip()
    if stripped.startswith("```"):
        stripped = stripped.strip("`")
        if stripped.startswith("json"):
            stripped = stripped[4:]
        stripped = stripped.strip()
    try:
        data = json.loads(stripped)
    except json.JSONDecodeError:
        data = None
    if data is None:
        m = _ARRAY_RE.search(response)
        text = m.group(0) if m else None
        if text is None:
            m = _OBJ_RE.search(response)
            if m:
                text = f"[{m.group(0)}]"
        if text is None:
            return out
        try:
            data = json.loads(text)
        except json.JSONDecodeError:
            return out
    if isinstance(data, dict) and "items" in data:
        data = data["items"]
    if not isinstance(data, list):
        return out
    for idx, item in enumerate(data):
        if not isinstance(item, dict):
            if idx < expected:
                out[idx] = _result_str(item)
            continue
        rid = item.get("id")
        has_batch_id = (
            rid is not None
            and str(rid).isdigit()
            and 1 <= int(rid) <= expected
        )
        if has_batch_id and "result" in item:
            out[int(rid) - 1] = _result_str(item["result"])
        elif has_batch_id:
            rest = {k: v for k, v in item.items() if k != "id"}
            out[int(rid) - 1] = _result_str(rest if rest else None)
        else:
            if idx < expected:
                out[idx] = _result_str(item["result"] if "result" in item else item)
    return out


def _result_str(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, str):
        return v
    return json.dumps(v, separators=(",", ":"))


#: the per-row frame every split returns, in this order; ``cost`` is the
#: exact decimal string here and ``decimal(38,18)`` once cast JVM-side
SPLIT_SCHEMA = (
    f"{BATCH_ID} long, {ROW_ID} string, response_text string, "
    "tokens_in int, tokens_out int, cost string, latency_ms double, "
    "resp_model string, error string"
)


def split_batch_rows(pdf: pd.DataFrame, cost_col: str = "cost") -> pd.DataFrame:
    """A2 kernel: answered batch rows (``BATCH_ID``, ``_row_ids``,
    ``response_text``, tokens, ``cost_col``, ``latency_ms``,
    ``resp_model``, ``error``) → one row per member, in ``SPLIT_SCHEMA``
    order. The batch's tokens and cost go to its first row (cost NULL on
    the rest, so run totals stay exact, like the reference attributing
    cost per API call); latency, model and error are copied to every
    row. Cost values pass through untouched."""
    n = np.array(
        [0 if ids is None else len(ids) for ids in pdf["_row_ids"]],
        dtype=np.int64,
    )
    take = np.repeat(np.arange(len(pdf)), n)
    first = np.zeros(len(take), dtype=bool)
    first[(np.cumsum(n) - n)[n > 0]] = True

    def rep(col):
        return pdf[col].to_numpy()[take]

    def first_only(col, fill):
        v = rep(col)
        v[~first] = fill
        return v

    texts = [
        r for resp, k in zip(pdf["response_text"], n)
        for r in parse_batch_response(resp, int(k))
    ]
    return pd.DataFrame({
        BATCH_ID: rep(BATCH_ID),
        ROW_ID: [r for ids in pdf["_row_ids"] if ids is not None for r in ids],
        "response_text": texts,
        "tokens_in": first_only("tokens_in", 0),
        "tokens_out": first_only("tokens_out", 0),
        "cost": first_only(cost_col, None),
        "latency_ms": rep("latency_ms"),
        "resp_model": rep("resp_model"),
        "error": rep("error"),
    })


def disaggregate_batches(batch_df: DataFrame) -> DataFrame:
    """A2 over an answered batch frame (``_row_ids``, ``response_text``,
    token/cost cols) → per-row frame through :func:`split_batch_rows` in
    one ``mapInPandas``. The invoke itself splits in its own worker
    (``invoke_llm(per_row=True)``); this serves the frames that arrive
    batch-level: memoized responses and provider-batch results."""
    src = batch_df.selectExpr(
        BATCH_ID, "_row_ids", "response_text", "tokens_in", "tokens_out",
        "CAST(cost AS STRING) AS cost", "latency_ms", "resp_model", "error",
    )
    return src.mapInPandas(
        lambda batches: (split_batch_rows(pdf) for pdf in batches),
        SPLIT_SCHEMA,
    ).withColumn("cost", F.col("cost").cast("decimal(38,18)"))
