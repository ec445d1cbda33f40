"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The query set covers the engine's hot paths: the full LLM-pipeline spine
(batched + unbatched, deterministic mock client), dedup (jaccard / minhash
/ simhash), embedding top-k, text analysis, and the relational/window ops.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from dataclasses import dataclass, field

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# NOTE (round 2): gate names changed when the 62 oracle gates were
# consolidated to 50 (exactly the driver's 50-gate cap). Mapping from round-1
# bench keys: enrich_batched+enrich_sentiment→enrich_modes,
# winnow_pairs_fast→winnow_pairs (both impls), embedding_topk+ann_ivf_full
# →topk_brute_vs_ivf, text_stats→text_quality, fingerprints+lang_id→
# lang_fingerprints, dup_ngram_frac→dup_chars_grams. Keys are stable from
# round 2 on; per-round history accumulates in benchmarks/history.jsonl.
BENCH_QUERIES = [
    "enrich_modes",
    "enrich_json_multicol",
    "dedup_exact",
    "jaccard_pairs",
    "minhash_sigs",
    "simhash_pairs",
    "dup_clusters",
    # round 4: the two winnow gates merged into one oracle gate; the bench
    # keeps timing each implementation separately (bench-local fns below)
    # so the history keys stay comparable across rounds
    "winnow_pairs",
    "winnow_pairs_fast",
    "topk_brute_vs_ivf",
    # round 4: the newly oracle-gated operators
    "pq_codes_adc",
    "bpe_word_tokens",
    "quality_margin",
    # round 3: per-bucket BLAS verify (was 22x slower via per-pair exprs
    # on skewed data) — benched so regressions in the kernel path surface
    "embedding_neardup",
    # round 3 (cont.): FAISS IVFPQ — train codebooks + coarse cells,
    # encode the corpus to m-byte codes, answer 10 queries at nprobe=4.
    # Bench-local (the driver's 50-gate registry is at its cap; recall
    # quality is pytest-gated in tests/test_product_quantization.py)
    "ivfpq_topk",
    "text_quality",
    "lang_fingerprints",
    "window_chunking",
    "events_hourly",
    "sessions",
    "dup_chars_grams",
    "revenue_by_nation",
    "rrf_fusion",
    # round 5: DSIR data selection end-to-end — fit both hashed-ngram
    # models (2 Summarizer.sum passes), score the corpus (zero-shuffle
    # integer dot), resample 10% without replacement (Gumbel top-k)
    "dsir_select",
]


def _q_dsir_select(spark, sf_dir):
    from pyspark.sql import functions as F

    from ondine_spark.operators.importance import (
        dsir_llr_table,
        dsir_resample,
        dsir_weights,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    # 2^13 buckets ≈ the DSIR paper's 10^4 hashed-ngram dimensionality
    # target_predicate (r8): the target is a filtered subset of docs, so
    # both distributions fit from ONE scan — table identical to passing
    # docs.where(...) as the target frame
    llr = dsir_llr_table(
        docs, None, "text",
        num_features=1 << 13, use_bigrams=True,
        target_predicate=F.col("lang") == "en",
    )
    w = dsir_weights(docs.select("doc_id", "text"), llr, "text",
                     num_features=1 << 13, use_bigrams=True)
    return dsir_resample(w, "doc_id", "dsir_w_q", max(n // 10, 1))


def _q_winnow(impl):
    def q(spark, sf_dir):
        from ondine_spark.operators.dedup import winnow_overlap_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return winnow_overlap_pairs(
            docs, "doc_id", "text", k=12, w=8, min_shared=10, max_df=20,
            impl=impl,
        )

    return q


def _q_ivfpq_topk(spark, sf_dir):
    """End-to-end IVFPQ: train sub-quantizers + coarse cells on a sample,
    encode the corpus (zero-shuffle Arrow pass), answer 10 queries at
    nprobe=4 over the m-byte codes."""
    from pyspark.sql import functions as F

    from ondine_spark.operators.product_quantization import (
        ivfpq_topk,
        pq_encode,
        train_pq_codebooks,
    )
    from ondine_spark.operators.similarity_search import (
        train_ivf_centroids,
    )

    # persisted (r8): the cast corpus feeds FOUR consumers (PQ codebook
    # training collect, IVF centroid training collect, the encode pass,
    # the query-side filter) — without the pin each re-runs the scan +
    # per-element double cast. Results identical; dropped by the bench's
    # per-rep clearCache.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    ).persist()
    # 25K training rows ≈ 100 points/centroid (FAISS's guideline is ~39
    # minimum): at sf10 the default 100K cap made driver-side Lloyd's the
    # dominant cost of the whole query (~2 min) for no recall gain
    books = train_pq_codebooks(emb, "embedding", m=8, nbits=8,
                               max_train_rows=25_000)
    cents = train_ivf_centroids(emb, nlist=8, max_train_rows=25_000)
    # cell assignment fused into the encode kernel (r8): one Arrow pass
    # instead of encode + a per-row nearest-centroid expression stage
    coded = pq_encode(emb, "embedding", books, cell_centroids=cents)
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivfpq_topk(
        coded, queries_df, k=5, codebooks=books, centroids=cents, nprobe=4
    )


# --------------------------------------------------------------------- load
# Host-load gating (round-5): three rounds running, the recorded BENCH
# artifact caught host-load noise and reported it as regression (uniform
# inflation across unrelated queries). load1 alone cannot separate "loaded
# host" from "slow engine" — its 1-minute decay carries the bench's OWN
# Spark bursts. Instead each rep measures EXTERNAL cpu directly: total busy
# jiffies from /proc/stat minus the jiffies consumed by this process tree
# (driver python + JVM + Arrow workers, all descendants of this pid). The
# difference is other processes' CPU during the rep — instantaneous, no
# decay. A rep with > LOAD_EXT_CORES external cores is discarded and
# retried (bounded); if it stays loaded it is kept but flagged, and the
# top-level "clean" goes false.
LOAD_EXT_CORES = float(os.environ.get("SPARK_GRAFT_BENCH_EXT_CORES", "1.0"))
LOAD_RETRIES = int(os.environ.get("SPARK_GRAFT_BENCH_LOAD_RETRIES", "2"))
_HZ = os.sysconf("SC_CLK_TCK")


def _total_busy_jiffies() -> int:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals) - vals[3] - vals[4]  # minus idle + iowait


def _tree_jiffies(root_pid: int) -> int:
    """utime+stime summed over root_pid and all its descendants, PLUS
    each process's cutime+cstime (reaped children). Without the c-fields
    a short-lived child that exits inside the rep window (e.g. the PQ
    trainer's fork pool) is invisible at the end sample and its CPU
    would be misread as EXTERNAL load (r8: ivfpq flagged "ext=8 cores"
    on an idle box). A child alive at one sample and reaped by the next
    is not double counted: its own utime drops out of the sum exactly
    when the parent's cutime picks the total up, so the delta stays the
    child's in-window consumption."""
    procs: dict[int, tuple[int, int]] = {}
    for sd in os.listdir("/proc"):
        if not sd.isdigit():
            continue
        try:
            with open(f"/proc/{sd}/stat", "rb") as fh:
                st = fh.read().decode("ascii", "replace")
        except OSError:
            continue  # raced a process exit
        # comm (field 2) may hold spaces/parens; parse after the LAST ')'
        f = st[st.rindex(")") + 2 :].split()
        procs[int(sd)] = (
            int(f[1]),
            int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]),
        )
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root_pid]
    while stack:
        p = stack.pop()
        if p in procs:
            total += procs[p][1]
        stack.extend(children.get(p, []))
    return total


def timed_rep(spark, run_once, retries: int = LOAD_RETRIES):
    """One GC-fenced, load-gated timed repetition.

    Returns (rep_dict, run_once_result). rep_dict carries the wall time
    plus the per-rep load evidence the artifact needs: loadavg before and
    after, external cores observed during the rep, and whether the rep
    stayed loaded after bounded retries.
    """
    rep, result = {}, None
    for attempt in range(retries + 1):
        spark._jvm.System.gc()
        time.sleep(0.2)
        l1_before = os.getloadavg()[0]
        busy0, tree0 = _total_busy_jiffies(), _tree_jiffies(os.getpid())
        t0 = time.monotonic()
        result = run_once()
        wall = time.monotonic() - t0
        busy1, tree1 = _total_busy_jiffies(), _tree_jiffies(os.getpid())
        ext_cores = max(0, (busy1 - busy0) - (tree1 - tree0)) / _HZ / max(wall, 1e-3)
        rep = {
            "sec": round(wall, 3),
            "load1_before": round(l1_before, 2),
            "load1_after": round(os.getloadavg()[0], 2),
            "ext_cores": round(ext_cores, 2),
            "loaded": ext_cores > LOAD_EXT_CORES,
            "retries": attempt,
        }
        if not rep["loaded"]:
            return rep, result
        print(
            f"#   rep loaded (ext={ext_cores:.1f} cores), "
            f"retry {attempt + 1}/{retries}",
            file=sys.stderr,
        )
        time.sleep(3.0)
    return rep, result


def _median(runs: list[float]) -> float:
    n = len(runs)
    return runs[n // 2] if n % 2 else (runs[n // 2 - 1] + runs[n // 2]) / 2


@dataclass
class Measured:
    """Per-query medians, sorted samples and per-rep load evidence of one
    metric (the count() set or the noop set), plus every query's timed
    closure for the end-of-run load-retry pass."""

    tag: str = ""
    timings: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)
    load: dict = field(default_factory=dict)
    registry: dict = field(default_factory=dict)


def measure(spark, book: Measured, name: str, run_once, reps_n: int,
            note=None):
    """The one measurement path of every bench number: ``reps_n`` reps of
    ``run_once``, each GC-fenced and load-gated by ``timed_rep`` (the
    previous run's heap debt otherwise swings timings 3-4x — JMH-style
    hygiene) and followed by ``clearCache`` (operators may persist
    intermediates; every rep is timed cold and in isolation). Records the
    median, the sorted samples and the reps' load evidence under ``name``
    in ``book``, and ``run_once`` in its registry for ``_retry_dirty``.
    ``note(result)`` describes the last rep's result on the stderr line.
    Returns (median, last rep's result)."""
    book.registry[name] = run_once
    reps: list[dict] = []
    result = None
    for _ in range(reps_n):
        rep, result = timed_rep(spark, run_once)
        reps.append(rep)
        spark.catalog.clearCache()
    runs = sorted(r["sec"] for r in reps)
    med = _median(runs)
    book.timings[name] = round(med, 3)
    book.samples[name] = runs
    book.load[name] = reps
    print(
        f"# {name}{book.tag}: median {med:.3f}s of "
        f"{[f'{r:.2f}' for r in runs]}"
        + (f" {note(result, med)}" if note else ""),
        file=sys.stderr,
    )
    return med, result


def _retry_dirty(spark, reps_n: int, book: Measured) -> None:
    """One whole-query retry pass for queries whose final reps stayed
    loaded (r8, verdict #1): per-rep retries cover second-scale load
    spikes, but a multi-minute external job dirties every rep of a
    query — re-measuring those queries once at the END of the run
    (minutes later, after one settle pause) rescues the record when
    the load was transient. Replaces timings only if the re-run is
    fully clean; otherwise the original loaded evidence stands and the
    artifact flags itself as before."""
    dirty = sorted(
        n for n, rs in book.load.items() if any(r["loaded"] for r in rs)
    )
    if not dirty:
        return
    print(f"# load-gate retry pass over{book.tag} {dirty}", file=sys.stderr)
    time.sleep(10.0)
    for name in dirty:
        retry = Measured(tag=f"{book.tag} [retry]")
        measure(spark, retry, name, book.registry[name], reps_n)
        if any(r["loaded"] for r in retry.load[name]):
            print(f"#   {name}: still loaded, keeping original reps",
                  file=sys.stderr)
            continue
        print(f"#   {name}: clean re-measure {retry.timings[name]:.3f}s "
              f"(was {book.timings[name]:.3f}s loaded)", file=sys.stderr)
        for m in ("timings", "samples", "load"):
            getattr(book, m)[name] = getattr(retry, m)[name]


def _history_band(hist_path: str, keys: set, sf: float, cpus: int,
                  last_n: int = 8):
    """Median + [min,max] band of the last N same-query-set, same-sf,
    same-core-count sessions — the context a reader needs to tell one
    slow session from a code regression. Sessions recorded under
    external host load (``clean: false``) are EXCLUDED: a dirty run is
    evidence about the box, not the code, and letting it widen the band
    would make the band unable to flag the next dirty run (r7 verdict #1
    — the 62.185 s loaded session must not stretch the [42, 52] clean
    band). Runs at a DIFFERENT core count are likewise excluded (r8: the
    driver also benches at reduced cores to measure scaling — those runs
    are evidence about scaling, not about drift at the standard width;
    rows predating the ``cpus`` field were all 32-core sessions)."""
    try:
        with open(hist_path) as fh:
            rows = [json.loads(ln) for ln in fh if ln.strip()]
    except (OSError, ValueError):
        return None
    same = [
        r
        for r in rows
        if set(r.get("queries", {})) == keys and r.get("sf") == sf
        and r.get("clean", True)  # pre-gate rows (no flag) count as clean
        and int(r.get("cpus", 32)) == cpus
    ]
    vals = [r["value"] for r in same[-last_n:]]
    if not vals:
        return None
    vals_sorted = sorted(vals)
    mid = vals_sorted[len(vals_sorted) // 2]
    return {"n": len(vals), "median": mid, "band": [min(vals), max(vals)]}


def bench_cpus() -> tuple[str, int]:
    """$SPARK_GRAFT_CPUS as the local master's width (raw) and as a core
    count (32 when it is not a number)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return cpus, int(cpus) if cpus.isdigit() else 32


def session(app_name: str = "ondine_spark_bench"):
    """The bench's Spark session; the tools that time queries take theirs
    from here too, so their numbers are comparable to the bench's."""
    from pyspark.sql import SparkSession

    cpus, n_cpu = bench_cpus()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n_cpu, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "90g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """JVM + python-worker warmup so the first timed query isn't charged for
    it: the mapInPandas no-op spins up the full Arrow worker pool (one
    Python interpreter per core, pandas/pyarrow imported) before timing."""
    n_cpu = bench_cpus()[1]
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(n_cpu * 4).repartition(n_cpu).mapInPandas(
        lambda it: it, "id long"
    ).count()


def spine_100k(spark, sf_dir: str):
    """The reference's benchmark scale (BASELINE.md: 100K rows in ~7.2 s
    crash+resume with a deterministic in-process LLM): the corpus's
    documents replicated to 100K rows, and a builder of the full spine
    over them (prompt → mega-batch at ``batch`` > 1 → mock LLM →
    disaggregate → parse → merge). Returns (rows, build(batch))."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from ondine_spark import PipelineBuilder

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    copies = max(1, 100_000 // max(docs.count(), 1))
    big = (
        docs.crossJoin(spark.range(copies).withColumnRenamed("id", "_rep"))
        .withColumn("uid", F.col("doc_id") * 1000 + F.col("_rep"))
        .select("uid", "text")
    )

    def build(batch):
        b = (
            PipelineBuilder(spark)
            .from_dataframe(big, ["text"], id_column="uid")
            .with_prompt(entry.TEMPLATE, ["sentiment"])
            .with_custom_llm_client(entry._mock_factory)
            .with_concurrency(16)
        )
        if batch > 1:
            b.with_batch_size(batch)
        return b.build()

    return big, build


def prompt_bytes(big) -> tuple[int, int, float]:
    """``(rows, total, average)`` text length of the 100K corpus from
    :func:`spine_100k`, in one aggregate. The workload denominator: the
    100K arms replicate `documents`, so the text length distribution
    differs per corpus while the row count stays fixed — cross-sf
    comparisons of the exec arms need the byte count in the artifact."""
    from pyspark.sql import functions as F

    row = big.select(
        F.count(F.lit(1)), F.sum(F.length("text")), F.avg(F.length("text"))
    ).first()
    return int(row[0]), int(row[1]), round(float(row[2]), 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_cpu = bench_cpus()[1]
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    spark = session()

    import __spark_entry__ as entry

    qs = dict(entry.queries())
    qs["ivfpq_topk"] = _q_ivfpq_topk
    qs["dsir_select"] = _q_dsir_select
    qs["winnow_pairs"] = _q_winnow("expr")
    qs["winnow_pairs_fast"] = _q_winnow("arrow")
    warm_up(spark)

    # per-query codegen warmup: the dedup/minhash expressions compile to
    # very large generated classes (10-25 s of janino+JIT on first run,
    # 0 after). Running each query once at the tiny SF compiles the SAME
    # generated code (plans differ only in scan paths), so the timed sf run
    # measures steady-state throughput — the quantity that scales to the
    # full corpus — not one-time compilation.
    warm_dir = sf_dir.replace(f"sf{m.group(1)}", "sf0.001") if m else sf_dir
    if not os.path.isdir(warm_dir):
        # generated scale dirs (localdata/sf1+) have no sf0.001 sibling;
        # warm against the driver's smallest tables instead
        warm_dir = "/root/testdata/sf0.001"
    # median-of-3 per query inside ONE session (round-2 verdict: single-run
    # samples swung 2-4x on the same code — winnow_pairs 5.7-10.7 s, simhash
    # 2.4-6.3 s — larger than most real regressions). The reported number is
    # the per-query MEDIAN; every raw sample lands in history.jsonl so later
    # rounds can separate noise from drift.
    reps_n = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    counted = Measured()
    # r9 (verdict #2, guide §1.4): a second, ADDITIONS-ONLY metric per
    # query. count() lets Catalyst prune computed projection columns, so
    # projection-shaped queries under-measure (lang_fingerprints read
    # 0.39 s while its true noop-sink cost was 11 s); the noop sink
    # computes EVERY column of every row. The count() metric, its key
    # set, the headline total and the history band are untouched — the
    # noop numbers ride alongside as queries_noop / value_noop /
    # clean_noop (this replaces tools/sweep_all_queries.py for the bench
    # set; the sweep tool remains for the non-bench oracle gates).
    noop = Measured(tag=" [noop]")

    def to_noop(df):
        df.write.format("noop").mode("overwrite").save()

    for name in BENCH_QUERIES:
        fn = qs[name]
        if warm_dir != sf_dir:
            fn(spark, warm_dir).count()
            spark.catalog.clearCache()
            # the noop plan compiles different generated code than the
            # pruned count() plan — warm it separately
            to_noop(fn(spark, warm_dir))
            spark.catalog.clearCache()
        measure(spark, counted, name, lambda fn=fn: fn(spark, sf_dir).count(),
                reps_n, note=lambda n, _med: f"({n} rows)")
        measure(spark, noop, name, lambda fn=fn: to_noop(fn(spark, sf_dir)),
                reps_n)

    big, build = spine_100k(spark, sf_dir)
    _, total, avg = prompt_bytes(big)
    prompt_bytes_100k = {
        "prompt_bytes_total_100k": total,
        "prompt_bytes_avg_100k": avg,
    }

    # r1-comparable headline: pure spine wall-clock (result_frame count,
    # no stats/quality aggregation passes) — keyed enrich_batched_100k
    # since round 1.
    def spine():
        return build(25).result_frame().select("uid", "sentiment")

    measure(spark, counted, "enrich_batched_100k", lambda: spine().count(),
            reps_n, note=lambda n, med: f"({n} rows, {n / med:.0f} rows/s)")
    measure(spark, noop, "enrich_batched_100k", lambda: to_noop(spine()),
            reps_n)
    # the two *_exec arms get NO noop twin: execute() is not a DataFrame
    # action — it already materializes every response column (plus the
    # stats/quality passes), so count-pruning cannot hide work there

    # 2-arm comparison at 100K rows: mega-batched (25 rows/call) vs naive
    # (1 call per row), via execute() so the call-counter accumulator is
    # surfaced — the batching call-reduction claim (~25x fewer calls) is
    # measured, not asserted. These timings include the stats/quality
    # aggregation passes execute() performs.
    #
    # Round-7 bisect note: these arms were SINGLE-REP through round 6,
    # sampling a distribution whose quiet-box spread is 2.3-5.6 s
    # (batched) — the r6 "+16-23% exec regression" was this sampling
    # noise, disproven by interleaved A/B at f4fd60f/fbdcc22/HEAD
    # (benchmarks/EXEC_ARM_BISECT.json). Median-of-reps_n now, like
    # every other query.
    api_calls: dict[str, int] = {}
    for arm, batch in (("batched", 25), ("naive", 1)):
        _, res = measure(
            spark, counted, f"enrich_{arm}_100k_exec",
            lambda b=batch: build(b).execute(), reps_n,
            note=lambda r, _med: f"({r.quality.valid_rows} valid rows, "
                                 f"{r.api_calls} api calls)",
        )
        api_calls[f"api_calls_{arm}"] = res.api_calls

    _retry_dirty(spark, reps_n, counted)
    _retry_dirty(spark, reps_n, noop)
    timings, timings_noop = counted.timings, noop.timings

    # clean = no query's FINAL (post-retry) reps were recorded under
    # external load; the artifact can no longer mistake a loaded host for
    # a slow engine without saying so. clean_noop covers the noop set
    # separately so a loaded noop rep cannot dirty the count()-metric
    # history band (and vice versa).
    clean = not any(r["loaded"] for reps in counted.load.values() for r in reps)
    clean_noop = not any(
        r["loaded"] for reps in noop.load.values() for r in reps
    )
    hist_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "benchmarks", "history.jsonl"
    )
    compact = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_noop": timings_noop,
        "value_noop": round(sum(timings_noop.values()), 3),
        "clean_noop": clean_noop,
        "clean": clean,
        "load_gate_ext_cores": LOAD_EXT_CORES,
        "history": _history_band(hist_path, set(timings), sf, n_cpu),
        "reps": reps_n,
        "cpus": n_cpu,
        "sf": sf,
        **api_calls,
        **prompt_bytes_100k,
    }
    detail = {**compact, "samples": counted.samples, "load": counted.load,
              "samples_noop": noop.samples, "load_noop": noop.load}
    # Per-rep samples + load evidence go to a SIDE FILE and an EARLIER
    # stderr line: round 5's artifact put them on the final line, which
    # outgrew the driver's tail-capture window and left BENCH_r05.json
    # with parsed: null. The LAST stdout line must stay compact and
    # self-contained (total, per-query medians, clean flag, band).
    try:
        hist_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "benchmarks")
        os.makedirs(hist_dir, exist_ok=True)
        with open(os.path.join(hist_dir, "history.jsonl"), "a") as fh:
            fh.write(json.dumps({"ts": time.time(), **detail}) + "\n")
        with open(os.path.join(hist_dir, "last_run_detail.json"), "w") as fh:
            json.dump({"ts": time.time(), **detail}, fh, indent=1)
    except OSError:
        pass
    print("# detail (per-rep samples + load evidence): "
          "benchmarks/last_run_detail.json + history.jsonl", file=sys.stderr)
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
