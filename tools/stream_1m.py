"""Streaming dedup at scale with kill/restart (round-5 verdict item 3).

Runs run_dedup_stream (streaming/incremental_dedup.py) over a 1M-doc
corpus arriving as 20 parquet files (micro-batch = 1 file), twice:

  golden : uninterrupted run
  crashed: the stream process is SIGKILLed mid-run (after the signature
           store shows ~8 committed batches), then RESTARTED from the
           same checkpointLocation + signature store

and asserts EXACTLY-ONCE state: the crashed+resumed run's output corpus
and signature store are row-identical to the golden run's (same doc
ids, no duplicate rows, same per-doc band rows). This is the claim the
reference cannot make — its streaming mode has no resume at all
(SURVEY §2.11 T5) — proven at 1M rows with a real process kill, the
same methodology as benchmarks/CRASH_1M.json.

The corpus embeds a known near-dup structure: ~3% of docs duplicate a
doc 1-2 FILES earlier (only the persisted signature store catches
these — the cross-restart state under test), plus ~1% within-file dups
(caught by the within-batch LSH bucket kernel); all other docs carry
near-disjoint shingle sets so they genuinely survive.

Usage: python tools/stream_1m.py [n_docs] [work_dir] [--kill-after N]
(spawns children; ``python tools/stream_1m.py --help`` for details)
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_FILES = 20


def session():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        )
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def _body(j):
    """Deterministic doc body for raw id ``j`` (a Column): four per-id
    hash tokens give every NON-duplicate doc a near-disjoint 3-gram
    shingle set (only the fixed frame words are shared, Jaccard ~0.1,
    far under the 0.5 threshold). The first version of this generator
    used a low-entropy template ('doc text body {id%7919} ...') and the
    dedup collapsed 1M docs to 2,172 survivors — every doc was a
    near-dup of every other, which contradicts the 3%-dup design and
    made the cross-batch store check trivial."""
    from pyspark.sql import functions as F

    def tok(mul, add, mod):
        return F.conv(((j * mul + add) % mod).cast("string"), 10, 36)

    # unique tokens at every OTHER position: any 3 consecutive words
    # contain at least one per-doc token, so no 3-gram shingle is shared
    # between distinct docs and non-dup pairwise Jaccard is ~0
    return F.concat_ws(
        " ",
        tok(2654435761, 5, 982451653), F.lit("doc"),
        tok(179424673, 7, 968665207), F.lit("text"),
        tok(15485863, 11, 899809343), F.lit("body"),
        tok(32452843, 3, 715225739), F.lit("mid"),
        tok(22801763489, 17, 654188429), F.lit("stable"),
        tok(200560490131, 23, 512927377), F.lit("tail"),
        (j % 7919).cast("string"),
    )


def gen_corpus(spark, in_dir: str, n_docs: int) -> None:
    """``n_docs`` (1M by default) docs over N_FILES files, ids increasing with arrival order.
    Two duplicate classes, both exact copies of an earlier doc's text
    (the same pure body expression evaluated at the earlier id):
    ~3% cross-FILE dups (source 75,011 ids back = 1-2 files earlier at
    50K docs/file — these are only caught by the persisted signature
    store, exercising the cross-restart state) and ~1% within-file dups
    (source 13 ids back — caught by the within-batch LSH bucket kernel)."""
    from pyspark.sql import functions as F

    per_file = n_docs // N_FILES
    for f in range(N_FILES):
        lo = f * per_file
        jid = F.col("id")
        df = spark.range(lo, lo + per_file).select(
            jid.alias("doc_id"),
            F.when(
                (jid % 33 == 0) & (jid >= 75_011), _body(jid - 75_011)
            )
            .when((jid % 97 == 1) & (jid >= 13), _body(jid - 13))
            .otherwise(_body(jid))
            .alias("text"),
        )
        # exactly ONE file per chunk: each arriving file is one
        # micro-batch (maxFilesPerTrigger=1), so the stream runs
        # N_FILES batches of n_docs/N_FILES docs — per-batch fixed
        # cost (store re-read, plan build) stays a rounding error
        df.coalesce(1).write.mode("append").parquet(in_dir)


CHILD = """
import sys, os
sys.path.insert(0, {repo!r})
sys.path.insert(0, os.path.join({repo!r}, "tools"))
from pyspark.sql import types as T
from stream_1m import session
from ondine_spark.streaming.incremental_dedup import run_dedup_stream
spark = session()
SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])
run_dedup_stream(
    spark,
    input_path={in_dir!r},
    schema=SCHEMA,
    id_col="doc_id",
    text_col="text",
    output_path={out!r},
    state_dir={state!r},
    checkpoint_location={ckpt!r},
    threshold=0.5,
    timeout_s=3600,
)
print("STREAM DONE")
"""


def run_child(dirs: dict, repo: str, kill_after: int | None) -> int:
    """Start the stream in a child process; optionally SIGKILL it once
    the signature store shows >= kill_after committed batch dirs.
    Returns the number of kills performed (0 or 1)."""
    from ondine_spark.streaming.incremental_dedup import stored_batch_ids

    code = CHILD.format(
        repo=repo,
        in_dir=dirs["in"],
        out=dirs["out"],
        state=dirs["state"],
        ckpt=dirs["ckpt"],
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", code],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        cwd=repo,
    )
    kills = 0
    if kill_after is not None:
        while proc.poll() is None:
            n = len(stored_batch_ids(dirs["state"]))
            if n >= kill_after:
                os.kill(proc.pid, signal.SIGKILL)
                proc.wait()
                kills = 1
                break
            time.sleep(0.5)
        else:
            raise AssertionError(
                "stream finished before the kill threshold — lower "
                "--kill-after"
            )
    else:
        proc.wait()
        if proc.returncode != 0:
            raise AssertionError(f"stream child failed rc={proc.returncode}")
    return kills


def snapshot(spark, dirs: dict):
    """Sorted content digests of output corpus + signature store."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(dirs["out"])
    store = spark.read.parquet(dirs["state"])
    n_docs = docs.count()
    n_distinct = docs.select("doc_id").distinct().count()
    docs_digest = docs.select(
        F.md5(F.concat_ws("\x1f", "doc_id", "text")).alias("h")
    ).agg(
        F.count("h").alias("n"),
        F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    store_digest = store.select(
        F.md5(
            F.concat_ws(
                "\x1f", "_id", "band", "key", F.to_json(F.col("sig"))
            )
        ).alias("h")
    ).agg(
        F.count("h").alias("n"),
        F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return {
        "docs": n_docs,
        "docs_distinct": n_distinct,
        "docs_digest": [int(docs_digest["n"]), str(docs_digest["s"])],
        "store_rows": int(store_digest["n"]),
        "store_digest": str(store_digest["s"]),
    }


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Streaming dedup crash parity: a golden run and a "
        "SIGKILLed + restarted run over the same corpus must leave "
        "identical output and signature store."
    )
    ap.add_argument("n_docs", nargs="?", type=int, default=1_000_000,
                    help="corpus size, spread over %d files" % N_FILES)
    ap.add_argument("work_dir", nargs="?", default=None,
                    help="working directory (default: a new temp dir); "
                    "an existing corpus under <work_dir>/in is reused")
    ap.add_argument("--kill-after", type=int, default=8, metavar="N",
                    help="SIGKILL the crashed arm once the signature store "
                    "shows this many committed batches")
    return ap.parse_args(argv)


def main() -> None:
    import shutil
    import tempfile

    args = parse_args()
    n_docs, kill_after = args.n_docs, args.kill_after
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = args.work_dir or tempfile.mkdtemp(prefix="stream1m_")
    spark = session()
    in_dir = os.path.join(work, "in")
    if not os.path.isdir(in_dir):
        gen_corpus(spark, in_dir, n_docs)

    results = {}
    for arm, kill in (("golden", None), ("crashed", kill_after)):
        dirs = {
            "in": in_dir,
            "out": os.path.join(work, arm, "out"),
            "state": os.path.join(work, arm, "state"),
            "ckpt": os.path.join(work, arm, "ckpt"),
        }
        shutil.rmtree(os.path.join(work, arm), ignore_errors=True)
        t0 = time.monotonic()
        kills = run_child(dirs, repo, kill)
        restarts = 0
        resume_wall = None
        if kill is not None:
            restarts = 1
            t1 = time.monotonic()
            run_child(dirs, repo, None)  # resume from checkpoint + store
            resume_wall = round(time.monotonic() - t1, 1)
        wall = time.monotonic() - t0
        results[arm] = {
            **snapshot(spark, dirs),
            "wall_sec": round(wall, 1),
            "resume_wall_sec": resume_wall,
            "kills": kills,
            "restarts": restarts,
        }
        print(f"# {arm}: {results[arm]}", file=sys.stderr)

    g, c = results["golden"], results["crashed"]
    identical = (
        g["docs"] == c["docs"]
        and g["docs_distinct"] == c["docs_distinct"]
        and g["docs_digest"] == c["docs_digest"]
        and g["store_rows"] == c["store_rows"]
        and g["store_digest"] == c["store_digest"]
    )
    no_dup_rows = (
        g["docs"] == g["docs_distinct"] and c["docs"] == c["docs_distinct"]
    )
    scale_tag = (
        f"{n_docs // 1_000_000}M" if n_docs % 1_000_000 == 0
        else str(n_docs)
    )
    line = {
        "metric": f"stream_dedup_{scale_tag.lower()}_crash_parity",
        "n_docs": n_docs,
        "n_files": N_FILES,
        "kill_after_batches": kill_after,
        "golden": g,
        "crashed": c,
        "identical": identical,
        "no_duplicate_rows": no_dup_rows,
        "ts": time.time(),
    }
    print(json.dumps(line))
    out = os.path.join(repo, "benchmarks", f"STREAM_{scale_tag}.json")
    with open(out, "w") as fh:
        json.dump(line, fh, indent=1)
    assert identical and no_dup_rows, "crash parity FAILED"


if __name__ == "__main__":
    main()
