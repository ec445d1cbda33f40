"""One-rep noop-sink timing sweep over EVERY declared query (guide §1:
measure first; the bench covers 27 of the ~50 gates — this catches heavy
gate-only paths the bench never times).

Usage: python tools/sweep_all_queries.py [sf_dir] [reps]
Times each query's noop sink with bench.py's session and measure(): the
median of ``reps`` (default 1) GC-fenced, load-gated reps, one stderr line
per query, then one JSON line. Run on a quiet box.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1

    from bench import Measured, measure, session, warm_up

    spark = session("sweep_all_queries")
    import __spark_entry__ as entry

    warm_up(spark)
    book = Measured(tag=" [noop]")
    for name, fn in entry.queries().items():
        spark.sparkContext.setJobDescription(f"sweep:{name}")
        measure(
            spark, book, name,
            lambda fn=fn: fn(spark, sf_dir).write.format("noop")
            .mode("overwrite").save(),
            reps,
        )

    # gc_fenced marks the measurement methodology: reps are GC-fenced
    # (since r8), so these numbers are NOT comparable to pre-r8 un-fenced
    # sweep history
    print(json.dumps({
        "gc_fenced": True,
        "queries": dict(sorted(book.timings.items(), key=lambda kv: -kv[1])),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
