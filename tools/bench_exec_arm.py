"""Focused exec-arm bench for the round-6 → round-7 bisect.

Runs ONLY the two 100K-row execute() arms (batched b=25, naive b=1)
from bench.py, N reps each, against $SPARK_GRAFT_SF_DIR — nothing else
— so the number is comparable across commits without paying the full
27-query session (and without the session's heap history influencing
the arms). Prints one JSON line.

Usage:  PYTHONPATH=<repo> python tools/bench_exec_arm.py [reps]
(run it ALONE on the box; anything else running inflates 2-4x)
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    reps_n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)

    from bench import (
        Measured,
        measure,
        prompt_bytes,
        session,
        spine_100k,
        warm_up,
    )

    spark = session("exec_arm_bisect")
    warm_up(spark)
    big, build = spine_100k(spark, sf_dir)

    rows, total, avg = prompt_bytes(big)

    # warm both arms once (codegen + python worker pool for the spine)
    build(25).result_frame().select("uid").count()
    spark.catalog.clearCache()

    out: dict = {
        "metric": "exec_arm_bisect",
        "sf": float(m.group(1)) if m else 0.0,
        "reps": reps_n,
        "rows": rows,
        "prompt_bytes_total": total,
        "prompt_bytes_avg": avg,
        "git": os.popen(f"git -C {REPO} rev-parse --short HEAD").read().strip(),
    }
    book = Measured()
    for arm, batch in (("batched", 25), ("naive", 1)):
        key = f"enrich_{arm}_100k_exec"
        _, res = measure(spark, book, key, lambda b=batch: build(b).execute(),
                         reps_n)
        out[key] = book.timings[key]
        out[f"{key}_runs"] = book.samples[key]
        out[f"api_calls_{arm}"] = res.api_calls
    print(json.dumps(out))


if __name__ == "__main__":
    main()
