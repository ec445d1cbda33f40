"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload enrich_batched --seed 1 --seconds 10 --trace 0

Run from the repository root. The run sets up a local Spark session
(set-up ends after one untimed warm pass of the workload at tiny size),
generates the workload's inputs from the seed, then repeats the workload
as a closed loop (one call in flight, the next submitted when the
previous one returned and was verified), as many times as fit in
``--seconds`` at the workload's nominal iteration time. With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` a
separate traced pass adds the per-layer metrics instead. Everything the
run writes stays under ``perfbench/_work`` and is removed at exit; the
per-iteration detail (host load, commit samples, spans) goes to
``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

T_START = time.monotonic()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ------------------------------------------------------------- host probes

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _procs():
    """{pid: (ppid, cpu jiffies incl. reaped children, rss bytes)}."""
    out = {}
    for sd in os.listdir("/proc"):
        if not sd.isdigit():
            continue
        try:
            with open(f"/proc/{sd}/stat", "rb") as fh:
                st = fh.read().decode("ascii", "replace")
        except OSError:
            continue  # raced a process exit
        # comm may hold spaces or parens: parse after the last ')'
        f = st[st.rindex(")") + 2:].split()
        out[int(sd)] = (
            int(f[1]),
            int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]),
            int(f[21]) * _PAGE,
        )
    return out


def _exe(pid):
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def _tree(procs, root):
    kids = {}
    for pid, (ppid, *_) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    pids, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in procs:
            pids.append(p)
        stack.extend(kids.get(p, []))
    return pids


def _busy_jiffies():
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals) - vals[3] - vals[4]  # minus idle and iowait


class HostLoad:
    """External CPU during a window, measured as bench.py's timed_rep
    does: all busy jiffies minus those of this process tree (driver,
    JVM, Python workers), in cores."""

    def __enter__(self):
        p = _procs()
        self.t0, self.busy0 = time.monotonic(), _busy_jiffies()
        self.tree0 = sum(p[x][1] for x in _tree(p, os.getpid()))
        return self

    def __exit__(self, *exc):
        p = _procs()
        wall = max(time.monotonic() - self.t0, 1e-3)
        tree = sum(p[x][1] for x in _tree(p, os.getpid())) - self.tree0
        busy = _busy_jiffies() - self.busy0
        self.ext_cores = max(0, busy - tree) / _HZ / wall
        return False


class RssSampler(threading.Thread):
    """Peak resident memory of the whole process tree, sampled."""

    def __init__(self, every_s=0.1):
        super().__init__(daemon=True)
        self.every_s, self.peak = every_s, 0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            p = _procs()
            # A JVM starts subprocesses (the file system's shell calls)
            # with a vfork-style spawn: until the exec, the child shares
            # the parent's memory and shows its whole RSS. Counting it
            # would double the JVM for that instant.
            rss = sum(p[x][2] for x in _tree(p, os.getpid())
                      if not (_exe(x) == "java" and _exe(p[x][0]) == "java"))
            self.peak = max(self.peak, rss)
            self._halt.wait(self.every_s)

    def stop(self):
        self._halt.set()
        self.join(timeout=5)


# ----------------------------------------------------------------- session

def cpu_count():
    return len(os.sched_getaffinity(0))


def build_session(work):
    from pyspark.sql import SparkSession

    cpus = cpu_count()
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) // (1024 * 1024)
    # a fixed-size heap (-Xms = -Xmx) of a quarter of the box, 1-2 GB: the
    # inputs are small, the box is shared with the Python workers, and a
    # heap that never shrinks keeps peak RSS from swinging with GC timing
    heap = max(1, min(2, mem_gb // 4))
    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap}g -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # start the Python worker pool: one Arrow worker per core
    spark.range(cpus * 4).repartition(cpus).mapInPandas(
        lambda it: it, "id long"
    ).count()
    return spark


def stop_spark(spark):
    """Stop the context, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _quantile_tail(xs):
    """Highest percentile with at least ten samples beyond it; the max
    when there are too few samples for that."""
    xs = sorted(xs)
    return xs[len(xs) - 11] if len(xs) > 10 else xs[-1]


# -------------------------------------------------------------------- main

def main(argv=None):
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "ondine_spark", "__init__.py")):
        print(f"perfbench: no ondine_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Arrow workers are separate interpreters: the package must be on
    # their path too; everything temporary stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    wl = workloads.WORKLOADS[args.workload](args.seed, work)
    spark = None
    try:
        spark = build_session(work)
        t_session = time.monotonic() - T_START
        wl.warm(spark)
        setup_s = time.monotonic() - T_START
        wl.prepare(spark)
        detail = {"workload": args.workload, "seed": args.seed,
                  "cpus": cpu_count(), "session_s": t_session,
                  "setup_s": setup_s}
        if args.trace:
            result = traced_run(spark, wl, args, detail)
        else:
            result = timed_run(spark, wl, args, detail, setup_s)
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(HERE, "results", name), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for err in result.pop("errors"):
        print(f"perfbench: CHECK FAILED: {err}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def iterate(spark, wl, tag):
    """One closed-loop iteration, GC-fenced, with the external CPU and
    the process tree's peak RSS over its window."""
    spark._jvm.System.gc()
    sampler = RssSampler()
    sampler.start()
    try:
        with HostLoad() as load:
            it = wl.iteration(spark, tag)
    finally:
        sampler.stop()
    it.update(ext_cores=load.ext_cores, peak_rss_bytes=sampler.peak)
    print(f"# {tag}: {it['rows']} rows in {it['wall']:.3f} s, "
          f"ext {load.ext_cores:.2f} cores", file=sys.stderr)
    wl.cleanup(spark)
    return it


def timed_run(spark, wl, args, detail, setup_s):
    # as many iterations as fit in --seconds at the workload's nominal
    # iteration time, as a fixed count: every run of a workload then
    # measures the same iterations (the JIT still warms up over the first
    # ones), also when the host runs slower and a time box would cut the
    # count
    n = max(1, int(args.seconds // wl.nominal_s))
    iters = [iterate(spark, wl, f"it{i}") for i in range(n)]
    commits = [c for it in iters for c in it["commits"]]
    detail.update(iterations=iters, commits_n=len(commits))
    errors = [e for it in iters for e in it["errors"]]
    return {
        "correct": not errors,
        "attempted": sum(it["attempted"] for it in iters),
        "failed": sum(it["failed"] for it in iters),
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "rows_per_s": {"value": statistics.median(
                it["rows"] / it["wall"] for it in iters), "unit": "rows/s"},
            "commit_p50_s": {"value": statistics.median(commits), "unit": "s"},
            "commit_tail_s": {"value": _quantile_tail(commits), "unit": "s"},
            "peak_rss_mb": {"value": statistics.median(
                it["peak_rss_bytes"] for it in iters) / 2**20, "unit": "MB"},
        },
        "errors": errors,
    }


def traced_run(spark, wl, args, detail):
    import tracing

    tracer = tracing.Tracer(spark, run_id=f"{args.workload}-{args.seed}")
    # one iteration to finish warming up, the untraced wall of the next,
    # then the same iteration traced
    runs = [iterate(spark, wl, tag) for tag in ("warmup", "untraced")]
    plain = runs[-1]
    spark._jvm.System.gc()
    layers, traced = wl.traced(spark, tracer)
    layers["trace_overhead_s"] = traced["wall"] - plain["wall"]
    detail.update(spans=tracer.spans, untraced_wall=plain["wall"],
                  traced_wall=traced["wall"])
    layers.update(tracer.engine_totals())
    runs.append(traced)
    errors = [e for it in runs for e in it["errors"]]
    return {
        "correct": not errors,
        "attempted": sum(it["attempted"] for it in runs),
        "failed": sum(it["failed"] for it in runs),
        "metrics": {name: {"value": layers.get(name, 0), "unit": unit}
                    for name, unit in tracing.PER_LAYER},
        "errors": errors,
    }


if __name__ == "__main__":
    sys.exit(main())
