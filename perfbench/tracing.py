"""Spans and Spark-side layer metrics for the traced run.

A span wraps one call into one module's public function. It records
name, start, end, parent and run id, and tags every Spark job the call
starts with a job group of its own. On exit (after the listener bus has
drained) it reads, for those jobs only:

- job count, task count, stage shuffle-write and spill bytes, and the
  union of job intervals, from ``SparkContext.statusStore``;
- per-node SQL metrics of the SQL executions started inside the span
  (execution id above a watermark taken at span start), from the SQL
  status store, with ``total (min, med, max ...)`` strings reduced to
  their total.

Spans stay in memory and are written out with the run's detail at the
end. Nothing here runs in the untraced end-to-end measurement.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# (name, unit) of every per-layer metric, in BENCHMARK.json order
PER_LAYER = [
    ("plans.jobs", "count"), ("plans.driver_s", "s"),
    ("sources.scan_s", "s"), ("sources.cache_write_s", "s"),
    ("sources.resume_read_s", "s"),
    ("functions.render_s", "s"), ("functions.parse_s", "s"),
    ("functions.parse_failed_rows", "rows"),
    ("batching.assemble_s", "s"), ("batching.batches", "count"),
    ("batching.shuffle_bytes", "bytes"), ("batching.disaggregate_s", "s"),
    ("llm.invoke_s", "s"), ("llm.calls", "count"), ("llm.retries", "count"),
    ("llm.call_busy_s", "s"), ("llm.overlap", "ratio"),
    ("llm.python_worker_s", "s"), ("llm.arrow_bytes", "bytes"),
    ("quality.stats_s", "s"), ("merge.join_s", "s"),
    ("knowledge.ingest_s", "s"), ("knowledge.chunks", "count"),
    ("knowledge.retrieve_s", "s"), ("knowledge.postings_rows", "rows"),
    ("context.grounding_s", "s"), ("context.llm_reinvocations", "count"),
    ("streaming.spill_s", "s"), ("streaming.chunk_s", "s"),
    ("streaming.trigger_overhead_s", "s"),
    ("dedup.signature_s", "s"), ("dedup.store_check_s", "s"),
    ("dedup.pairs_to_cc", "count"), ("dedup.cc_s", "s"),
    ("dedup.largest_bucket", "count"),
    ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.tasks", "count"),
    ("trace_overhead_s", "s"),
]

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """SQL UI metric string → number (bytes, seconds or a plain count).
    Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``:
    the total is the first number on the second line."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[tuple[str, str]] = []
        self._n = 0

    def _drain(self):
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _exec_watermark(self) -> int:
        ids = [e.executionId() for e in _seq(self._sql_store().executionsList())]
        return max(ids, default=-1)

    @contextmanager
    def span(self, name: str):
        """Trace one call; yields the span dict (callers may add counts)."""
        self._n += 1
        group = f"perfbench:{self.run_id}:{self._n}"
        self._drain()
        mark = self._exec_watermark()
        span = {"name": name, "run_id": self.run_id, "groups": [group],
                "parent": self._stack[-1][0] if self._stack else None}
        self._stack.append((name, group))
        self.sc.setJobGroup(group, name)
        span["start"] = time.time()
        t0 = time.monotonic()
        try:
            yield span
        finally:
            span["wall_s"] = time.monotonic() - t0
            span["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1][1], self._stack[-1][0])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._drain()
            span.update(self._jobs(span["groups"], span["wall_s"]))
            span["sql"] = self._sql(mark)
            self.spans.append(span)

    def _jobs(self, groups: list[str], wall: float) -> dict:
        st = self.sc._jsc.sc().statusStore()
        intervals, tasks, shuffle, spill, n = [], 0, 0, 0, 0
        for j in _seq(st.jobsList(None)):
            g = j.jobGroup()
            if not (g.isDefined() and g.get() in groups):
                continue
            n += 1
            tasks += j.numTasks()
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                intervals.append((j.submissionTime().get().getTime(),
                                  j.completionTime().get().getTime()))
            for sid in _seq(j.stageIds()):
                try:
                    sd = st.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never ran, no data
                    continue
                shuffle += sd.shuffleWriteBytes()
                spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        busy = 0.0
        end = None
        for a, b in sorted(intervals):
            if end is None or a > end:
                busy += b - a
                end = b
            elif b > end:
                busy += b - end
                end = b
        return {"jobs": n, "tasks": tasks, "shuffle_bytes": shuffle,
                "spill_bytes": spill,
                "driver_s": max(0.0, wall - busy / 1000.0)}

    def _sql(self, mark: int) -> dict:
        """{'<node name>|<metric name>': total} over executions > mark."""
        store = self._sql_store()
        out: dict[str, float] = {}
        for e in _seq(store.executionsList()):
            eid = e.executionId()
            if eid <= mark:
                continue
            values = store.executionMetrics(eid)
            for node in _seq(store.planGraph(eid).allNodes()):
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        key = f"{node.name()}|{m.name()}"
                        out[key] = out.get(key, 0.0) + parse_metric(v.get())
        return out

    # ------------------------------------------------------------ queries

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def wall(self, name: str) -> float:
        return sum(s["wall_s"] for s in self.find(name))

    def sql(self, name: str, node: str, metric: str) -> float:
        return sum(
            v for s in self.find(name) for k, v in s["sql"].items()
            if k.split("|")[0].startswith(node) and k.split("|")[1] == metric
        )

    def engine_totals(self) -> dict:
        """Engine-wide counters summed over spans (each job belongs to
        exactly one span's group)."""
        return {
            "spark.shuffle_bytes": sum(s["shuffle_bytes"] for s in self.spans),
            "spark.spill_bytes": sum(s["spill_bytes"] for s in self.spans),
            "spark.tasks": sum(s["tasks"] for s in self.spans),
        }


def materialize(df):
    """Persist and count: the intermediate handed to the next layer.
    Returns (frame, rows)."""
    df = df.persist()
    return df, df.count()
