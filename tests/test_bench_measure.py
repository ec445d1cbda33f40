"""bench.measure(), the one rep loop behind every bench number, checked
without Spark: a stub session, a scripted clock and no external load."""

import os
import sys
import time
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


class StubSession:
    """Just the calls the rep loop makes on a SparkSession."""

    def __init__(self):
        self.gcs = 0
        self.clears = 0
        self._jvm = SimpleNamespace(System=SimpleNamespace(gc=self._gc))
        self.catalog = SimpleNamespace(clearCache=self._clear)

    def _gc(self):
        self.gcs += 1

    def _clear(self):
        self.clears += 1


def _scripted(monkeypatch, durations):
    """Each run_once() call advances a fake clock by the next duration;
    the host-load probe reads no external CPU."""
    clock = [0.0]
    monkeypatch.setattr(bench, "time", SimpleNamespace(
        monotonic=lambda: clock[0], sleep=lambda s: None, time=time.time,
    ))
    monkeypatch.setattr(bench, "_total_busy_jiffies", lambda: 0)
    monkeypatch.setattr(bench, "_tree_jiffies", lambda pid: 0)
    it = iter(durations)

    def run_once():
        d = next(it)
        clock[0] += d
        return f"ran {d}"

    return run_once


def test_measure_records_sorted_samples_median_and_registry(monkeypatch):
    spark = StubSession()
    run_once = _scripted(monkeypatch, [0.3, 0.1, 0.2])
    book = bench.Measured()
    med, result = bench.measure(spark, book, "q", run_once, 3)
    assert med == 0.2
    assert result == "ran 0.2"  # the last rep's result
    assert book.timings == {"q": 0.2}
    assert book.samples == {"q": [0.1, 0.2, 0.3]}
    reps = book.load["q"]
    assert [r["sec"] for r in reps] == [0.3, 0.1, 0.2]  # rep order
    assert not any(r["loaded"] for r in reps)
    assert all(r["ext_cores"] == 0 and r["retries"] == 0 for r in reps)
    # the registry holds the closure the end-of-run retry pass re-runs
    assert book.registry == {"q": run_once}
    # every rep GC-fenced before and timed cold after
    assert (spark.gcs, spark.clears) == (3, 3)


def test_retry_dirty_remeasures_loaded_queries_through_registry(monkeypatch):
    spark = StubSession()
    run_once = _scripted(monkeypatch, [0.4, 0.5, 0.6, 0.25, 0.15])
    book = bench.Measured()
    bench.measure(spark, book, "dirty", run_once, 3)
    bench.measure(spark, book, "clean", lambda: None, 1)
    book.load["dirty"][1]["loaded"] = True
    bench._retry_dirty(spark, 2, book)
    # only the loaded query re-ran, with its registered closure
    assert book.samples["dirty"] == [0.15, 0.25]
    assert book.timings["dirty"] == 0.2
    assert not any(r["loaded"] for r in book.load["dirty"])
    assert book.samples["clean"] == [0.0]
