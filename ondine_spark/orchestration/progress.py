"""O15: interactive progress trackers over the driver event stream.

Reference: ondine/orchestration/progress_tracker.py (ProgressTracker ABC +
Rich/plain implementations off one shared authoritative state) and
progress_reporter.py. The Spark build keeps the same shape — an abstract
tracker with ``start_stage / update / finish / show_summary`` — but feeds
it exclusively from DRIVER-side signals: the chunk events the runner
already emits, plus a polled accumulator for live in-chunk row counts
(executors stream accumulator updates with task heartbeats, so the driver
sees progress without any extra executor work; this is the Spark-native
replacement for the reference's per-row asyncio callbacks).

No terminal library is required: ``PlainProgressTracker`` renders an
in-place ``\\r`` bar on a TTY and falls back to one line per update when
piped. ``TqdmProgressTracker`` uses tqdm when installed (import-guarded;
not present in this environment).
"""

from __future__ import annotations

import threading
import time
from typing import Any, Callable

from ondine_spark.observability import PipelineEvent


class ProgressTracker:
    """Tracker contract (reference progress_tracker.py:65-170). Stages are
    sequential phases of a run (here: committed chunks); ``update`` may be
    called live while a stage runs."""

    def start_stage(self, stage_name: str, total_rows: int, **metadata: Any) -> str:
        raise NotImplementedError

    def update(self, task_id: str, advance: int = 0, **metadata: Any) -> None:
        raise NotImplementedError

    def finish(self, task_id: str) -> None:
        raise NotImplementedError

    def show_summary(self, result: dict) -> None:
        raise NotImplementedError

    def __enter__(self) -> "ProgressTracker":
        return self

    def __exit__(self, *exc) -> None:
        pass


class PlainProgressTracker(ProgressTracker):
    """Dependency-free tracker: one in-place bar per stage on a TTY,
    plain lines when piped (CI/log safe, like the reference's fallback
    tracker)."""

    def __init__(self, stream=None, width: int = 24):
        import sys as _sys

        self.stream = stream or _sys.stderr
        self.width = width
        self._stages: dict[str, dict] = {}
        self._n = 0
        self._isatty = bool(getattr(self.stream, "isatty", lambda: False)())

    def start_stage(self, stage_name: str, total_rows: int, **metadata: Any) -> str:
        self._n += 1
        tid = f"s{self._n}"
        self._stages[tid] = {
            "name": stage_name, "total": max(int(total_rows), 0),
            "done": 0, "t0": time.time(), "meta": dict(metadata),
        }
        self._render(tid)
        return tid

    def update(self, task_id: str, advance: int = 0, **metadata: Any) -> None:
        st = self._stages.get(task_id)
        if st is None:
            return
        if advance:
            st["done"] += advance
        if "done" in metadata:  # absolute row count (accumulator polling)
            st["done"] = int(metadata.pop("done"))
        st["meta"].update(metadata)
        self._render(task_id)

    def finish(self, task_id: str) -> None:
        st = self._stages.get(task_id)
        if st is None:
            return
        st["done"] = max(st["done"], st["total"])
        self._render(task_id, final=True)

    def show_summary(self, result: dict) -> None:
        parts = " ".join(f"{k}={v}" for k, v in result.items())
        print(f"== run summary: {parts}", file=self.stream, flush=True)

    def _render(self, tid: str, final: bool = False) -> None:
        st = self._stages[tid]
        total = st["total"]
        frac = min(st["done"] / total, 1.0) if total else 0.0
        filled = int(self.width * frac)
        bar = "#" * filled + "-" * (self.width - filled)
        dt = max(time.time() - st["t0"], 1e-9)
        rate = st["done"] / dt
        meta = " ".join(f"{k}={v}" for k, v in st["meta"].items())
        line = (
            f"{st['name']} |{bar}| {st['done']}/{total or '?'} "
            f"({rate:.0f} rows/s) {meta}"
        )
        if self._isatty and not final:
            print(f"\r{line}", end="", file=self.stream, flush=True)
        else:
            end = "\n"
            if self._isatty:
                line = f"\r{line}"
            print(line, end=end, file=self.stream, flush=True)


class TqdmProgressTracker(ProgressTracker):  # pragma: no cover - tqdm absent
    """tqdm-backed tracker (reference's notebook-friendly experience);
    import-guarded, raises with guidance when tqdm is missing."""

    def __init__(self, **tqdm_kwargs):
        try:
            from tqdm.auto import tqdm
        except ImportError as e:
            raise ImportError(
                "TqdmProgressTracker needs tqdm (pip install tqdm); "
                "PlainProgressTracker is the dependency-free fallback"
            ) from e
        self._tqdm = tqdm
        self._kw = tqdm_kwargs
        self._bars: dict[str, Any] = {}
        self._n = 0

    def start_stage(self, stage_name: str, total_rows: int, **metadata: Any) -> str:
        self._n += 1
        tid = f"s{self._n}"
        self._bars[tid] = self._tqdm(
            total=total_rows or None, desc=stage_name, unit="rows", **self._kw
        )
        return tid

    def update(self, task_id: str, advance: int = 0, **metadata: Any) -> None:
        bar = self._bars.get(task_id)
        if bar is None:
            return
        if "done" in metadata:
            bar.n = int(metadata.pop("done"))
            bar.refresh()
        elif advance:
            bar.update(advance)
        if metadata:
            bar.set_postfix(metadata, refresh=False)

    def finish(self, task_id: str) -> None:
        bar = self._bars.pop(task_id, None)
        if bar is not None:
            bar.close()

    def show_summary(self, result: dict) -> None:
        self._tqdm.write(
            "run summary: " + " ".join(f"{k}={v}" for k, v in result.items())
        )


class TrackerObserver:
    """Bridge the PipelineEvent stream into a ProgressTracker, with live
    in-chunk rows from a polled counter.

    ``poll`` returns the cumulative completed-call count (the pipeline's
    api-call accumulator — updated by executor heartbeats mid-stage); a
    daemon thread samples it between ``chunk_start`` and
    ``chunk_committed`` so the bar advances WHILE Spark is blocked in the
    chunk's action, not just at commit boundaries."""

    def __init__(
        self,
        tracker: ProgressTracker,
        poll: Callable[[], int] | None = None,
        poll_interval: float = 0.5,
    ):
        self.tracker = tracker
        self.poll = poll
        self.poll_interval = poll_interval
        self._task: str | None = None
        self._stop: threading.Event | None = None
        self._poll_base = 0
        self._rows_done = 0

    def _start_poller(self) -> None:
        if self.poll is None:
            return
        self._stop = threading.Event()
        task, stop = self._task, self._stop
        try:
            self._poll_base = int(self.poll())
        except Exception:
            self._poll_base = 0

        def run() -> None:
            while not stop.wait(self.poll_interval):
                try:
                    done = int(self.poll()) - self._poll_base
                except Exception:
                    continue
                if done > 0:
                    self.tracker.update(task, done=done)

        threading.Thread(target=run, daemon=True).start()

    def _stop_poller(self) -> None:
        if self._stop is not None:
            self._stop.set()
            self._stop = None

    def on_event(self, event: PipelineEvent) -> None:
        p = event.payload
        kind = event.kind
        if kind == "chunk_start":
            self._task = self.tracker.start_stage(
                f"chunk {p.get('chunk_id', 0) + 1}/{p.get('chunks_total', '?')}",
                int(p.get("rows_total") or 0),
                run=event.run_id,
            )
            self._start_poller()
        elif kind == "chunk_committed":
            self._stop_poller()
            if self._task is not None:
                rows = int(p.get("rows") or 0)
                self._rows_done += rows
                # cumulative rows and cost of the run so far
                self.tracker.update(
                    self._task, done=rows, rows=self._rows_done,
                    cost=p.get("cumulative_cost"),
                )
                self.tracker.finish(self._task)
                self._task = None
        elif kind == "pipeline_end":
            self._stop_poller()
            self.tracker.show_summary(dict(p))
        elif kind == "error":
            self._stop_poller()
