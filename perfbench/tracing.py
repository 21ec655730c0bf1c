"""Tracing for the `--trace 1` run: spans around calls into the engine's
layers, Spark job/stage/task metrics per job group, and streaming
progress from a `StreamingQueryListener`.

Spans are recorded from the benchmark's side only: `Tracer.wrap`
replaces a layer's public function with a wrapper that opens a span and
calls the original; `Tracer.restore` puts the originals back. With
tracing off nothing is wrapped and `span` is a no-op.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span, None at top level

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time the tracer itself spent on bookkeeping
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span named `name` around every call of `module.attr`."""
        if not self.enabled:
            return
        original = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(module, attr, traced)
        self._patches.append((module, attr, original))

    def restore(self) -> None:
        for module, attr, original in reversed(self._patches):
            setattr(module, attr, original)
        self._patches.clear()

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Span duration minus the time its direct children cover."""
        return self.spans[idx].duration - sum(
            self.spans[i].duration for i in self.children(idx)
        )

    def total_within(self, idx: int, name: str) -> float:
        """Summed duration of the spans named `name` below span `idx`."""
        total, todo = 0.0, [idx]
        while todo:
            for kid in self.children(todo.pop()):
                todo.append(kid)
                if self.spans[kid].name == name:
                    total += self.spans[kid].duration
        return total

    # -- Spark job metrics -------------------------------------------------

    def group_metrics(self, group: str) -> dict[str, int]:
        """Jobs, stages, tasks and bytes of every job run under `group`,
        read from the status tracker and the JVM status store once the
        listener bus has drained."""
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"),
            0,
        )
        tracker = sc.statusTracker()
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        for stage_id in stage_ids:
            try:
                data = store.lastStageAttempt(stage_id)
            except Exception:  # py4j: stage evicted or never submitted
                continue
            if str(data.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += data.numTasks()
            out["failed_tasks"] += data.numFailedTasks()
            out["input_bytes"] += data.inputBytes()
            out["shuffle_read_bytes"] += data.shuffleReadBytes()
            out["shuffle_write_bytes"] += data.shuffleWriteBytes()
            out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
        self.overhead_s += time.perf_counter() - t0
        return out


class StreamRecorder:
    """Collects `StreamingQueryProgress` of every streaming query run on
    the session while attached (tracing only)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        recorder = self
        self.spark = spark
        self.progress: list[dict] = []
        self.terminated = 0
        self._lock = threading.Condition()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                row = {
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(
                        s.memoryUsedBytes for s in p.stateOperators
                    ),
                }
                with recorder._lock:
                    recorder.progress.append(row)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with recorder._lock:
                    recorder.terminated += 1
                    recorder._lock.notify_all()

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def wait_terminated(self, count: int, timeout: float = 10.0) -> None:
        """Block until `count` queries have reported termination, so every
        progress event of a finished `run_*_once` call has arrived."""
        with self._lock:
            self._lock.wait_for(lambda: self.terminated >= count, timeout)

    def detach(self) -> None:
        self.spark.streams.removeListener(self._listener)


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def wrap_upserts(tracer: Tracer) -> list[dict]:
    """Wrap both `operators.upsert` writers: each call records its span,
    the bytes and rows of the parquet files it wrote, and the rows of its
    input (counted before the call, outside the span). Returns the list
    the records are appended to."""
    import pyarrow.parquet as pq

    from legendary_data_pipeline_spark.operators import upsert

    records: list[dict] = []
    if not tracer.enabled:
        return records

    def make(original):
        def traced(path, updates, *args, **kwargs):
            t0 = time.perf_counter()
            rows_in = updates.count()
            before = _files(path)
            tracer.overhead_s += time.perf_counter() - t0
            with tracer.span("operators.upsert.write"):
                s0 = time.perf_counter()
                original(path, updates, *args, **kwargs)
                write_s = time.perf_counter() - s0
            t1 = time.perf_counter()
            written = {p: v for p, v in _files(path).items() if before.get(p) != v}
            records.append(
                {
                    "write_s": write_s,
                    "rows_in": rows_in,
                    "bytes_written": sum(size for size, _ in written.values()),
                    "rows_written": sum(
                        pq.ParquetFile(p).metadata.num_rows for p in written
                    ),
                }
            )
            tracer.overhead_s += time.perf_counter() - t1

        return traced

    for attr in ("write_upsert_parquet", "write_upsert_partitioned"):
        original = getattr(upsert, attr)
        setattr(upsert, attr, make(original))
        tracer._patches.append((upsert, attr, original))
    return records


def upsert_metrics(records: list[dict]) -> dict[str, tuple[float, str]]:
    from common import median

    if not records:
        return {}
    rows_in = sum(r["rows_in"] for r in records)
    return {
        "operators.upsert.write_s": (median([r["write_s"] for r in records]), "s"),
        "operators.upsert.bytes_written": (
            median([r["bytes_written"] for r in records]), "B"
        ),
        "operators.upsert.write_amplification": (
            sum(r["rows_written"] for r in records) / max(rows_in, 1), "x"
        ),
    }
