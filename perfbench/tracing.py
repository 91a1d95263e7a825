"""Spans and counters for the traced run, recorded from outside the
engine.

Spans come from wrappers this module installs around public engine
functions (every module-level alias is rebound, so ``pipeline``'s
by-name import of ``append_table`` is wrapped too), from the
construction and action of each catalog entry (recorded by ``run.py``),
from Spark's status store (per-stage metrics of the jobs each call
started, attributed by job-id window), and from a streaming query
listener. Spans are kept in memory and summarised at the end.

Self time: at each instant, the innermost open span is the one that
started last; it takes that instant. Spans never leave a gap inside
their parent, so the self times of all spans in a pass add up to the
time some span was open. Concurrent spans (the ETL's per-table
threads) share the wall clock instead of each counting it.
"""

from __future__ import annotations

import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

#: (dotted module, function, span name, counter name)
WRAPPED = (
    ("io", "read_table", "io.read_table", "io.read_table.calls"),
    ("io", "driver_rows_df", "io.driver_rows_df", "io.driver_rows_df.calls"),
    ("cache", "track", None, "cache.persists"),
    ("cache", "release_caches", "cache.release", None),
    ("io", "write_csv", "etl.generate", None),
    ("pipeline", "load_table", "etl.load_table", None),
    ("io", "append_table", "etl.append", None),
    ("operators.quality", "distinct_row_count", "etl.dup_count", None),
    ("pipeline", "update_calculated_fields", "etl.rollup", None),
)

#: StageData accessor -> metric name. Times are ms except CPU (ns).
STAGE_FIELDS = {
    "numTasks": "tasks",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "executorRunTime": "executor_run_s",
    "executorCpuTime": "executor_cpu_s",
    "jvmGcTime": "gc_s",
}
_SCALE = {"executor_run_s": 1e-3, "gc_s": 1e-3, "executor_cpu_s": 1e-9}


class JobLedger:
    """Job ids and per-stage metrics from the driver's status store.

    Job ids are handed out in submission order, so the jobs one call
    started are the ids between the counter before and after it,
    whatever thread or job group submitted them.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._seen_stages: set[int] = set()

    def next_job_id(self) -> int:
        return self._sc.dagScheduler().nextJobId()

    def totals(self, first: int, end: int) -> Counter:
        """Summed stage metrics of jobs ``first``..``end-1``. A stage
        shared by several jobs counts once, with the job that ran it."""
        # The status store is fed by the asynchronous listener bus.
        self._sc.listenerBus().waitUntilEmpty()
        out = Counter(jobs=end - first)
        for jid in range(first, end):
            job = self._store.job(jid)
            out["skipped_stages"] += job.numSkippedStages()
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                for attempt in _iter(self._store.stageData(
                        sid, False, None, False, None)):
                    if attempt.status().toString() == "SKIPPED":
                        continue
                    self._seen_stages.add(sid)
                    out["stages"] += 1
                    for field, name in STAGE_FIELDS.items():
                        out[name] += getattr(attempt, field)() * _SCALE.get(
                            name, 1)
        return out

    def storage_bytes(self) -> int:
        """Bytes held by cached RDDs (memory plus disk) right now."""
        return sum(info.memSize() + info.diskSize()
                   for info in self._sc.getRDDStorageInfo())


def _iter(seq):
    for i in range(seq.size()):
        yield seq.apply(i)


class Tracer:
    """Spans, counters and status-store totals of the traced passes."""

    def __init__(self, spark, package: str):
        self.spark = spark
        self.enabled = False
        self.spans: list[tuple[str, float, float]] = []
        self.counts: Counter = Counter()
        self.jobs: dict[str, Counter] = defaultdict(Counter)
        self.ledger = JobLedger(spark)
        self.peak_storage = 0
        #: Streaming progress is delivered asynchronously, so it is
        #: counted over all timed passes rather than the traced ones.
        self.streaming_on = False
        self.streaming = Counter()
        self._windows: list[tuple[str, int, int]] = []
        self._lock = threading.Lock()
        self._package = package
        for mod, fn, span, counter in WRAPPED:
            self._wrap(f"{package}.{mod}", fn, span, counter)

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, start, time.perf_counter()))

    @contextmanager
    def jobs_of(self, layer: str):
        """Span ``layer`` plus the status-store totals of its jobs."""
        if not self.enabled:
            yield
            return
        first = self.ledger.next_job_id()
        with self.span(layer):
            yield
        self._windows.append((layer, first, self.ledger.next_job_id()))

    def begin_pass(self) -> None:
        self._windows = []

    def end_pass(self) -> None:
        """Fold the pass's job windows into per-layer totals (outside
        the pass's timed region)."""
        for layer, first, end in self._windows:
            self.jobs[layer].update(self.ledger.totals(first, end))

    def sample_storage(self) -> None:
        if self.enabled:
            self.peak_storage = max(self.peak_storage,
                                    self.ledger.storage_bytes())

    def _wrap(self, module: str, attr: str, span: str | None,
              counter: str | None) -> None:
        mod = sys.modules.get(module) or __import__(module, fromlist=["_"])
        orig = getattr(mod, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            if counter:
                with tracer._lock:
                    tracer.counts[counter] += 1
            if span is None:
                return orig(*args, **kwargs)
            with tracer.span(span):
                out = orig(*args, **kwargs)
            if attr == "release_caches":  # returns how many it released
                with tracer._lock:
                    tracer.counts["cache.released"] += out
            return out

        wrapper.__wrapped__ = orig
        for name, m in list(sys.modules.items()):
            if m is None or not (name == self._package
                                 or name.startswith(self._package + ".")):
                continue
            for key, val in list(vars(m).items()):
                if val is orig:
                    setattr(m, key, wrapper)

    # -- streaming ---------------------------------------------------
    def listen_streaming(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if not tracer.streaming_on:
                    return
                durations = event.progress.durationMs
                with tracer._lock:
                    tracer.streaming["streaming.batches"] += 1
                    for key, name in (("triggerExecution", "trigger_s"),
                                      ("addBatch", "add_batch_s"),
                                      ("walCommit", "wal_commit_s")):
                        tracer.streaming[f"streaming.{name}"] += \
                            durations.get(key, 0) / 1000.0

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(_Listener())


def self_times(spans: list[tuple[str, float, float]]) -> dict[str, float]:
    """Seconds each span name was the innermost open span."""
    points = sorted({t for _, s, e in spans for t in (s, e)})
    out: dict[str, float] = defaultdict(float)
    by_start = sorted(spans, key=lambda sp: sp[1])
    for lo, hi in zip(points, points[1:]):
        mid = (lo + hi) / 2
        inner = None
        for sp in by_start:
            if sp[1] > mid:
                break
            if sp[2] > mid:
                inner = sp
        if inner is not None:
            out[inner[0]] += hi - lo
    return dict(out)
