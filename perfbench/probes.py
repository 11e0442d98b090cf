"""Spans, layer self-times and the probes the benchmark reads from outside
the program: Spark's in-process status store, a streaming-query
listener, temp-dir / catalog residue and peak RSS.

Nothing here edits program code. Per-layer spans inside
``pipeline.run_pipeline`` come from wrapping the module attributes that
``pipeline.py`` calls (``Tracer.wrap``), installed only for traced runs.
"""

from __future__ import annotations

import datetime
import functools
import os
import resource
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str

    @property
    def layer(self) -> str:
        return "client" if self.parent is None else self.name.split(".")[0]


class Tracer:
    """In-memory span recorder. ``request`` opens a root span; spans
    opened while it is active become its descendants. When no request
    is active (untraced requests), ``span`` records nothing."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._request: str | None = None

    @contextmanager
    def request(self, request_id: str) -> Iterator[int]:
        self._request = request_id
        try:
            with self.span("request") as idx:
                yield idx
        finally:
            self._request = None

    @contextmanager
    def span(self, name: str) -> Iterator[int | None]:
        if self._request is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._request))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int) -> None:
        """Record a span measured elsewhere (listener timestamps, or an
        interval between two recorded spans), clipped to its parent."""
        p = self.spans[parent]
        start, end = max(start, p.start), min(end, p.end)
        if end > start:
            self.spans.append(Span(name, start, end, parent, p.request))

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` with a spanned wrapper; returns the
        function that restores the original."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, orig)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children clipped to the parent; overlapping children counted once)."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    out = []
    for i, s in enumerate(spans):
        ivs = sorted(
            (max(spans[c].start, s.start), min(spans[c].end, s.end))
            for c in children.get(i, ())
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((s.end - s.start) - covered)
    return out


def layer_self_times(spans: list[Span]) -> dict[str, dict[str, float]]:
    """request id -> layer -> summed self time. Per request, the layers
    sum to the root span's duration."""
    out: dict[str, dict[str, float]] = {}
    for s, t in zip(spans, self_times(spans)):
        layers = out.setdefault(s.request, {})
        layers[s.layer] = layers.get(s.layer, 0.0) + t
    return out


def _iso_to_epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class SparkCounters:
    """Per-request executor counters from the status store, for the jobs
    run under one job group. Read after every request: the store keeps
    only the most recent 1000 jobs and stages."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._ssc = self.sc._jsc.sc()

    def wait(self) -> None:
        """Block until the listener bus (status store, streaming
        listeners) has processed every event posted so far."""
        self._ssc.listenerBus().waitUntilEmpty()

    def read(self, groups: list[str]) -> dict[str, float]:
        """Counters summed over the jobs of ``groups``. A streaming query
        runs its micro-batch jobs under its own run id as job group."""
        self.wait()
        store = self._ssc.statusStore()
        tracker = self.sc.statusTracker()
        c = dict(jobs=0, stages=0, tasks=0, executor_run_s=0.0, executor_cpu_s=0.0,
                 shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
                 job_wall_s=0.0)
        for j in (j for g in groups for j in tracker.getJobIdsForGroup(g)):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            c["jobs"] += 1
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                c["job_wall_s"] += (jd.completionTime().get().getTime()
                                    - jd.submissionTime().get().getTime()) / 1e3
            for s in info.stageIds:  # Scala stageIds() is not iterable via Py4J
                try:
                    st = store.lastStageAttempt(s)
                except Exception:  # noqa: BLE001 - stage evicted or never attempted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return c


def make_drain_listener():
    """A StreamingQueryListener that keeps every progress event. Built
    lazily so importing this module does not import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class DrainListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            rec = {
                "run_id": str(p.runId),
                "start": _iso_to_epoch(p.timestamp),
                "input_rows": int(p.numInputRows),
                "duration_ms": {k: int(v) for k, v in (p.durationMs or {}).items()},
                "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
                "state_mem_bytes": sum(int(s.memoryUsedBytes) for s in p.stateOperators),
            }
            with self._lock:
                self.events.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def since(self, mark: int) -> list[dict]:
            with self._lock:
                return list(self.events[mark:])

        def mark(self) -> int:
            with self._lock:
                return len(self.events)

    return DrainListener()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def residue(spark, tmpdir: str) -> dict:
    """What a request may leave behind: temp-dir entries, catalog tables
    (memory sinks register one each) and active streams."""
    entries = set(os.listdir(tmpdir))
    return {
        "tmp": entries,
        "tmp_bytes": sum(_dir_bytes(os.path.join(tmpdir, e)) for e in entries),
        "catalog_tables": len(spark.catalog.listTables()),
        "active_streams": len(spark.streams.active),
    }


def residue_diff(before: dict, after: dict) -> dict[str, float]:
    return {
        "tmp_dirs": len(after["tmp"] - before["tmp"]),
        "tmp_bytes": after["tmp_bytes"] - before["tmp_bytes"],
        "catalog_tables": after["catalog_tables"] - before["catalog_tables"],
        "active_streams": after["active_streams"] - before["active_streams"],
    }


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water mark plus this Python process's maxrss."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        hwm_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the host ran something else while this machine's
    CPUs wanted to run."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def process_start() -> float:
    """This process's start time on the ``time.perf_counter`` clock
    (clock-tick resolution, from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - age
