"""Measurement probes the benchmark attaches from outside the engine:
process-tree RSS from ``/proc``, in-memory spans, a streaming progress
listener, and per-batch job/stage counters from Spark's status store."""

from __future__ import annotations

import json
import os
import re
import subprocess
import threading
import time
from contextlib import contextmanager
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we listed
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler(threading.Thread):
    """High-water mark of the summed RSS of every descendant of this
    process (the JVM and its Python workers), sampled periodically.  The
    benchmark's own process is left out: it holds the generated inputs."""

    def __init__(self, interval_s: float = 0.25) -> None:
        super().__init__(name="rss-sampler", daemon=True)
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        total = sum(_rss_bytes(p) for p in descendants(os.getpid()))
        self.peak_bytes = max(self.peak_bytes, total)

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.interval_s)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


def stop_session(spark) -> None:
    """Stop Spark, end the JVM it launched, and wait for every process
    this run started (the JVM and its Python workers)."""
    kids = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(kids, timeout_s=10)


class Tracer:
    """In-memory spans (name, start, end, parent), written out at the end
    with each span's self time.  Disabled, it records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, **attrs}
            )
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), float("nan"), parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def with_self_times(self) -> list[dict]:
        """Self time = duration minus the part of it covered by children."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            dur = s["end"] - s["start"]
            out.append({**s, "duration_s": dur, "self_s": dur - covered})
        return out

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": self.with_self_times()}, indent=1))


def attach_progress_listener(spark, sink: list) -> None:
    """Append every streaming progress report (parsed JSON, plus the wall
    time it reached this process) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Recorder(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            sink.append({"received": time.time(), **json.loads(event.progress.json)})

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    spark.streams.addListener(_Recorder())


_BATCH = re.compile(r"batch = (\d+)")


def _opt(option):
    return option.get() if option.isDefined() else None


def _status_store(spark):
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)  # the store is fed asynchronously
    return sc._jsc.sc().statusStore()


def _add_job(store, job, into: dict) -> None:
    """Add one job's stage counters to ``into``; ``into["active"]``
    collects each run stage's (submitted, completed) wall times in s."""
    from py4j.protocol import Py4JJavaError

    into["jobs"] += 1
    ids = job.stageIds().mkString(",")
    for sid in (int(s) for s in ids.split(",") if s):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the store has no attempt of this stage
            continue
        if st.numCompleteTasks() == 0:  # skipped: its output was reused
            continue
        into["stages"] += 1
        into["tasks"] += st.numCompleteTasks()
        into["task_ms"] += st.executorRunTime()
        into["jvm_cpu_ms"] += st.executorCpuTime() / 1e6
        into["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        into["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        start, end = _opt(st.submissionTime()), _opt(st.completionTime())
        if start is not None and end is not None:
            into["active"].append((start.getTime() / 1000, end.getTime() / 1000))


def _empty() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0, "jvm_cpu_ms": 0.0,
            "shuffle_bytes": 0, "spill_bytes": 0, "active": []}


def batch_stage_counters(spark, run_id: str) -> dict[int, dict]:
    """Jobs, stages and task counters per micro-batch of one streaming
    query, read from the status store.  The stream thread labels every
    job with the query's run id as job group and ``batch = N`` in its
    description, and the engine's ``foreachBatch`` fan-out inherits
    both.  Works with ``spark.ui.enabled=false``."""
    sc = spark.sparkContext
    store = _status_store(spark)
    out: dict[int, dict] = {}
    for job_id in sc.statusTracker().getJobIdsForGroup(run_id):
        job = store.job(job_id)
        m = _BATCH.search(_opt(job.description()) or "")
        if m is not None:
            _add_job(store, job, out.setdefault(int(m.group(1)), _empty()))
    return out


def group_counters(spark, group: str) -> dict:
    """The same counters summed over every job of one job group (set
    with ``SparkContext.setJobGroup`` around a batch query)."""
    store = _status_store(spark)
    out = _empty()
    for job_id in spark.sparkContext.statusTracker().getJobIdsForGroup(group):
        _add_job(store, store.job(job_id), out)
    return out


def idle_s(start: float, end: float, active: list[tuple[float, float]]) -> float:
    """Wall time in [start, end] with no stage running: the driver-side
    part of a query (planning, scheduling, result handling)."""
    busy, cursor = 0.0, start
    for lo, hi in sorted(active):
        lo, hi = max(lo, cursor), min(hi, end)
        if hi > lo:
            busy += hi - lo
            cursor = hi
    return (end - start) - busy
