"""Measurement from outside the engine: spans, Spark's status store,
cached blocks, the streaming listener, process memory and host noise.

Nothing here changes what the engine does. Spans wrap calls into the
engine's public functions; job-level numbers come from the status store
Spark keeps for every application, keyed by the job group the benchmark
sets around each call.
"""

from __future__ import annotations

import os
import resource
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")

EXEC_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "input_records",
    "gc_ms",
    "run_ms",
)


# ------------------------------------------------------------------ spans


class Tracer:
    """Spans at layer boundaries, held in memory until the run ends.

    A span records name, start, end, parent span and operation id. With
    ``enabled=False`` every call is a no-op, so the untraced run pays only
    a function call per boundary. When a span names a ``group``, Spark
    jobs started inside it carry that job group, and ``job_stats`` can
    attribute them to the span afterwards.
    """

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str, op: str | None = None, group: bool = False):
        """Record a span; with ``group``, jobs started inside carry its group."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext if group else None
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            # Spans of one operation share its id; children inherit it.
            "op": op if op or parent is None else self.spans[parent]["op"],
            "parent": parent,
            "start": time.perf_counter(),
            "end": None,
            "wall_start": time.time(),
            "wall_end": None,
            "group": None,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        prev = None
        if sc is not None:
            self._groups += 1
            rec["group"] = f"pb-{self._groups}-{name}"
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._stack.pop()
            if sc is not None:
                if prev:
                    sc.setJobGroup(prev, prev)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                d = s["end"] - s["start"] - child[i]
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def dump(self) -> list[dict]:
        """The spans with times in seconds from the first span's start."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {
                "name": s["name"],
                "op": s["op"],
                "parent": s["parent"],
                "start": round(s["start"] - t0, 6),
                "end": round(s["end"] - t0, 6),
            }
            for s in self.spans
            if s["end"] is not None
        ]


# ------------------------------------------------------------ status store


def wait_listener_bus(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status store holds the final metrics of jobs that just ended."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def seq_items(seq):
    """Iterate a Scala collection through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def job_stats(spark, job_ids) -> dict:
    """Jobs, stages, tasks, bytes, records and times summed over
    ``job_ids``, plus the jobs' (submit, complete) wall intervals in epoch
    seconds. Skipped stages (reused shuffle output) are not counted; a
    stage shared by several jobs is counted once.
    """
    store = spark.sparkContext._jsc.sc().statusStore()
    seen = set()
    out = dict.fromkeys(EXEC_KEYS, 0)
    intervals = []
    for jid in job_ids:
        job = store.job(int(jid))
        out["jobs"] += 1
        sub, end = job.submissionTime(), job.completionTime()
        if sub.isDefined() and end.isDefined():
            intervals.append((sub.get().getTime() / 1e3, end.get().getTime() / 1e3))
        for sid in seq_items(job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
            out["input_records"] += st.inputRecords()
            out["gc_ms"] += st.jvmGcTime()
            out["run_ms"] += st.executorRunTime()
    out["intervals"] = intervals
    return out


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def cached_blocks(spark) -> tuple[int, float]:
    """(cached RDD partitions, MB held in memory and on disk)."""
    blocks, size = 0, 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        blocks += info.numCachedPartitions()
        size += info.memSize() + info.diskSize()
    return blocks, size / 1e6


# ------------------------------------------------------------- streaming


class StreamProbe:
    """Collects per-trigger progress of every streaming query the session
    runs, through a ``StreamingQueryListener``."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with probe._lock:
                    probe.started.add(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "run_id": str(p.runId),
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_mem_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
                with probe._lock:
                    probe.progress.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with probe._lock:
                    probe.terminated.add(str(event.runId))

        self._lock = threading.Lock()
        self.listener = _Listener()
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.progress: list[dict] = []

    def drain(self, timeout_s: float = 10.0) -> tuple[list[dict], set[str]]:
        """Wait until every started query reported termination; return and
        clear the progress records and run ids seen so far."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self.started <= self.terminated:
                    break
            time.sleep(0.01)
        with self._lock:
            progress, runs = self.progress, set(self.started)
            self.progress = []
            self.started -= runs
            self.terminated -= runs
        return progress, runs


# ------------------------------------------------------- process and host


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def rss_peak_mb(jvm: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_status_kb(jvm, "VmHWM") + py_kb) / 1024.0


def cpu_seconds(pid: int) -> float:
    """User plus system CPU seconds of one process."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def _speed_s() -> float:
    """Seconds a fixed pure-Python loop takes: a slow host reads high."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t0


def host_snapshot() -> dict:
    """nproc, 1-minute load, the host's cumulative CPU seconds by kind
    (``steal`` is time the hypervisor gave to other machines) and
    ``speed_s`` (see ``_speed_s``)."""
    with open("/proc/stat") as f:
        cpu = [int(x) / _CLK_TCK for x in f.readline().split()[1:9]]
    kinds = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load1": os.getloadavg()[0],
        "cpu_s": dict(zip(kinds, cpu)),
        "speed_s": _speed_s(),
    }
