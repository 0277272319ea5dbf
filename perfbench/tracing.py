"""Benchmark-side tracing: spans around public calls, Spark job/stage
statistics from the driver's status store, snapshot-directory walks and a
process-tree memory sampler.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Span:
    __slots__ = ("name", "parent", "start", "end", "attrs", "job_lo", "job_hi", "spark")

    def __init__(self, name: str, parent: str | None, start: float, job_lo: int):
        self.name = name
        self.parent = parent
        self.start = start
        self.end = start
        self.attrs: dict = {}
        self.job_lo = job_lo  # jobs with id > job_lo and <= job_hi ran inside
        self.job_hi = job_lo
        self.spark: dict = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self, t0: float) -> dict:
        return {
            "name": self.name,
            "parent": self.parent,
            "start": round(self.start - t0, 6),
            "end": round(self.end - t0, 6),
            "attrs": self.attrs,
            "spark": self.spark,
        }


@contextmanager
def timer(name: str = ""):
    """Times its body into an unrecorded Span."""
    sp = Span(name, None, time.perf_counter(), -1)
    try:
        yield sp
    finally:
        sp.end = time.perf_counter()


class Tracer:
    """Records spans only when enabled; a disabled tracer's ``span`` is a
    plain timer, so traced and untraced code paths share one loop."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self._t0 = time.perf_counter()
        self.bookkeeping_s = 0.0

    def _last_job_id(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _drain_listener(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    @contextmanager
    def span(self, name: str):
        """Yields a Span whose ``seconds`` covers only the body."""
        if not self.enabled:
            with timer(name) as sp:
                yield sp
            return
        b0 = time.perf_counter()
        self._drain_listener()
        lo = self._last_job_id()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent, time.perf_counter(), lo)
        self.bookkeeping_s += sp.start - b0
        self._stack.append(name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._drain_listener()
            sp.job_hi = self._last_job_id()
            self.spans.append(sp)
            self.bookkeeping_s += time.perf_counter() - sp.end

    # -- Spark status store ------------------------------------------------

    def attach_spark_stats(self) -> None:
        """Fill ``span.spark`` for every span from the status store."""
        if not self.spans:
            return
        self._drain_listener()
        jvm = self.spark._jvm
        store = self.spark.sparkContext._jsc.sc().statusStore()
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        quantiles = self.spark.sparkContext._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        stage_cache: dict[int, dict | None] = {}
        job_cache: dict[int, list] = {}

        def stages_of(job_id: int) -> list:
            if job_id not in job_cache:
                try:
                    job_cache[job_id] = list(conv.asJava(store.job(job_id).stageIds()))
                except Py4JJavaError:  # evicted from the store
                    job_cache[job_id] = []
            return job_cache[job_id]

        def stage(sid: int) -> dict | None:
            if sid not in stage_cache:
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store
                    stage_cache[sid] = None
                    return None
                if s.status().toString() == "SKIPPED":
                    stage_cache[sid] = None
                    return None
                d = {
                    "tasks": s.numTasks(),
                    "run_ms": s.executorRunTime(),
                    "shuffle_read": s.shuffleReadBytes(),
                    "shuffle_write": s.shuffleWriteBytes(),
                    "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "skew": 1.0,
                }
                opt = store.taskSummary(sid, s.attemptId(), quantiles)
                if opt.isDefined():
                    q = list(conv.asJava(opt.get().executorRunTime()))
                    d["skew"] = q[1] / q[0] if q[0] > 0 else 1.0
                stage_cache[sid] = d
            return stage_cache[sid]

        for sp in self.spans:
            jobs = list(range(sp.job_lo + 1, sp.job_hi + 1))
            stage_ids = sorted({sid for j in jobs for sid in stages_of(j)})
            ran = [d for d in (stage(s) for s in stage_ids) if d is not None]
            widest = max(ran, key=lambda d: d["tasks"], default=None)
            sp.spark = {
                "jobs": len(jobs),
                "stages": len(ran),
                "tasks": sum(d["tasks"] for d in ran),
                "executor_run_s": sum(d["run_ms"] for d in ran) / 1000.0,
                "shuffle_read_bytes": sum(d["shuffle_read"] for d in ran),
                "shuffle_write_bytes": sum(d["shuffle_write"] for d in ran),
                "spill_bytes": sum(d["spill"] for d in ran),
                "task_skew": widest["skew"] if widest else 1.0,
            }

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"meta": meta, "spans": [s.as_dict(self._t0) for s in self.spans]},
                f,
                indent=1,
            )


def spark_totals(spans: list[Span]) -> dict:
    """Per-layer ``spark.*`` metrics over a set of root spans."""
    keys = ("jobs", "stages", "executor_run_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")
    out = {f"spark.{k}": float(sum(s.spark.get(k, 0) for s in spans)) for k in keys}
    skews = [s.spark["task_skew"] for s in spans if s.spark]
    out["spark.task_skew"] = statistics.median(skews) if skews else 0.0
    return out


# -- files on disk ------------------------------------------------------------


def list_files(root: str) -> dict[str, int]:
    """path -> size of every regular file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # removed by snapshot expiry mid-walk
                pass
    return out


def live_data_files(root: str) -> int:
    """Data files a reader of every table's current snapshot opens: the
    parquet part files under the paths each MANIFEST.json lists."""
    n = 0
    for name in sorted(os.listdir(root)):
        mpath = os.path.join(root, name, "MANIFEST.json")
        if not os.path.exists(mpath):
            continue
        with open(mpath) as f:
            m = json.load(f)
        paths = list(m.get("partitions", {}).values()) or m.get("paths", [])
        for p in paths:
            for _d, _dirs, files in os.walk(p):
                n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def count_lines(path: str, needle: str) -> int:
    try:
        with open(path, errors="replace") as f:
            return sum(1 for line in f if needle in line)
    except FileNotFoundError:
        return 0


# -- memory ----------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the Spark JVM and its Python workers) until stopped."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in process_tree(me)))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        """Stops sampling (idempotent); returns the peak in bytes."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak
