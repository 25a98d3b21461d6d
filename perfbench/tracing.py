"""Spans around the package's public callables, read from outside the package.

A :class:`Tracer` patches named callables (module functions and class
methods) with wrappers that record a span per call: name, layer, start, end,
parent span, thread and run id.  Spans stay in memory and are written out as
JSON lines when the run ends.  Client spans (one per closed-loop call the
benchmark makes) also tag their Spark jobs with ``setJobGroup`` and, when the
span closes, read the Spark status stores for the stages it ran.

Nothing here is installed in an untraced run: the untraced run measures the
package as it is, and the traced run's extra cost is reported as overhead.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: counters every traced run reports, so all workloads print the same keys
SPARK_KEYS = (
    "spark.executor_run_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.jobs",
    "spark.tasks",
    "spark.task_skew",
    "jvm.gc_ms",
)


def gc_millis(spark) -> int:
    """Cumulative collection time of the driver JVM's garbage collectors."""
    beans = (
        spark._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    return sum(max(beans.get(i).getCollectionTime(), 0) for i in range(beans.size()))


class SparkStore:
    """Reads stage and job metrics from the application status store.

    Stage and job ids grow monotonically, and the benchmark has one client
    that waits for each call, so the stages a client span ran are exactly the
    ones created between its start and its end — including stages of jobs
    submitted from the engine's worker threads, which do not inherit the
    job group."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.mark()

    def _stages(self):
        return self._conv.asJava(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )

    def _jobs(self):
        return self._conv.asJava(self._store.jobsList(None))

    def mark(self) -> None:
        """Skip everything created so far, e.g. untimed work between spans."""
        self.last_stage = max((s.stageId() for s in self._stages()), default=-1)
        self.last_job = max((j.jobId() for j in self._jobs()), default=-1)

    def since_last(self) -> dict:
        """Metrics of stages and jobs created since the last mark or call."""
        out = dict.fromkeys(SPARK_KEYS[:-1], 0.0)
        skews = []
        last = self.last_stage
        for s in self._stages():
            sid = s.stageId()
            if sid <= last:
                continue
            self.last_stage = max(self.last_stage, sid)
            out["spark.executor_run_s"] += s.executorRunTime() / 1000.0
            out["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["spark.tasks"] += s.numCompleteTasks()
            if s.numCompleteTasks() >= 2:
                tasks = self._conv.asJava(
                    self._store.taskList(sid, s.attemptId(), 100_000)
                )
                durs = [t.duration().get() for t in tasks if t.duration().isDefined()]
                med = statistics.median(durs) if durs else 0
                if med > 0:
                    skews.append(max(durs) / med)
        jobs = [j.jobId() for j in self._jobs() if j.jobId() > self.last_job]
        out["spark.jobs"] = float(len(jobs))
        self.last_job = max([self.last_job, *jobs])
        out["spark.task_skew"] = max(skews, default=0.0)
        return out


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.spark_totals: dict[str, float] = dict.fromkeys(SPARK_KEYS, 0.0)
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._groups = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._client_stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._store = SparkStore(spark) if enabled else None

    # ---------------- spans ----------------

    def _parent(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        if stack:
            return stack[-1]
        # a worker thread's call sits under the innermost span the client
        # thread has open (it waits inside that call for the workers)
        return self._client_stack[-1] if self._client_stack else None

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """Record one span; yields its record so callers can attach fields."""
        if not self.enabled:
            yield attrs
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids), "name": name, "layer": layer,
            "parent": self._parent(), "run": self.run_id,
            "thread": threading.get_ident(), **attrs,
        }
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def client(self, name: str, layer: str = "client", **attrs):
        """A closed-loop client call: a span whose Spark jobs are tagged with
        the span's job group and whose stage metrics are read afterwards."""
        if not self.enabled:
            yield attrs
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        gc0 = gc_millis(self.spark)
        self._store.mark()
        group = f"bench:{self.run_id}:{next(self._groups)}"
        sc.setJobGroup(group, name)
        self.overhead_s += time.perf_counter() - t0
        with self.span(name, layer, group=group, **attrs) as rec:
            self._client_stack = self._local.stack
            try:
                yield rec
            finally:
                self._client_stack = []
        t0 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        stats = self._store.since_last()
        stats["jvm.gc_ms"] = float(gc_millis(self.spark) - gc0)
        rec["spark"] = stats
        for k, v in stats.items():
            if k == "spark.task_skew":
                self.spark_totals[k] = max(self.spark_totals[k], v)
            else:
                self.spark_totals[k] += v
        self.overhead_s += time.perf_counter() - t0

    def count(self, key: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counters[key] += value

    # ---------------- patching ----------------

    def wrap(self, owner, attr: str, name: str, layer: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per call.
        ``after(result, args, kwargs)`` may update counters."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                result = orig(*args, **kwargs)
            if after is not None:
                t0 = time.perf_counter()
                after(result, args, kwargs)
                dt = time.perf_counter() - t0
                with tracer._lock:  # wrappers also run on the engine's threads
                    tracer.overhead_s += dt
            return result

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------------- summaries ----------------

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_time_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the part of it its children cover,
        summed per layer.  Children of one span may overlap (concurrent
        staging), so their intervals are merged before subtracting."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
