"""Measurement taken from outside the program.

* ``Tracer``: spans (name, start, end, parent, batch) kept in memory
  and written out when the run ends, plus per-batch counters.
* Layer hooks, installed only in the traced run: a timing subclass of
  the shipped state backend (passed through ``backend=``), timing
  wrappers around ``tx_denormalize`` and ``writer_lock`` as the stream
  processor looks them up, and a py4j round-trip counter on the
  gateway client.
* Accounting used by both runs: Spark jobs/stages/tasks per job group
  from ``statusTracker()``, JVM GC time from the GarbageCollector
  MXBeans, peak RSS from ``/proc/<pid>/status``.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass

from streaming_examples_spark.streaming import cdc_stream, locks
from streaming_examples_spark.streaming.state_backend import LocalPosixBackend


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span in Tracer.spans
    batch: int | None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.batch: int | None = None
        self.counters: dict[int | None, dict[str, float]] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.batch))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        c = self.counters.setdefault(self.batch, {})
        c[name] = c.get(name, 0) + n

    def batch_totals(self, batch: int) -> dict[str, float]:
        """Per-layer totals for one batch: summed span time per name
        (``<name>_s``), the root span's self time, and the counters."""
        out: dict[str, float] = dict(self.counters.get(batch, {}))
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.batch != batch:
                continue
            d = s.end - s.start
            out[f"{s.name}_s"] = out.get(f"{s.name}_s", 0.0) + d
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + d
        for i, s in enumerate(self.spans):
            if s.batch == batch and s.parent is None:
                key = f"{s.name}.self_s"
                out[key] = out.get(key, 0.0) + (s.end - s.start) - child_time.get(i, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


class TracingBackend(LocalPosixBackend):
    """The shipped local backend with every commit-protocol primitive
    timed and counted; behaviour is inherited unchanged."""

    def __init__(self, tracer: Tracer):
        super().__init__()
        self._t = tracer
        self.carried: set[str] = set()

    def carry_file(self, src: str, dst: str) -> None:
        with self._t.span("state_backend.carry"):
            super().carry_file(src, dst)
        self._t.count("state_backend.carry_files")
        self.carried.add(dst)

    def commit_pointer(self, state_dir: str, version: int) -> None:
        with self._t.span("state_backend.commit"):
            super().commit_pointer(state_dir, version)

    def remove_tree(self, path: str) -> None:
        with self._t.span("state_backend.remove_tree"):
            super().remove_tree(path)

    def publish_file(self, path: str, data: bytes) -> None:
        with self._t.span("state_backend.publish"):
            super().publish_file(path, data)
        self._t.count("state_backend.publish_files")

    def read_locations(self, path: str) -> list[str]:
        self._t.count("state_backend.read_locations")
        return super().read_locations(path)


@contextlib.contextmanager
def layer_hooks(tracer: Tracer, spark):
    """Time the stream processor's calls into ``operators.txjoin`` and
    ``streaming.locks`` and count py4j round trips, restoring every
    patched attribute on exit."""
    orig_denorm = cdc_stream.tx_denormalize
    orig_lock = locks.writer_lock
    client = spark.sparkContext._gateway._gateway_client
    orig_send = client.send_command

    def tx_denormalize(*a, **kw):
        with tracer.span("txjoin.build"):
            return orig_denorm(*a, **kw)

    @contextlib.contextmanager
    def writer_lock(*a, **kw):
        with contextlib.ExitStack() as stack:
            with tracer.span("locks.wait"):
                stack.enter_context(orig_lock(*a, **kw))
            yield

    def send_command(*a, **kw):
        tracer.count("driver.py4j_calls")
        return orig_send(*a, **kw)

    cdc_stream.tx_denormalize = tx_denormalize
    locks.writer_lock = writer_lock
    client.send_command = send_command
    try:
        yield
    finally:
        cdc_stream.tx_denormalize = orig_denorm
        locks.writer_lock = orig_lock
        del client.send_command  # drop the instance attribute


def job_counts(sc, group: str) -> dict[str, int]:
    """Spark jobs, stages, tasks and failed tasks run under one job
    group. Stages skipped through shuffle reuse ran no task and are not
    counted."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    n_stages = n_tasks = n_failed = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
            continue
        n_stages += 1
        n_tasks += info.numCompletedTasks + info.numFailedTasks
        n_failed += info.numFailedTasks
    return {"jobs": len(jobs), "stages": n_stages, "tasks": n_tasks, "failed_tasks": n_failed}


def jvm_gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def cpu_seconds(pid: int) -> float:
    """User plus system CPU time a process has used so far."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_bytes(pids: list[int]) -> int:
    """Summed VmHWM (peak resident set) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb * 1024


def tree_bytes(root: str, exclude: set[str] = frozenset()) -> int:
    """Bytes of the files under ``root``, each inode once, skipping the
    paths in ``exclude``."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if p in exclude:
                continue
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total
