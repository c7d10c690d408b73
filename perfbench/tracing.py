"""Tracing for the per-layer run: spans, self time and layer counters.

Spans are recorded by the benchmark around its calls into each engine
layer and kept in memory; the run writes them out when it ends. Engine
counters (stage metrics, GC, py4j traffic, host steal) are read over
the existing py4j gateway outside the timed operations.
"""

from __future__ import annotations

import time
from contextlib import contextmanager, nullcontext


class NullTracer:
    """Tracing off: spans cost one call and record nothing."""

    def span(self, name: str, build: bool = False):
        return nullcontext()


class Tracer:
    """Spans as dicts: ``name``, ``op`` (the operation they belong to),
    ``parent`` (index of the enclosing span or None), ``start``/``end``
    (``perf_counter`` seconds) and, for build spans, ``py4j_calls``.
    ``on_span(name, True)`` / ``on_span(name, False)``, when set, is
    called as a span opens and closes, outside the py4j count."""

    def __init__(self, py4j_counter=None):
        self.spans: list[dict] = []
        self.op = None
        self.on_span = None
        self._stack: list[int] = []
        self._py4j = py4j_counter

    @contextmanager
    def span(self, name: str, build: bool = False):
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        counting = build and self._py4j is not None
        if self.on_span is not None:
            self.on_span(name, True)
        if counting:
            before = self._py4j.start()
        try:
            yield rec
        finally:
            if counting:
                rec["py4j_calls"] = self._py4j.stop() - before
            if self.on_span is not None:
                self.on_span(name, False)
            rec["end"] = time.perf_counter()
            self._stack.pop()


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of its interval covered by
    its children (child intervals are merged and clipped to the parent,
    so overlapping children are not subtracted twice)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
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
        out.append((s["end"] - s["start"]) - covered)
    return out


class Py4jCounter:
    """Counts commands this process sends to the JVM while active.

    Wraps the gateway client's ``send_command``, through which every
    py4j call of every proxy object goes; ``close`` restores it."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self.count = 0
        self._active = 0

        def send_command(*args, **kwargs):
            if self._active:
                self.count += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = send_command

    def start(self) -> int:
        self._active += 1
        return self.count

    def stop(self) -> int:
        self._active -= 1
        return self.count

    def close(self) -> None:
        del self._client.send_command


def gc_ms(spark) -> int:
    """Total collection time of the Spark JVM's garbage collectors."""
    beans = (spark.sparkContext._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(max(0, b.getCollectionTime()) for b in beans)


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` jiffies of all CPUs from ``/proc/stat``; zeros
    where the file does not exist."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def group_counters(spark, groups: list[str]) -> dict[str, dict]:
    """Per job group: jobs, stages and tasks run, executor run and CPU
    seconds, shuffle read/write and spill bytes, from the application
    status store. Waits for the listener bus first, because the store
    is updated asynchronously after each job ends."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    wanted = set(groups)
    stage_group: dict[int, str] = {}
    out = {g: {"jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
               "task_cpu_s": 0.0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0} for g in groups}
    for job in conv.asJava(store.jobsList(None)):
        group = job.jobGroup()
        if group.isDefined() and group.get() in wanted:
            out[group.get()]["jobs"] += 1
            for sid in conv.asJava(job.stageIds()):
                stage_group[sid] = group.get()
    for sid, g in stage_group.items():
        st = store.lastStageAttempt(sid)
        if st.numCompleteTasks() == 0:
            continue  # skipped: the stage reused an earlier shuffle
        c = out[g]
        c["stages"] += 1
        c["tasks"] += st.numCompleteTasks()
        c["task_run_s"] += st.executorRunTime() / 1e3
        c["task_cpu_s"] += st.executorCpuTime() / 1e9
        c["shuffle_read_bytes"] += (st.shuffleRemoteBytesRead()
                                    + st.shuffleLocalBytesRead())
        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
        c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
