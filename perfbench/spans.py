"""Per-layer spans for the traced run.

Each span runs the calls of one layer under its own Spark job group and
reads the stage metrics of that group from Spark's status store, which is
populated with the UI off. Spans are kept in memory by ``Tracer`` and
written out, one JSON line each, when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

MB = float(1 << 20)


def _scala(seq):
    """Iterate a Scala collection handed back through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _stage_metrics(store, stage_ids) -> dict:
    """Sum the completed stages' task metrics; task skew is taken on the
    stage with the most executor run time, the one that bounds the span."""
    out = {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
           "input_mb": 0.0, "tasks": 0, "task_s_max_over_median": 0.0}
    heaviest = None
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage never submitted
            continue
        if str(st.status()) != "COMPLETE":
            continue
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
        out["spill_mb"] += st.diskBytesSpilled() / MB
        out["input_mb"] += st.inputBytes() / MB
        out["tasks"] += st.numTasks()
        if heaviest is None or st.executorRunTime() > heaviest.executorRunTime():
            heaviest = st
    if heaviest is not None:
        runs = []
        for task in _scala(
            store.taskList(heaviest.stageId(), heaviest.attemptId(), 1 << 20)
        ):
            m = task.taskMetrics()
            if m.isDefined():
                runs.append(m.get().executorRunTime())
        med = statistics.median(runs) if runs else 0
        if med > 0:
            out["task_s_max_over_median"] = max(runs) / med
    return out


class Tracer:
    """The spans of a run's traced iterations: name, parent iteration,
    start, end and the stage metrics of the jobs the span ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.gc_beans = self.sc._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        self.spans: list[dict] = []
        self._n = 0

    def jvm_gc_ms(self) -> int:
        """Total collection time of every JVM collector so far."""
        return sum(b.getCollectionTime() for b in self.gc_beans)

    @contextmanager
    def span(self, name: str, parent: str):
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, name)
        rec = {"name": name, "parent": parent, "start": time.perf_counter()}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)
            rec["group"] = group

    def collect(self) -> None:
        """Attach stage metrics to every span recorded so far. The status
        store is filled by an asynchronous listener, so drain it first."""
        self.bus.waitUntilEmpty()
        stages: dict[str, list[int]] = {}
        for job in _scala(self.store.jobsList(None)):
            group = job.jobGroup()
            if group.isDefined():
                stages.setdefault(group.get(), []).extend(_scala(job.stageIds()))
        for rec in self.spans:
            if "cpu_s" not in rec:
                rec.update(_stage_metrics(self.store, stages.get(rec["group"], [])))

    def write(self, fh) -> None:
        """Print every span recorded as one JSON line."""
        for rec in self.spans:
            print("perfbench: span " + json.dumps(rec, sort_keys=True), file=fh)
