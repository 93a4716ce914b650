"""Spans around the benchmark's calls into each layer, plus Spark's own
job/stage/task counters for the jobs each span ran.

A span records name, layer, start, end, parent and the run id. Each span
runs under its own Spark job group, so after it closes the jobs it
launched are read from the SparkContext status tracker and their stages'
task metrics from the application status store. Spans stay in memory and
are written once, when the run ends.

``NullTracer`` has the same surface and does nothing; untraced runs use it
so that the end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid

COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "gc_s", "shuffle_write_bytes", "spill_bytes",
            "max_over_median_task_s")


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end", "counters")

    def __init__(self, sid, name, layer, parent, start):
        self.id, self.name, self.layer, self.parent = sid, name, layer, parent
        self.start, self.end, self.counters = start, None, {}

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False
    overhead_s = 0.0

    def __init__(self):
        self.spans = []

    @contextlib.contextmanager
    def span(self, name, layer):
        yield None

    def bind(self, spark):
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self):
        super().__init__()
        self.run_id = uuid.uuid4().hex[:12]
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack = []
        self._sc = None

    def bind(self, spark):
        """Attach to the (possibly restarted) SparkContext."""
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name, layer):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"{self.run_id}-{len(self.spans)}", name, layer,
                  parent.id if parent else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self._sc
        if sc is not None:
            sc.setJobGroup(sp.id, f"{layer}:{name}")
        self.overhead_s += time.perf_counter() - sp.start
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                # counters cover the jobs launched directly in this span;
                # children carry their own (see subtree, sum_counters)
                if parent is not None:
                    sc.setJobGroup(parent.id, f"{parent.layer}:{parent.name}")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                sp.counters = spark_counters(sc, sp.id)
            self.overhead_s += time.perf_counter() - sp.end

    def subtree(self, root_ids) -> list:
        """The spans in ``root_ids`` and all their descendants."""
        ids, out = set(root_ids), []
        for s in self.spans:  # parents always precede their children
            if s.id in ids or s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    # --- reporting --------------------------------------------------------

    def self_times(self) -> dict:
        """span id -> duration minus the part covered by direct children."""
        kids = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered = _union_length([(c.start, c.end) for c in kids.get(s.id, [])])
            out[s.id] = max(0.0, s.duration - covered)
        return out

    def layer_totals(self) -> dict:
        selfs = self.self_times()
        tot = {}
        for s in self.spans:
            tot[s.layer] = tot.get(s.layer, 0.0) + selfs[s.id]
        return tot

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        doc = {
            "run_id": self.run_id,
            "spans": [{"id": s.id, "name": s.name, "layer": s.layer,
                       "parent": s.parent, "start": s.start, "end": s.end,
                       "self_s": selfs[s.id], "counters": s.counters}
                      for s in self.spans],
            "layer_self_s": self.layer_totals(),
            **extra,
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, default=str)


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_counters(sc, group) -> dict:
    """Job/stage/task totals for every job launched under job ``group``."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    quant = sc._gateway.new_array(jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    out = dict.fromkeys(COUNTERS, 0)
    stage_ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    skew = 0.0
    empty = jvm.java.util.ArrayList()
    for sid in stage_ids:
        attempts = store.stageData(sid, False, empty, False,
                                   sc._gateway.new_array(jvm.double, 0))
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if st.numCompleteTasks() == 0:
                continue  # skipped (reused shuffle output)
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            summ = store.taskSummary(sid, st.attemptId(), quant)
            if summ.isDefined():
                run = summ.get().executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                if med > 0:
                    skew = max(skew, mx / med)
    out["max_over_median_task_s"] = skew
    return out


def sum_counters(spans) -> dict:
    out = dict.fromkeys(COUNTERS, 0)
    for s in spans:
        for k in COUNTERS:
            if k == "max_over_median_task_s":
                out[k] = max(out[k], s.counters.get(k, 0))
            else:
                out[k] += s.counters.get(k, 0)
    return out
