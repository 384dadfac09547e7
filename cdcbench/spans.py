"""Span shims around the engine's public entry points, and per-span Spark
counts read back from the status store.

The shims patch class and module attributes from outside, so no program
file changes.  Each span tags the Spark jobs it launches with its own job
group; after an epoch, ``harvest`` reads jobs, stages, tasks, bytes and
executor times for every closed span from ``statusTracker()`` and
``statusStore()``, both of which work with ``spark.ui.enabled=false``.
Spans stay in memory and are written out by the caller at exit.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager

from dataingestion_spark.lake import sync
from dataingestion_spark.lake.table import LakeTable
from dataingestion_spark.sources import cdc_formats
from dataingestion_spark.streaming import lineage, pipeline

# (owner, attribute, span name): the layer boundaries the benchmark times.
TARGETS = [
    (cdc_formats, "parse_cdc", "parse_cdc"),
    (LakeTable, "merge", "merge"),
    (LakeTable, "read_keys", "read_keys"),
    (LakeTable, "read_prefix", "read_prefix"),
    (LakeTable, "read_changes", "read_changes"),
    (LakeTable, "optimize", "optimize"),
    (sync, "sync_scd2", "sync_scd2"),
    (sync, "sync_aggregate", "sync_aggregate"),
    (pipeline, "apply_changes", "apply_changes"),
    (lineage.LineageLog, "record_epoch", "lineage.record"),
]

_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

STAGE_FIELDS = {
    "exec_run_ms": "executorRunTime",
    "exec_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}


class Tracer:
    """In-memory span recorder.  One client drives the engine, so open
    spans form a single stack even when a span opens on the streaming
    callback thread while the caller waits on ``awaitTermination``."""

    _instances = itertools.count()

    def __init__(self, spark):
        self.sc = spark.sparkContext
        # job groups are per SparkContext: keep them distinct across tracers
        self._group_prefix = f"cdcbench-{next(Tracer._instances)}"
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.enabled = False
        self.request_id = None
        self._harvested = 0
        self._patched: list[tuple] = []

    def install(self) -> None:
        for owner, attr, name in TARGETS:
            orig = getattr(owner, attr)
            setattr(owner, attr, self._shim(orig, name))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _shim(self, fn, name):
        @functools.wraps(fn)
        def shim(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                rec["result"] = out
                return out

        return shim

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "request": self.request_id,
            "group": f"{self._group_prefix}-{sid}",
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        prev = [self.sc.getLocalProperty(k) for k in _JOB_PROPS]
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            for k, v in zip(_JOB_PROPS, prev):
                self.sc.setLocalProperty(k, v)
            self.stack.remove(sid)

    def harvest(self) -> None:
        """Attach Spark counts to every span closed since the last call.
        Called between epochs, outside every timed window."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self.spans[self._harvested:]:
            if rec["end"] is None:
                break
            rec.update(_span_counts(self.sc, store, tracker, rec["group"]))
            self._harvested += 1

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def self_s(self, rec: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(rec["id"]))
        return (rec["end"] - rec["start"]) - _union(ivs)

    def inclusive(self, rec: dict, key: str) -> float:
        return rec.get(key, 0) + sum(d.get(key, 0) for d in self.descendants(rec["id"]))

    def export(self) -> list[dict]:
        """Spans without live objects, for writing out at exit."""
        return [{k: v for k, v in s.items() if k != "result"} for s in self.spans]


def _union(ivs: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _span_counts(sc, store, tracker, group: str) -> dict:
    out = {k: 0 for k in STAGE_FIELDS}
    out.update(jobs=0, stages=0, tasks=0, job_s=0.0, task_skew=0.0)
    job_ivs = []
    widest = (0, None, None)
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        jd = store.job(jid)
        sub, comp = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and comp.isDefined():
            job_ivs.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
        ids = jd.stageIds()
        for i in range(ids.size()):
            st = store.lastStageAttempt(ids.apply(i))
            if str(st.status()) != "COMPLETE":
                continue  # skipped: its output was reused
            out["stages"] += 1
            n = st.numTasks()
            out["tasks"] += n
            for k, f in STAGE_FIELDS.items():
                out[k] += getattr(st, f)()
            if n > widest[0]:
                widest = (n, st.stageId(), st.attemptId())
    out["job_s"] = _union(sorted(job_ivs))
    if widest[1] is not None:
        out["task_skew"] = _task_skew(sc, store, widest[1], widest[2])
    return out


def _task_skew(sc, store, stage_id: int, attempt: int) -> float:
    """max / median task run time of one stage."""
    gw = sc._gateway
    qs = gw.new_array(gw.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    dist = store.taskSummary(stage_id, attempt, qs)
    if not dist.isDefined():
        return 0.0
    rt = dist.get().executorRunTime()
    med, mx = rt.apply(0), rt.apply(1)
    return mx / med if med > 0 else 0.0
