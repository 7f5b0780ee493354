"""Spans for the traced run.

Spans are recorded here, in the benchmark, around calls into the
package's public functions; nothing inside ``datatest_spark`` is edited.
Spark jobs become child spans, read back from the driver's status store
(submission and completion times, task counts, per-stage bytes).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time
import uuid


class Tracer(object):
    """In-memory span list; written out once when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans = []
        self._stack = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name, **attrs):
        if not self.enabled:
            yield None
            return
        sp = {
            "trace_id": self.trace_id,
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.spans.append(sp)

    def inside(self, name) -> bool:
        return any(s["name"] == name for s in self._stack)

    def descendants(self, sp, name):
        out, frontier = [], [sp["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out.extend(s for s in kids if s["name"] == name)
            frontier = [s["id"] for s in kids]
        return out

    def attach_jobs(self, jobs):
        """Each Spark job becomes a child of the innermost span that was
        open when it was submitted."""
        if not self.enabled:
            return
        for job in jobs:
            owner = None
            for sp in self.spans:
                if sp["name"] == "spark.job":
                    continue
                if sp["start"] <= job["start"] <= sp["end"]:
                    if owner is None or sp["start"] >= owner["start"]:
                        owner = sp
            self.spans.append({
                "trace_id": self.trace_id,
                "id": next(self._ids),
                "parent": owner["id"] if owner else None,
                "name": "spark.job",
                "start": job["start"],
                "end": job["end"],
                "attrs": {k: job[k] for k in
                          ("job_id", "tasks", "input_bytes",
                           "shuffle_write_bytes", "shuffle_read_bytes",
                           "cpu_s")},
            })

    def write(self, path):
        with open(path, "w") as fh:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, fh)


def union_s(intervals, lo=None, hi=None) -> float:
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def spark_jobs(spark, since_s=0.0):
    """Completed Spark jobs of the current context from the driver's status
    store, each with the summed bytes and CPU of its stages; jobs
    submitted before ``since_s`` are left out."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = {}

    def stage(sid):
        if sid not in stages:
            try:
                st = store.lastStageAttempt(sid)
                stages[sid] = {
                    "input_bytes": st.inputBytes(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "shuffle_read_bytes": st.shuffleReadBytes(),
                    "cpu_s": st.executorCpuTime() / 1e9,
                }
            except Exception:  # evicted from the store: counts as empty
                stages[sid] = None
        return stages[sid]

    out = []
    jlist = store.jobsList(None)
    for i in range(jlist.size()):
        jd = jlist.apply(i)
        sub, comp = jd.submissionTime(), jd.completionTime()
        if not (sub.isDefined() and comp.isDefined()):
            continue
        start = sub.get().getTime() / 1000.0
        if start < since_s:
            continue
        agg = {"input_bytes": 0, "shuffle_write_bytes": 0,
               "shuffle_read_bytes": 0, "cpu_s": 0.0}
        sids = jd.stageIds()
        for k in range(sids.size()):
            st = stage(sids.apply(k))
            for key in agg:
                agg[key] += st[key] if st else 0
        out.append(dict(agg, job_id=jd.jobId(), start=start,
                        end=comp.get().getTime() / 1000.0,
                        tasks=jd.numTasks()))
    out.sort(key=lambda j: j["start"])
    return out


def _wrap(tracer, name, fn):
    """Span around ``fn``; nested calls of the same layer stay inside the
    outermost span instead of being counted twice."""
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if tracer.inside(name):
            return fn(*args, **kwargs)
        with tracer.span(name, fn=fn.__qualname__):
            return fn(*args, **kwargs)
    return wrapper


def install_probes(tracer):
    """Wrap the public layer boundaries in spans (traced runs only):
    requirement planning, driver-side acceptances and parquet writes."""
    from pyspark.sql.readwriter import DataFrameWriter

    from datatest_spark import acceptances, requirements

    for obj in vars(requirements).values():
        if (isinstance(obj, type)
                and issubclass(obj, requirements.BaseRequirement)
                and "violations" in vars(obj)):
            obj.violations = _wrap(tracer, "requirements.plan",
                                   vars(obj)["violations"])
    base = acceptances.BaseAcceptance
    base.__exit__ = _wrap(tracer, "acceptances.driver", base.__exit__)
    DataFrameWriter.parquet = _wrap(tracer, "io.write_parquet",
                                    DataFrameWriter.parquet)
