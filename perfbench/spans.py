"""Spans around layer calls, and Spark task metrics read back per span.

A span is {name, start, end, parent}. Entering one gives it its own Spark job
group, so every job the calling thread launches inside it carries the span's
id. After the run, `job_metrics` reads every job's stage metrics, with its
group and submission time, from the in-process AppStatusStore (it works with
the UI disabled), and `total` sums them per span (`in_span`) or per time
window. Spans are kept in memory and read once, at the end.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

_GROUP_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {"name": name, "group": f"{_GROUP_PREFIX}{len(self.spans)}",
              "parent": parent["group"] if parent else None,
              "start": time.time(), "end": None, "counts": {}}
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", parent["group"] if parent else None)


def _opt(o):
    return o.get() if o.isDefined() else None


def job_metrics(sc) -> list[dict]:
    """Every job the status store holds: {group, submitted (epoch s), jobs=1,
    tasks, run_s, shuffle_write_mb, input_mb, output_mb}. A stage
    counts once, for the lowest job that lists it (the one that ran it;
    later jobs list it again as a skipped stage)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    out: dict[int, dict] = {}
    owner: dict[int, int] = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        jid = job.jobId()
        sub = _opt(job.submissionTime())
        out[jid] = {"group": _opt(job.jobGroup()),
                    "submitted": sub.getTime() / 1e3 if sub else None,
                    **_zero(), "jobs": 1}
        ids = job.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            owner[sid] = min(jid, owner.get(sid, jid))
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() not in owner:
            continue
        m = out[owner[st.stageId()]]
        m["tasks"] += st.numCompleteTasks()
        m["run_s"] += st.executorRunTime() / 1e3
        m["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        m["input_mb"] += st.inputBytes() / 1e6
        m["output_mb"] += st.outputBytes() / 1e6
    return list(out.values())


def _zero() -> dict:
    return {"jobs": 0, "tasks": 0, "run_s": 0.0, "shuffle_write_mb": 0.0,
            "input_mb": 0.0, "output_mb": 0.0}


def in_span(sp: dict):
    """Does a job belong to span `sp`? Jobs the calling thread submits carry
    the span's group. Jobs submitted from a thread pool of the engine's own
    carry no group (job groups are thread-local); in a serial replay they
    belong to the span that was open when they were submitted, so call this
    only for spans that never overlap."""
    def keep(j: dict) -> bool:
        if j["group"] is not None:
            return j["group"] == sp["group"]
        return j["submitted"] is not None and \
            sp["start"] <= j["submitted"] <= sp["end"]
    return keep


def total(jobs: list[dict], keep) -> dict:
    """Sum the metrics of the jobs for which keep(job) is true."""
    out = _zero()
    for j in jobs:
        if keep(j):
            for k in out:
                out[k] += j[k]
    return out
