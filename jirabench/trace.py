"""Spans around the benchmark's calls into the package, and the Spark
engine numbers behind each span.

A span is (name, start, end, parent, run id). The tracer keeps spans in
memory and ``dump`` writes them out once, at exit. Engine numbers come
from Spark's own status store, read after each iteration, so nothing
inside the package is instrumented:

  * batch calls: the tracer tags the driver thread with ``setJobGroup``
    for the span, and each job carrying that group belongs to it;
  * streaming batches: their jobs carry the query's ``runId`` as job
    group, which the benchmark registers on the scheduled-run span;
  * jobs started on the package's own threads carry no group; they go to
    the innermost span whose time window holds their submission time.

With tracing off ``span`` only yields None (no clock read, no job-group
call) and the collectors return at once.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

ENGINE_FIELDS = (
    "jobs", "tasks", "task_s", "busy_frac", "shuffle_bytes", "spill_bytes",
    "min_stage_tasks", "max_stage_task_s",
)
# a stage "dominates" a span when it carries at least this share of the
# span's task time; min_stage_tasks looks only at such stages
DOMINANT_STAGE_SHARE = 0.10


def _write_target(plan: str) -> str | None:
    """The output path of a file-write plan: the first argument of its
    InsertIntoHadoopFsRelationCommand node (None for other plans)."""
    lines = plan.split("\n")
    for k, line in enumerate(lines):
        if line.startswith("(") and line.endswith("Execute InsertIntoHadoopFsRelationCommand"):
            for detail in lines[k + 1:]:
                if detail.startswith("Arguments: "):
                    return detail[len("Arguments: "):].split(",", 1)[0]
    return None


class Tracer:
    def __init__(self, spark, enabled: bool, cores: int):
        self.spark = spark
        self.enabled = enabled
        self.cores = cores
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._run = 0
        self._seen_jobs = -1
        self._seen_execs = -1

    def new_run(self) -> None:
        """Start a new iteration: the spans that follow share its run id."""
        self._run += 1

    @contextmanager
    def span(self, name: str):
        """Record a span around the block and tag the driver thread's jobs
        with its job group. Yields the span (None with tracing off)."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run": self._run,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None, "group": f"jirabench-{sid}", "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                sc._jsc.clearJobGroup()

    # -- engine numbers -------------------------------------------------
    def collect_engine(self) -> None:
        """Attribute every job finished since the last call to a span and
        fold its stages into the span's engine numbers."""
        if not self.enabled:
            return
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        by_group = {s["group"]: s for s in self.spans}
        by_group.update({s["attrs"]["stream_run_id"]: s for s in self.spans
                         if "stream_run_id" in s["attrs"]})
        newest = self._seen_jobs
        for i in range(jobs.length()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._seen_jobs:
                continue
            newest = max(newest, jid)
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            sub = j.submissionTime().get().getTime() / 1000.0
            span = by_group.get(group) or self._span_at(sub)
            if span is None:
                continue
            eng = span.setdefault("engine", {"jobs": 0, "stages": []})
            eng["jobs"] += 1
            ids = j.stageIds()
            for k in range(ids.length()):
                try:
                    st = store.lastStageAttempt(ids.apply(k))
                except Exception:  # evicted or never-run (skipped) stage
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                eng["stages"].append({
                    "tasks": st.numCompleteTasks(),
                    "task_s": st.executorRunTime() / 1000.0,
                    "shuffle_bytes": st.shuffleReadBytes() + st.shuffleWriteBytes(),
                    "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "output_bytes": st.outputBytes(),
                    "job": jid,
                })
        self._seen_jobs = newest

    def collect_writes(self, prefixes: dict[str, str], span: dict | None) -> dict[str, dict]:
        """Per output directory marker (e.g. '/bronze/'): wall seconds and
        output bytes of the file writes submitted inside ``span``, matched
        on the output path in each SQL execution's plan."""
        out = {name: {"s": 0.0, "output_bytes": 0} for name in prefixes}
        if not self.enabled or span is None:
            return out
        jvm = self.spark.sparkContext._jvm
        sq = self.spark._jsparkSession.sharedState().statusStore()
        store = self.spark.sparkContext._jsc.sc().statusStore()
        execs = sq.executionsList()
        newest = self._seen_execs
        for i in range(execs.length()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._seen_execs:
                continue
            newest = max(newest, eid)
            if not (e.completionTime().isDefined()
                    and span["start"] <= e.submissionTime() / 1000.0 <= span["end"]):
                continue
            target = _write_target(e.physicalPlanDescription())
            zone = next((n for n, marker in prefixes.items() if target and marker in target), None)
            if zone is None:
                continue
            out[zone]["s"] += (e.completionTime().get().getTime() - e.submissionTime()) / 1000.0
            for jid in jvm.scala.jdk.javaapi.CollectionConverters.asJava(e.jobs().keySet()):
                ids = store.job(jid).stageIds()
                for k in range(ids.length()):
                    try:
                        out[zone]["output_bytes"] += store.lastStageAttempt(ids.apply(k)).outputBytes()
                    except Exception:
                        continue
        self._seen_execs = newest
        return out

    def _span_at(self, t: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def engine_metrics(self, span: dict) -> dict[str, float]:
        """The eight engine numbers of one span (zeros when it ran no job)."""
        eng = span.get("engine", {"jobs": 0, "stages": []})
        stages = eng["stages"]
        wall = span["end"] - span["start"]
        task_s = sum(s["task_s"] for s in stages)
        dominant = [s for s in stages if task_s and s["task_s"] >= DOMINANT_STAGE_SHARE * task_s]
        return {
            "jobs": eng["jobs"],
            "tasks": sum(s["tasks"] for s in stages),
            "task_s": task_s,
            "busy_frac": task_s / (wall * self.cores) if wall > 0 else 0.0,
            "shuffle_bytes": sum(s["shuffle_bytes"] for s in stages),
            "spill_bytes": sum(s["spill_bytes"] for s in stages),
            "min_stage_tasks": min((s["tasks"] for s in dominant), default=0),
            "max_stage_task_s": max((s["task_s"] for s in stages), default=0.0),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh, indent=1, default=str)
