"""Spans and Spark job accounting for the benchmark's traced run.

A span records name, start, end, parent and run id in memory; the spans
are written to JSON when the run ends.  Each span also sets a Spark job
group, so the jobs, tasks and failed tasks a layer caused are read back
from ``SparkContext.statusTracker()`` afterwards.  An untraced repetition
sets one job group for the whole job (the plan-reuse guard counts its
jobs) and its spans cost nothing.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.reps = 0
        self.spans: list[dict] = []

    def untraced(self) -> "Repetition":
        return Repetition(self, on=False)

    def traced(self) -> "Repetition":
        return Repetition(self, on=True)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(
            [{k: s[k] for k in ("name", "start", "end", "parent", "run_id",
                                "rep", "counts")} for s in self.spans],
            indent=1))

    def summary(self, result: dict) -> dict:
        """Tracing overhead (traced minus untraced job_s, same process) and
        the share of traced job wall time the top-level spans cover."""
        traced = statistics.median(result["traced_s"])
        plain = statistics.median(result["job_s"])
        cover = statistics.median(l["_coverage"] for l in result["layers"])
        return {"trace.overhead_s": {"value": traced - plain, "unit": "s"},
                "trace.coverage": {"value": cover, "unit": "ratio"}}


class Repetition:
    """One job repetition: its spans and the Spark job groups it used."""

    def __init__(self, tracer: Tracer, on: bool):
        tracer.reps += 1
        self.tracer = tracer
        self.on = on
        self.rep = tracer.reps
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.groups = [f"{tracer.run_id}/rep{self.rep}"]
        tracer.sc.setJobGroup(self.groups[0], "perfbench job")

    @contextmanager
    def span(self, name: str):
        """Time ``name``; yields a dict for the layer's counts."""
        if not self.on:
            yield {}
            return
        t = self.tracer
        group = f"{self.groups[0]}/{name}/{len(self.spans)}"
        rec = {"name": name, "start": time.perf_counter() - t.t0, "end": None,
               "parent": self.spans[self.stack[-1]]["name"] if self.stack else None,
               "run_id": t.run_id, "rep": self.rep, "group": group,
               "counts": {}}
        self.spans.append(rec)
        t.spans.append(rec)
        self.stack.append(len(self.spans) - 1)
        self.groups.append(group)
        t.sc.setJobGroup(group, name)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter() - t.t0
            self.stack.pop()
            outer = (self.spans[self.stack[-1]]["group"] if self.stack
                     else self.groups[0])
            t.sc.setJobGroup(outer, "perfbench job")

    def _jobs(self, group: str) -> list[int]:
        return list(self.tracer.status.getJobIdsForGroup(group))

    def spark_jobs(self) -> int:
        return sum(len(self._jobs(g)) for g in self.groups)

    def _tasks(self, jobs: list[int]) -> tuple[int, int]:
        st = self.tracer.status
        done = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                s = st.getStageInfo(sid)
                if s:
                    done += s.numCompletedTasks
                    failed += s.numFailedTasks
        return done, failed

    def layers(self, wall: float) -> dict:
        """Per-layer totals of this repetition: seconds, Spark jobs, tasks,
        failed tasks and counts, summed over spans of the same name (a
        parent's jobs exclude those of its children)."""
        out: dict[str, dict] = {}
        top = 0.0
        for s in self.spans:
            d = out.setdefault(s["name"], {"s": 0.0, "jobs": 0, "tasks": 0,
                                           "failed_tasks": 0})
            dur = s["end"] - s["start"]
            d["s"] += dur
            if s["parent"] is None:
                top += dur
            jobs = self._jobs(s["group"])
            tasks, failed = self._tasks(jobs)
            d["jobs"] += len(jobs)
            d["tasks"] += tasks
            d["failed_tasks"] += failed
            for k, v in s["counts"].items():
                d[k] = d.get(k, 0) + v
        out["_coverage"] = top / wall
        return out


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


