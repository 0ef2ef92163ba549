"""Spans around the calls into each layer, kept in memory until the run
ends, plus the Spark-side counters attributed to them.

Each span tags the jobs it launches with its own job group
(``SparkContext.setJobGroup``), so ``statusTracker`` counts them and the
status REST API attributes shuffle bytes, GC time and task-time skew to
the span that launched the stages.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str):
        """Record `name` from entry to exit; the yielded dict takes extra
        counters (e.g. ``rows_out``) from the caller."""
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": parent["id"] if parent else None,
               "group": f"{self.run_id}-{sid}", "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            rec["jobs"] = len(self.sc.statusTracker()
                              .getJobIdsForGroup(rec["group"]))

    def self_seconds(self, rec: dict) -> float:
        """Duration minus the time covered by child spans (children of one
        span run one after another, so their durations do not overlap)."""
        kids = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == rec["id"])
        return rec["end"] - rec["start"] - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

    # -- Spark status REST API -------------------------------------------

    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def stage_metrics(self, timeout_s: float = 30.0) -> dict[str, dict]:
        """group -> {shuffle_mb, gc_s, task_med_s, task_max_s} from the
        status REST API; the task times are the sums over the group's stages
        of the median and the slowest task's run time.
        Waits until the UI has recorded every job the spans launched (its
        listener runs behind the jobs themselves)."""
        want = {j for rec in self.spans
                for j in self.sc.statusTracker().getJobIdsForGroup(rec["group"])}
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self._get("/jobs")
                    if j["status"] in ("SUCCEEDED", "FAILED")]
            if want <= {j["jobId"] for j in jobs} or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = {s["stageId"]: s for s in self._get(
            "/stages?status=complete&withSummaries=true&quantiles=0.5,1.0")}
        # a stage reused by a later job is listed there too (as skipped):
        # it belongs to the first job that ran it
        owner: dict[int, str] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                if sid in stages:
                    owner.setdefault(sid, j.get("jobGroup") or "")
        by_group: dict[str, list[int]] = {}
        for sid, group in owner.items():
            by_group.setdefault(group, []).append(sid)
        res = {}
        for group, sids in by_group.items():
            shuffle = gc = med = mx = 0.0
            for sid in sids:
                s = stages[sid]
                shuffle += s["shuffleReadBytes"] + s["shuffleWriteBytes"]
                gc += s["jvmGcTime"] / 1000.0
                run = s.get("taskMetricsDistributions", {}).get(
                    "executorRunTime") or [0.0, 0.0]
                med += run[0]
                mx += run[-1]
            res[group] = {"shuffle_mb": shuffle / 2**20, "gc_s": gc,
                          "task_med_s": med / 1000.0, "task_max_s": mx / 1000.0}
        return res
