"""Spark's own per-stage task metrics for one operation, read from outside
the program: the status tracker maps the operation's job group to its
stages, and the local UI's REST endpoint gives each stage's task metrics."""

from __future__ import annotations

import itertools
import json
import time
import urllib.error
import urllib.request

_DONE = ("COMPLETE", "FAILED", "SKIPPED")


class StageStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        if not self.sc.uiWebUrl:
            raise RuntimeError("the traced run needs the Spark UI (spark.ui.enabled)")
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self._ids = itertools.count()

    def begin(self, kind: str) -> str:
        """Put the next operation's jobs in a fresh job group; returns it."""
        group = f"op-{next(self._ids)}"
        self.sc.setJobGroup(group, kind)
        return group

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def _attempts(self, stage_id: int, timeout: float = 15.0) -> list[dict]:
        """The stage's attempts once the listener has seen them finish."""
        deadline = time.monotonic() + timeout
        while True:
            try:
                attempts = self._get(f"/stages/{stage_id}")
            except urllib.error.HTTPError as e:
                if e.code != 404:
                    raise
                attempts = []
            if attempts and all(a["status"] in _DONE for a in attempts):
                return attempts
            if time.monotonic() > deadline:
                raise TimeoutError(f"stage {stage_id} did not finish in the status store")
            time.sleep(0.05)

    def for_group(self, group: str) -> dict:
        """Summed task metrics of every completed stage of the group's jobs,
        plus the heaviest stage's max / median task run time."""
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0,
               "shuffle_write_bytes": 0, "task_max_over_median": 0.0}
        heaviest = -1.0
        for sid in sorted(stage_ids):
            for a in self._attempts(sid):
                if a["status"] != "COMPLETE":
                    continue
                out["tasks"] += a["numCompleteTasks"]
                out["executor_run_s"] += a["executorRunTime"] / 1000
                out["gc_s"] += a["jvmGcTime"] / 1000
                out["shuffle_write_bytes"] += a["shuffleWriteBytes"]
                if a["executorRunTime"] > heaviest:
                    heaviest = a["executorRunTime"]
                    q = self._get(f"/stages/{sid}/{a['attemptId']}/taskSummary"
                                  "?quantiles=0.5,1.0")["executorRunTime"]
                    out["task_max_over_median"] = q[1] / q[0] if q[0] else 1.0
        return out
