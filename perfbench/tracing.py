"""Measurement from outside the engine.

Two instruments, neither of which edits engine code:

- ``Spans``: timing wrappers installed over public functions of the
  engine's modules (``install`` patches the module attributes and
  ``uninstall`` restores them).
- ``EventLog``: Spark's plain-JSON event log parsed with the stdlib
  into per-stage task metrics and per-job group membership.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict

# SQL metrics the Arrow/Python operators emit, by their display name
PY_METRICS = {
    "time to start Python workers": "worker_boot",
    "time to initialize Python workers": "worker_init",
    "time to run Python workers": "worker_run",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


class Spans:
    """Call counts and seconds per span name, kept in memory."""

    def __init__(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls[name] += 1
                self.seconds[name] += time.perf_counter() - t0
        return timed

    def install(self, name: str, owners: list[object], attr: str) -> None:
        """Replace ``attr`` on every owner module by one timed wrapper
        of the first owner's function (the other owners imported it)."""
        fn = getattr(owners[0], attr)
        timed = self.wrap(name, fn)
        for owner in owners:
            if getattr(owner, attr) is not fn:
                raise RuntimeError(f"{owner.__name__}.{attr} is not {name}")
            self._patched.append((owner, attr, fn))
            setattr(owner, attr, timed)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


def union_seconds(spans: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class EventLog:
    """Per-stage totals and job-group membership from one event log."""

    STAGE_KEYS = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "worker_boot",
                  "worker_init", "worker_run", "bytes_to_python",
                  "bytes_from_python")

    def __init__(self, path: str) -> None:
        self.job_group: dict[int, str | None] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stage_span: dict[int, tuple[float, float]] = {}
        self.stage: dict[int, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(self.STAGE_KEYS, 0.0))
        self.acc_type: dict[int, str] = {}
        pending: list[tuple[int, list[dict]]] = []
        with open(path) as f:
            for line in f:
                self._event(json.loads(line), pending)
        # SQL metric types arrive with the plan, which may be logged
        # after the first tasks of an adaptive query: resolve at the end
        for sid, accs in pending:
            self._python_metrics(sid, accs)

    @classmethod
    def from_dir(cls, log_dir: str) -> EventLog:
        logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
                if not f.endswith(".inprogress")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}: {logs}")
        return cls(logs[0])

    def _plan_metrics(self, plan: dict) -> None:
        for m in plan.get("metrics", ()):
            self.acc_type[m["accumulatorId"]] = m["metricType"]
        for child in plan.get("children", ()):
            self._plan_metrics(child)

    def _event(self, e: dict, pending: list) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            self.job_group[jid] = (e.get("Properties") or {}).get(
                "spark.jobGroup.id")
            self.job_stages[jid] = list(e["Stage IDs"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                self.stage_span[info["Stage ID"]] = (
                    info["Submission Time"] / 1e3,
                    info["Completion Time"] / 1e3)
        elif kind == "SparkListenerTaskEnd":
            sid, m = e["Stage ID"], e.get("Task Metrics") or {}
            st = self.stage[sid]
            st["tasks"] += 1
            st["run_s"] += m.get("Executor Run Time", 0) / 1e3
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0))
            st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0))
            accs = [a for a in (e.get("Task Info") or {}).get(
                "Accumulables", ()) if a.get("Name") in PY_METRICS]
            if accs:
                pending.append((sid, accs))
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            self._plan_metrics(e.get("sparkPlanInfo") or {})

    def _python_metrics(self, sid: int, accs: list[dict]) -> None:
        st = self.stage[sid]
        for a in accs:
            key = PY_METRICS[a["Name"]]
            value = float(a.get("Update") or 0)
            st[key] += value * _TIME_SCALE.get(
                self.acc_type.get(a["ID"], "size"), 1.0)

    def group_jobs(self, groups) -> list[int]:
        groups = set(groups)
        return [j for j, g in self.job_group.items() if g in groups]

    def _stage_ids(self, jobs: list[int]) -> set[int]:
        return {s for j in jobs for s in self.job_stages.get(j, ())}

    def totals(self, jobs: list[int]) -> dict[str, float]:
        """Task-metric totals over the stages that ran for ``jobs``,
        plus ``stages``, their number. Stages skipped because their
        shuffle output was reused ran no task and are not counted."""
        out = dict.fromkeys(self.STAGE_KEYS + ("stages",), 0.0)
        for sid in self._stage_ids(jobs):
            if sid in self.stage:
                out["stages"] += 1
                for k, v in self.stage[sid].items():
                    out[k] += v
        return out

    def stage_spans(self, jobs: list[int]) -> list[tuple[float, float]]:
        """(submission, completion) epoch seconds of the stages of
        ``jobs``, as the JVM clock logged them."""
        return [self.stage_span[s] for s in self._stage_ids(jobs)
                if s in self.stage_span]

    def busy_seconds(self, jobs: list[int], lo: float, hi: float) -> float:
        """Seconds within [lo, hi] during which a stage of ``jobs`` ran."""
        return union_seconds(self.stage_spans(jobs), lo, hi)
