"""Measurement from outside the program: spans around public calls, Spark's
status store read per job group, and the process tree's peak RSS.

Nothing here reaches into the program: spans wrap the benchmark's own calls
into the public functions, jobs are attributed through the job group the
benchmark sets before each call, and memory is read from ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent); written out once, at exit.

    A disabled tracer records nothing and costs one branch per span."""

    enabled: bool
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- Spark status store -------------------------------------------------------


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def group_jobs(sc, group: str, detail: bool = True, with_tasks: bool = False) -> list[dict]:
    """Jobs of one job group, oldest first, as plain dicts. ``detail`` adds
    their stages' counters; ``with_tasks`` adds each completed stage's
    per-task executor run times. Reads newest first and stops at the first
    job of another group after the group's own, so the cost does not grow
    with the number of jobs the status store retains."""
    store = sc._jsc.sc().statusStore()
    all_jobs = store.jobsList(None)  # newest first
    jobs = []
    for k in range(all_jobs.size()):
        j = all_jobs.apply(k)
        g = j.jobGroup()
        if not g.isDefined() or g.get() != group:
            if jobs:
                break
            continue
        stages = []
        for sid in _seq(j.stageIds()) if detail else []:
            s = store.lastStageAttempt(sid)
            st = {
                "id": sid,
                "status": s.status().toString(),
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_write_bytes": s.shuffleWriteBytes(),
            }
            if with_tasks and st["status"] == "COMPLETE":
                st["task_run_s"] = [
                    t.taskMetrics().get().executorRunTime() / 1e3
                    for t in _seq(store.taskList(sid, s.attemptId(), 1 << 20))
                    if t.taskMetrics().isDefined()
                ]
            stages.append(st)
        jobs.append({
            "id": j.jobId(),
            "submit": _ms(j.submissionTime()),
            "complete": _ms(j.completionTime()),
            "status": j.status().toString(),
            "stages": stages,
        })
    jobs.sort(key=lambda r: r["id"])
    return jobs


def split_iterations(jobs: list[dict], n_iter: int, call_end: float) -> list[dict]:
    """Split one EM call's jobs (oldest first) into its ``n_iter`` iterations.

    Every iteration launches the same number of jobs, ``len(jobs) //
    n_iter``; any remainder is pre-loop work and joins the first iteration.
    An iteration runs from its first job's submission to the next
    iteration's first submission (the last one to ``call_end``), so the
    driver-side M-step and the next broadcast belong to the iteration that
    precedes them. ``busy_s`` is the union of the iteration's job
    intervals; ``gap_s`` is the rest of its wall time, spent on the driver.
    """
    per = len(jobs) // n_iter
    if per < 1:
        raise ValueError(f"{len(jobs)} jobs cannot cover {n_iter} iterations")
    lead = len(jobs) - per * n_iter
    chunks = [jobs[: lead + per]] + [
        jobs[lead + per * k: lead + per * (k + 1)] for k in range(1, n_iter)
    ]
    out = []
    for k, chunk in enumerate(chunks):
        start = chunk[0]["submit"]
        end = chunks[k + 1][0]["submit"] if k + 1 < n_iter else call_end
        busy = _union_s([(j["submit"], j["complete"] or end) for j in chunk])
        ran = [s for j in chunk for s in j["stages"] if s["status"] == "COMPLETE"]
        out.append({
            "wall_s": end - start,
            "busy_s": busy,
            "gap_s": max(end - start - busy, 0.0),
            "jobs": len(chunk),
            "stages": len(ran),
            "tasks": sum(s["tasks"] for s in ran),
            "run_s": sum(s["run_s"] for s in ran),
            "cpu_s": sum(s["cpu_s"] for s in ran),
            "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in ran),
            "task_run_s": max(ran, key=lambda s: s["run_s"]).get("task_run_s", []) if ran else [],
        })
    return out


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def jobs_summary(jobs: list[dict]) -> dict:
    """Totals over a group's completed stages."""
    ran = [s for j in jobs for s in j["stages"] if s["status"] == "COMPLETE"]
    return {
        "jobs": len(jobs),
        "tasks": sum(s["tasks"] for s in ran),
        "run_s": sum(s["run_s"] for s in ran),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in ran),
    }


def max_over_median(values: list[float]) -> float:
    med = statistics.median(values)
    return max(values) / med if med > 0 else float("nan")


# -- memory -------------------------------------------------------------------


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants, from /proc (the
    driver Python, the JVM it launched and the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                resident = int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = resident * page
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class PeakRss:
    """Background sampler of :func:`tree_rss_bytes`; use as a context manager."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
