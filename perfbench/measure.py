"""Measurement layer of the benchmark: spans, process-tree CPU and RSS
from ``/proc``, and attribution of Spark event-log jobs to spans.

Spans are flat and contiguous: each one starts where the previous one
ended, so together they cover the traced wall exactly, and glue code
between two layer calls is charged to the next one. One client thread
opens the spans in sequence, so a job belongs to the span that was open
when Spark recorded its submission. That also catches jobs submitted
from worker threads (``lda_sweep``'s thread pool) and eager probe jobs
run while a query builds its plan, with no job groups needed.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of a process tree, reaped children
    included (a worker that exits is folded into its parent's
    cutime/cstime, so a before/after difference stays exact)."""
    total = 0
    for pid in descendants(root or os.getpid()):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Spans:
    """Records contiguous named spans with wall time and, when
    ``with_cpu`` is set, process-tree CPU seconds."""

    def __init__(self, with_cpu: bool = False):
        self.with_cpu = with_cpu
        self.records: list[dict] = []
        self._cursor: float | None = None
        self._cpu: float | None = None

    def start(self) -> None:
        self._cursor = time.time()
        self._cpu = tree_cpu_s() if self.with_cpu else 0.0

    @contextmanager
    def __call__(self, name: str, **meta):
        if self._cursor is None:
            self.start()
        rec = {"name": name, "start": self._cursor, **meta}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["s"] = rec["end"] - rec["start"]
            if self.with_cpu:
                cpu = tree_cpu_s()
                rec["cpu_s"] = cpu - self._cpu
                self._cpu = cpu
            self.records.append(rec)
            self._cursor = rec["end"]


def read_event_log(log_dir: str) -> dict:
    """Parse the one application event log in ``log_dir`` into jobs with
    their submission time and task totals."""
    [path] = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"submitted_ms": ev["Submission Time"], "tasks": 0, "task_ms": 0,
                             "input_bytes": 0, "output_bytes": 0, "shuffle_bytes": 0,
                             "spill_bytes": 0}
                for sid in ev["Stage IDs"]:
                    # a reused stage is listed again (skipped) by later
                    # jobs; it belongs to the job that first ran it
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                job["tasks"] += 1
                job["task_ms"] += info["Finish Time"] - info["Launch Time"]
                job["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return jobs


def attribute(jobs: dict, spans: list[dict]) -> int:
    """Fold each job's totals into the span open at its submission;
    return the number of jobs that fall in no span."""
    for s in spans:
        s.update(jobs=0, tasks=0, task_ms=0, input_bytes=0, output_bytes=0,
                 shuffle_bytes=0, spill_bytes=0)
    bounds = [(int(s["start"] * 1000), int(s["end"] * 1000), s) for s in spans]
    unattributed = 0
    for job in jobs.values():
        t = job["submitted_ms"]
        span = next((s for lo, hi, s in bounds if lo <= t < hi), None)
        if span is None and bounds and t == bounds[-1][1]:
            span = bounds[-1][2]
        if span is None:
            unattributed += 1
            continue
        span["jobs"] += 1
        for key in ("tasks", "task_ms", "input_bytes", "output_bytes", "shuffle_bytes", "spill_bytes"):
            span[key] += job[key]
    return unattributed
