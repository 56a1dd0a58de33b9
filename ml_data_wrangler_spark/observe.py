"""The one measurement layer: the only code that parses Spark event
logs, shared by every script that measures queries. A session run by
``audited_session`` yields, per job group, stage statistics and totals;
``measured`` runs a query's plan build and its execution under separate
groups, so eager probe jobs at plan build are told apart.

CPU comes from ``/proc``, not from the event log: the log's ``Executor
CPU Time`` leaves out Python worker CPU (one ``mapInPandas`` job logged
0.94 s of it against 10.1 s of executor run time). In local mode the
JVM and its Python workers run under the driver process, so the
process tree's CPU counts all of them.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
# the event-log records this module reads
JOB_START = "SparkListenerJobStart"
STAGE_COMPLETED = "SparkListenerStageCompleted"
TASK_END = "SparkListenerTaskEnd"
# Local property naming the group a job is attributed to. The job group
# alone is not enough: a streaming query's micro-batch thread inherits
# its caller's local properties but replaces the job group with its run id.
GROUP_PROPERTY = "observe.group"


@dataclass
class StageStats:
    stage_id: int
    name: str
    n_tasks: int
    run_sec: float  # total executor run time across tasks
    max_task_sec: float


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0  # executor run time, summed over tasks
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # spilled to disk
    peak_memory_bytes: int = 0  # the largest single task's peak execution memory


@dataclass
class EventLog:
    """Per-job-group view of one application's event log. Jobs run with
    no job group are kept under ``""``."""

    stages: dict[str, list[StageStats]] = field(default_factory=dict)
    groups: dict[str, GroupTotals] = field(default_factory=dict)

    def read(self, event_dir: str, app_id: str) -> EventLog:
        """Fill from the event log in one pass. A stage reused (skipped)
        by a later job belongs to the job that first ran it."""
        stage_group: dict[int, str] = {}
        stage_name: dict[int, str] = {}
        task_runs: dict[int, list[float]] = {}
        for line in _event_lines(event_dir, app_id):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == JOB_START:
                props = ev.get("Properties") or {}
                group = props.get(GROUP_PROPERTY) or props.get("spark.jobGroup.id") or ""
                self._totals(group).jobs += 1
                for s in ev.get("Stage Infos", []):
                    stage_group.setdefault(s["Stage ID"], group)
            elif kind == STAGE_COMPLETED:
                si = ev["Stage Info"]
                stage_name[si["Stage ID"]] = si.get("Stage Name", "")
            elif kind == TASK_END:
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                run = m.get("Executor Run Time", 0) / 1000.0
                task_runs.setdefault(sid, []).append(run)
                g = self._totals(stage_group.get(sid, ""))
                g.tasks += 1
                g.run_s += run
                read = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read_bytes += (read.get("Remote Bytes Read", 0)
                                         + read.get("Local Bytes Read", 0))
                g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Disk Bytes Spilled", 0)
                g.peak_memory_bytes = max(g.peak_memory_bytes,
                                          m.get("Peak Execution Memory", 0))
        for sid, name in stage_name.items():
            group = stage_group.get(sid, "")
            self._totals(group).stages += 1
            runs = task_runs.get(sid, [])
            self.stages.setdefault(group, []).append(
                StageStats(sid, name, len(runs), sum(runs), max(runs, default=0.0)))
        for g in self.groups.values():
            g.run_s = round(g.run_s, 3)
        return self

    def _totals(self, group: str) -> GroupTotals:
        return self.groups.setdefault(group, GroupTotals())

    def query_stages(self, name: str) -> list[StageStats]:
        """A ``measured`` query's stages, from its ``<name>:build`` group
        and its own, heaviest first."""
        return sorted(self.stages.get(f"{name}:build", []) + self.stages.get(name, []),
                      key=lambda s: -s.run_sec)


def _event_lines(event_dir: str, app_id: str):
    """Yield event-log JSON lines; handles Spark 4's rolling v2
    directory (events_*, optionally .zstd) and the flat v1 file.

    zstd decompression goes through pyarrow: long sessions roll
    compressed segments, and no zstd CLI is needed."""
    flat = os.path.join(event_dir, app_id)
    if os.path.isfile(flat):
        log_files = [flat]
    else:
        v2 = os.path.join(event_dir, f"eventlog_v2_{app_id}")
        log_files = sorted(
            os.path.join(v2, f)
            for f in os.listdir(v2)
            if f.startswith("events_")
        )
    for path in log_files:
        if path.endswith(".zstd"):
            import pyarrow as pa

            with pa.CompressedInputStream(pa.OSFile(path, "rb"), "zstd") as zs:
                yield from io.TextIOWrapper(zs, encoding="utf-8")
        else:
            with open(path) as fh:
                yield from fh


@contextmanager
def audited_session(app_name: str, **get_spark_kwargs):
    """``get_spark`` with the event log on, yielding ``(spark, log)``.
    On exit the session is stopped (which flushes the log), ``log`` is
    filled from it, and the log directory is removed."""
    from ml_data_wrangler_spark.session import get_spark

    event_dir = tempfile.mkdtemp(prefix="spark-events-")
    get_spark_kwargs["extra_conf"] = {
        **(get_spark_kwargs.get("extra_conf") or {}),
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{event_dir}",
    }
    log = EventLog()
    try:
        spark = get_spark(app_name=app_name, **get_spark_kwargs)
        try:
            yield spark, log
        finally:
            app_id = spark.sparkContext.applicationId
            spark.stop()
        log.read(event_dir, app_id)
    finally:
        shutil.rmtree(event_dir, ignore_errors=True)


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every process
    below it, reaped children included."""
    stats: dict[int, list[str]] = {}
    for entry in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        stats[int(entry)] = raw[raw.rindex(")") + 2:].split()
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += sum(int(x) for x in stats[pid][11:15])
        todo.extend(c for c, f in stats.items() if int(f[1]) == pid)
    return total / _TICK


def tag(sc, group: str) -> None:
    """Attribute the calling thread's next jobs, and those of threads it
    starts, to ``group`` (which is also set as their job group)."""
    sc.setJobGroup(group, group)
    sc.setLocalProperty(GROUP_PROPERTY, group)


def measured(spark, name: str, fn, sf_dir: str) -> dict:
    """Build ``fn(spark, sf_dir)`` under group ``<name>:build`` and
    ``.count()`` it under ``<name>``; return the walls, the row count
    and the process tree's CPU seconds over both."""
    sc = spark.sparkContext
    cpu0, t0 = tree_cpu_s(), time.time()
    tag(sc, f"{name}:build")
    df = fn(spark, sf_dir)
    t1 = time.time()
    tag(sc, name)
    rows = df.count()
    t2 = time.time()
    return {"wall_s": round(t2 - t0, 3), "build_s": round(t1 - t0, 3),
            "execute_s": round(t2 - t1, 3),
            "cpu_s": round(tree_cpu_s() - cpu0, 2), "rows": rows}


def regime_probe(sc) -> dict:
    """Fixed per-job latency: the median wall of 12 trivial one-task-
    per-core jobs. The box is bimodal (about 110-180 ms per job
    healthy, 400-700 ms degraded); degraded walls overstate job-heavy
    queries 2-6x."""
    n = sc.defaultParallelism
    sc.parallelize(range(n), n).count()
    ms = []
    for _ in range(12):
        t0 = time.time()
        sc.parallelize(range(n), n).count()
        ms.append((time.time() - t0) * 1000)
    ms.sort()
    med = ms[len(ms) // 2]
    return {"median_ms": round(med), "min_ms": round(ms[0]),
            "max_ms": round(ms[-1]),
            "regime": "HEALTHY" if med < 250 else "DEGRADED"}


def query_parser(doc: str) -> argparse.ArgumentParser:
    """The measuring scripts' shared command line, ``SF_DIR [--only a,b]``;
    SF_DIR may be left out when ``$SPARK_GRAFT_SF_DIR`` is set."""
    p = argparse.ArgumentParser(
        description=doc, formatter_class=argparse.RawDescriptionHelpFormatter)
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    p.add_argument("sf_dir", nargs="?" if env else None, default=env,
                   metavar="SF_DIR", help="testdata tier directory")
    p.add_argument("--only", metavar="A,B", help="comma-separated query names")
    return p


def only_names(only: str | None, known) -> list[str] | None:
    """The comma-separated ``--only`` value as a list (None when unset).
    An unknown name exits with a usage error before any session starts:
    a typo must not read as a clean run that verified nothing."""
    if only is None:
        return None
    names = only.split(",")
    unknown = sorted(set(names) - set(known))
    if unknown:
        sys.exit("usage: --only names not in the registry: " + ", ".join(unknown))
    return names


def serial_stages(
    stages: list[StageStats], cpus: int, min_stage_sec: float
) -> list[StageStats]:
    """Stages burning ≥ min_stage_sec of executor time at fewer than
    half the session's cores: the signature of serial-stage defects
    (a broadcast-side join pipelining onto a 1-split scan, a fan-out
    relation keeping its pre-fan-out partitioning) that correctness
    sweeps never see. A stage with a SINGLE long task is
    serial regardless of how many sibling tasks finished fast, so
    max_task_sec ≥ min_stage_sec with a small task count also flags."""
    floor = max(2, cpus // 2)
    return [
        s
        for s in stages
        if s.n_tasks < floor
        and (s.run_sec >= min_stage_sec or s.max_task_sec >= min_stage_sec)
    ]


def verdict_lines(
    log: EventLog,
    walls: dict[str, float],
    cpus: int,
    min_wall_sec: float = 10.0,
    min_stage_sec: float = 5.0,
) -> list[str]:
    """One verdict line per audited query (wall ≥ min_wall_sec): either
    ``audit <name>: parallel-ok`` or a SERIAL line per flagged stage.
    Queries under the wall threshold are silent, so the gate tiers stay
    noise-free."""
    lines: list[str] = []
    for name, wall in sorted(walls.items()):
        if wall < min_wall_sec:
            continue
        flagged = serial_stages(log.query_stages(name), cpus, min_stage_sec)
        if not flagged:
            lines.append(f"audit {name}: parallel-ok (wall {wall:.1f}s)")
        for s in flagged:
            lines.append(
                f"audit {name}: SERIAL stage {s.stage_id} "
                f"tasks={s.n_tasks} run={s.run_sec:.1f}s "
                f"max_task={s.max_task_sec:.1f}s {s.name[:60]}"
            )
    return lines
