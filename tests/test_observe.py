"""ml_data_wrangler_spark.observe — event-log parsing, per-group
totals and the parallelism verdict.

Two layers: a synthetic event-log unit test (flag logic, v1 parse and
per-group totals), and one real-Spark subprocess run proving that a
deliberately serial stage is flagged from an actual Spark 4 event log
and that ``measured`` splits plan-build jobs from execute jobs."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from ml_data_wrangler_spark.observe import (
    GROUP_PROPERTY,
    JOB_START,
    STAGE_COMPLETED,
    TASK_END,
    EventLog,
    GroupTotals,
    StageStats,
    serial_stages,
    verdict_lines,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _v1_log(tmp_path, app_id: str, events: list[dict]) -> str:
    event_dir = str(tmp_path)
    with open(os.path.join(event_dir, app_id), "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")
    return event_dir


def _job_start(jid, group, stage_ids, **props):
    return {
        "Event": JOB_START,
        "Job ID": jid,
        "Properties": {"spark.jobGroup.id": group, **props},
        "Stage Infos": [{"Stage ID": s} for s in stage_ids],
    }


def _stage_done(sid, name="scan parquet"):
    return {
        "Event": STAGE_COMPLETED,
        "Stage Info": {"Stage ID": sid, "Stage Name": name},
    }


def _task_end(sid, run_ms, shuffle_read=0, shuffle_write=0, spill=0, peak=0):
    return {
        "Event": TASK_END,
        "Stage ID": sid,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Shuffle Read Metrics": {"Remote Bytes Read": shuffle_read // 2,
                                     "Local Bytes Read": (shuffle_read
                                                          - shuffle_read // 2)},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Disk Bytes Spilled": spill,
            "Peak Execution Memory": peak,
        },
    }


def test_serial_flag_fires_on_synthetic_log(tmp_path):
    """A 1-task 6-executor-sec stage flags SERIAL at cpus=8; a 16-task
    balanced stage of the same total run time does not; a 1-task stage
    under the threshold does not. Per-group totals sum over tasks (peak
    memory takes the largest task), a stage reused by a later job stays
    with the job that ran it, the group property outranks the job group,
    and ungrouped jobs land under ""."""
    events = (
        [_job_start(0, "q_serial", [0]), _stage_done(0, "mapInPandas")]
        + [_task_end(0, 6000, spill=700, peak=4096)]
        + [_job_start(1, "q_parallel", [1]), _stage_done(1, "hashagg")]
        + [_task_end(1, 500, shuffle_read=10, shuffle_write=3, peak=i)
           for i in range(16)]
        + [_job_start(2, "q_smallserial", [2]), _stage_done(2, "collect")]
        + [_task_end(2, 250)]
        # a micro-batch job: the streaming engine set its run id as the
        # job group, the group property still names the caller's group
        + [_job_start(3, "run-id", [1, 3], **{GROUP_PROPERTY: "q_smallserial"}),
           _stage_done(3, "result")]
        + [_task_end(3, 250, shuffle_read=5)]
        + [_job_start(4, "", [4]), _stage_done(4, "ungrouped")]
    )
    event_dir = _v1_log(tmp_path, "app-x", events)
    log = EventLog().read(event_dir, "app-x")
    by_group = log.stages
    assert set(by_group) == {"q_serial", "q_parallel", "q_smallserial", ""}
    assert log.groups["q_serial"] == GroupTotals(
        jobs=1, stages=1, tasks=1, run_s=6.0, spill_bytes=700,
        peak_memory_bytes=4096)
    assert log.groups["q_parallel"] == GroupTotals(
        jobs=1, stages=1, tasks=16, run_s=8.0, shuffle_read_bytes=160,
        shuffle_write_bytes=48, peak_memory_bytes=15)
    assert log.groups["q_smallserial"] == GroupTotals(
        jobs=2, stages=2, tasks=2, run_s=0.5, shuffle_read_bytes=5)
    assert log.groups[""] == GroupTotals(jobs=1, stages=1)

    assert [s.stage_id for s in serial_stages(by_group["q_serial"], 8, 5.0)] == [0]
    assert serial_stages(by_group["q_parallel"], 8, 5.0) == []
    assert serial_stages(by_group["q_smallserial"], 8, 5.0) == []

    # a stage whose TOTAL is small but whose single task is long still
    # flags (one 6 s task among fast siblings is serial wall time)
    lone = [StageStats(9, "sort", n_tasks=2, run_sec=6.5, max_task_sec=6.2)]
    assert serial_stages(lone, 8, 5.0) == lone

    walls = {"q_serial": 12.0, "q_parallel": 12.0, "q_smallserial": 12.0,
             "q_light": 0.5}
    lines = verdict_lines(log, walls, cpus=8, min_wall_sec=10.0,
                          min_stage_sec=5.0)
    flat = "\n".join(lines)
    assert "audit q_serial: SERIAL stage 0" in flat
    assert "audit q_parallel: parallel-ok" in flat
    assert "audit q_smallserial: parallel-ok" in flat
    assert "q_light" not in flat  # under the wall threshold → silent


def test_serial_flag_fires_from_real_event_log():
    """End-to-end on a REAL Spark event log: a job-grouped workload
    whose heavy stage is forced to 1 partition must flag SERIAL; the
    same workload at 8 partitions must not, and its group carries
    shuffle bytes. A ``.first()`` probe run while ``measured`` builds a
    plan lands in ``<name>:build``, the count in ``<name>``. Runs in a
    subprocess (the event log needs its own session + stop-to-flush)."""
    script = r"""
import json, time
from pyspark.sql import functions as F
from ml_data_wrangler_spark.observe import audited_session, measured, tag, verdict_lines

# compressed rolling logs: the layout long sweeps actually produce
# (no zstd CLI is needed — decompression must work in-process)
conf = {
    "spark.eventLog.rolling.enabled": "true",
    "spark.eventLog.compress": "true",
    "spark.eventLog.compression.codec": "zstd",
}
walls = {}
with audited_session("audit-fixture", cpus=4, shuffle_partitions=4,
                     driver_memory="2g", extra_conf=conf) as (spark, log):
    sc = spark.sparkContext
    df = spark.range(0, 3_000_000)
    heavy = F.aggregate(F.sequence(F.lit(1), F.lit(60)),
                        F.lit(0.0), lambda a, x: a + F.sqrt(x * F.col("id")))
    for name, parts in (("q_serial", 1), ("q_parallel", 8)):
        tag(sc, name)
        t0 = time.time()
        df.repartition(parts).select(F.sum(heavy)).collect()
        walls[name] = time.time() - t0

    def probed(spark, _sf_dir):
        n = spark.range(0, 1000).select(F.max("id")).first()[0]
        return spark.range(0, n)

    rec = measured(spark, "q_probe", probed, "")
for ln in verdict_lines(log, walls, cpus=4,
                        min_wall_sec=0.0, min_stage_sec=1.0):
    print(ln)
print(json.dumps({"rows": rec["rows"], "groups": {
    g: vars(t) for g, t in log.groups.items()}}))
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("audit ")]
    flat = "\n".join(lines)
    assert "audit q_serial: SERIAL stage" in flat, flat or out.stdout
    assert "audit q_parallel: parallel-ok" in flat, flat
    summary = json.loads(out.stdout.splitlines()[-1])
    groups = summary["groups"]
    assert groups["q_parallel"]["shuffle_write_bytes"] > 0, groups
    assert groups["q_parallel"]["shuffle_read_bytes"] > 0, groups
    assert summary["rows"] == 999
    assert groups["q_probe:build"]["jobs"] >= 1, groups
    assert groups["q_probe"]["jobs"] >= 1, groups
    assert "" not in groups, groups
