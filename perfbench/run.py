"""perfbench — the repository's seeded, checked benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload ticket_pipeline --seed 1 --seconds 10 --trace 0

Workloads (``config.json`` pins their inputs and query lists):

* ``ticket_pipeline`` — the paper's flow over seeded tickets and comment
  files: read → wrangle → JSON sinks → cleanse/PII → lemmatize →
  vectorize → LDA coherence sweep.
* ``kernel_suite`` — 4 bench.py queries dominated by Python/Arrow
  kernels and client-side loops, one per plan module.
* ``sql_suite`` — 20 bench.py queries dominated by Catalyst scans,
  joins, windows and aggregates (runnable, not in BENCHMARK.json).

A run generates its inputs from ``--seed`` (cached per seed under
``.perfbench/``), sets up the Spark session (session build plus warm-up
of the JSON reader, a pandas-UDF worker and MLlib LDA, as far as the
workload uses them), runs one untimed pass, then times whole passes of
the workload until ``--seconds`` have elapsed and at least
the workload's ``min_timed_passes`` have run (metrics are medians over them, see
``end_to_end``), and sets up twice more to report the median set-up
time. Every pass's outputs are checked. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` runs one untraced
pass, then one traced pass in a restarted session, and reports the
per-layer metrics, from spans around each layer call and Spark's event
log. The last stdout line is one JSON object; the exit code is 0 only
when every output checked out.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = process_start_time()


def require_repo() -> None:
    for rel in ("ml_data_wrangler_spark/__init__.py", "tests/oracle_harness.py", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            sys.stderr.write(f"perfbench: {rel} not found under {ROOT}; run from a full checkout\n")
            raise SystemExit(2)


def pin_environment(config: dict) -> int:
    cpus = len(os.sched_getaffinity(0))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "SPARK_DRIVER_MEMORY": config["session"]["SPARK_DRIVER_MEMORY"],
        "DUCKDB_MEMORY_LIMIT": config["session"]["DUCKDB_MEMORY_LIMIT"],
        "TMPDIR": os.path.join(WORK, "tmp"),
        # Python workers import the package by name
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)
    return cpus


def warm_up(spark, steps: list[str]) -> None:
    """The one-time costs a workload would otherwise pay inside its
    first stage: the JSON reader, a pandas-UDF worker and MLlib LDA,
    each only for the workloads that use it (``warm_up`` in config)."""
    import bench
    from pyspark.sql import functions as F

    from ml_data_wrangler_spark.functions.text import nfkc_unescape
    from ml_data_wrangler_spark.sources.readers import read_tickets

    if "json" in steps:
        tiny = os.path.join(WORK, "warm-tickets.json")
        if not os.path.exists(tiny):
            with open(tiny, "w") as fh:
                json.dump([{"id": 1, "status": "open"}, {"id": 2, "status": "closed"}], fh)
        read_tickets(spark, tiny).count()
    if "pandas_udf" in steps:
        spark.range(4).select(nfkc_unescape(F.lit("&amp;"))).collect()
    if "lda" in steps:
        bench._warm_mllib(spark)


def build_session(steps: list[str], event_log: str | None = None):
    from ml_data_wrangler_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a heap committed and touched up front keeps the JVM's resident
        # size from depending on when the collector chose to grow it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{event_log}",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, steps)
    return spark


def jvm_process():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    proc = jvm_process()
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway exits on EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def probe_job(spark, cpus: int) -> None:
    """A fixed trivial job, timed by its span: the box's per-job regime."""
    spark.range(0, 1 << 16, 1, cpus).selectExpr("sum(id)").collect()


def tail(samples: list[float]) -> tuple[int, float]:
    """The highest percentile with at least ten samples beyond it (a
    quarter of the samples when fewer than 40 were taken), never below
    the median; nearest-rank. Returns (percentile, value)."""
    xs = sorted(samples)
    n = len(xs)
    beyond = 10 if n >= 40 else max(1, n // 4)
    best = 50
    for p in range(50, 100):
        if n - math.ceil(p * n / 100) >= beyond:
            best = p
    return best, xs[max(0, math.ceil(best * n / 100) - 1)]


def end_to_end(setups, passes, rss_mb, per_pass: bool) -> tuple[dict, tuple[int, float, int]]:
    """``wall_s`` is the sum of each operation's median time over the
    passes, so a stall in one pass's operation does not carry into the
    pass's wall. ``per_pass``: latency samples are whole passes (one
    pipeline run each) rather than the operations inside them; else
    ``query_p50_s`` is the median over operations of each one's median
    time, which stays put when the pooled median would fall in the gap
    between a fast and a slow query. Also returns the tail (percentile,
    seconds, sample count) of the pooled samples: printed, but not a
    BENCHMARK.json metric, as it spreads too far from run to run."""
    op_times: dict[str, list[float]] = {}
    for ops, _, _ in passes:
        for op in ops:
            op_times.setdefault(op.name, []).append(op.s)
    op_medians = [statistics.median(xs) for xs in op_times.values()]
    if per_pass:
        samples = [w for _, w, _ in passes]
        p50 = statistics.median(samples)
    else:
        samples = [op.s for ops, _, _ in passes for op in ops]
        p50 = statistics.median(op_medians)
    pct, tail_s = tail(samples)
    return {
        "setup_s": statistics.median(setups),
        "wall_s": sum(op_medians),
        "cpu_s": statistics.median(c for _, _, c in passes),
        "query_p50_s": p50,
        "peak_rss_mb": rss_mb,
    }, (pct, tail_s, len(samples))


def per_layer(spans: list[dict], names: list[str], cpus: int, overhead_s: float,
              unattributed: int) -> dict:
    """Fold the traced pass's spans into the per-layer metric names."""
    m = dict.fromkeys(names, 0.0)

    def total(name, key):
        return float(sum(s.get(key, 0) for s in spans if s["name"] == name))

    def util(name):
        wall = total(name, "s")
        return total(name, "task_ms") / 1000.0 / (wall * cpus) if wall else 0.0

    probes = [s["s"] for s in spans if s["name"] == "session.probe"]
    reads = total("sources.read", "tasks")
    m.update({
        "session.probe_job_s": statistics.mean(probes),
        "sources.read_s": total("sources.read", "s"),
        "sources.read_tasks": reads,
        "sources.files_per_task": total("sources.read", "files") / reads if reads else 0.0,
        "sources.read_bytes": total("sources.read", "input_bytes"),
        "sources.write_s": total("sources.write", "s"),
        "sources.write_bytes": total("sources.write", "output_bytes"),
        "sources.write_files": total("sources.write", "files"),
        "wrangle.bind_s": total("wrangle.bind", "s"),
        "wrangle.cpu_s": total("wrangle.bind", "cpu_s"),
        "wrangle.shuffle_bytes": total("wrangle.bind", "shuffle_bytes"),
        "text.cleanse_s": total("text.cleanse", "s"),
        "text.cleanse_cpu_s": total("text.cleanse", "cpu_s"),
        "nlp.lemmatize_s": total("nlp.lemmatize", "s"),
        "nlp.lemmatize_cpu_s": total("nlp.lemmatize", "cpu_s"),
        "nlp.tokens_out": total("nlp.lemmatize", "tokens_out"),
        "vectorize.fit_s": total("vectorize.fit", "s"),
        "vectorize.jobs": total("vectorize.fit", "jobs"),
        "vectorize.vocab_size": total("vectorize.fit", "vocab_size"),
        "lda.sweep_s": total("lda.sweep", "s"),
        "lda.jobs": total("lda.sweep", "jobs"),
        "lda.cpu_s": total("lda.sweep", "cpu_s"),
        "lda.slot_util": util("lda.sweep"),
        "plans.build_s": total("plans.build", "s"),
        "plans.build_jobs": total("plans.build", "jobs"),
        "plans.execute_s": total("plans.execute", "s"),
        "plans.jobs": total("plans.execute", "jobs"),
        "plans.tasks": total("plans.execute", "tasks"),
        "plans.slot_util": util("plans.execute"),
        "unattributed.jobs": float(unattributed),
        "trace.overhead_s": overhead_s,
    })
    for key in ("cpu_s", "shuffle_bytes", "spill_bytes"):
        m[f"plans.{key}"] = total("plans.build", key) + total("plans.execute", key)
    for s in spans:
        if "module" in s:
            for key, field in (("s", "s"), ("cpu_s", "cpu_s"), ("jobs", "jobs")):
                name = f"plans.{s['module']}.{key}"
                if name not in m:
                    raise KeyError(f"{name} is not a per_layer metric in BENCHMARK.json")
                m[name] += s.get(field, 0)
    unknown = set(m) - set(names)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return m


def run_pass(workload, spark, spans):
    from measure import tree_cpu_s

    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    ops = workload.run_pass(spark, spans)
    return ops, time.perf_counter() - t0, tree_cpu_s() - cpu0


def report_ops(passes) -> tuple[int, int]:
    attempted = failed = 0
    for i, (ops, wall, cpu) in enumerate(passes):
        print(f"# pass {i}{' (untimed warm-up)' if i == 0 else ''}: wall {wall:.3f}s cpu {cpu:.2f}s")
        for op in ops:
            attempted += 1
            failed += not op.ok
            status = "ok" if op.ok else "FAIL " + "; ".join(op.problems)
            print(f"#   {op.name:34s} {op.s:8.3f}s  {status}")
    return attempted, failed


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    require_repo()
    with open(os.path.join(HERE, "config.json")) as fh:
        config = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        contract = json.load(fh)
    cpus = pin_environment(config)
    sys.path.insert(0, HERE)
    import gen
    import measure as tr
    import workloads

    t0 = time.time()
    input_root, expected = gen.ensure_inputs(WORK, args.seed, config)
    workload = workloads.make(args.workload, input_root, expected, config, WORK, ROOT)
    excluded = time.time() - t0

    steps = config["workloads"][args.workload]["warm_up"]
    spark = build_session(steps)
    setups = [time.time() - T_PROCESS - excluded]
    # The first pass in a JVM spends most of its time compiling (about
    # 1.7x a warm pass here, and the extra varies run to run), so it is
    # checked but not timed.
    warm = run_pass(workload, spark, tr.Spans())
    passes = []
    if not args.trace:
        start = time.perf_counter()
        while (len(passes) < config["workloads"][args.workload]["min_timed_passes"]
               or time.perf_counter() - start < args.seconds):
            passes.append(run_pass(workload, spark, tr.Spans()))
        # set-up is repeated after the passes, so the measured work runs
        # in the first session, as it would for a user
        for _ in range(config["session"]["setup_repeats"] - 1):
            spark.stop()
            t0 = time.perf_counter()
            spark = build_session(steps)
            setups.append(time.perf_counter() - t0)
        rss = tr.peak_rss_mb(jvm_process().pid)
        shutdown(spark)
        metrics, (pct, tail_s, n_samples) = end_to_end(setups, passes, rss, workload.latency_per_pass)
        names = contract["end_to_end"]
    else:
        # the untraced pass to hold the traced pass (run in a restarted,
        # equally warm JVM) against
        passes.append(run_pass(workload, spark, tr.Spans()))
        spark.stop()
        log_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
        shutil.rmtree(log_dir, ignore_errors=True)
        spans = tr.Spans(with_cpu=True)
        spans.start()
        with spans("setup"):
            spark = build_session(steps, event_log=log_dir)
        with spans("session.probe"):
            probe_job(spark, cpus)
        passes.append(run_pass(workload, spark, spans))
        with spans("session.probe"):
            probe_job(spark, cpus)
        shutdown(spark)
        unattributed = tr.attribute(tr.read_event_log(log_dir), spans.records)
        shutil.rmtree(log_dir, ignore_errors=True)
        metrics = per_layer(spans.records, [m["name"] for m in contract["per_layer"]], cpus,
                            passes[1][1] - passes[0][1], unattributed)
        names = contract["per_layer"]
        print("# traced spans (self time):")
        for s in spans.records:
            label = s["name"] + (f" {s['query']}" if "query" in s else "")
            print(f"#   {label:52s} {s['s']:8.3f}s  jobs {s.get('jobs', 0):4d}  cpu {s.get('cpu_s', 0):7.2f}s")
        covered = sum(s["s"] for s in spans.records)
        print(f"# spans cover {covered:.3f}s of the traced wall "
              f"{spans.records[-1]['end'] - spans.records[0]['start']:.3f}s")
        print(f"# tracing overhead: traced pass {passes[1][1]:.3f}s - untraced pass "
              f"{passes[0][1]:.3f}s = {metrics['trace.overhead_s']:.3f}s")

    attempted, failed = report_ops([warm] + passes)
    units = {m["name"]: m["unit"] for m in names}
    for name, value in metrics.items():
        print(f"# {name} = {value:.6g} {units[name]}")
    if not args.trace:
        print(f"# query_tail_s = {tail_s:.6g} s, the p{pct} of {n_samples} "
              f"{'pipeline runs' if workload.latency_per_pass else 'query times'} (not gated)")
    print(f"# fail_ratio = {failed / attempted:.4f} ({failed} of {attempted} operations failed)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    raise SystemExit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
