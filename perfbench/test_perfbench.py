"""The benchmark's own tests: generator determinism, metric names
against BENCHMARK.json, and full attribution of a tiny traced run.

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(HERE, "config.json")) as _fh:
    CONFIG = json.load(_fh)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    CONTRACT = json.load(_fh)


def tiny_config() -> dict:
    cfg = copy.deepcopy(CONFIG)
    cfg["tables"].update(customer=60, supplier=10, part=50, orders=200, lineitem=800,
                         events=300, event_users=20, documents=40, embeddings=40)
    cfg["tickets"].update(tickets=40, min_df=2.0, lda_k=[2, 3], lda_max_iter=3)
    return cfg


def tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_generators_are_deterministic_per_seed(tmp_path):
    cfg = tiny_config()
    roots = {}
    for label, seed in (("a", 7), ("b", 7), ("c", 8)):
        root, counts = gen.ensure_inputs(str(tmp_path / label), seed, cfg)
        roots[label] = (tree_digest(root), counts)
    assert roots["a"] == roots["b"]
    assert roots["a"][0] != roots["c"][0]
    counts = roots["a"][1]
    assert counts["n_tickets"] == cfg["tickets"]["tickets"] + cfg["tickets"]["corrupt_files"]
    assert counts["n_valid"] + counts["n_null_id"] + counts["n_corrupt"] == counts["n_tickets"]
    tables = os.listdir(os.path.join(str(tmp_path / "a"), "inputs", "seed-7", "tables"))
    assert sorted(tables) == sorted(f"{t}.parquet" for t in (
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings"))


def test_workloads_in_contract_are_runnable():
    names = [w["name"] for w in CONTRACT["workloads"]]
    assert set(names) <= set(CONFIG["workloads"])
    assert CONTRACT["command"] == ["python3", "perfbench/run.py"]


def test_end_to_end_names_match_contract():
    op = workloads.Op("q")
    op.s = 1.0
    for per_pass, want_pct, want_n in ((False, 75, 40), (True, 50, 1)):
        metrics, (pct, _, n) = run.end_to_end([3.0, 1.0, 2.0], [([op] * 40, 5.0, 9.0)], 100.0, per_pass)
        assert set(metrics) == {m["name"] for m in CONTRACT["end_to_end"]}
        assert (pct, n) == (want_pct, want_n)
        assert all(v > 0 for v in metrics.values())


def test_wall_and_p50_take_each_operations_median():
    def one_pass(times):
        ops = []
        for name, s in times.items():
            ops.append(workloads.Op(name))
            ops[-1].s = s
        return ops, sum(times.values()), 1.0

    # a stall hits a different operation in each of two passes
    passes = [one_pass({"a": 1.0, "b": 2.0}), one_pass({"a": 9.0, "b": 2.2}),
              one_pass({"a": 1.2, "b": 9.0})]
    metrics, _ = run.end_to_end([1.0], passes, 1.0, False)
    assert metrics["wall_s"] == pytest.approx(1.2 + 2.2)
    assert metrics["query_p50_s"] == pytest.approx((1.2 + 2.2) / 2)


def test_per_layer_names_match_contract():
    from ml_data_wrangler_spark.plans import registry

    names = [m["name"] for m in CONTRACT["per_layer"]]
    fns = registry.queries()
    spans = [{"name": "session.probe", "s": 0.1}]
    for w in CONFIG["workloads"].values():
        for q in w.get("queries", []):
            module = fns[q].__module__.rsplit(".", 1)[-1]
            spans.append({"name": "plans.build", "s": 0.1, "module": module, "jobs": 1})
    metrics = run.per_layer(spans, names, 4, 0.0, 0)
    assert list(metrics) == names


def test_tail_percentile_keeps_samples_beyond_it():
    assert run.tail([float(i) for i in range(1, 41)]) == (75, 30.0)
    assert run.tail([float(i) for i in range(1, 12)])[0] == 81
    assert run.tail([1.0])[0] == 50


@pytest.fixture(scope="module")
def tiny_inputs(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    root, expected = gen.ensure_inputs(work, 3, tiny_config())
    return work, root, expected


def test_traced_tiny_pipeline_attributes_every_job(tiny_inputs, tmp_path):
    from pyspark.sql import SparkSession

    work, root, expected = tiny_inputs
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    log_dir = str(tmp_path / "eventlog")
    os.makedirs(log_dir)
    assert SparkSession.getActiveSession() is None
    spans = measure.Spans(with_cpu=True)
    spans.start()
    with spans("setup"):
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{log_dir}")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
            .getOrCreate()
        )
    try:
        pipeline = workloads.TicketPipeline(root, expected, tiny_config(), work)
        ops = pipeline.run_pass(spark, spans)
        assert [op.problems for op in ops] == [[]] * 7

        # a corrupted expectation fails the stage that checks it
        with spans("corrupted-expectation"):
            broken = dict(expected, n_comments=expected["n_comments"] + 1)
            bad = workloads.TicketPipeline(root, broken, tiny_config(), work).run_pass(
                spark, measure.Spans())
        assert bad[0].problems and len(bad) == 1
    finally:
        spark.stop()
    records = spans.records
    jobs = measure.read_event_log(log_dir)
    assert jobs
    assert measure.attribute(jobs, records) == 0
    assert sum(s["s"] for s in records) == pytest.approx(records[-1]["end"] - records[0]["start"])
    assert {s["name"] for s in records if s["jobs"]} >= {
        "sources.read", "wrangle.bind", "sources.write", "text.cleanse",
        "nlp.lemmatize", "vectorize.fit", "lda.sweep"}
