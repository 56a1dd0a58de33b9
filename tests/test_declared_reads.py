"""Every source scan uses its declared schema, so building a plan runs
no Spark job.

Two guards. Building each tier-1 (``bench.HEADLINE``) query runs 0
jobs, except the queries whose plan build does real eager work. And an
AST check over the package: every parquet read chain carries
``.schema(``, so no read infers a schema with a job of its own.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

import bench
from ml_data_wrangler_spark.plans import registry

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "ml_data_wrangler_spark"

# Tier-1 queries that run jobs while building their plan, and why.
EAGER_BUILD = {
    "qv01_knn_bruteforce": (
        "the fold kernel's dispatch probe and its broadcast query side"
    ),
    "qv05_ivf_ann": "the IVF index is a KMeans fit",
    "qm04_lda_coherence_sweep": "the LDA sweep fits one model per k",
}

# Parquet reads that stay inferred: (module, top-level function, path
# argument) → reason.
INFERRED_READS = {
    ("streaming/windows.py", "foreach_batch_merge_state", "prev_gens[-1]"): (
        "state generations change schema: the first holds batch_agg's"
        " decimal(22,2) sum, later ones merge's decimal(12,2)"
    ),
    ("streaming/windows.py", "foreach_batch_merge_state", "final"): (
        "the final state generation, either of the two schemas above"
    ),
}


@pytest.mark.parametrize("name", bench.HEADLINE)
def test_tier1_plan_build_runs_no_jobs(spark, sf_dir, jobs_in, name):
    build = registry.queries()[name]
    _, n_jobs = jobs_in(lambda: build(spark, sf_dir))
    if name in EAGER_BUILD:
        # an entry that stops running jobs leaves the list
        assert n_jobs > 0, f"{name} builds with 0 jobs; drop it from EAGER_BUILD"
    else:
        assert n_jobs == 0, f"{name} ran {n_jobs} job(s) while building its plan"


def _chain_attrs(call: ast.Call) -> set[str]:
    """The attribute names along a call's receiver chain: for
    ``spark.read.schema(s).parquet(p)``, {parquet, schema, read}."""
    names, node = set(), call.func
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
            node = node.value
        else:
            return names


def _parquet_reads():
    """(module, top-level function, path argument, has .schema) for
    every ``….parquet(`` call in the package that is not a write."""
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                ):
                    continue
                attrs = _chain_attrs(node)
                if attrs & {"write", "writeStream"}:
                    continue
                arg = ast.unparse(node.args[0]) if node.args else ""
                yield module, getattr(top, "name", "<module>"), arg, "schema" in attrs


def test_every_parquet_read_declares_its_schema():
    reads = list(_parquet_reads())
    inferred = {(m, f, a) for m, f, a, declared in reads if not declared}
    assert inferred <= set(INFERRED_READS), sorted(inferred - set(INFERRED_READS))
    # a stale allow-list entry would let a new inferred read in under its key
    assert set(INFERRED_READS) <= inferred, sorted(set(INFERRED_READS) - inferred)
    assert any(declared for *_, declared in reads)
