"""Every plan-time dispatch site, forced down each non-default branch.

A site chooses at plan time between a fast path and a scale path. For
each site this harness builds the query once under the default
configuration and once with the site's cap shrunk so the other branch
runs (one build function, two configurations, equal collected rows — the
shape of spark-rapids' ``assert_gpu_and_cpu_are_equal_collect``), and
checks that

  * a plan marker proves which branch each build took, and
  * the sorted rows and their value hash equal the default branch's.

A second test shrinks each ``session.bounded_collect`` probe's cap and
checks that no collect or toPandas during plan build moves more than
cap + 1 rows to the driver. The probes that bound a model size (qe33's
graph, BM25's query side, qv18's moments) have one path, so above
their caps they raise ``ValueError`` naming the query and the cap. An
AST guard keeps hand-written ``limit(cap + 1)`` probes out of the
package.
"""

from __future__ import annotations

import ast
import hashlib
import pathlib
import sys

import pytest
from pyspark.sql import functions as F

from ml_data_wrangler_spark.operators import _partition
from ml_data_wrangler_spark.operators.similarity import brute_force_topk_fold
from ml_data_wrangler_spark.plans import events_advanced_queries as ea
from ml_data_wrangler_spark.plans import ml_queries as mq
from ml_data_wrangler_spark.plans import registry
from ml_data_wrangler_spark.plans import text_queries as tq
from ml_data_wrangler_spark.plans import vector_ml_queries as vq
from tests.oracle_harness import compare, duckdb_connection, normalize, run_oracle

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "ml_data_wrangler_spark"

# brute_force_topk_fold takes its cap as an argument; _fold_knn passes
# this constant so the fold site is forced like every other site
FOLD_BROADCAST_CELLS = 32_000_000


def _query(name):
    return lambda spark, sf_dir: registry.queries()[name](spark, sf_dir)


def _fold_knn(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 20 == 0)
    return brute_force_topk_fold(
        emb, queries, k=5, max_broadcast_cells=FOLD_BROADCAST_CELLS
    )


def _bm25(top):
    return lambda spark, sf_dir: tq.bm25_rankings(spark, sf_dir, top)


# plan markers: (substrings the plan must hold, substrings it must not)
KERNEL = (["MapInPandas"], ["FlatMapCoGroupsInPandas"])
NO_KERNEL = ([], ["MapInPandas"])
QE33 = _query("qe33_event_type_pagerank")
QM09 = _query("qm09_tfidf_doc_pairs")
QV18 = _query("qv18_pca_power_iteration")
THIS = sys.modules[__name__]

# site → (build function, default marker, forced marker, (module, constant,
# value) forcing the other branch, oracle the forced rows also match)
SITES = {
    # Q×D = 25 ids × 64 dims = 1600 cells > 64 → one-query grid slices
    "fold-broadcast-vs-grid": (
        _fold_knn, KERNEL, (["FlatMapCoGroupsInPandas"], []),
        (THIS, "FOLD_BROADCAST_CELLS", 64), None,
    ),
    "qm09-dense-vs-sparse": (
        QM09, KERNEL, NO_KERNEL, (mq, "QM09_DENSE_VOCAB_CAP", 0), None,
    ),
    # 100 docs × 31-token vocab = 3100 cells; cap 500 → 16 docs per
    # block → 7 rounds with an uneven final block, drained to a local
    # relation
    "qm09-single-broadcast-vs-blocked": (
        QM09, KERNEL, (["LocalRelation"], ["MapInPandas"]),
        (mq, "QM09_DENSE_CELL_CAP", 500), "qm09_tfidf_doc_pairs",
    ),
    # the fixture's one-split documents scan is far below the byte
    # gate, so by default qt01 tokenizes it serially; a zero threshold
    # opens the gate and the repartition runs
    "qt01-byte-gate-closed-vs-open": (
        _query("qt01_top_tokens"),
        ([], ["RoundRobinPartitioning"]),
        (["RoundRobinPartitioning"], []),
        (_partition, "TOKENIZE_REPARTITION_MIN_BYTES", 0),
        None,
    ),
}


def _took(df, marker) -> bool:
    plan = df._jdf.queryExecution().toString()
    must, must_not = marker
    return all(m in plan for m in must) and not any(m in plan for m in must_not)


def _collected(df):
    """(columns, rows sorted, value hash of the normalized rows)."""
    rows = [tuple(r) for r in df.collect()]
    digest = hashlib.sha256(repr(normalize(df.columns, rows)).encode())
    return df.columns, sorted(rows, key=repr), digest.hexdigest()


@pytest.mark.parametrize("name", list(SITES))
def test_forced_branch_equals_default(spark, sf_dir, monkeypatch, name):
    build, default, forced, (module, constant, value), oracle = SITES[name]
    base = build(spark, sf_dir)
    assert _took(base, default), f"{name}: default branch did not run"
    monkeypatch.setattr(module, constant, value)
    other = build(spark, sf_dir)
    assert _took(other, forced), f"{name}: forced branch did not run"
    got, want = _collected(other), _collected(base)
    assert got == want  # bit-exact, not approximately equal
    assert len(want[1]) > 0  # the fixture exercises both branches
    if oracle:
        o_cols, o_rows = run_oracle(
            duckdb_connection(sf_dir), registry.oracle_sql()[oracle]
        )
        assert compare(oracle, got[0], got[1], o_cols, o_rows) == []


# probe → (build function, the caps it shrinks, the row caps of the
# probes that then run — the probe under test first — and the
# ValueError it raises above its cap, or None where the probe picks a
# branch instead). qe33's one transitions probe collects up to the
# sum of its two caps; qv18's mean probe keeps its 64 so the covariance
# probe runs; the fold kernel's query side (25 queries × 64 dims) is
# pulled up to FOLD_BROADCAST_CELLS // 64 rows, past which it takes
# the grid tier.
PROBES = {
    "qe33-transitions": (
        QE33,
        ((ea, "QE33_DRIVER_NODE_CAP", 2), (ea, "QE33_DRIVER_EDGE_CAP", 3)),
        (5,),
        "qe33: .*QE33_DRIVER_NODE_CAP \\+ QE33_DRIVER_EDGE_CAP",
    ),
    "qm09-vocab": (QM09, ((mq, "QM09_DENSE_VOCAB_CAP", 4),), (4,), None),
    "bm25-query-terms": (
        _bm25(3),
        ((tq, "BM25_KERNEL_ROW_CAP", 5),),
        (5,),
        "bm25_rankings: .*BM25_KERNEL_ROW_CAP",
    ),
    "qv18-means": (QV18, ((vq, "QV18_MU_CAP", 8),), (8,), "qv18"),
    "qv18-covariance": (
        QV18, ((vq, "QV18_COV_CAP", 10), (vq, "QV18_MU_CAP", 64)), (10, 64), "qv18"
    ),
    "fold-query-side": (
        _fold_knn, ((THIS, "FOLD_BROADCAST_CELLS", 64 * 7),), (7,), None,
    ),
}


@pytest.mark.parametrize("name", list(PROBES))
def test_probe_moves_at_most_cap_plus_one_rows(spark, sf_dir, monkeypatch, name):
    """With the caps shrunk below the fixture's size, every collect or
    toPandas during plan build moves at most (largest cap in force) + 1
    rows, the shrunk probe itself stops at exactly cap + 1, and a probe
    that bounds a model size raises naming its query and cap."""
    from pyspark.sql.classic.dataframe import DataFrame

    build, caps, moved, raises = PROBES[name]
    for module, constant, value in caps:
        monkeypatch.setattr(module, constant, value)
    seen: list[int] = []
    for method in ("collect", "toPandas"):

        def spy(self, _real=getattr(DataFrame, method)):
            out = _real(self)
            seen.append(len(out))
            return out

        monkeypatch.setattr(DataFrame, method, spy)
    if raises:
        with pytest.raises(ValueError, match=raises):
            build(spark, sf_dir)
    else:
        build(spark, sf_dir)
    assert seen and max(seen) <= max(moved) + 1, seen
    assert moved[0] + 1 in seen, seen


# each qe33 cap shrunk alone, below the fixture's 5 event types and 25
# edges, while the transitions probe still fits their sum
QE33_SHRUNK = {"QE33_DRIVER_NODE_CAP": 2, "QE33_DRIVER_EDGE_CAP": 3}


@pytest.mark.parametrize("constant", list(QE33_SHRUNK))
def test_qe33_cap_raises_naming_itself(spark, sf_dir, monkeypatch, constant):
    """After the transitions probe each cap is checked on its own, and
    the one that is passed raises naming itself."""
    monkeypatch.setattr(ea, constant, QE33_SHRUNK[constant])
    with pytest.raises(ValueError, match=f"qe33: .*past {constant} = "):
        QE33(spark, sf_dir)


def test_bm25_presence_cells_over_cap_raise(spark, sf_dir, monkeypatch):
    """A tall-but-narrow query side can pass the row cap and still blow
    the dense tokens×queries presence matrix: that raises too."""
    monkeypatch.setattr(tq, "BM25_KERNEL_CELL_CAP", 1)
    with pytest.raises(ValueError, match="bm25_rankings: .*BM25_KERNEL_CELL_CAP = 1"):
        tq.bm25_rankings(spark, sf_dir, 3)


def _is_plus_one(node) -> bool:
    return isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add) and any(
        isinstance(x, ast.Constant) and x.value == 1 for x in (node.left, node.right)
    )


def test_cap_plus_one_limit_only_in_bounded_collect():
    """Guard: a ``.limit(<expr> + 1)`` anywhere in the package but
    ``session.bounded_collect`` is a hand-rolled dispatch probe that the
    tests above do not see."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed: set[int] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "bounded_collect":
                if path.name == "session.py":
                    allowed |= {id(n) for n in ast.walk(node)}
        offenders += [
            f"{path.relative_to(PACKAGE)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "limit"
            and any(_is_plus_one(a) for a in node.args)
            and id(node) not in allowed
        ]
    assert not offenders, offenders
