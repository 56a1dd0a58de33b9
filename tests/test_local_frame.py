"""``session.local_frame``: driver-held rows become a LocalRelation
that collects with zero Spark jobs, and it is the package's only way
to build a DataFrame from Python rows."""

from __future__ import annotations

import ast
import pathlib
from decimal import Decimal

from ml_data_wrangler_spark.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "ml_data_wrangler_spark"

SCHEMA = "s string, d double, v array<double>, b boolean, n bigint, m decimal(38,0)"
ROWS = [
    ("x", 1.5, [1.0, -2.0, None], True, 7, Decimal(12345678901234567890)),
    (None, None, None, None, None, None),
    ("", -0.0, [], False, -1, Decimal(0)),
]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_round_trip_collects_without_jobs(spark, jobs_in):
    rows, n_jobs = jobs_in(lambda: local_frame(spark, ROWS, SCHEMA).collect())
    assert [tuple(r) for r in rows] == ROWS
    assert n_jobs == 0


def test_plans_local_relation(spark):
    df = local_frame(spark, ROWS, SCHEMA)
    assert "LocalRelation" in _optimized(df)
    assert df.schema.simpleString() == (
        "struct<s:string,d:double,v:array<double>,b:boolean,n:bigint,m:decimal(38,0)>"
    )


def test_empty_rows(spark, jobs_in):
    df = local_frame(spark, [], SCHEMA)
    rows, n_jobs = jobs_in(df.collect)
    assert rows == [] and n_jobs == 0
    assert "LocalRelation" in _optimized(df)
    assert [f.name for f in df.schema.fields] == ["s", "d", "v", "b", "n", "m"]


def test_struct_type_schema_and_row_objects(spark):
    src = spark.range(3).selectExpr("id", "id * 2 AS twice")
    rows = src.collect()
    df = local_frame(spark, rows, src.schema)
    assert df.schema == src.schema
    assert df.collect() == rows


def test_works_with_arrow_conf_off(spark, jobs_in):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, ROWS, SCHEMA)
        rows, n_jobs = jobs_in(df.collect)
    finally:
        spark.conf.set(key, before)
    assert [tuple(r) for r in rows] == ROWS
    assert n_jobs == 0
    assert "LocalRelation" in _optimized(df)


def test_create_dataframe_only_in_local_frame():
    """Guard: a ``createDataFrame`` call anywhere in the package but
    ``local_frame`` brings back a job per action on driver-held rows."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed: set[int] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(node)}
        offenders += [
            f"{path.relative_to(PACKAGE)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and id(node) not in allowed
        ]
    assert not offenders, offenders
