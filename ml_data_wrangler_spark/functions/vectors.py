"""Vector math over array<float|double> columns — JVM-side only.

Used by the similarity-search operators; no Python, no UDF, no
shuffle. Two families:

* ``dot``/``l2_norm``/``cosine_similarity`` — ``F.zip_with`` +
  ``F.aggregate`` higher-order functions. Dimension-agnostic, but
  HOFs are CodegenFallback in Spark: every element goes through the
  interpreted expression evaluator. Fine outside hot loops.
* ``unrolled_*`` — the same folds unrolled into a flat ``getItem``
  expression for a KNOWN dimension, which whole-stage codegen
  compiles. Measured at the 16× tier (round 8): a pair join's
  per-pair HOF distance burned 9,816 executor-seconds where MLlib's
  compiled sqdist did the same pairs in 943 — the unrolled forms are
  a ~10× kernel win in pair-join inner loops. The fold
  starts from the same 0.0 accumulator in the same ascending index
  order, so the doubles — and the 6-decimal rounded values the
  oracles hash — are bit-identical to the HOF forms.

For 100 TB-scale ANN the per-row cost of these expressions is the
inner loop, so staying JVM-side AND compiled matters more than
anywhere else.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def pair_cosine() -> Column:
    """The relational top-k kernel's rounded sim of a scored pair: its
    query (qvec, qnorm) and candidate (cvec, cnorm) columns, the norms
    precomputed per side with l2_norm."""
    return F.round(
        dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")), 6
    )


def infer_dim(df: DataFrame, vec_col: str) -> int | None:
    """Array length of ``vec_col``'s first non-null value — one
    head(1) driver fetch, used to pick the unrolled kernels. None on
    an empty relation (callers fall back to the HOF forms, whose
    result is empty anyway)."""
    rows = df.select(vec_col).where(F.col(vec_col).isNotNull()).head(1)
    return len(rows[0][0]) if rows else None


def _unrolled_fold(terms: list[Column]) -> Column:
    # ((0.0 + t0) + t1) + ... — exactly F.aggregate's fold, compiled
    s: Column = F.lit(0.0)
    for t in terms:
        s = s + t
    return s


def unrolled_dot(a: Column, b: Column, dim: int) -> Column:
    """dot() for a known dimension as a flat codegen'd expression;
    bit-identical fold. Out-of-range elements are null and poison the
    sum — use on fixed-dimension columns only."""
    return _unrolled_fold(
        [
            a.getItem(i).cast("double") * b.getItem(i).cast("double")
            for i in range(dim)
        ]
    )


def unrolled_sq_norm(a: Column, dim: int) -> Column:
    """Σ a[i]² for a known dimension (l2_norm = sqrt of this);
    bit-identical fold to l2_norm's aggregate."""
    return _unrolled_fold(
        [a.getItem(i).cast("double") * a.getItem(i).cast("double") for i in range(dim)]
    )


def _jl_sign(k: int):
    """Deterministic ±1 for matrix cell (j, k), derived from
    md5(f"{j}_{k}") — a pure function of the indices, so the implicit
    projection matrix is identical on every executor, every run, and
    every ENGINE (the DuckDB oracle re-derives the same matrix) with
    nothing broadcast. Factory form because a two-arg lambda passed to
    F.transform would receive the element INDEX as its second arg."""

    def s(j: Column) -> Column:
        h = F.conv(
            F.substring(F.md5(F.concat(j.cast("string"), F.lit(f"_{k}"))), 1, 1),
            16,
            10,
        )
        return F.when(h.cast("int") % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))

    return s


def jl_project(vec: Column, in_dims: int, out_dims: int) -> Column:
    """Johnson–Lindenstrauss random projection to ``out_dims`` via a
    hash-derived ±1 (Achlioptas 2003) matrix: out[k] = Σ_j v[j]·s(j,k)
    / √out_dims, each component rounded to 6 digits. Map-only (no
    shuffle, no broadcast, no fitted state): the matrix exists only as
    an expression over (j, k). Components are computed with the same
    left-to-right fold as dot(), so the oracle's list_dot_product
    reproduces them bit-identically."""
    import math

    scale = F.lit(math.sqrt(float(out_dims)))
    comps = [
        F.round(
            dot(
                vec,
                F.transform(
                    F.sequence(F.lit(0), F.lit(in_dims - 1)), _jl_sign(k)
                ),
            )
            / scale,
            6,
        )
        for k in range(out_dims)
    ]
    return F.array(*comps)
