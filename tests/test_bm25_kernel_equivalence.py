"""Edge cases of bm25_rankings' GEMM scoring kernel: score ties
across candidate-chunk and partition boundaries and an empty query
side.

The kernel computes S = W_postings @ Q_presence in float64 — exact for
integer micro-quantized weights under 2^53 — and emits chunk-local
top-k under the final (s DESC, cand_id ASC) total order. The tie test
checks it against the DuckDB ``sql_bm25_top`` oracle, a reference
independent of the engine; the fixture-scale oracle check is qt19's
parity test, and the over-cap errors are pinned in
tests/test_dispatch_branches.py.
"""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_bm25_kernel_chunking_is_boundary_exact(spark, tmp_path, monkeypatch):
    """Tie-heavy micro-corpus, scored with a chunk of one cell so every
    candidate chunk holds ONE candidate and the postings spread over
    one partition per core (the scoring width is one partition per
    BM25_KERNEL_CHUNK_CELLS of n_docs × queries, at most one per
    core) — chunk-local top-k must still merge to the identical global
    ranking (score ties broken by cand_id ASC across chunk and
    partition boundaries). A one-core session runs both cases in one
    partition, where the one-candidate chunks still cross chunk
    boundaries.

    Construction: docs 0 and 40 are the queries (id % 20 == 0); docs
    1-19 and 21 repeat the same two tokens, so 20 candidates tie on s
    for doc 0's three places — more than one partition's share, so the
    cand_id ASC tie-break inside a chunk decides which three survive;
    doc 40 shares a token with nothing (no candidacy). The
    reference is the DuckDB oracle over the same micro-corpus, its
    scores mapped as qt19 maps them, ROUND(s/1e6, 6).
    """
    import re

    import pandas as pd
    from pyspark.sql import functions as F

    from ml_data_wrangler_spark.plans import text_queries as tq
    from ml_data_wrangler_spark.plans._util import sql_bm25_top
    from ml_data_wrangler_spark.schemas import TESTDATA_TABLES
    from tests.oracle_harness import compare, duckdb_connection, run_oracle

    ids = [0, *range(1, 20), 21, 40]
    text = ["alpha beta gamma"] + ["alpha beta"] * 19 + ["beta alpha", "delta epsilon"]
    docs = pd.DataFrame(
        {
            "doc_id": ids,
            "text": text,
            "lang": ["en"] * len(ids),
            "source": ["web"] * len(ids),
            "n_chars": [len(x) for x in text],
        }
    )
    sf = tmp_path / "bm25_ties"
    sf.mkdir()
    spark.createDataFrame(docs).write.parquet(str(sf / "documents.parquet"))
    # the oracle connection views every table; only documents is read
    for name in TESTDATA_TABLES:
        if name != "documents":
            (sf / f"{name}.parquet").symlink_to(f"{SF_DIR}/{name}.parquet")
    o_cols, o_rows = run_oracle(
        duckdb_connection(str(sf)),
        f"""WITH {sql_bm25_top(3)}
SELECT query_id, cand_id, rnk, ROUND(s / 1e6, 6) + 0 AS bm25 FROM btop""",
    )

    default = _rows(tq.bm25_rankings(spark, SF_DIR, 3))
    cores = spark.sparkContext.defaultParallelism
    # one-candidate chunks over one partition per core, and one big
    # chunk in one partition; 22 docs × 2 queries = 44 score cells
    for cc, parts in ((1, min(cores, 44)), (4_000_000, 1)):
        monkeypatch.setattr(tq, "BM25_KERNEL_CHUNK_CELLS", cc)
        ranked = tq.bm25_rankings(spark, str(sf), 3)
        plan = ranked._jdf.queryExecution().optimizedPlan().toString()
        width = re.findall(r"RepartitionByExpression \[cand_id#\d+L?\], (\d+)", plan)
        assert width == [str(parts)]
        kernel = ranked.select(
            "query_id",
            "cand_id",
            "rnk",
            (F.round(F.col("s") / 1e6, 6) + F.lit(0.0)).alias("bm25"),
        )
        rows = _rows(kernel)
        assert compare("bm25-ties", kernel.columns, rows, o_cols, o_rows) == []
    # sanity: the query doc keeps the three lowest of its tied ids
    by_query = [r for r in rows if r[0] == 0]
    assert [r[1] for r in sorted(by_query, key=lambda r: r[2])] == [1, 2, 3]
    # also pin the fixture-scale chunked form
    monkeypatch.setattr(tq, "BM25_KERNEL_CHUNK_CELLS", 64)
    assert _rows(tq.bm25_rankings(spark, SF_DIR, 3)) == default


def test_bm25_kernel_empty_query_side(spark, tmp_path):
    """No doc_id % 20 == 0 → empty result with the full schema (the
    old join-with-empty behavior)."""
    import pandas as pd

    from ml_data_wrangler_spark.plans.text_queries import bm25_rankings

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["alpha beta", "alpha", "beta"],
            "lang": ["en"] * 3,
            "source": ["web"] * 3,
            "n_chars": [10, 5, 4],
        }
    )
    sf = tmp_path / "bm25_noq"
    sf.mkdir()
    spark.createDataFrame(docs).write.parquet(str(sf / "documents.parquet"))

    out = bm25_rankings(spark, str(sf), 3)
    assert out.columns == ["query_id", "cand_id", "rnk", "s"]
    assert out.count() == 0
