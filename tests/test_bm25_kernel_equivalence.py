"""Edge cases of bm25_rankings' GEMM scoring kernel: score ties
across candidate-chunk boundaries and an empty query side.

The kernel computes S = W_postings @ Q_presence in float64 — exact for
integer micro-quantized weights under 2^53 — and emits chunk-local
top-k under the final (s DESC, cand_id ASC) total order. The
kernel-vs-join comparison on the fixture, forced through the row and
cell caps, lives in tests/test_dispatch_branches.py.
"""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_bm25_kernel_chunking_is_boundary_exact(spark, tmp_path, monkeypatch):
    """Tie-heavy micro-corpus, scored with a chunk of one cell so every
    candidate chunk holds ONE candidate — chunk-local top-k must still
    merge to the identical global ranking (score ties broken by
    cand_id ASC across chunk boundaries).

    Construction: doc 0 is the only query (id % 20 == 0); docs 1/2/21
    repeat the same two tokens so several candidates tie on s, and doc
    40 shares a token with nothing (no candidacy for it vs some).
    """
    import pandas as pd

    from ml_data_wrangler_spark.plans import text_queries as tq

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 21, 40],
            "text": [
                "alpha beta gamma",
                "alpha beta",
                "alpha beta",
                "beta alpha",
                "delta epsilon",
            ],
            "lang": ["en"] * 5,
            "source": ["web"] * 5,
            "n_chars": [16, 10, 10, 10, 13],
        }
    )
    sf = tmp_path / "bm25_ties"
    sf.mkdir()
    spark.createDataFrame(docs).write.parquet(str(sf / "documents.parquet"))

    with monkeypatch.context() as m:
        m.setattr(tq, "BM25_KERNEL_ROW_CAP", 0)
        joined = _rows(tq.bm25_rankings(spark, str(sf), 3))
    default = _rows(tq.bm25_rankings(spark, SF_DIR, 3))
    for cc in (1, 4_000_000):  # one-candidate chunks and one big chunk
        monkeypatch.setattr(tq, "BM25_KERNEL_CHUNK_CELLS", cc)
        kernel = _rows(tq.bm25_rankings(spark, str(sf), 3))
        assert kernel == joined
    # sanity: the query doc ranks tied candidates by cand_id ASC
    by_query = [r for r in joined if r[0] == 0]
    assert [r[1] for r in sorted(by_query, key=lambda r: r[2])][:2] == [1, 2]
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
