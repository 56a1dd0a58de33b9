"""CLI surface tests: main() is invoked in-process (get_spark reuses
the test session via getOrCreate), so every subcommand is covered
without a per-test JVM launch."""

from __future__ import annotations

import json

from ml_data_wrangler_spark.__main__ import main


def test_cli_list(spark, capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    lines = [l for l in out.splitlines() if l.strip()]
    assert len(lines) >= 90
    assert any(l.startswith("q01_pricing_summary\toracle") for l in lines)
    assert any("rows-only" in l for l in lines)


def test_cli_query_runs_and_rejects_unknown(spark, sf_dir, capsys):
    assert main(["query", "qt04_quality_scores", "--sf-dir", sf_dir]) == 0
    assert "quality" in capsys.readouterr().out
    assert main(["query", "no_such_query", "--sf-dir", sf_dir]) == 2


def test_cli_sql(spark, sf_dir, capsys):
    assert main(["sql", "SELECT COUNT(*) AS n FROM region", "--sf-dir", sf_dir]) == 0
    assert "n" in capsys.readouterr().out


def test_cli_wrangle_end_to_end(spark, tmp_path, capsys):
    tickets = [
        {
            "id": 7,
            "created_at": "2024-01-01T10:00:00Z",
            "updated_at": "2024-01-02T11:00:00Z",
            "status": "open",
            "subject": "CLI smoke",
            "description": "from the CLI",
            "tags": [],
            "fields": [{"value": "bug"}, {"value": "x"}, {"value": "done"}],
        }
    ]
    tpath = tmp_path / "tickets.json"
    tpath.write_text(json.dumps(tickets))
    cdir = tmp_path / "comments"
    cdir.mkdir()
    (cdir / "7_a.json").write_text(
        json.dumps({"comments": [{"id": 1, "created_at": "2024-01-01T12:00:00Z", "plain_body": "hi"}]})
    )
    out_dir = tmp_path / "completed"
    rc = main(
        [
            "wrangle",
            "--tickets", str(tpath),
            "--comments", str(cdir),
            "--out", str(out_dir),
            "--run-date", "2026-08-13",
        ]
    )
    assert rc == 0
    assert "wrangled 1 tickets" in capsys.readouterr().out
    written = list(out_dir.rglob("*.json"))
    assert len(written) >= 2  # processed tickets + corpus


def test_cli_lda_sweep(spark, sf_dir, capsys):
    rc = main(
        [
            "lda",
            "--sf-dir", sf_dir,
            "--k-min", "2", "--k-max", "3",
            "--max-iter", "2",
            "--min-df", "2.0", "--max-df", "1000000000",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "k=2" in out and "k=3" in out


def test_cli_corpus_build(spark, sf_dir, tmp_path, capsys):
    out_dir = str(tmp_path / "corpus")
    rc = main(
        [
            "corpus-build",
            "--sf-dir", sf_dir,
            "--out", out_dir,
            "--min-quality", "0.2",
            "--shards", "4",
        ]
    )
    assert rc == 0
    text = capsys.readouterr().out
    assert "kept" in text and text.count("shard=") == 4
    back = spark.read.json(out_dir)
    assert back.count() > 0
    assert {"doc_id", "text", "quality", "n_tokens", "shard"} <= set(back.columns)


def test_cli_corpus_build_near_dup_tier(spark, sf_dir, tmp_path, capsys):
    out_exact = str(tmp_path / "exact")
    out_near = str(tmp_path / "near")
    assert main(["corpus-build", "--sf-dir", sf_dir, "--out", out_exact,
                 "--min-quality", "0.0", "--shards", "2"]) == 0
    assert main(["corpus-build", "--sf-dir", sf_dir, "--out", out_near,
                 "--min-quality", "0.0", "--shards", "2",
                 "--near-dup-threshold", "0.6"]) == 0
    n_exact = spark.read.json(out_exact).count()
    n_near = spark.read.json(out_near).count()
    # the near-dup tier can only remove additional documents
    assert 0 < n_near <= n_exact


def _shard_rows(df):
    return sorted(
        tuple(r)
        for r in df.select("doc_id", "shard", "quality", "n_tokens").collect()
    )


def test_cli_corpus_build_writes_the_gated_rows(spark, sf_dir, tmp_path):
    """qc13 and qc14 are the corpus-build CLI's two configurations
    under the oracle gate: the rows the CLI writes, as (doc_id, shard,
    quality, n_tokens), are exactly the gated queries' rows."""
    from ml_data_wrangler_spark.plans import registry

    queries = registry.queries()
    for name, extra in (
        ("qc13_corpus_build", []),
        ("qc14_corpus_build_tiered", ["--near-dup-threshold", "0.6"]),
    ):
        out = str(tmp_path / name)
        assert main(["corpus-build", "--sf-dir", sf_dir, "--out", out,
                     "--min-quality", "0.3", "--shards", "4", *extra]) == 0
        written = _shard_rows(spark.read.json(out))
        assert written, name
        assert written == _shard_rows(queries[name](spark, sf_dir)), name


def test_cli_explain_audit(spark, sf_dir, capsys):
    """`explain` prints the formatted plan plus the scale audit; q01
    must show exactly one hash shuffle and nothing on the ban lists."""
    assert main(["explain", "q01_pricing_summary", "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out
    assert "-- audit --" in out
    assert "hash shuffles:        1" in out
    assert "python evals:         0" in out
    assert "unpartitioned windows:0" in out
    assert main(["explain", "no_such_query", "--sf-dir", sf_dir]) == 2
