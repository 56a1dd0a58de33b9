"""``read_comment_files`` reads the comments directory as one root
with a ``*.json`` path filter: the same rows as the old
``comments/*.json`` glob, and no listing job above the 32-path
parallel-discovery threshold."""

from __future__ import annotations

import json

from ml_data_wrangler_spark.sources.readers import read_comment_files

N_FILES = 40  # above spark.sql.sources.parallelPartitionDiscovery.threshold


def _comment(cid, body):
    return {"id": cid, "created_at": "2021-01-01T00:00:00Z", "plain_body": body}


def test_directory_scan_matches_glob_without_listing_job(spark, tmp_path, jobs_in):
    d = tmp_path / "comments"
    d.mkdir()
    for i in range(N_FILES):
        (d / f"{1000 + i}_comments.json").write_text(
            json.dumps({"comments": [_comment(i, f"body {i}"), _comment(i + 500, "")]})
        )
    (d / "notes.txt").write_text(json.dumps({"comments": [_comment(-1, "txt")]}))
    (d / "sub").mkdir()
    (d / "sub" / "2000_x.json").write_text(
        json.dumps({"comments": [_comment(-2, "nested")]})
    )

    df, n_jobs = jobs_in(lambda: read_comment_files(spark, str(d)))
    assert n_jobs == 0
    # the old read: the glob as the path (the *.json filter passes every
    # file it expands to) — one root per file, listed by a Spark job
    old, old_jobs = jobs_in(lambda: read_comment_files(spark, f"{d}/*.json"))
    assert old_jobs >= 1

    rows = sorted(df.collect())
    assert rows == sorted(old.collect())
    assert len(rows) == 2 * N_FILES
    ids = {r["id"] for r in rows}
    assert -1 not in ids and -2 not in ids  # notes.txt, sub/2000_x.json
    assert {r["ticket_id"] for r in rows} == {1000 + i for i in range(N_FILES)}
