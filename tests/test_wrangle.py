"""Wrangle-pipeline tests (SURVEY.md §5.3 golden end-to-end) on the
tickets/comments fixture from FIXTURES.md §1 — exercises S1/S2 scans,
P1-P3 reshape, J1/J2 join, A1 corpus, K1/K2 sinks, and every §8 defect
resolution (D2 junk filter, D3 all-tickets binding, D5 corpus)."""

from __future__ import annotations

import json

import pytest

from ml_data_wrangler_spark.operators.wrangle import (
    create_corpus,
    data_quality_summary,
    reshape_tickets,
    wrangle,
)
from ml_data_wrangler_spark.sources.readers import read_comment_files, read_tickets
from ml_data_wrangler_spark.sources.sinks import (
    processed_ticket_projection,
    write_processed_tickets_json,
)

TICKETS = [
    {
        "id": 101,
        "created_at": "2024-01-01T10:00:00Z",
        "updated_at": "2024-01-02T11:00:00Z",
        "status": "open",
        "subject": "Login broken",
        "description": "I cannot log in.",
        "tags": ["auth", "urgent"],
        "fields": [{"value": "bug"}, {"value": "x"}, {"value": "resolved"}],
    },
    {
        "id": 202,
        "created_at": "2024-02-01T09:30:00Z",
        "updated_at": "2024-02-01T09:45:00Z",
        "status": "SOLVED",
        "subject": "Billing question",
        "description": "Why was I charged twice?",
        # no tags → default []
        "fields": [{"value": "question"}, {"value": "y"}, {"value": "refunded"}],
    },
    {
        "id": 303,
        "created_at": "2024-03-05T08:00:00Z",
        "updated_at": "2024-03-06T08:00:00Z",
        "status": "Pending",
        "subject": "Feature request",
        "description": "Please add dark mode.",
        "tags": [],
        "fields": [{"value": "task"}, {"value": "z"}, {"value": "open"}],
    },
]

# 101 has two comment files (multi-file prefix match); 202 has one with
# an empty array too; 303 has NO comment file (left-anti path).
COMMENT_FILES = {
    "101_a.json": {
        "comments": [
            {"id": 9001, "created_at": "2024-01-01T12:00:00Z", "plain_body": "Have you reset your password?"},
            {"id": 9002, "created_at": "2024-01-01T13:00:00Z", "plain_body": "Yes, still broken &amp; sad."},
        ]
    },
    "101_b.json": {
        "comments": [
            {"id": 9003, "created_at": "2024-01-02T09:00:00Z", "plain_body": "Fixed in release 1.2.3"}
        ]
    },
    "202_a.json": {
        "comments": [
            {"id": 9101, "created_at": "2024-02-01T09:40:00Z", "plain_body": "Refund issued to card."}
        ],
        "internal": [],
    },
}


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    root = tmp_path_factory.mktemp("wrangle_fixture")
    tickets_path = root / "tickets.json"
    tickets_path.write_text(json.dumps(TICKETS))
    comments_dir = root / "comments"
    comments_dir.mkdir()
    for fname, payload in COMMENT_FILES.items():
        (comments_dir / fname).write_text(json.dumps(payload))
    return str(tickets_path), str(comments_dir)


@pytest.fixture(scope="module")
def wrangled(spark, fixture_paths):
    tickets_path, comments_dir = fixture_paths
    df = wrangle(spark, tickets_path, comments_dir)
    df.cache()
    return df


def test_reshape_fields(spark, fixture_paths):
    tickets_path, _ = fixture_paths
    rows = {r["id"]: r for r in reshape_tickets(read_tickets(spark, tickets_path)).collect()}
    assert rows[101]["status"] == "OPEN"
    assert rows[202]["status"] == "SOLVED"
    assert rows[303]["status"] == "PENDING"
    assert rows[101]["outcome"] == "resolved"
    assert rows[101]["ticket_type"] == "bug"
    assert rows[202]["tags"] == []  # missing tags defaulted (wrangler.py:426)
    assert rows[101]["last_updated"].isoformat() == "2024-01-02T11:00:00"
    # synthetic first comment: deterministic id in the reference range
    fc = rows[303]["first_comment"]
    assert fc["body"] == "Please add dark mode."
    assert 9999 <= fc["id"] <= 9999999999999


def test_bind_comments_all_tickets(wrangled):
    """Defect D3: ALL tickets get their comments, not just the first."""
    by_id = {r["id"]: r for r in wrangled.collect()}
    # 101: synthetic first + 3 bound from two files, sorted by created_at
    c101 = by_id[101]["comments"]
    assert [c["id"] for c in c101][1:] == [9001, 9002, 9003]
    assert c101[0]["body"] == "I cannot log in."
    # 202: synthetic + 1
    assert len(by_id[202]["comments"]) == 2
    # 303: no comment file → only the synthetic first comment
    assert len(by_id[303]["comments"]) == 1


def test_data_quality_summary_counts(spark, fixture_paths):
    """The reference logged invalid statuses / missing comments
    (wrangler.py:448-449, 385-389); the engine reports them as one
    observable summary row. Fixture: add a bogus status, a null-id row,
    and a corrupt JSON line to the golden tickets."""
    import json as _json

    _, comments_dir = fixture_paths
    rows = [dict(t) for t in TICKETS]
    rows[2] = dict(rows[2], status="REOPENED")  # not in TicketStatus domain
    rows.append(dict(rows[0], id=None))  # null id
    bad_path = str(
        __import__("pathlib").Path(comments_dir).parent / "tickets_dirty.json"
    )
    with open(bad_path, "w") as f:
        f.write(_json.dumps(rows))
    raw = read_tickets(spark, bad_path)
    comments = read_comment_files(spark, comments_dir)
    [row] = data_quality_summary(raw, comments).collect()
    assert row["n_tickets"] == 4
    assert row["n_null_id"] == 1
    assert row["n_invalid_status"] == 1  # REOPENED
    # 303 has no comment file; the null-id row is not counted here
    assert row["n_without_comments"] == 1
    assert row["n_corrupt"] == 0


def test_corpus_per_document(wrangled):
    """A1 (defect D5): one row per ticket, subject + comment bodies."""
    corpus = {r["doc_id"]: r["text"] for r in create_corpus(wrangled).collect()}
    assert len(corpus) == 3
    assert corpus[303] == "Feature request Please add dark mode."
    assert corpus[101].startswith("Login broken I cannot log in.")
    assert "Fixed in release 1.2.3" in corpus[101]


def test_json_sink_golden(wrangled, tmp_path):
    """K1 with §2.9 encoder rules: ISO timestamps, {"status": NAME}
    struct, comment struct field order."""
    out = write_processed_tickets_json(wrangled, str(tmp_path), run_date="2024-06-01")
    lines = []
    import glob

    for f in glob.glob(f"{out}/part-*"):
        with open(f) as fh:
            lines += [json.loads(ln) for ln in fh if ln.strip()]
    by_id = {r["id"]: r for r in lines}
    assert by_id[101]["status"] == {"status": "OPEN"}
    assert by_id[101]["created_at"] == "2024-01-01T10:00:00"
    assert by_id[101]["comments"][1] == {
        "created_at": "2024-01-01T12:00:00",
        "id": 9001,
        "body": "Have you reset your password?",
    }


def test_projection_schema_stable(wrangled):
    proj = processed_ticket_projection(wrangled)
    assert proj.schema["status"].dataType.simpleString() == "struct<status:string>"
    assert proj.schema["created_at"].dataType.simpleString() == "string"
