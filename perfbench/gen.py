"""Seeded input generators for the benchmark.

Two input sets, both a pure function of the seed (the same seed writes
byte-identical files, another seed writes different ones):

* ``write_tables`` — the ten parquet tables the query suites read, one
  file per table, shaped like the repo's sf0.01 test tier (same schemas,
  value domains and key spaces; sizes from ``config.json``).
* ``write_tickets`` — a Zendesk-style ``export/tickets.json`` array
  (plus truncated exports that read as corrupt records) and a
  ``comments/`` directory holding one JSON file per ticket, in the wire
  format ``sources.readers`` parses, with the FIXTURES.md §1 edge rows.
  Returns the counts the pipeline's outputs must reproduce.

``ensure_inputs`` caches both per seed under the benchmark's work
directory, so generation never falls inside a timed window.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]

TICKET_STATUSES = ["open", "hold", "pending", "solved", "closed"]
INVALID_STATUSES = ["reopened", "escalated", "archived"]
TICKET_TYPES = ["bug", "question", "task", "incident", "problem"]
OUTCOMES = ["resolved", "refunded", "wontfix", "duplicate", "open"]
TAGS = ["auth", "billing", "urgent", "mobile", "api", "export", "ui", "vip"]
ENTITIES = ["&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;"]

_DAY_US = 86_400_000_000


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def write_tables(out_dir: str, seed: int, sizes: dict) -> None:
    """Write the ten suite tables for ``seed`` into ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731

    _write(p("region"), {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    _write(p("nation"), {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })

    n = sizes["customer"]
    _write(p("customer"), {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": i32(rng.integers(0, 25, n)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)].tolist(),
    })
    n = sizes["supplier"]
    _write(p("supplier"), {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": i32(rng.integers(0, 25, n)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = sizes["part"]
    keys = np.arange(n, dtype=np.int64)
    _write(p("part"), {
        "p_partkey": keys,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)].tolist(),
        "p_size": i32(rng.integers(1, 51, n)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    n = sizes["orders"]
    _write(p("orders"), {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, sizes["customer"], n),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)].tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n, rng),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)].tolist(),
    })
    n = sizes["lineitem"]
    _write(p("lineitem"), {
        "l_orderkey": rng.integers(0, sizes["orders"], n),
        "l_partkey": rng.integers(0, sizes["part"], n),
        "l_suppkey": rng.integers(0, sizes["supplier"], n),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)].tolist(),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n, rng),
    })

    n = sizes["events"]
    gap_us = 30 * _DAY_US / n
    ts = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) + np.cumsum(
        np.maximum(rng.exponential(gap_us, n), 1.0)
    ).astype(np.int64)
    _write(p("events"), {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, sizes["event_users"], n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)].tolist(),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })

    n = sizes["documents"]
    texts = [
        " ".join(np.array(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), m)])
        for m in rng.integers(10, 101, n)
    ]
    # near duplicates (another doc's text plus a marker token) and a few
    # exact copies, as in the test tier
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, n - 1)) % n] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, n - 1)) % n]
    _write(p("documents"), {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    # unit vectors around one centroid per label, of distinct strengths,
    # so the leading principal directions are well separated and
    # iterative kernels converge to the same digits in every engine
    n = sizes["embeddings"]
    labels = rng.integers(0, 10, n)
    centroids = rng.standard_normal((10, 64))
    centroids *= (0.3 + 0.05 * np.arange(10))[:, None] / np.linalg.norm(centroids, axis=1, keepdims=True)
    noise = rng.standard_normal((n, 64))
    vecs = noise / np.linalg.norm(noise, axis=1, keepdims=True) + centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": i32(labels),
    })


def _vocabulary(size: int) -> list[str]:
    """A fixed list of distinct made-up words (seed-independent, so the
    Zipf ranks mean the same words under every seed)."""
    rng = np.random.default_rng(20240101)
    onset = list("bcdfghjklmnprstvwz") + ["br", "ch", "cl", "dr", "gr", "pl", "sh", "st", "tr"]
    vowel = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]
    coda = ["", "", "", "n", "r", "l", "m", "x", "k", "t"]
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        w = "".join(
            onset[rng.integers(len(onset))] + vowel[rng.integers(len(vowel))]
            for _ in range(int(rng.integers(2, 4)))
        ) + coda[rng.integers(len(coda))]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _fullwidth(word: str) -> str:
    return "".join(chr(ord(c) + 0xFEE0) for c in word)


def _pii(rng) -> str:
    kind = rng.integers(5)
    h = "".join(f"{b:02x}" for b in rng.integers(0, 256, 16))
    if kind == 0:
        return f"user{rng.integers(1000)}@example{rng.integers(50)}.com"
    if kind == 1:
        return f"https://support.example.com/t/{rng.integers(10**6)}"
    if kind == 2:
        return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
    if kind == 3:
        return h
    return ".".join(str(x) for x in rng.integers(1, 255, 4))


class _Text:
    """Zipf-distributed ticket prose with entities, full-width words and
    PII tokens mixed in at the configured rates."""

    def __init__(self, rng, cfg: dict):
        self.rng = rng
        self.cfg = cfg
        self.words = np.array(_vocabulary(cfg["vocabulary"]))
        ranks = np.arange(1, len(self.words) + 1, dtype=np.float64)
        w = ranks ** -cfg["zipf_s"]
        self.p = w / w.sum()

    def line(self, n_words: int) -> str:
        rng, cfg = self.rng, self.cfg
        out = []
        for w in self.words[rng.choice(len(self.words), n_words, p=self.p)]:
            r = rng.random()
            if r < cfg["rate_pii_token"]:
                out.append(_pii(rng))
            elif r < cfg["rate_pii_token"] + cfg["rate_fullwidth"]:
                out.append(_fullwidth(w))
            else:
                out.append(str(w))
            if rng.random() < cfg["rate_html_entity"]:
                out.append(ENTITIES[rng.integers(len(ENTITIES))])
        return " ".join(out)

    def body(self) -> str:
        lines = [self.line(int(self.rng.integers(5, 16))) for _ in range(int(self.rng.integers(1, 4)))]
        if self.rng.random() < self.cfg["rate_pii_line"]:
            lines.insert(int(self.rng.integers(len(lines) + 1)), _pii(self.rng))
        return "\n".join(lines)


def _stamp(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def write_tickets(out_dir: str, seed: int, cfg: dict) -> dict:
    """Write ``tickets.json`` and ``comments/`` for ``seed``; return the
    counts a correct pipeline reproduces."""
    rng = np.random.default_rng([seed, 2])
    text = _Text(rng, cfg)
    comments_dir = os.path.join(out_dir, "comments")
    os.makedirs(comments_dir, exist_ok=True)
    base = dt.datetime(2024, 1, 1)
    counts = dict(n_tickets=0, n_corrupt=0, n_null_id=0, n_invalid_status=0,
                  n_without_comments=0, n_valid=0, n_comments=0, n_comment_files=0)
    tickets = []
    comment_id = 1_000_000
    for i in range(cfg["tickets"]):
        tid = 100_000 + i
        created = base + dt.timedelta(seconds=int(rng.integers(0, 180 * 86400)))
        r = rng.random()
        if r < cfg["rate_invalid_status"]:
            status = INVALID_STATUSES[rng.integers(len(INVALID_STATUSES))]
        else:
            status = TICKET_STATUSES[rng.integers(len(TICKET_STATUSES))]
            status = [status, status.upper(), status.capitalize()][rng.integers(3)]
        ticket = {
            "id": tid,
            "created_at": _stamp(created),
            "updated_at": _stamp(created + dt.timedelta(hours=int(rng.integers(1, 500)))),
            "status": status,
            "subject": text.line(int(rng.integers(3, 8))),
            "description": text.body(),
            "fields": [
                {"value": TICKET_TYPES[rng.integers(len(TICKET_TYPES))]},
                {"value": f"x{rng.integers(100)}"},
                {"value": OUTCOMES[rng.integers(len(OUTCOMES))]},
            ],
        }
        if rng.random() < 0.8:
            ticket["tags"] = sorted(set(np.array(TAGS)[rng.integers(0, len(TAGS), rng.integers(0, 4))].tolist()))
        counts["n_tickets"] += 1
        if rng.random() < cfg["rate_null_id"]:
            ticket["id"] = None
            counts["n_null_id"] += 1
        else:
            counts["n_valid"] += 1
            if status.upper() not in {s.upper() for s in TICKET_STATUSES}:
                counts["n_invalid_status"] += 1
            if rng.random() < cfg["rate_no_comments"]:
                counts["n_without_comments"] += 1
            else:
                n_files = 2 if rng.random() < cfg["rate_two_files"] else 1
                for f in range(n_files):
                    payload = {"comments": []}
                    for _ in range(int(rng.integers(1, 5))):
                        created = created + dt.timedelta(minutes=int(rng.integers(1, 3000)))
                        payload["comments"].append({
                            "id": comment_id,
                            "created_at": _stamp(created),
                            "plain_body": text.body(),
                        })
                        comment_id += 1
                    counts["n_comments"] += len(payload["comments"])
                    if rng.random() < cfg["rate_empty_array"]:
                        payload["internal"] = []
                    with open(os.path.join(comments_dir, f"{tid}_{f}.json"), "w") as fh:
                        json.dump(payload, fh)
                    counts["n_comment_files"] += 1
        tickets.append(ticket)
    export = os.path.join(out_dir, "export")
    os.makedirs(export, exist_ok=True)
    with open(os.path.join(export, "tickets.json"), "w") as fh:
        json.dump(tickets, fh, indent=1)
    # Corrupt records: in a multi-line JSON array one malformed element
    # marks every row of its file corrupt, so they come as separate
    # exports cut off mid-record; each reads as one _corrupt_record row.
    for i in range(cfg["corrupt_files"]):
        text = json.dumps(tickets[i * 7: i * 7 + 3], indent=1)
        with open(os.path.join(export, f"tickets-truncated-{i}.json"), "w") as fh:
            fh.write(text[: len(text) // 2])
        counts["n_tickets"] += 1
        counts["n_corrupt"] += 1
    return counts


def ensure_inputs(work_dir: str, seed: int, config: dict) -> tuple[str, dict]:
    """Generate (once per seed) and return (input dir, expected ticket
    counts). A marker file written last makes an interrupted generation
    start over instead of being reused half-written."""
    root = os.path.join(work_dir, "inputs", f"seed-{seed}")
    marker = os.path.join(root, "expected.json")
    if not os.path.exists(marker):
        shutil.rmtree(root, ignore_errors=True)
        write_tables(os.path.join(root, "tables"), seed, config["tables"])
        counts = write_tickets(os.path.join(root, "tickets"), seed, config["tickets"])
        with open(marker + ".tmp", "w") as fh:
            json.dump(counts, fh, indent=1, sort_keys=True)
        os.replace(marker + ".tmp", marker)
    with open(marker) as fh:
        return root, json.load(fh)
