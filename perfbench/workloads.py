"""The benchmark's workloads and their output checks.

A workload is driven one pass at a time. A pass is a list of operations
(one pipeline stage, or one query); each operation is timed, opens one
or two spans, and is checked. An operation fails on an exception, on
running past ``OP_TIMEOUT_S``, or on an output mismatch.

The package is driven only through its public functions.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os
import pickle
import shutil
import time
import traceback

OP_TIMEOUT_S = 120.0


class Op:
    def __init__(self, name: str):
        self.name = name
        self.s = 0.0
        self.problems: list[str] = []

    @property
    def ok(self) -> bool:
        return not self.problems


def _run_op(ops: list, name: str, body) -> None:
    """Time ``body(op)``; record exceptions and overruns as problems."""
    op = Op(name)
    t0 = time.perf_counter()
    try:
        body(op)
    except Exception as exc:  # a failed stage is counted, not fatal
        op.problems.append(f"{type(exc).__name__}: {exc}".splitlines()[0][:300])
        traceback.print_exc()
    op.s = time.perf_counter() - t0
    if op.s > OP_TIMEOUT_S:
        op.problems.append(f"timeout: {op.s:.1f}s > {OP_TIMEOUT_S}s")
    ops.append(op)


def _expect(op: Op, what: str, got, want) -> None:
    if got != want:
        op.problems.append(f"{what}: got {got!r}, expected {want!r}")


def rows_hash(rows) -> str:
    return hashlib.sha256(repr(sorted(map(repr, rows))).encode()).hexdigest()


class HashBook:
    """Per-seed record of result hashes for outputs without an oracle:
    the first run with a seed writes it, later runs and passes must
    reproduce it."""

    def __init__(self, path: str):
        self.path = path
        self.book = json.load(open(path)) if os.path.exists(path) else {}
        self.dirty = False

    def check(self, op: Op, key: str, digest: str) -> None:
        if key not in self.book:
            self.book[key] = digest
            self.dirty = True
        _expect(op, f"{key} result hash", digest, self.book[key])

    def save(self) -> None:
        if self.dirty:
            with open(self.path + ".tmp", "w") as fh:
                json.dump(self.book, fh, indent=1, sort_keys=True)
            os.replace(self.path + ".tmp", self.path)


class TicketPipeline:
    """The paper's flow: tickets + comment files → reshape → comment
    join → JSON sinks → corpus → cleanse/PII → lemmatize → vectorize →
    LDA coherence sweep. Every layer boundary persists and counts, so
    each layer's jobs land in its own span. Its unit of latency is one
    whole pipeline run: the stages are too few, and too unlike, for a
    median over them to mean anything."""

    latency_per_pass = True

    def __init__(self, input_root: str, expected: dict, config: dict, work_dir: str):
        self.tickets = os.path.join(input_root, "tickets", "export")
        self.comments = os.path.join(input_root, "tickets", "comments")
        self.expected = expected
        self.cfg = config["tickets"]
        self.out_dir = os.path.join(work_dir, "out", str(os.getpid()))
        self.hashes = HashBook(os.path.join(input_root, "hashes-ticket_pipeline.json"))

    def run_pass(self, spark, spans) -> list[Op]:
        from pyspark.sql import functions as F

        from ml_data_wrangler_spark.functions.text import cleanse_text, pii_scrub
        from ml_data_wrangler_spark.operators.lda import lda_sweep
        from ml_data_wrangler_spark.operators.nlp import lemmatized_tokens
        from ml_data_wrangler_spark.operators.vectorize import fit_vectorizer
        from ml_data_wrangler_spark.operators.wrangle import (
            bind_comments,
            create_corpus,
            data_quality_summary,
            reshape_tickets,
        )
        from ml_data_wrangler_spark.sources.readers import read_comment_files, read_tickets
        from ml_data_wrangler_spark.sources.sinks import (
            write_corpus_json,
            write_processed_tickets_json,
        )

        exp, cfg, ops = self.expected, self.cfg, []
        st: dict = {}
        persisted: list = []

        def keep(df):
            persisted.append(df.persist())
            return df

        def read(op):
            files = len(os.listdir(self.tickets)) + len(os.listdir(self.comments))
            with spans("sources.read", files=files):
                st["raw"] = keep(read_tickets(spark, self.tickets))
                st["comments"] = keep(read_comment_files(spark, self.comments))
                n_raw, n_comments = st["raw"].count(), st["comments"].count()
            _expect(op, "raw ticket rows", n_raw, exp["n_tickets"])
            _expect(op, "comment rows", n_comments, exp["n_comments"])

        def bind(op):
            with spans("wrangle.bind"):
                st["wrangled"] = keep(bind_comments(reshape_tickets(st["raw"]), st["comments"]))
                n = st["wrangled"].count()
                [dq] = data_quality_summary(st["raw"], st["comments"]).collect()
            _expect(op, "wrangled rows", n, exp["n_valid"])
            for key in ("n_tickets", "n_corrupt", "n_null_id", "n_invalid_status", "n_without_comments"):
                _expect(op, key, dq[key], exp[key])

        def write(op):
            shutil.rmtree(self.out_dir, ignore_errors=True)
            with spans("sources.write") as span:
                st["corpus"] = create_corpus(st["wrangled"])
                paths = [
                    write_processed_tickets_json(st["wrangled"], self.out_dir, "20240101"),
                    write_corpus_json(st["corpus"], self.out_dir, "20240101"),
                ]
                span["files"] = sum(len(_part_files(p)) for p in paths)
            for path in paths:
                _expect(op, f"lines in {os.path.basename(path)}", _json_lines(path), exp["n_valid"])

        def cleanse(op):
            with spans("text.cleanse"):
                st["clean"] = keep(st["corpus"].select(
                    "doc_id", pii_scrub(cleanse_text(F.col("text"))).alias("text")))
                [r] = st["clean"].agg(
                    F.count("*").alias("n"),
                    F.sum((F.length("text") == 0).cast("int")).alias("empty"),
                    F.sum(F.col("text").rlike(r"&(amp|lt|gt|quot|#39|nbsp);").cast("int")).alias("entities"),
                    F.sum(F.col("text").rlike("[！-～]").cast("int")).alias("fullwidth"),
                    F.sum(F.col("text").rlike(r"@example|https://|\d+\.\d+\.\d+\.\d+").cast("int")).alias("pii"),
                ).collect()
            _expect(op, "cleansed rows", r["n"], exp["n_valid"])
            for key in ("empty", "entities", "fullwidth", "pii"):
                _expect(op, f"cleansed rows with {key}", r[key], 0)

        def lemmatize(op):
            with spans("nlp.lemmatize") as span:
                st["tokens"] = keep(lemmatized_tokens(st["clean"]))
                [r] = st["tokens"].agg(F.count("*").alias("n"),
                                       F.sum(F.size("tokens")).alias("tokens")).collect()
                span["tokens_out"] = r["tokens"]
            _expect(op, "token rows", r["n"], exp["n_valid"])
            if not r["tokens"]:
                op.problems.append("lemmatizer produced no tokens")

        def vectorize(op):
            with spans("vectorize.fit") as span:
                model = fit_vectorizer(st["tokens"], min_df=cfg["min_df"], max_df=cfg["max_df"],
                                       vocab_size=cfg["vocab_size"])
                st["vocab"] = list(model.vocabulary)
                st["bow"] = keep(model.transform(st["tokens"]))
                span["vocab_size"] = len(st["vocab"])
            if not st["vocab"]:
                op.problems.append("empty vocabulary")
            self.hashes.check(op, "vocabulary", rows_hash(st["vocab"]))  # as a set

        def sweep(op):
            lo, hi = cfg["lda_k"]
            with spans("lda.sweep"):
                rows = [tuple(r) for r in lda_sweep(
                    st["bow"], st["tokens"], st["vocab"], range(lo, hi + 1),
                    max_iter=cfg["lda_max_iter"], seed=42).collect()]
            _expect(op, "sweep ks", sorted(k for k, _ in rows), list(range(lo, hi + 1)))
            if not all(math.isfinite(c) for _, c in rows):
                op.problems.append(f"non-finite coherence: {rows}")
            # CountVectorizer orders terms of equal count differently from
            # fit to fit, and LDA's seeded start follows term indices, so
            # the sweep is held to the result recorded for the same order
            order = hashlib.sha256("\n".join(st["vocab"]).encode()).hexdigest()[:16]
            self.hashes.check(op, f"lda_sweep@{order}", rows_hash(rows))

        try:
            for name, body in (("read", read), ("bind", bind), ("write", write),
                               ("cleanse", cleanse), ("lemmatize", lemmatize),
                               ("vectorize", vectorize), ("lda_sweep", sweep)):
                if ops and not ops[-1].ok:
                    break  # later stages consume this one's output
                _run_op(ops, name, body)
        finally:
            for df in persisted:
                df.unpersist()
        self.hashes.save()
        return ops


def _part_files(path: str) -> list[str]:
    return [os.path.join(path, n) for n in os.listdir(path) if n.startswith("part-")]


def _json_lines(path: str) -> int:
    n = 0
    for part in _part_files(path):
        with open(part, "rb") as fh:
            n += sum(1 for _ in fh)
    return n


def _oracle_harness(repo_root: str):
    spec = importlib.util.spec_from_file_location(
        "oracle_harness", os.path.join(repo_root, "tests", "oracle_harness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QuerySuite:
    """Registry queries: per query, plan build (``fn(spark, dir)``) then
    execute (collect every row). Oracle queries are compared with DuckDB
    results computed once per seed; rows-only queries must be non-empty
    and hash the same on every run with the seed."""

    latency_per_pass = False

    def __init__(self, name: str, input_root: str, config: dict, repo_root: str):
        self.tables = os.path.join(input_root, "tables")
        self.queries = config["workloads"][name]["queries"]
        self.harness = _oracle_harness(repo_root)
        self.hashes = HashBook(os.path.join(input_root, f"hashes-{name}.json"))
        self.oracle = self._oracle(os.path.join(input_root, f"oracle-{name}.pkl"))

    def _oracle(self, path: str) -> dict:
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        from ml_data_wrangler_spark.plans import registry

        sql = registry.oracle_sql()
        con = self.harness.duckdb_connection(self.tables)
        out = {q: self.harness.run_oracle(con, sql[q]) for q in self.queries if q in sql}
        con.close()
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(out, fh)
        os.replace(path + ".tmp", path)
        return out

    def run_pass(self, spark, spans) -> list[Op]:
        from ml_data_wrangler_spark.plans import registry

        fns = registry.queries()
        ops: list[Op] = []
        for q in self.queries:
            fn = fns[q]
            module = fn.__module__.rsplit(".", 1)[-1]

            def body(op, fn=fn, q=q, module=module):
                with spans("plans.build", query=q, module=module):
                    df = fn(spark, self.tables)
                with spans("plans.execute", query=q, module=module):
                    cols, rows = list(df.columns), [tuple(r) for r in df.collect()]
                if q in self.oracle:
                    o_cols, o_rows = self.oracle[q]
                    op.problems += self.harness.compare(q, cols, rows, o_cols, o_rows)
                elif not rows:
                    op.problems.append("empty result")
                else:
                    self.hashes.check(op, q, rows_hash(self.harness.normalize(cols, rows)))

            _run_op(ops, q, body)
        self.hashes.save()
        return ops


def make(name: str, input_root: str, expected: dict, config: dict, work_dir: str, repo_root: str):
    if name == "ticket_pipeline":
        return TicketPipeline(input_root, expected, config, work_dir)
    if name in config["workloads"]:
        return QuerySuite(name, input_root, config, repo_root)
    raise SystemExit(f"unknown workload {name!r}; known: {sorted(config['workloads'])}")
