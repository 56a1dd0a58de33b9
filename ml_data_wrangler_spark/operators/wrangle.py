"""The wrangle pipeline (SURVEY.md §2.2-§2.5, §3 E1): the reference's
core computation re-expressed as one lazy DataFrame composition.

Reference shape (wrangler.py): eager row-at-a-time loops, whole dataset
in driver memory, O(tickets × files²) nested-loop comment binding.
Spark shape: scan → project → left-outer equi-join → group-into-array,
with the tickets side broadcast when small and AQE picking the physical
join otherwise. At 100 TB of comments this is one shuffle on
``ticket_id`` (or zero if both sides are bucketed by it at rest).

Defects resolved toward intent (SURVEY.md §8): D1/D2 (cleanse), D3
(bind ALL tickets), D5 (create_corpus implemented), D6-D8 (flat API).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ml_data_wrangler_spark.schemas import TICKET_STATUSES, TICKET_TS_FMT
from ml_data_wrangler_spark.sources.readers import read_comment_files, read_tickets


def reshape_tickets(raw: DataFrame) -> DataFrame:
    """P1 + P3 — ticket reshape (wrangler.py:396-449).

    Projects/renames/casts: parse both timestamps, upper-case the status
    enum (validated against the TicketStatus domain, wrangler.py:52-65),
    default tags to [], extract outcome=fields[2].value and
    ticket_type=fields[0].value (wrangler.py:427-428), and synthesize
    the first comment from ``description`` (wrangler.py:431-438) with a
    DETERMINISTIC surrogate id (xxhash64 of the ticket id mapped into
    the reference's [9999, 9999999999999] range — the reference used
    random.randint, SURVEY.md §7.4.1).
    """
    status = F.upper(F.col("status"))
    first_comment = F.struct(
        (
            F.pmod(F.xxhash64(F.col("id")), F.lit(9999999999999 - 9999)) + 9999
        ).alias("id"),
        F.to_timestamp(F.col("created_at"), TICKET_TS_FMT).alias("created_at"),
        F.col("description").alias("body"),
    )
    return raw.filter(F.col("id").isNotNull()).select(
        F.col("id"),
        F.to_timestamp(F.col("created_at"), TICKET_TS_FMT).alias("created_at"),
        F.to_timestamp(F.col("updated_at"), TICKET_TS_FMT).alias("last_updated"),
        F.when(status.isin(TICKET_STATUSES), status).alias("status"),
        F.col("subject"),
        F.coalesce(F.col("tags"), F.array().cast("array<string>")).alias("tags"),
        F.col("fields")[2]["value"].alias("outcome"),
        F.col("fields")[0]["value"].alias("ticket_type"),
        first_comment.alias("first_comment"),
    )


def reshape_comments(comments: DataFrame) -> DataFrame:
    """P2 — comment reshape (wrangler.py:198-224): project
    id/created_at/plain_body→body, parse the timestamp."""
    return comments.select(
        F.col("ticket_id"),
        F.col("id"),
        F.to_timestamp(F.col("created_at"), TICKET_TS_FMT).alias("created_at"),
        F.col("plain_body").alias("body"),
    )


def bind_comments(tickets: DataFrame, comments: DataFrame) -> DataFrame:
    """J1 — comment binding (wrangler.py:343-394), the reference's only
    join, as a left-outer equi-join + group-into-sorted-array.

    The synthetic first comment is prepended (reference prepends at
    wrangler.py:437-438); bound comments are sorted by (created_at, id)
    for determinism (the reference's order was directory-listing order —
    not reproducible). Tickets with no comment file keep only the first
    comment (left-outer + coalesce to empty array).

    Scale: one shuffle on the join key; group-into-array is a map-side
    combine-friendly aggregation. If tickets ≪ comments Spark/AQE
    broadcasts the ticket side.
    """
    reshaped = reshape_comments(comments)
    bound = reshaped.groupBy("ticket_id").agg(
        F.array_sort(
            F.collect_list(F.struct("created_at", "id", "body"))
        ).alias("bound")
    )
    joined = tickets.join(bound, tickets["id"] == bound["ticket_id"], "left")
    return joined.select(
        tickets["id"],
        "created_at",
        "last_updated",
        "status",
        "subject",
        "tags",
        "outcome",
        "ticket_type",
        F.concat(
            F.array(F.col("first_comment")),
            F.coalesce(
                F.transform(
                    "bound",
                    lambda c: F.struct(
                        c["id"].alias("id"),
                        c["created_at"].alias("created_at"),
                        c["body"].alias("body"),
                    ),
                ),
                F.array().cast("array<struct<id:bigint,created_at:timestamp,body:string>>"),
            ),
        ).alias("comments"),
    )


def data_quality_summary(raw_tickets: DataFrame, comments: DataFrame) -> DataFrame:
    """The reference LOGGED its wrangle failures (wrangler.py:448-449:
    invalid statuses, unparseable tickets) and WARNED per ticket with
    no comment file (wrangler.py:385-389); this engine surfaces the
    same signals as one observable 1-row summary instead of log lines,
    so data-quality loss is a queryable output of the pipeline:

      n_tickets           — raw ticket rows scanned
      n_corrupt           — PERMISSIVE-mode _corrupt_record rows
      n_null_id           — rows reshape_tickets silently drops
      n_invalid_status    — non-null statuses outside the TicketStatus
                            domain (reshape nulls them; here they are
                            counted so the nulling is observable)
      n_without_comments  — valid tickets with no bound comment (J2)

    One scan + one left join against the distinct comment keys; all
    counters are map-side conditional sums.
    """
    status = F.upper(F.col("status"))
    corrupt = (
        F.col("_corrupt_record").isNotNull()
        if "_corrupt_record" in raw_tickets.columns
        else F.lit(False)
    )
    cids = comments.select(F.col("ticket_id").alias("_cid")).distinct()
    joined = raw_tickets.join(cids, raw_tickets["id"] == F.col("_cid"), "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_tickets"),
        F.sum(F.when(corrupt, 1).otherwise(0)).alias("n_corrupt"),
        F.sum(F.when(F.col("id").isNull() & ~corrupt, 1).otherwise(0)).alias(
            "n_null_id"
        ),
        F.sum(
            F.when(
                F.col("id").isNotNull()
                & ~corrupt
                & F.col("status").isNotNull()
                & ~status.isin(TICKET_STATUSES),
                1,
            ).otherwise(0)
        ).alias("n_invalid_status"),
        F.sum(
            F.when(F.col("id").isNotNull() & ~corrupt & F.col("_cid").isNull(), 1)
            .otherwise(0)
        ).alias("n_without_comments"),
    )


def create_corpus(wrangled: DataFrame) -> DataFrame:
    """A1 — corpus creation (declared-but-missing in the reference,
    defect D5; intent from docstrings wrangler.py:169-174 + call sites).

    One row PER DOCUMENT (ticket): subject + all comment bodies joined
    with spaces. Keeping document boundaries is required by the LDA
    stage and is the scalable shape (SURVEY.md §7.4.6 — the reference's
    single driver-side string cannot hold 100 TB).
    """
    return wrangled.select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.col("subject"),
            F.array_join(F.transform("comments", lambda c: c["body"]), " "),
        ).alias("text"),
    )


def wrangle(spark: SparkSession, tickets_path: str, comments_dir: str) -> DataFrame:
    """E1 end-to-end: S1/S2 scans → P1-P3 reshape → J1 bind. Lazy; the
    caller picks the action (write_processed_tickets_json, create_corpus,
    …)."""
    tickets = reshape_tickets(read_tickets(spark, tickets_path))
    comments = read_comment_files(spark, comments_dir)
    return bind_comments(tickets, comments)
