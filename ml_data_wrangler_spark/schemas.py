"""Explicit schemas (schema-on-read, no inference in the engine).

Ticket/comment shapes are reconstructed from the reference's
field-access patterns (SURVEY.md §1.3; /root/reference/src/wrangler.py:415-429
for tickets, wrangler.py:216-221,375-376 for comment files).
Testdata schemas mirror FIXTURES.md §2 (driver-generated parquet) and
are the schemas those tables are read with.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Timestamp wire format used throughout the reference
# (wrangler.py:419-424,433-435): "%Y-%m-%dT%H:%M:%SZ".
TICKET_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"

# Valid ticket statuses (enum TicketStatus, wrangler.py:52-65).
TICKET_STATUSES = ["OPEN", "HOLD", "PENDING", "SOLVED", "CLOSED"]

# tickets.json — array of ticket objects (wrangler.py:413-429).
TICKET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("created_at", T.StringType(), True),
        T.StructField("updated_at", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("subject", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField(
            "fields",
            T.ArrayType(T.StructType([T.StructField("value", T.StringType(), True)])),
            True,
        ),
    ]
)

# comments/<ticket_id>*.json — root object is a map whose values are
# arrays of comment objects (wrangler.py:375-376, 216-221).
COMMENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("created_at", T.StringType(), True),
        T.StructField("plain_body", T.StringType(), True),
    ]
)
COMMENT_FILE_SCHEMA = T.MapType(T.StringType(), T.ArrayType(COMMENT_SCHEMA))

# Driver-generated testdata tables (FIXTURES.md §2). The read contract:
# sources.readers.scan_declared scans each table with this schema after
# checking it against the file's footer. Order and ship dates are stored
# zone-less; events.ts is ``timestamp`` whatever its storage layout.
TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)
