"""Scale-smoke data generator: replicate /root/testdata/sf0.1 R times
with remapped keys into .scale/sf0.<R> so the registry can be driven at
a data size where the SCALE-ONLY code paths activate — paths a sf0.1
run never exercises:

  * qv04's 1000-row hot-block cap (labels reach ~1200 members at R=6),
  * qv06's multi-sub-block sampled ground truth (>2000 vectors),
  * multi-split parquet scans (row-group parallelism),
  * duplicate-heavy dedup regimes (each source doc gains 1 exact copy
    and R-2 near-dup variants — posting lists and LSH buckets carry
    real collision load instead of the sparse sf0.1 regime).

Replication preserves referential integrity by giving replica k its own
key space (key + k * (max_key + 1)) consistently across PKs and FKs;
region/nation stay fixed (TPC-H dims don't grow with SF) and nationkey
FKs keep pointing at them. Document text: replica 1 is byte-identical
(exact dup), replicas >= 2 append a replica-unique token (near dup).
Embeddings: replica 1 identical, replicas >= 2 offset by 0.0005*k in
every dimension (near-identical direction, distinct vectors).

Pure DuckDB; run: python scripts/make_scale_data.py [R] [out_dir]
        [--tables t1,t2] [--multi-file]

--tables restricts scaling to the named tables; the rest are copied
from SRC at 1× (round-8 step-up tier: documents/embeddings at 12-20×
for the dedup/ANN/BM25/GEMM families — relational scaling was settled
at 6×, so replicating lineitem again would only slow the sweep).
--multi-file writes each scaled table as a DIRECTORY of one parquet
file per replica instead of one big file. That is the layout a real
cluster reads (a 100 TB table is tens of thousands of files), and it
is the regime the round-7 deactivation logic needs to be verified in:
the scan arrives ≥R splits wide, so ensure_parallelism must NO-OP
rather than repartition (Spark and the DuckDB-glob oracle handle a
.parquet directory natively — see oracle_harness.duckdb_connection).
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# key space sizes in sf0.1 (dense 0..max; see TESTDATA.md)
SPANS = {
    "custkey": 15_000,
    "orderkey": 150_000,
    "partkey": 20_000,
    "suppkey": 1_000,
    "event_id": 100_000,
    "user_id": 1_500,
    "doc_id": 5_000,
    "vec_id": 2_000,
}


def replica_sql(rep: int) -> dict[str, str]:
    s = SPANS
    text = (
        "text"
        if rep <= 1
        else f"text || ' scvar{rep}'"
    )
    emb = (
        "embedding"
        if rep <= 1
        else f"list_transform(embedding, x -> CAST(x + {0.0005 * rep} AS FLOAT))"
    )
    return {
        "customer": f"""SELECT c_custkey + {rep * s['custkey']} AS c_custkey, c_name,
            c_nationkey, c_acctbal, c_mktsegment FROM customer""",
        "supplier": f"""SELECT s_suppkey + {rep * s['suppkey']} AS s_suppkey, s_name,
            s_nationkey, s_acctbal FROM supplier""",
        "part": f"""SELECT p_partkey + {rep * s['partkey']} AS p_partkey, p_name,
            p_brand, p_type, p_size, p_retailprice FROM part""",
        "orders": f"""SELECT o_orderkey + {rep * s['orderkey']} AS o_orderkey,
            o_custkey + {rep * s['custkey']} AS o_custkey, o_orderstatus,
            o_totalprice, o_orderdate, o_orderpriority FROM orders""",
        "lineitem": f"""SELECT l_orderkey + {rep * s['orderkey']} AS l_orderkey,
            l_partkey + {rep * s['partkey']} AS l_partkey,
            l_suppkey + {rep * s['suppkey']} AS l_suppkey,
            l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
            l_returnflag, l_linestatus, l_shipdate FROM lineitem""",
        "events": f"""SELECT event_id + {rep * s['event_id']} AS event_id, ts,
            user_id + {rep * s['user_id']} AS user_id, event_type, value, props
            FROM events""",
        "documents": f"""SELECT doc_id + {rep * s['doc_id']} AS doc_id,
            {text} AS text, lang, source, LENGTH({text}) AS n_chars FROM documents""",
        "embeddings": f"""SELECT vec_id + {rep * s['vec_id']} AS vec_id,
            {emb} AS embedding, label FROM embeddings""",
    }


def main() -> None:
    argv = list(sys.argv[1:])
    multi_file = "--multi-file" in argv
    if multi_file:
        argv.remove("--multi-file")
    scale_tables: set[str] | None = None
    if "--tables" in argv:
        i = argv.index("--tables")
        scale_tables = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    r = int(argv[0]) if argv else 6
    out = argv[1] if len(argv) > 1 else os.path.join(REPO, ".scale", f"sf0.{r}")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SRC}/{t}.parquet'")
    growing = list(replica_sql(0))
    unknown = (scale_tables or set()) - set(growing)
    if unknown:
        sys.exit(f"--tables names not scalable: {', '.join(sorted(unknown))}")
    copy_1x = ["region", "nation"] + (
        [t for t in growing if t not in scale_tables] if scale_tables else []
    )
    for t in copy_1x:
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
        print(f"{t}: copied 1x", flush=True)
    for t in growing:
        if scale_tables and t not in scale_tables:
            continue
        dest = f"{out}/{t}.parquet"
        if multi_file:
            shutil.rmtree(dest, ignore_errors=True)
            os.makedirs(dest)
            for k in range(r):
                con.execute(
                    f"COPY ({replica_sql(k)[t]}) TO "
                    f"'{dest}/part-{k:05d}.parquet' (FORMAT PARQUET)"
                )
            n = con.execute(
                f"SELECT COUNT(*) FROM '{dest}/*.parquet'"
            ).fetchone()[0]
            print(f"{t}: {n} rows in {r} files", flush=True)
        else:
            union = " UNION ALL ".join(replica_sql(k)[t] for k in range(r))
            con.execute(f"COPY ({union}) TO '{dest}' (FORMAT PARQUET)")
            n = con.execute(f"SELECT COUNT(*) FROM '{dest}'").fetchone()[0]
            print(f"{t}: {n} rows", flush=True)
    print(f"wrote {out}", flush=True)


if __name__ == "__main__":
    main()
