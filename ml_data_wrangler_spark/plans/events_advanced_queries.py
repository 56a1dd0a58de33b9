"""Advanced events analytics (qe33-qe39): PageRank over the
event-type transition graph, bootstrap CIs, churn hazard, seasonal
forecast backtest, growth accounting.

Split out of events_queries.py in round 5 purely for maintainability:
registry names, oracles, and registration order are UNCHANGED (this
module registers immediately after events_stats_queries, keeping the
qe family in ascending order for the gate prefix).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ml_data_wrangler_spark.functions.driver_exact import (
    round_half_up,
    round_long,
)
from ml_data_wrangler_spark.operators._partition import ensure_parallelism
from ml_data_wrangler_spark.plans._util import (
    SQL_DAILY_STATS,
    daily_counts,
    daily_stats,
    money,
    sql_daily_counts,
    t,
)
from ml_data_wrangler_spark.plans.registry import query
from ml_data_wrangler_spark.session import bounded_collect, local_frame

# qe33's model-size contract: the PageRank loop runs on the driver
# over the collected transition graph. session.bounded_collect moves
# at most cap+1 rows for ANY keyspace; past either cap qe33 raises.
QE33_DRIVER_NODE_CAP = 4096
QE33_DRIVER_EDGE_CAP = 65536


def _qe33_driver_loop(spark, nodes, edges):
    """Driver-side replica of qe33's 3-round damped PageRank over the
    model-sized transition matrix (``nodes`` a list of node names,
    ``edges`` a list of (src, dst, pij) tuples) — bit-exact vs the
    DuckDB oracle: pico-quantized terms are summed as Python ints
    (order-free), the damping expression keeps the SQL's operation
    order, and Spark's ROUND is replicated in the decimal domain
    (functions/driver_exact.py)."""
    out_schema = "event_type string, pagerank double"
    n = len(nodes)
    if n == 0:
        return local_frame(spark, [], out_schema)
    srcs = {src for src, _, _ in edges}
    rank = {nd: round_half_up(1.0 / n, 9) + 0.0 for nd in nodes}
    for _ in range(3):
        dm = sum(
            round_long(rank[nd] * 1e12) for nd in nodes if nd not in srcs
        )
        s: dict = {}
        for src, dst, pij in edges:
            if src in rank:
                s[dst] = s.get(dst, 0) + round_long(rank[src] * pij * 1e12)
        rank = {
            nd: round_half_up(
                0.15 / n
                + 0.85 * (s.get(nd, 0) / 1e12 + dm / 1e12 / n),
                9,
            )
            + 0.0
            for nd in nodes
        }
    # sorted here, not by an orderBy over the local rows (a Sort plans
    # three jobs); str order is UTF-8 byte order, nulls first as in Spark
    rows = sorted(
        ((nd, round_half_up(rank[nd], 6) + 0.0) for nd in nodes),
        key=lambda r: (r[0] is not None, r[0]),
    )
    return local_frame(spark, rows, out_schema)


def _qe33_sql_step(k: int) -> str:
    """One unrolled PageRank iteration (dangling-aware), quantized to
    pico-units so both engines sum exact integers."""
    prev = f"r{k - 1}"
    return f"""
d{k} AS (
  SELECT COALESCE(SUM(CAST(ROUND(r.r * 1e12) AS BIGINT)), 0) AS dm
  FROM {prev} r WHERE r.node NOT IN (SELECT prev_type FROM tot)
),
s{k} AS (
  SELECT p.dst AS node,
         SUM(CAST(ROUND(r.r * p.pij * 1e12) AS BIGINT)) AS s
  FROM p JOIN {prev} r ON r.node = p.src GROUP BY p.dst
),
r{k} AS (
  SELECT nodes.node,
         ROUND(0.15 / nn.n
               + 0.85 * (COALESCE(s.s, 0) / 1e12
                         + d.dm / 1e12 / nn.n), 9) + 0 AS r
  FROM nodes LEFT JOIN s{k} s USING (node), d{k} d, nn
)"""


@query(
    "qe33_event_type_pagerank",
    oracle=f"""
WITH nodes AS (SELECT DISTINCT event_type AS node FROM events),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
seq AS (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id)
           AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
tot AS (
  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS tn FROM pairs GROUP BY prev_type
),
p AS (
  SELECT pr.prev_type AS src, pr.event_type AS dst,
         ROUND(CAST(pr.n AS DOUBLE) / tot.tn, 9) + 0 AS pij
  FROM pairs pr JOIN tot USING (prev_type)
),
r0 AS (SELECT node, ROUND(1.0 / nn.n, 9) + 0 AS r FROM nodes, nn),
{",".join(_qe33_sql_step(k) for k in (1, 2, 3))}
SELECT node AS event_type, ROUND(r, 6) + 0 AS pagerank
FROM r3 ORDER BY event_type
""",
)
def qe33(spark, sf_dir):
    """Damped PageRank (d = 0.85, dangling-aware, three iterations)
    over the event-type transition graph — eigenvector centrality of
    the behavioral Markov chain qe15 only tabulates. The stationary
    mass answers "where does a random session actually spend its
    time", which ranks hub states more honestly than raw counts
    (a type reached FROM many distinct states outranks one reached
    often from a single loop). Fourth member of the iterative trio:
    qv17 argmin loop, qm16 gradient loop, qv18 matvec loop — this is
    the Markov fixed-point loop, on a GRAPH rather than a matrix of
    features.

    Cross-engine exactness: edge probabilities round to 1e-9; each
    iteration sums pico-quantized BIGINT terms (rank mass and
    dangling mass), applies the damping arithmetic as one per-row
    scalar IEEE expression, and re-rounds to 1e-9 — both engines walk
    the identical trajectory from the uniform start.

    Shape at scale: the 100-TB work is the ONE user-partitioned lag
    window + pair count (same shuffle as qe15); the graph itself
    collapses to |types|² edges — MODEL-sized (event types are a
    bounded enum), so the fixed-point loop runs on the DRIVER over
    the collected transition counts, which one bounded probe brings
    back: the (prev_type, event_type) counts over the lag window,
    with each user's first event as a null-prev_type row. Every event
    type is the event_type of one of those rows, so the nodes are
    their distinct event types and the edges the rows whose prev_type
    is not null; the row totals and edge probabilities are computed
    on the driver with Spark's ROUND (functions/driver_exact.py). The
    probe moves at most QE33_DRIVER_NODE_CAP + QE33_DRIVER_EDGE_CAP
    + 1 rows for ANY keyspace; past either cap the query raises
    ``ValueError``."""
    ev = t(spark, sf_dir, "events")
    counts = (
        ev.select(
            "event_type",
            F.lag("event_type")
            .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("prev_type"),
        )
        .groupBy("prev_type", "event_type")
        .count()
    )
    pdf = bounded_collect(counts, QE33_DRIVER_NODE_CAP + QE33_DRIVER_EDGE_CAP)
    if pdf is None:
        raise ValueError(
            f"qe33: the transition counts hold more than "
            f"QE33_DRIVER_NODE_CAP + QE33_DRIVER_EDGE_CAP = "
            f"{QE33_DRIVER_NODE_CAP + QE33_DRIVER_EDGE_CAP} rows"
        )
    # Python scalars, not numpy ones: driver_exact rounds through
    # Decimal(repr(x))
    rows = list(zip(*(pdf[c].tolist() for c in ("prev_type", "event_type", "count"))))
    nodes = list(dict.fromkeys(dst for _, dst, _ in rows))
    if len(nodes) > QE33_DRIVER_NODE_CAP:
        raise ValueError(
            f"qe33: the events hold {len(nodes)} event types, past "
            f"QE33_DRIVER_NODE_CAP = {QE33_DRIVER_NODE_CAP}"
        )
    pairs = [(src, dst, n) for src, dst, n in rows if src is not None]
    if len(pairs) > QE33_DRIVER_EDGE_CAP:
        raise ValueError(
            f"qe33: the transition graph has {len(pairs)} edges, past "
            f"QE33_DRIVER_EDGE_CAP = {QE33_DRIVER_EDGE_CAP}"
        )
    tn: dict = {}
    for src, _, n in pairs:
        tn[src] = tn.get(src, 0) + n
    # n / tn: Python's int division rounds once, as Spark's double
    # division of the two exactly-cast counts does
    edges = [(src, dst, round_half_up(n / tn[src], 9) + 0.0) for src, dst, n in pairs]
    return _qe33_driver_loop(spark, nodes, edges)


@query(
    "qe34_ewma_trending",
    oracle=f"""
WITH {sql_daily_counts("n_events")},
decayed AS (
  SELECT a.event_type, a.day, a.n_events,
         SUM(CAST(ROUND(b.n_events * power(0.5, a.day - b.day) * 1e6)
                  AS BIGINT)) AS num,
         SUM(CAST(ROUND(power(0.5, a.day - b.day) * 1e6)
                  AS BIGINT)) AS den
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type
   AND a.day - b.day BETWEEN 0 AND 13
  GROUP BY a.event_type, a.day, a.n_events
)
SELECT event_type, day, n_events,
       ROUND(CAST(num AS DOUBLE) / den, 6) + 0 AS ewma,
       ROUND(n_events * CAST(den AS DOUBLE) / num, 6) + 0 AS trend_ratio
FROM decayed
ORDER BY event_type, day
""",
)
def qe34(spark, sf_dir):
    """Exponentially-decayed daily volume (half-life = 1 day, 14-day
    horizon, weights normalized over the days actually present) plus
    the trending ratio today/EWMA — the decayed-count primitive
    behind every "trending now" ranker and the recency weighting
    feature stores apply to engagement counters. Distinct decay
    semantics from the registry's other smoothers: qw05 weights a
    trailing window uniformly, qe25 weights by interval duration —
    this weights by 2^-age, the only memoryless decay (what a
    streaming decayed counter maintains incrementally).

    Cross-engine exactness: each term n_j * 2^-age is an exact
    dyadic double (mantissa shift), micro-quantized to BIGINT before
    the sum, so partition order can't move the total; numerator and
    denominator divide once at the end. Shape at scale: the raw
    volume collapses to the (type, day) grid FIRST; the decay join
    is an equi-join on event_type over that days-bounded grid with a
    14-day band predicate — at 100 TB the grid is |types|x|days|
    rows, so this never touches raw events twice."""
    daily = daily_counts(t(spark, sf_dir, "events"), "n_events")
    a = daily.alias("a")
    b = daily.alias("b")
    age = F.datediff(F.col("a.day"), F.col("b.day"))
    decayed = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & age.between(0, 13),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.col("a.day").alias("day"),
            F.col("a.n_events").alias("n_events"),
        )
        .agg(
            F.sum(
                F.round(
                    F.col("b.n_events") * F.pow(F.lit(0.5), age) * 1e6
                ).cast("long")
            ).alias("num"),
            F.sum(
                F.round(F.pow(F.lit(0.5), age) * 1e6).cast("long")
            ).alias("den"),
        )
    )
    return decayed.select(
        "event_type",
        "day",
        "n_events",
        (
            F.round(F.col("num").cast("double") / F.col("den"), 6)
            + F.lit(0.0)
        ).alias("ewma"),
        (
            F.round(
                F.col("n_events") * F.col("den").cast("double") / F.col("num"),
                6,
            )
            + F.lit(0.0)
        ).alias("trend_ratio"),
    ).orderBy("event_type", "day")


@query(
    "qe35_cusum_changepoints",
    oracle=f"""
WITH {sql_daily_counts("n_events")},
{SQL_DAILY_STATS},
dev AS (
  SELECT d.event_type, d.day, d.n_events,
         st.cnt * d.n_events - st.s AS e,
         st.cnt * st.q - st.s * st.s AS var_n2
  FROM daily d JOIN stats st USING (event_type)
),
pre1 AS (
  SELECT event_type, day, n_events, var_n2,
         SUM(e) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM dev
),
pre AS (
  SELECT event_type, day, n_events, var_n2, p,
         LEAST(CAST(0 AS DECIMAL(38,0)),
               MIN(p) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)) AS m
  FROM pre1
)
SELECT event_type, day, n_events,
       CASE WHEN var_n2 = 0 THEN 0.0
            ELSE ROUND(CAST(p - m AS DOUBLE)
                       / sqrt(CAST(var_n2 AS DOUBLE)), 3) + 0
       END AS cusum_sigma,
       (p - m) * (p - m) > 16 * var_n2 AS shifted
FROM pre
ORDER BY event_type, day
""",
)
def qe35(spark, sf_dir):
    """One-sided CUSUM change-point detection on the daily volume
    series per event type: accumulate deviations from the whole-
    period mean and flag when the cumulative sum exceeds 4σ — the
    control-chart statistic that catches SUSTAINED small level shifts
    qe24's pointwise test is blind to (ten consecutive +1σ days never
    trip a 2σ pointwise flag but accumulate to +10σ here; the
    complement of qe24 global outliers and qe14 trailing z-scores).

    Mechanism (new to the registry): the CUSUM recursion
    C_t = max(0, C_{t-1} + e_t) is NON-associative and so not
    directly window-expressible — it is eliminated via the prefix-sum
    identity C_t = P_t − min(0, min_{j≤t} P_j), turning the recursion
    into two stacked per-type running windows. Cross-engine
    exactness: e_t = n·x_t − S is carried n-scaled in DECIMAL(38,0)
    (qe24's trick), prefix sums and running minima of exact decimals
    stay exact, and the 4σ flag is the pure integer comparison
    (P−m)² > 16·(nQ − S²) — no float can flip it; cusum_sigma is one
    identical scalar double expression rounded for display.

    Shape at scale: one hash aggregation onto the (type, day) grid,
    per-type moments broadcast back, then two type-partitioned
    windows over the days-bounded grid. Nothing scales with raw
    event volume past the first aggregation."""
    daily = daily_counts(t(spark, sf_dir, "events"), "n_events")
    dev = daily.join(F.broadcast(daily_stats(daily)), "event_type").select(
        "event_type",
        "day",
        "n_events",
        (F.col("cnt") * F.col("n_events") - F.col("s")).alias("e"),
        (F.col("cnt") * F.col("q") - F.col("s") * F.col("s")).alias(
            "var_n2"
        ),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pre = dev.select(
        "event_type",
        "day",
        "n_events",
        "var_n2",
        F.sum("e").over(w).alias("p"),
    ).select(
        "event_type",
        "day",
        "n_events",
        "var_n2",
        "p",
        F.least(
            F.lit(0).cast("decimal(38,0)"), F.min("p").over(w)
        ).alias("m"),
    )
    c = F.col("p") - F.col("m")
    return pre.select(
        "event_type",
        "day",
        "n_events",
        F.when(F.col("var_n2") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                c.cast("double") / F.sqrt(F.col("var_n2").cast("double")), 3
            )
            + F.lit(0.0)
        )
        .alias("cusum_sigma"),
        (c * c > 16 * F.col("var_n2")).alias("shifted"),
    ).orderBy("event_type", "day")


@query(
    "qe36_variance_decomposition",
    oracle=f"""
WITH {sql_daily_counts("y")},
mm AS (SELECT event_type, MIN(day) AS d0 FROM daily GROUP BY 1),
idx AS (
  SELECT d.event_type, d.day, d.y,
         CAST(d.day - mm.d0 AS BIGINT) AS x,
         dayofweek(d.day) AS wd
  FROM daily d JOIN mm USING (event_type)
),
st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM idx GROUP BY 1
),
mom AS (
  SELECT event_type, n, sy,
         n * sxy - sx * sy AS cov_n,
         n * sxx - sx * sx AS varx_n,
         sy * sxx - sx * sxy AS int_n
  FROM st
),
dq AS (
  SELECT i.event_type, i.wd,
         CASE WHEN m.varx_n = 0 THEN 0.0
              ELSE ROUND(CAST(m.varx_n * i.y - m.int_n - m.cov_n * i.x
                              AS DOUBLE) / m.varx_n, 6) + 0
         END AS d_q,
         ROUND(CAST(m.n * i.y - m.sy AS DOUBLE) / m.n, 6) + 0 AS dev_tot
  FROM idx i JOIN mom m USING (event_type)
),
sw AS (
  SELECT event_type, wd,
         SUM(CAST(ROUND(d_q * 1e6) AS BIGINT)) AS sdq,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM dq GROUP BY 1, 2
),
res AS (
  SELECT d.event_type, d.d_q, d.dev_tot,
         ROUND(d.d_q - (ROUND(sw.sdq / 1e6 / sw.c, 6) + 0), 6) + 0 AS r
  FROM dq d JOIN sw USING (event_type, wd)
),
ss AS (
  SELECT event_type,
         SUM(CAST(ROUND(dev_tot * dev_tot * 1e6) AS BIGINT)) AS ss_tot,
         SUM(CAST(ROUND(d_q * d_q * 1e6) AS BIGINT)) AS ss_det,
         SUM(CAST(ROUND(r * r * 1e6) AS BIGINT)) AS ss_res,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM res GROUP BY 1
)
SELECT event_type, n_days,
       CASE WHEN ss_tot = 0 THEN 0.0
            ELSE ROUND(1 - CAST(ss_det AS DOUBLE) / ss_tot, 6) + 0
       END AS trend_share,
       CASE WHEN ss_tot = 0 THEN 0.0
            ELSE ROUND(CAST(ss_det - ss_res AS DOUBLE) / ss_tot, 6) + 0
       END AS seasonal_share,
       CASE WHEN ss_tot = 0 THEN 0.0
            ELSE ROUND(CAST(ss_res AS DOUBLE) / ss_tot, 6) + 0
       END AS residual_share
FROM ss ORDER BY event_type
""",
)
def qe36(spark, sf_dir):
    """Additive variance decomposition of the daily volume series:
    linear trend (qm19's OLS), then day-of-week seasonality on the
    detrended series, then residual — reporting what share of total
    variance each layer explains. The classical trend/seasonal/
    remainder decomposition (STL's additive skeleton) as ONE
    relational pass per layer; it turns qe19's hour-of-week SHAPE and
    qm19's slope into a single attribution ("volume is 60% weekly
    rhythm, 25% growth, 15% noise") — the triage number behind
    forecasting and anomaly-budget decisions.

    Cross-engine exactness: detrended deviations have the exact
    integer numerator varx_n·y − int_n − cov_n·x (one rounded scalar
    division); weekday means micro-quantize before summing; every sum
    of squares is a BIGINT micro-unit aggregation, so no share can
    flip on partition order. The weekday key uses each engine's
    native dayofweek — any bijection of the true weekday induces the
    SAME partition of days, so the grouping needs no cross-engine
    alignment. OLS guarantees ss_det ≤ ss_tot and within-group means
    guarantee ss_res ≤ ss_det, so all shares land in [0, 1] up to
    quantization. Shape at scale: raw events collapse to the
    (type, day) grid first; everything after is bounded-grid joins
    and aggregations, broadcast-sized."""
    daily = daily_counts(t(spark, sf_dir, "events"), "y")
    mm = daily.groupBy("event_type").agg(F.min("day").alias("d0"))
    idx = daily.join(F.broadcast(mm), "event_type").select(
        "event_type",
        "y",
        F.datediff(F.col("day"), F.col("d0")).cast("long").alias("x"),
        F.dayofweek("day").alias("wd"),
    )
    st = idx.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    mom = st.select(
        "event_type",
        "n",
        "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "cov_n"
        ),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "varx_n"
        ),
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).alias(
            "int_n"
        ),
    )
    dq = idx.join(F.broadcast(mom), "event_type").select(
        "event_type",
        "wd",
        F.when(F.col("varx_n") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                (
                    F.col("varx_n") * F.col("y")
                    - F.col("int_n")
                    - F.col("cov_n") * F.col("x")
                ).cast("double")
                / F.col("varx_n"),
                6,
            )
            + F.lit(0.0)
        )
        .alias("d_q"),
        (
            F.round(
                (F.col("n") * F.col("y") - F.col("sy")).cast("double")
                / F.col("n"),
                6,
            )
            + F.lit(0.0)
        ).alias("dev_tot"),
    )
    sw = dq.groupBy("event_type", "wd").agg(
        F.sum(F.round(F.col("d_q") * 1e6).cast("long")).alias("sdq"),
        F.count("*").alias("c"),
    )
    res = dq.join(F.broadcast(sw), ["event_type", "wd"]).select(
        "event_type",
        "d_q",
        "dev_tot",
        (
            F.round(
                F.col("d_q")
                - (
                    F.round(
                        F.col("sdq") / F.lit(1e6) / F.col("c"), 6
                    )
                    + F.lit(0.0)
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("r"),
    )
    ss = res.groupBy("event_type").agg(
        F.sum(
            F.round(F.col("dev_tot") * F.col("dev_tot") * 1e6).cast("long")
        ).alias("ss_tot"),
        F.sum(
            F.round(F.col("d_q") * F.col("d_q") * 1e6).cast("long")
        ).alias("ss_det"),
        F.sum(F.round(F.col("r") * F.col("r") * 1e6).cast("long")).alias(
            "ss_res"
        ),
        F.count("*").alias("n_days"),
    )
    zero = F.lit(0.0)
    return ss.select(
        "event_type",
        "n_days",
        F.when(F.col("ss_tot") == 0, zero)
        .otherwise(
            F.round(
                1 - F.col("ss_det").cast("double") / F.col("ss_tot"), 6
            )
            + zero
        )
        .alias("trend_share"),
        F.when(F.col("ss_tot") == 0, zero)
        .otherwise(
            F.round(
                (F.col("ss_det") - F.col("ss_res")).cast("double")
                / F.col("ss_tot"),
                6,
            )
            + zero
        )
        .alias("seasonal_share"),
        F.when(F.col("ss_tot") == 0, zero)
        .otherwise(
            F.round(
                F.col("ss_res").cast("double") / F.col("ss_tot"), 6
            )
            + zero
        )
        .alias("residual_share"),
    ).orderBy("event_type")


# Cumulative Poisson(1) probabilities P(K <= k) as shared literals —
# identical decimal text on both engines → identical doubles.
_POIS1_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726563",
    "0.9994058151824183",
)


def _qe37_sql_k(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {p} THEN {k}" for k, p in enumerate(_POIS1_CDF)
    )
    return f"CASE {branches} ELSE 6 END"


@query(
    "qe37_bootstrap_ci",
    oracle=f"""
WITH reps AS (
  SELECT e.event_type, e.value,
         CAST(e.event_id AS VARCHAR) || ':' || CAST(g.r AS VARCHAR) AS seed
  FROM events e CROSS JOIN unnest(generate_series(0, 31)) AS g(r)
),
drawn AS (
  SELECT event_type, value, seed,
         {_qe37_sql_k("greatest(CAST(CAST(('0x' || substr(md5(seed), 1, 15)) AS BIGINT) AS DOUBLE) / POWER(2.0, 60), POWER(2.0, -60))")} AS k,
         CAST(split_part(seed, ':', 2) AS BIGINT) AS r
  FROM reps
),
rmeans AS (
  SELECT event_type, r,
         ROUND(CAST(SUM(k * CAST(value AS DECIMAL(12,2))) AS DOUBLE)
               / CAST(SUM(k) AS BIGINT), 6) + 0 AS mean_r
  FROM drawn GROUP BY event_type, r
  HAVING SUM(k) > 0
),
ranked AS (
  SELECT event_type, mean_r,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY mean_r, r) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_reps
  FROM rmeans
),
ci AS (
  SELECT event_type, n_reps,
         MAX(CASE WHEN rn = 2 THEN mean_r END) AS ci_lo,
         MAX(CASE WHEN rn = n_reps - 1 THEN mean_r END) AS ci_hi
  FROM ranked GROUP BY event_type, n_reps
),
pt AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(*), 6) + 0 AS mean_value
  FROM events GROUP BY event_type
)
SELECT pt.event_type, pt.n_events, pt.mean_value,
       ci.ci_lo, ci.ci_hi, ci.n_reps
FROM pt JOIN ci USING (event_type)
ORDER BY pt.event_type
""",
)
def qe37(spark, sf_dir):
    """Poisson-bootstrap confidence interval for the per-type mean
    event value: 32 resampling replicas where each row's multiplicity
    in replica r is an independent Poisson(1) draw — the bootstrap
    formulation that needs NO global resample (each row decides its
    own counts locally, so it distributes over any partitioning;
    the classic streaming/bootstrap-at-scale recipe). The interval is
    the 2nd/(n−1)th order statistics of the replica means (≈94%
    trimmed interval) — the registry's first RESAMPLING-based
    uncertainty estimate (qe08/qe16 bound sketch error; this bounds
    estimator error).

    Determinism/cross-engine: the Poisson draw is content-addressed —
    u = md5₆₀(event_id ':' replica)/2⁶⁰ (qc15's bit-identical uniform)
    pushed through a CASE ladder of shared CDF literals — so both
    engines draw the SAME counts; replica sums are exact
    (BIGINT count × DECIMAL value), each mean divides once, and the
    order statistics rank rounded means with the replica id as
    tiebreak. Shape at scale: one fan-out map (×32 rows — or a
    grouped k-vector per row to avoid it), one aggregation to
    (type, replica), then bounded windows over 32-row groups."""
    ev = t(spark, sf_dir, "events")
    # the ×32 fan-out and its md5 draws are the query's whole cost; a
    # one-file events scan would run them in one task. The draws are
    # content-addressed, so spreading them changes no value.
    reps = ensure_parallelism(
        ev.select("event_type", "value", "event_id")
    ).select(
        "event_type",
        "value",
        F.col("event_id"),
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("r"),
    ).select(
        "event_type",
        "value",
        "r",
        F.concat_ws(":", F.col("event_id"), F.col("r")).alias("seed"),
    )
    u = F.greatest(
        F.conv(F.substring(F.md5(F.col("seed")), 1, 15), 16, 10)
        .cast("double")
        / F.lit(float(2**60)),
        F.lit(2.0 ** -60),
    )
    k = F.lit(6)
    for kk in range(len(_POIS1_CDF) - 1, -1, -1):
        k = F.when(u < float(_POIS1_CDF[kk]), F.lit(kk)).otherwise(k)
    drawn = reps.select("event_type", "r", k.alias("k"), money("value").alias("v"))
    rmeans = (
        drawn.groupBy("event_type", "r")
        .agg(
            F.sum(F.col("k") * F.col("v")).alias("s"),
            F.sum("k").alias("n"),
        )
        .where(F.col("n") > 0)
        .select(
            "event_type",
            "r",
            (
                F.round(F.col("s").cast("double") / F.col("n"), 6)
                + F.lit(0.0)
            ).alias("mean_r"),
        )
    )
    wr = W.partitionBy("event_type").orderBy("mean_r", "r")
    wc = W.partitionBy("event_type")
    ranked = rmeans.select(
        "event_type",
        "mean_r",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wc).alias("n_reps"),
    )
    ci = ranked.groupBy("event_type", "n_reps").agg(
        F.max(F.when(F.col("rn") == 2, F.col("mean_r"))).alias("ci_lo"),
        F.max(
            F.when(F.col("rn") == F.col("n_reps") - 1, F.col("mean_r"))
        ).alias("ci_hi"),
    )
    pt = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        (
            F.round(
                F.sum(money("value")).cast("double") / F.count("*"), 6
            )
            + F.lit(0.0)
        ).alias("mean_value"),
    )
    return (
        pt.join(F.broadcast(ci), "event_type")
        .select(
            "event_type", "n_events", "mean_value", "ci_lo", "ci_hi", "n_reps"
        )
        .orderBy("event_type")
    )


@query(
    "qe38_churn_hazard",
    oracle="""
WITH u AS (
  SELECT user_id,
         CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS first_day,
         CAST(date_trunc('day', MAX(ts)) AS TIMESTAMP) AS last_day
  FROM events GROUP BY user_id
),
g AS (
  SELECT first_day, last_day, CAST(COUNT(*) AS BIGINT) AS n
  FROM u GROUP BY first_day, last_day
),
d AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events),
sums AS (
  SELECT d.day,
         CAST(SUM(CASE WHEN g.first_day <= d.day AND g.last_day >= d.day
                       THEN g.n ELSE 0 END) AS BIGINT) AS n_at_risk,
         CAST(SUM(CASE WHEN g.last_day = d.day THEN g.n ELSE 0 END)
              AS BIGINT) AS n_churned
  FROM d CROSS JOIN g
  GROUP BY d.day
)
SELECT day, n_at_risk, n_churned,
       ROUND(CAST(n_churned AS DOUBLE) / n_at_risk, 6) + 0 AS hazard
FROM sums
ORDER BY day
""",
)
def qe38(spark, sf_dir):
    """Discrete-time churn hazard (survival analysis over the event
    log): for each observed day d, the risk set is every user whose
    activity span covers d (first_day <= d <= last_day) and the
    hazard is the share of that risk set whose LAST event falls on d.
    qe27's growth accounting counts day-over-day state transitions;
    this is the survival-curve view a retention model is trained on
    — per-day conditional churn probability with its exact risk-set
    denominator.

    Scale shape: the naive formulation explodes events x days; here
    users collapse to an activity-span grid grouped by (first_day,
    last_day) — at most |days|^2 rows no matter how many users — and
    the day table (bounded by the calendar) cross-joins the
    BROADCAST grid, so after the two groupBys nothing large moves.
    Every day observed in the log has >= 1 user at risk (the user
    who produced the day's events), so the hazard division is safe.
    Integer counts end to end; the single double is rounded and
    signed-zero-guarded on both engines."""
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_day"),
        F.date_trunc("day", F.max("ts")).alias("last_day"),
    )
    g = u.groupBy("first_day", "last_day").agg(F.count("*").alias("n"))
    d = ev.select(F.date_trunc("day", "ts").alias("day")).distinct()
    sums = (
        d.crossJoin(F.broadcast(g))
        .groupBy("day")
        .agg(
            F.sum(
                F.when(
                    (F.col("first_day") <= F.col("day"))
                    & (F.col("last_day") >= F.col("day")),
                    F.col("n"),
                ).otherwise(F.lit(0))
            ).alias("n_at_risk"),
            F.sum(
                F.when(F.col("last_day") == F.col("day"), F.col("n")).otherwise(
                    F.lit(0)
                )
            ).alias("n_churned"),
        )
    )
    return sums.select(
        "day",
        "n_at_risk",
        "n_churned",
        (
            F.round(F.col("n_churned").cast("double") / F.col("n_at_risk"), 6)
            + F.lit(0.0)
        ).alias("hazard"),
    ).orderBy("day")


@query(
    "qe39_seasonal_backtest",
    oracle=f"""
WITH {sql_daily_counts("vol")},
scored AS (
  SELECT cur.event_type, cur.vol AS actual, prev.vol AS forecast,
         ABS(cur.vol - prev.vol) AS abs_err
  FROM daily cur JOIN daily prev
    ON cur.event_type = prev.event_type AND cur.day = prev.day + 7
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       CAST(SUM(actual) AS BIGINT) AS total_actual,
       CAST(SUM(abs_err) AS BIGINT) AS total_abs_err,
       ROUND(CAST(SUM(abs_err) AS DOUBLE) / COUNT(*), 6) + 0 AS mae,
       ROUND(CAST(SUM(abs_err) AS DOUBLE) / SUM(actual), 6) + 0 AS wape
FROM scored
GROUP BY event_type
ORDER BY event_type
""",
)
def qe39(spark, sf_dir):
    """Seasonal-naive forecast backtest — the evaluation loop a volume
    forecasting model is judged against: predict each day's per-type
    event volume with the same weekday one week earlier (the
    seasonal-naive baseline every published forecast must beat) and
    score MAE and WAPE per event type over every day that has a
    7-day-back observation. qm19 FITS a trend and qe34 ranks trending
    types; this closes the loop with the error measurement itself,
    and the seasonal-naive errors it reports are the denominators a
    MASE computation would feed on.

    Scale shape: one groupBy to the (type, day) grid — bounded by
    |types|·|days| regardless of event volume — then a self equi
    join ON day = prev_day + 7 (exact calendar semantics; a lag-7
    ROW window would silently misalign across gaps) and a rollup to
    |types| rows. Numerators are exact integer |error| sums; the two
    divisions are round-6 with the signed-zero guard, and actual > 0
    by construction (a scored day has >= 1 event)."""
    d = daily_counts(t(spark, sf_dir, "events"), "vol")
    cur = d.select(
        "event_type", "day", F.col("vol").alias("actual")
    )
    prev = d.select(
        "event_type",
        F.date_add("day", 7).alias("day"),
        F.col("vol").alias("forecast"),
    )
    scored = cur.join(prev, ["event_type", "day"]).select(
        "event_type",
        "actual",
        F.abs(F.col("actual") - F.col("forecast")).alias("abs_err"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").alias("n_scored"),
            F.sum("actual").alias("total_actual"),
            F.sum("abs_err").alias("total_abs_err"),
            (
                F.round(F.sum("abs_err").cast("double") / F.count("*"), 6)
                + F.lit(0.0)
            ).alias("mae"),
            (
                F.round(
                    F.sum("abs_err").cast("double") / F.sum("actual"), 6
                )
                + F.lit(0.0)
            ).alias("wape"),
        )
        .orderBy("event_type")
    )
