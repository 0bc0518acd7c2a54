"""Event-analytics and graph-analytics surface: cohort retention,
last-touch attribution, hypertable-style cascading rollups, and
PageRank over the part–supplier bipartite graph.

These extend the SURVEY §2.B inventory with the remaining shapes a
warehouse-grade engine is expected to cover (cohort matrices,
attribution windows, continuous-aggregate rollups, iterative graph
ranking). Hash-matching rules follow FIXTURES.md §3: floats rounded
to 6 dp (money 2 dp) on both sides, timestamps emitted as formatted
strings, computed integers cast to BIGINT, deterministic tie-breaks
on any row_number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_2_semantic_similarity_spark.operators.rank import (
    ntile_from_rank,
    with_global_rank,
)
from project_2_semantic_similarity_spark.plans.registry import query
from project_2_semantic_similarity_spark.sources import load_table


# ------------------------------------------------------- retention

@query(
    "events_retention",
    oracle="""
WITH cohort AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT c.cohort_date,
           date_diff('day', c.cohort_date, CAST(e.ts AS DATE)) AS day_offset,
           e.user_id
    FROM events e JOIN cohort c ON c.user_id = e.user_id
)
SELECT strftime(cohort_date, '%Y-%m-%d') AS cohort_date,
       CAST(day_offset AS BIGINT) AS day_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM activity
WHERE day_offset <= 30
GROUP BY cohort_date, day_offset
""",
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity date,
    counted once per (cohort, day-offset) they were active on.

    Scale shape: two hash aggregations and one equi-join, all keyed on
    user_id — the cohort relation is |users| rows (small vs events) so
    AQE broadcast-joins it back; the distinct and final count are
    map-side-combined hash aggs over (cohort_date, day_offset, user)
    whose key space is bounded by |users| × horizon. No window sort,
    no per-user event ordering — the canonical retention query stays a
    pure aggregation pipeline at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_date"))
    activity = (
        ev.join(cohort, "user_id")
        .select(
            "cohort_date",
            F.datediff(F.to_date("ts"), F.col("cohort_date"))
            .alias("day_offset"),
            "user_id",
        )
        .filter(F.col("day_offset") <= 30)
        .distinct()
    )
    return (
        activity.groupBy("cohort_date", "day_offset")
        .agg(F.count("*").alias("n_users"))
        .select(
            F.date_format("cohort_date", "yyyy-MM-dd").alias("cohort_date"),
            F.col("day_offset").cast("bigint").alias("day_offset"),
            "n_users",
        )
    )


# ----------------------------------------------------- attribution

@query(
    "events_attribution",
    oracle="""
WITH purchases AS (
    SELECT event_id AS purchase_id, user_id, ts AS p_ts
    FROM events WHERE event_type = 'purchase'
),
touches AS (
    SELECT event_id AS touch_id, user_id, event_type AS touch_type,
           ts AS t_ts
    FROM events WHERE event_type IN ('click', 'view')
),
ranked AS (
    SELECT p.purchase_id, p.user_id, t.touch_id, t.touch_type,
           row_number() OVER (
               PARTITION BY p.purchase_id
               ORDER BY t.t_ts DESC, t.touch_id DESC) AS rn
    FROM purchases p
    LEFT JOIN touches t
      ON t.user_id = p.user_id
     AND t.t_ts <= p.p_ts
     AND t.t_ts > p.p_ts - INTERVAL 1 HOUR
)
SELECT purchase_id, user_id, touch_id, touch_type
FROM ranked WHERE rn = 1
""",
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the latest
    click/view by the same user inside a 1-hour lookback window
    (NULL touch when nothing qualifies — unattributed purchases are
    kept, not dropped).

    Scale shape: the candidate join is an equi-join on user_id with
    the time predicates as join-level filters, so the pair blow-up is
    bounded by events-per-user-per-hour, not by corpus size; the
    winner is picked with a row_number window partitioned by
    purchase_id (tie-broken on (ts, touch_id) for determinism).
    Both the join and the window hash-partition on keys derived from
    user activity — skew equals the hottest single user, which AQE's
    skew-join split handles. This is the bounded-horizon variant of
    join_asof (operators/joins.py): same semantics, expressed as
    join+window so the lookback cap prunes candidates before the sort."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"))
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("t_ts"))
    cand = purchases.join(
        touches,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("t_ts").desc(), F.col("touch_id").desc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("purchase_id", "user_id", "touch_id", "touch_type")
    )


# ------------------------------------------------ hypertable rollup

@query(
    "events_rollup_hypertable",
    oracle="""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS bucket, event_type,
           count(*) AS n_events, sum(value) AS sum_value
    FROM events GROUP BY bucket, event_type
),
daily AS (
    -- group by the explicit expression: a bare `bucket` here binds to
    -- hourly.bucket (the hour), not the day alias
    SELECT date_trunc('day', bucket) AS bucket, event_type,
           sum(n_events) AS n_events, sum(sum_value) AS sum_value
    FROM hourly GROUP BY date_trunc('day', bucket), event_type
)
SELECT 'hour' AS grain, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       event_type, CAST(n_events AS BIGINT) AS n_events,
       round(sum_value, 2) AS sum_value
FROM hourly
UNION ALL
SELECT 'day' AS grain, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       event_type, CAST(n_events AS BIGINT) AS n_events,
       round(sum_value, 2) AS sum_value
FROM daily
""",
)
def events_rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascading rollup (the TimescaleDB
    continuous-aggregate pattern): hourly partials aggregated once
    from raw events, then the DAILY grain re-aggregated FROM THE
    HOURLY PARTIALS — the raw relation is scanned exactly once no
    matter how many grains the cascade emits.

    Scale shape: the hourly agg is a map-side-combined hash agg whose
    key space is hours × event_types (tiny vs events); the daily
    re-agg runs over that already-reduced relation, so each extra
    grain costs O(buckets), not O(events). At 100 TB this is the
    difference between one scan and one scan per grain. sum_value is
    rounded only at the EDGE (2 dp) — the cascade itself re-aggregates
    unrounded partials, so hour-level and day-level sums stay
    consistent with a direct daily aggregation."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", "bucket").alias("bucket"), "event_type"
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
    )

    def edge(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.round("sum_value", 2).alias("sum_value"),
        )

    return edge(hourly, "hour").unionAll(edge(daily, "day"))


# ------------------------------------------------------- pagerank

_PR_DAMPING = 0.85

# Symmetric bipartite edge list over distinct (part, supplier)
# shipping relationships: p:<key> <-> s:<key>. Symmetry guarantees no
# dangling nodes, so the PageRank update needs no leaked-mass term.
_PR_EDGES_CTE = """
edges AS (
    SELECT 'p' || CAST(l_partkey AS VARCHAR) AS src,
           's' || CAST(l_suppkey AS VARCHAR) AS dst
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    UNION ALL
    SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
           'p' || CAST(l_partkey AS VARCHAR) AS dst
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
),
outdeg AS (
    SELECT src, count(*) AS deg FROM edges GROUP BY src
)
"""


def _pr_iter_ctes(n_iters: int) -> str:
    """Unrolled PageRank iterations as chained CTEs (r0 .. r<n>).
    DuckDB has no mutable state, so the oracle unrolls the loop the
    same way the Spark plan chains DataFrames — identical dataflow,
    independently evaluated."""
    ctes = ["r0 AS (SELECT src AS node, 1.0 AS rank FROM outdeg)"]
    for i in range(1, n_iters + 1):
        ctes.append(f"""
r{i} AS (
    SELECT d.src AS node,
           0.15 + {_PR_DAMPING} * coalesce(c.contrib, 0.0) AS rank
    FROM outdeg d
    LEFT JOIN (
        SELECT e.dst, sum(r.rank / o.deg) AS contrib
        FROM edges e
        JOIN r{i - 1} r ON r.node = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
    ) c ON c.dst = d.src
)""")
    return ",\n".join(ctes)


def _pagerank_oracle(n_iters: int) -> str:
    return f"""
WITH {_PR_EDGES_CTE.strip().rstrip()},
{_pr_iter_ctes(n_iters)}
SELECT node, round(rank, 6) AS rank
FROM r{n_iters}
"""


def _pagerank_spark(spark: SparkSession, sf_dir: str,
                    n_iters: int) -> DataFrame:
    """Shared PageRank dataflow. Edges are the symmetric bipartite
    part<->supplier graph; ranks start at 1.0 and update
    r' = 0.15 + 0.85 * sum(in-contributions).

    Scale shape: per iteration one equi-join (edges ⋈ ranks on src —
    edges pre-partitioned by src would make this shuffle-free; here
    AQE handles it) and one hash agg on dst; the rank relation is
    |nodes| rows, orders of magnitude below |edges|, so at cluster
    scale it broadcast-joins. Each iteration's result is persisted
    and the previous released, exactly the per-round
    persist-and-release discipline of operators/graph.py's label
    propagation (the iterative-algorithm pattern this engine uses for
    all fixed-point computations); lineage stays O(1) per round."""
    li = load_table(spark, sf_dir, "lineitem")
    # Loop-invariant build, engineered for ONE pass over the distinct
    # pair relation (measured at sf0.1: the naive
    # distinct→union→groupBy→self-join chain on concatenated STRING
    # ids cost 10.7 s just to fill the edge cache; this numeric
    # formulation fills in ~3 s and iterates ~2× faster):
    #   - node ids stay (kind, key) numeric pairs until the final
    #     output select — string concat never enters a join or agg;
    #   - per-side out-degrees are two small aggs (|parts|, |supps|
    #     rows) that AQE broadcasts back onto the pair relation, so
    #     the symmetric edge list + weights is ONE narrow map over
    #     the persisted join result, not a second distinct+groupBy.
    from project_2_semantic_similarity_spark.operators.graph import (
        pagerank_weighted)

    rel = li.select("l_partkey", "l_suppkey").distinct()
    pdeg = rel.groupBy("l_partkey").agg(F.count("*").alias("p_deg"))
    sdeg = rel.groupBy("l_suppkey").agg(F.count("*").alias("s_deg"))
    pairs = (rel.join(F.broadcast(pdeg), "l_partkey")
             .join(F.broadcast(sdeg), "l_suppkey")).persist()
    # bit-packed BIGINT node ids: part = key, supplier = key + 2^40
    # (keys sit far below 2^40 at any declared SF) — one numeric
    # join/agg key, unpacked to the oracle's 'p…'/'s…' string ids
    # only at the output edge
    _SUPP = 1 << 40
    wedges = (
        pairs.select(
            F.col("l_partkey").alias("src"),
            (F.col("l_suppkey") + _SUPP).alias("dst"),
            (F.lit(1.0) / F.col("p_deg")).alias("w"))
        .unionAll(pairs.select(
            (F.col("l_suppkey") + _SUPP).alias("src"),
            F.col("l_partkey").alias("dst"),
            (F.lit(1.0) / F.col("s_deg")).alias("w")))
    )
    nodes = (
        pdeg.select(F.col("l_partkey").alias("node"))
        .unionAll(sdeg.select((F.col("l_suppkey") + _SUPP).alias("node")))
    )
    ranks = pagerank_weighted(wedges, nodes, n_iters=n_iters,
                              damping=_PR_DAMPING)
    result = ranks.select(
        F.when(F.col("node") >= _SUPP,
               F.concat(F.lit("s"),
                        (F.col("node") - _SUPP).cast("string")))
        .otherwise(F.concat(F.lit("p"), F.col("node").cast("string")))
        .alias("node"),
        F.round("rank", 6).alias("rank"))
    pairs.unpersist()
    return result


@query("graph_pagerank_step", oracle=_pagerank_oracle(1))
def graph_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE PageRank iteration from uniform init — fully
    SQL-expressible, so the per-iteration arithmetic (contribution
    join + damped sum) is hash-pinned against the oracle; the
    multi-iteration twin below reuses the identical dataflow."""
    return _pagerank_spark(spark, sf_dir, 1)


@query("graph_pagerank", oracle=_pagerank_oracle(5))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five PageRank iterations (the kmeans-step pattern in reverse:
    here even the full iterative run is hash-pinned, because the
    oracle unrolls the loop as chained CTEs — float sum-order drift
    stays far below the 6 dp edge rounding for ranks of magnitude
    ~1)."""
    return _pagerank_spark(spark, sf_dir, 5)


@query(
    "events_anomaly_zscore",
    oracle="""
WITH stats AS (
    SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
    FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round((e.value - s.mu) / s.sigma, 6) AS z
FROM events e JOIN stats s ON s.event_type = e.event_type
WHERE abs((e.value - s.mu) / s.sigma) > 2.5
""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier detection: events whose value sits
    more than 2.5 population-σ from their type's mean.

    Scale shape: the per-type stats relation is |event_types| rows —
    one map-side-combined agg, broadcast back over a second narrow
    scan; the filter stays a codegen'd Column predicate. The
    two-scan shape is deliberate (vs a window over event_type):
    a window would shuffle the FULL corpus by a 5-value key — the
    worst possible skew — while the broadcast re-scan shuffles
    nothing at all."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_pop("value").alias("sigma"))
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.5)
        .select("event_id", "event_type", F.round(z, 6).alias("z"))
    )


@query(
    "events_path_transitions",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
),
trans AS (
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
),
tot AS (SELECT prev_type, sum(n) AS t FROM trans GROUP BY prev_type)
SELECT tr.prev_type, tr.next_type,
       CAST(tr.n AS BIGINT) AS n,
       round(tr.n / CAST(tot.t AS DOUBLE), 6) AS p
FROM trans tr JOIN tot ON tot.prev_type = tr.prev_type
""",
)
def events_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event paths:
    per-user chronological lag pairs (tie-broken on event_id),
    counted into (prev → next) cells with row-normalized transition
    probabilities — the path-analysis primitive behind funnels,
    next-action prediction, and session flow charts.

    Scale shape: ONE shuffle by user_id feeds the lag window (the
    same partitioning win_sessionize and scd2_history ride); the
    transition agg collapses to |event_types|² cells map-side, and
    the row totals join is a broadcast of a |event_types|-row
    aggregate. Nothing after the window sort touches data-sized
    relations."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"))
    trans = (seq.filter(F.col("prev_type").isNotNull())
             .groupBy("prev_type", F.col("event_type").alias("next_type"))
             .agg(F.count("*").alias("n")))
    tot = trans.groupBy("prev_type").agg(F.sum("n").alias("t"))
    return (
        trans.join(F.broadcast(tot), "prev_type")
        .select("prev_type", "next_type",
                F.col("n").cast("bigint").alias("n"),
                F.round(F.col("n") / F.col("t").cast("double"), 6)
                .alias("p"))
    )


@query(
    "win_streak",
    oracle="""
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
grp AS (
    SELECT user_id, day,
           day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
    FROM days
),
streaks AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS len,
           strftime(min(day), '%Y-%m-%d') AS streak_start
    FROM grp GROUP BY user_id, anchor
)
SELECT user_id, len AS longest_streak, streak_start
FROM (
    SELECT user_id, len, streak_start,
           row_number() OVER (
               PARTITION BY user_id
               ORDER BY len DESC, streak_start ASC) AS rn
    FROM streaks
) WHERE rn = 1
""",
)
def win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the third
    gaps-and-islands variant in the engine (win_sessionize islands on
    TIME GAPS, scd2_history on VALUE CHANGES, this on CALENDAR
    ADJACENCY), via the date-minus-row_number anchor trick:
    consecutive days share an anchor, so streaks fall out of one
    GROUP BY with no self-join.

    Scale shape: the distinct collapses events to user-days FIRST
    (bounded by users × horizon, ≪ events), then anchor window +
    both aggs all share the user_id partitioning — one exchange
    chain, no data-sized relation after the distinct. Ties on streak
    length break to the earliest start for determinism."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w)))
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count("*").alias("len"),
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("streak_start"))
    wbest = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("streak_start").asc())
    return (
        streaks.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("len").cast("bigint")
                .alias("longest_streak"), "streak_start")
    )


@query(
    "events_ab_test",
    oracle="""
WITH assigned AS (
    SELECT event_type, value,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               % 2 AS arm
    FROM events
),
cells AS (
    SELECT event_type, arm, count(*) AS n, avg(value) AS mu,
           var_pop(value) AS v
    FROM assigned GROUP BY event_type, arm
),
wide AS (
    SELECT a.event_type,
           a.n AS n_a, b.n AS n_b, a.mu AS mu_a, b.mu AS mu_b,
           a.v AS v_a, b.v AS v_b
    FROM cells a JOIN cells b
      ON a.event_type = b.event_type AND a.arm = 0 AND b.arm = 1
)
SELECT event_type,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(mu_b - mu_a, 6) AS lift,
       round((mu_b - mu_a) / sqrt(v_a / n_a + v_b / n_b), 6) AS z_stat
FROM wide
""",
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout: users deterministically hash-split
    into arms (portable md5 parity — the same RNG-free assignment
    discipline as sample_hash_split, so any engine re-derives who
    was in which arm), then per-event-type Welch z-statistics on the
    value metric: lift = mean(B) − mean(A),
    z = lift / sqrt(v_a/n_a + v_b/n_b).

    Scale shape: assignment is a narrow map (no shuffle, no
    randomness, immune to partitioning/replay); the whole analysis
    is ONE map-side-combined hash agg to |event_types|×2 moment
    cells, then an arms self-join over that driver-sized relation.
    Power at 100 TB costs exactly one scan regardless of arm count
    or metric count (add moments to the same agg)."""
    from project_2_semantic_similarity_spark.operators.dedup import (
        portable_hash60)

    ev = load_table(spark, sf_dir, "events")
    assigned = ev.select(
        "event_type", "value",
        (portable_hash60(F.col("user_id").cast("string")) % 2)
        .alias("arm"))
    cells = assigned.groupBy("event_type", "arm").agg(
        F.count("*").alias("n"), F.avg("value").alias("mu"),
        F.var_pop("value").alias("v"))
    a = cells.filter(F.col("arm") == 0).select(
        "event_type", F.col("n").alias("n_a"),
        F.col("mu").alias("mu_a"), F.col("v").alias("v_a"))
    b = cells.filter(F.col("arm") == 1).select(
        F.col("event_type").alias("et_b"), F.col("n").alias("n_b"),
        F.col("mu").alias("mu_b"), F.col("v").alias("v_b"))
    wide = a.join(b, F.col("event_type") == F.col("et_b"))
    lift = F.col("mu_b") - F.col("mu_a")
    return wide.select(
        "event_type",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(lift, 6).alias("lift"),
        F.round(lift / F.sqrt(F.col("v_a") / F.col("n_a")
                              + F.col("v_b") / F.col("n_b")), 6)
        .alias("z_stat"),
    )


@query(
    "orders_rfm",
    oracle="""
WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
base AS (
    SELECT o.o_custkey AS custkey,
           date_diff('day', max(o.o_orderdate), a.mx) AS recency_days,
           count(*) AS frequency,
           round(sum(o.o_totalprice), 2) AS monetary
    FROM orders o CROSS JOIN anchor a
    GROUP BY o.o_custkey, a.mx
)
SELECT custkey,
       CAST(recency_days AS BIGINT) AS recency_days,
       CAST(frequency AS BIGINT) AS frequency,
       monetary,
       CAST(ntile(5) OVER (ORDER BY recency_days ASC, custkey)
            AS BIGINT) AS r_score,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, custkey)
            AS BIGINT) AS f_score,
       CAST(ntile(5) OVER (ORDER BY monetary DESC, custkey)
            AS BIGINT) AS m_score
FROM base
""",
)
def orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order,
    against the table's own max date so the query is reproducible),
    frequency, monetary, each bucketed into quintiles with ntile —
    tie-broken on custkey so bucket boundaries are deterministic
    across engines and runs.

    Scale shape: ONE hash agg to customer grain (orders reduced
    |customers|-fold before any window); the anchor date rides a
    broadcast 1-row aggregate. Each quintile score is an EXACT ntile
    reconstructed from a scale-safe global rank
    (operators/rank.with_global_rank: repartitionByRange + N parallel
    per-partition sorts + broadcast offset table) and the closed-form
    ANSI ntile fill rule (ntile_from_rank) — no partition-less window
    exchange anywhere in the plan (the r5 VERDICT's #2 item)."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    base = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey", "mx")
        .agg(
            F.datediff(F.to_date(F.first("mx")),
                       F.to_date(F.max("o_orderdate")))
            .alias("recency_days"),
            F.count("*").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"))
        .select(F.col("o_custkey").alias("custkey"),
                "recency_days", "frequency", "monetary")
    )
    scored = base
    for keys, score in (
        ([F.col("recency_days").asc(), F.col("custkey").asc()], "r_score"),
        ([F.col("frequency").desc(), F.col("custkey").asc()], "f_score"),
        ([F.col("monetary").desc(), F.col("custkey").asc()], "m_score"),
    ):
        scored = with_global_rank(
            scored, keys, rank_col="_rk", with_total="_n")
        scored = scored.withColumn(
            score, ntile_from_rank(F.col("_rk"), F.col("_n"), 5)
        ).drop("_rk", "_n")
    return scored.select(
        "custkey",
        F.col("recency_days").cast("bigint").alias("recency_days"),
        F.col("frequency").cast("bigint").alias("frequency"),
        "monetary", "r_score", "f_score", "m_score",
    )


@query(
    "events_forecast_backtest",
    oracle="""
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket,
           CAST(extract(hour FROM ts) AS BIGINT) AS hod,
           count(*) AS n
    FROM events GROUP BY event_type, date_trunc('hour', ts),
                         extract(hour FROM ts)
),
split AS (
    SELECT *, CASE WHEN bucket < TIMESTAMP '2024-01-21' THEN 'train'
                   ELSE 'test' END AS fold
    FROM hourly
),
model AS (
    SELECT event_type, hod, avg(n) AS predicted
    FROM split WHERE fold = 'train' GROUP BY event_type, hod
)
SELECT s.event_type,
       CAST(count(*) AS BIGINT) AS n_test_hours,
       round(avg(abs(s.n - m.predicted)), 6) AS mae,
       round(avg(s.n - m.predicted), 6) AS bias
FROM split s JOIN model m
  ON m.event_type = s.event_type AND m.hod = s.hod
WHERE s.fold = 'test'
GROUP BY s.event_type
""",
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast baseline + backtest in one plan: a seasonal-naive
    model (mean hourly count per (type, hour-of-day) over the first
    20 days) scored on the held-out tail with MAE and bias per type
    — the evaluation loop every production forecaster runs, with the
    time-based split that keeps it honest (no random splits on time
    series; the cut is a timestamp literal, fully reproducible).

    Scale shape: raw events reduce to the hourly grain FIRST (one
    map-side-combined agg — the same reduction discipline as the
    rollup cascade); the model is |types|×24 rows and broadcasts
    onto the test partition; the error agg is driver-sized. Swapping
    in a real model changes only the `model` relation — the
    backtest scaffolding (split, join, error agg) is
    model-agnostic."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").alias("bucket"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(F.count("*").alias("n"))
    split = hourly.withColumn(
        "fold",
        F.when(F.col("bucket") < F.lit("2024-01-21").cast("timestamp"),
               "train").otherwise("test"))
    model = (split.filter(F.col("fold") == "train")
             .groupBy("event_type", "hod")
             .agg(F.avg("n").alias("predicted")))
    test = split.filter(F.col("fold") == "test")
    return (
        test.join(F.broadcast(model), ["event_type", "hod"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_test_hours"),
            F.round(F.avg(F.abs(F.col("n") - F.col("predicted"))), 6)
            .alias("mae"),
            F.round(F.avg(F.col("n") - F.col("predicted")), 6)
            .alias("bias"))
    )


@query(
    "graph_cc_star",
    oracle="""
SELECT o_orderkey AS node, min_ok AS component_id
FROM (
    SELECT o_orderkey,
           min(o_orderkey) OVER (PARTITION BY o_custkey) AS min_ok,
           count(*) OVER (PARTITION BY o_custkey) AS n
    FROM orders
) t
WHERE n >= 2
""",
)
def graph_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (operators/graph.py connected_components_star, Kiveris et al.
    SoCC'14) — the O(log n)-round CC for HIGH-DIAMETER graphs, where
    the min-label propagation behind dedup_clusters would need
    O(diameter) shuffle rounds. Exercised on a graph that is
    genuinely deep: each customer's orders linked in a chain
    (order → next order by key), so a 25-order customer is a
    25-node path, diameter 24 — label propagation needs 24 rounds,
    star alternation ~5.

    The oracle never runs the algorithm: on THIS graph the
    component of every node is provably the per-customer minimum
    order key (a chain connects exactly one customer's orders), so
    one window aggregate states the expected fixed point and the
    driver hash checks the generic iterative plan lands exactly
    there — same oracle strategy as cluster_kmeans (independent
    closed-form, not re-simulation)."""
    from project_2_semantic_similarity_spark.operators.graph import (
        connected_components_star)

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    chain = (
        o.select("o_custkey", "o_orderkey",
                 F.lead("o_orderkey").over(w).alias("nxt"))
        .filter(F.col("nxt").isNotNull())
    )
    edges = chain.select(F.col("o_orderkey").alias("u"),
                         F.col("nxt").alias("v"))
    return connected_components_star(edges, "u", "v").select(
        "node", "component_id")


@query(
    "orders_cohort_ltv",
    oracle="""
WITH firsts AS (
    SELECT o_custkey,
           min(date_trunc('month', o_orderdate)) AS cohort
    FROM orders GROUP BY 1
),
aged AS (
    SELECT f.cohort,
           date_diff('month', f.cohort,
                     date_trunc('month', o.o_orderdate)) AS age_months,
           o.o_custkey, o.o_totalprice
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
)
SELECT strftime(cohort, '%Y-%m') AS cohort_month,
       CAST(age_months AS INT) AS age_months,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       round(sum(o_totalprice), 2) AS revenue
FROM aged
GROUP BY cohort, age_months
""",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by
    first-order month, revenue accumulated by months-since-cohort —
    the (cohort × age) triangle every growth/finance team reads,
    and the revenue-weighted counterpart of events_retention's
    user-count triangle.

    Scale: one grouped min for the cohort relation (customer-sized,
    broadcastable), one equi-join back to orders, one group-by on
    (cohort, age) whose result is months² rows — driver-tiny. The
    calendar arithmetic is month-truncated on both sides so the
    month-diff is exact integer arithmetic in both engines."""
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort"))
    aged = o.join(F.broadcast(firsts), "o_custkey").select(
        "o_custkey", "o_totalprice", "cohort",
        F.months_between(
            F.date_trunc("month", "o_orderdate"), F.col("cohort"))
        .cast("int").alias("age_months"))
    return (
        aged.groupBy(
            F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
            "age_months")
        .agg(F.countDistinct("o_custkey").cast("bigint")
             .alias("n_customers"),
             F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@query(
    "win_locf_gapfill",
    oracle="""
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       event_type,
       round(last_value(CASE WHEN event_type <> 'view' THEN value END
                        IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             2) AS value_filled
FROM events
""",
)
def win_locf_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap filling — the IGNORE
    NULLS window family (last_value/lag skipping nulls) that every
    sensor/metrics pipeline leans on and that plain window frames
    cannot express: 'view' events are treated as carrying no
    measurement, and each row reads the most recent real measurement
    of the same user. Leading rows before any measurement stay NULL
    by contract (no fabrication).

    Scale: one hash-partitioned window per user ordered by (ts,
    event_id) — the unique event id makes tie order deterministic,
    so the fill is reproducible across engines and partitionings.
    Spark evaluates last(ignorenulls) incrementally over the running
    frame; no self-join, no gap materialization."""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    measured = F.when(F.col("event_type") != "view", F.col("value"))
    return ev.select(
        "user_id", "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "event_type",
        F.round(F.last(measured, ignorenulls=True).over(w), 2)
        .alias("value_filled"))


@query(
    "win_ema",
    oracle="""
WITH RECURSIVE daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS cnt
    FROM events GROUP BY user_id, CAST(ts AS DATE)
),
ranked AS (
    SELECT user_id, day, cnt,
           row_number() OVER (PARTITION BY user_id ORDER BY day) AS r
    FROM daily
),
ema AS (
    SELECT user_id, day, r, CAST(cnt AS DOUBLE) AS ema
    FROM ranked WHERE r = 1
    UNION ALL
    SELECT x.user_id, x.day, x.r, 0.25 * x.cnt + 0.75 * e.ema
    FROM ranked x JOIN ema e
      ON x.user_id = e.user_id AND x.r = e.r + 1
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day, round(ema, 6) AS ema
FROM ema
""",
)
def win_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential moving average of per-user daily activity
    (alpha = 0.25) — a LINEAR RECURRENCE (ema_t = a*x_t +
    (1-a)*ema_{t-1}) that no plain window frame can express: every
    output depends on the entire prefix through a multiply, not a
    frame aggregate. Implemented as one fold per user with the
    higher-order aggregate() over the sorted (day, count) sequence;
    the oracle is the same recurrence as a recursive CTE, with the
    multiply-add written in the identical order so IEEE doubles
    match bit-for-bit before rounding.

    Scale: the daily pre-aggregation is a map-side-combinable hash
    agg, so per-user state is bounded by the CALENDAR (days in
    range), not event volume; the fold is then O(days) per user on
    a relation of |users| x |days| rows. For multi-year horizons
    chunk the fold by month and carry the boundary EMA — the
    recurrence composes associatively through scans."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("user_id",
                        F.col("ts").cast("date").alias("day"))
             .agg(F.count("*").alias("cnt")))
    packed = daily.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("day", "cnt")))
        .alias("seq"))
    folded = packed.withColumn(
        "emas",
        F.aggregate(
            "seq",
            F.expr("CAST(array() AS ARRAY<DOUBLE>)"),
            lambda acc, x: F.concat(acc, F.array(
                F.when(F.size(acc) == 0, x["cnt"].cast("double"))
                .otherwise(F.lit(0.25) * x["cnt"]
                           + F.lit(0.75) * F.element_at(acc, -1))))))
    z = F.posexplode(F.arrays_zip("seq", "emas"))
    return (folded.select("user_id", z.alias("pos", "z"))
            .select("user_id",
                    F.date_format("z.seq.day", "yyyy-MM-dd")
                    .alias("day"),
                    F.round("z.emas", 6).alias("ema")))


@query(
    "orders_abc_pareto",
    oracle="""
WITH rev AS (
    SELECT l_partkey,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS rev_e4
    FROM lineitem GROUP BY l_partkey
),
cum AS (
    SELECT l_partkey, rev_e4,
           sum(rev_e4) OVER (ORDER BY rev_e4 DESC, l_partkey)
               AS cum_e4,
           sum(rev_e4) OVER () AS tot_e4
    FROM rev
),
cls AS (
    SELECT CASE WHEN CAST(cum_e4 AS DOUBLE) / tot_e4 <= 0.80 THEN 'A'
                WHEN CAST(cum_e4 AS DOUBLE) / tot_e4 <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class,
           rev_e4, tot_e4
    FROM cum
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(CAST(sum(rev_e4) AS DOUBLE) / 10000, 2) AS revenue,
       round(CAST(sum(rev_e4) AS DOUBLE) / max(tot_e4), 6)
           AS revenue_share
FROM cls GROUP BY abc_class
""",
)
def orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: rank parts by
    lifetime discounted revenue, cut the cumulative share at 80% (A)
    and 95% (B) — the classic inventory-priority analysis whose crux
    is a GLOBAL running sum over the part relation. Runs on the
    range-partitioned running-sum machinery (operators/rank.py
    with_global_running_sum) so the cumulative total never funnels
    through a single-partition window; revenue is carried as exact
    integer e4-units (cents x discount-percent), making the running
    sum association-free — identical in any engine regardless of
    partition boundaries, where a float cumsum would round
    differently per partitioning.

    Scale: fact -> part revenue is one map-side-combinable hash agg;
    everything after runs on the |parts| relation (range shuffle +
    broadcast offsets + one 3-group agg)."""
    from project_2_semantic_similarity_spark.operators.rank import (
        with_global_running_sum)

    li = load_table(spark, sf_dir, "lineitem")
    rev = (li.select(
        "l_partkey",
        (F.round(F.col("l_extendedprice") * 100).cast("bigint")
         * (F.lit(100)
            - F.round(F.col("l_discount") * 100).cast("bigint")))
        .alias("rev_e4"))
        .groupBy("l_partkey").agg(F.sum("rev_e4").alias("rev_e4")))
    cum = with_global_running_sum(
        rev, [F.col("rev_e4").desc(), F.col("l_partkey").asc()],
        "rev_e4", sum_col="cum_e4", with_total="tot_e4")
    share = F.col("cum_e4").cast("double") / F.col("tot_e4")
    cls = cum.select(
        F.when(share <= 0.80, "A")
        .when(share <= 0.95, "B")
        .otherwise("C").alias("abc_class"),
        "rev_e4", "tot_e4")
    return (cls.groupBy("abc_class")
            .agg(F.count("*").cast("bigint").alias("n_parts"),
                 F.round(F.sum("rev_e4").cast("double") / 10000, 2)
                 .alias("revenue"),
                 F.round(F.sum("rev_e4").cast("double")
                         / F.max("tot_e4"), 6)
                 .alias("revenue_share")))


@query(
    "graph_triangle_count",
    oracle="""
WITH pairs AS (
    SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
    SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
    FROM pairs e1
    JOIN pairs e2 ON e2.p1 = e1.p2
    JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
),
per_part AS (
    SELECT part, count(*) AS n_triangles FROM (
        SELECT a AS part FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ) GROUP BY part
)
SELECT CAST(part AS BIGINT) AS l_partkey,
       CAST(n_triangles AS BIGINT) AS n_triangles
FROM per_part
ORDER BY n_triangles DESC, part
LIMIT 20
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph (parts appearing in
    the same order), top-20 parts by triangle participation — the
    standard clustering-coefficient / community-density primitive.
    Edges are canonically oriented (p1 < p2) so each triangle
    materializes EXACTLY once as (a<b<c): two equi-join hops (wedge
    build + closing-edge check), never an undirected 6x blow-up. The
    edge relation is built once per lineitem snapshot and persisted
    (keyed_persist slot keyed on the source fingerprint), then drives
    all three join legs.

    Scale: edges re-orient LOW-degree -> HIGH-degree endpoint (ties
    by id) before the wedge join — Suri & Vassilvitskii's (WWW'11)
    bound: each wedge is counted at its lowest-degree corner, so
    wedge volume is Sum(out_deg^2) with out_deg <= O(sqrt(m)) instead
    of Sum(deg^2) on the hub nodes. Every triangle still materializes exactly once
    (its minimum-order corner has out-edges to the other two, whose
    closing edge carries the same orientation). The degree relation
    is node-cardinality, so its join is left unhinted: AQE
    broadcasts it when it fits the threshold and shuffle-joins it at
    billion-node scale. Top-20 rides TakeOrderedAndProject."""
    from project_2_semantic_similarity_spark.operators.cache import (
        keyed_persist)
    from project_2_semantic_similarity_spark.sources.tables import (
        source_fingerprint)

    def build():
        li = (load_table(spark, sf_dir, "lineitem")
              .select("l_orderkey", "l_partkey"))
        a, b = li.alias("a"), li.alias("b")
        pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                        & (F.col("a.l_partkey") < F.col("b.l_partkey")))
                 .select(F.col("a.l_partkey").alias("p1"),
                         F.col("b.l_partkey").alias("p2"))
                 .distinct())
        deg = (pairs.select(F.col("p1").alias("n"))
               .unionAll(pairs.select(F.col("p2").alias("n")))
               .groupBy("n").agg(F.count("*").alias("deg")))
        # deg is node-cardinality: small on TPC-H part keys, but at
        # billions of distinct nodes a forced broadcast would exceed
        # the broadcast threshold / driver memory — let AQE pick
        # broadcast vs shuffle join from the measured relation size.
        d1 = deg.alias("d1")
        d2 = deg.alias("d2")
        keyed = (pairs.join(d1, F.col("p1") == F.col("d1.n"))
                 .join(d2, F.col("p2") == F.col("d2.n"))
                 .select("p1", "p2",
                         F.col("d1.deg").alias("g1"),
                         F.col("d2.deg").alias("g2")))
        fwd = (F.col("g1") < F.col("g2")) | (
            (F.col("g1") == F.col("g2")) & (F.col("p1") < F.col("p2")))
        return keyed.select(
            F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("src"),
            F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
            F.when(fwd, F.col("g2")).otherwise(F.col("g1")).alias("gdst"))

    oriented = keyed_persist(
        "triangle_edges", (sf_dir, source_fingerprint(sf_dir, "lineitem")),
        build)
    e1, e2, e3 = (oriented.alias("e1"), oriented.alias("e2"),
                  oriented.alias("e3"))
    lt = (F.col("e1.gdst") < F.col("e2.gdst")) | (
        (F.col("e1.gdst") == F.col("e2.gdst"))
        & (F.col("e1.dst") < F.col("e2.dst")))
    tri = (e1.join(e2, (F.col("e2.src") == F.col("e1.src")) & lt)
           .join(e3, (F.col("e3.src") == F.col("e1.dst"))
                 & (F.col("e3.dst") == F.col("e2.dst")))
           .select(F.col("e1.src").alias("a"),
                   F.col("e1.dst").alias("b"),
                   F.col("e2.dst").alias("c")))
    corners = (tri.select(F.col("a").alias("part"))
               .unionAll(tri.select(F.col("b").alias("part")))
               .unionAll(tri.select(F.col("c").alias("part"))))
    return (corners.groupBy("part")
            .agg(F.count("*").cast("bigint").alias("n_triangles"))
            .select(F.col("part").cast("bigint").alias("l_partkey"),
                    "n_triangles")
            .orderBy(F.col("n_triangles").desc(), "l_partkey")
            .limit(20))


@query(
    "events_sliding_distinct_bitmap",
    oracle="""
WITH days AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
),
u AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_users_7d
FROM days d
JOIN u ON u.day BETWEEN d.day - 6 AND d.day
GROUP BY d.day
""",
)
def events_sliding_distinct_bitmap(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """EXACT sliding-window distinct — 7-day rolling active users —
    via bitmap-word algebra: COUNT(DISTINCT) does not decompose over
    overlapping windows (the classic sliding-distinct trap: a
    distinct-per-window self-join re-scans every event 7×), but
    bitmaps do — one pass builds per-day (word, mask) bitmaps, each
    day's relation is |users|/64 words, and a window's distinct
    count is popcount(OR of its days' masks). The 7× fan-out happens
    on the compressed bitmap relation, never on raw events — the
    same revisit-nothing contract as agg_bitmap_intersect, extended
    along the time axis (period merge = word-wise OR).

    Scale: events → daily bitmaps is one map-side-combinable agg;
    everything downstream is days × |users|/64 words. Output days
    are restricted to days present in the data (semi join with the
    broadcast day list)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            (F.col("user_id") / 64).cast("long").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), "
                   "CAST(user_id % 64 AS INT))").alias("m"))
        .groupBy("day", "w").agg(F.bit_or("m").alias("mask")))
    fanned = daily.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day", "w", "mask"
    ).select(F.date_add("day", F.col("off")).alias("target_day"),
             "w", "mask")
    wins = (fanned.groupBy("target_day", "w")
            .agg(F.bit_or("mask").alias("mask")))
    counts = (wins.groupBy("target_day")
              .agg(F.sum(F.bit_count("mask")).cast("bigint")
                   .alias("n_users_7d")))
    present = daily.select("day").distinct()
    return (counts.join(F.broadcast(present),
                        counts["target_day"] == present["day"],
                        "left_semi")
            .select(F.date_format("target_day", "yyyy-MM-dd")
                    .alias("day"),
                    "n_users_7d"))


@query(
    "events_decay_score",
    oracle="""
WITH ref AS (SELECT max(CAST(ts AS DATE)) AS ref_day FROM events),
aged AS (
    SELECT e.user_id, e.value,
           date_diff('day', CAST(e.ts AS DATE), r.ref_day) AS age
    FROM events e, ref r
    WHERE e.value IS NOT NULL AND NOT isnan(e.value)
)
SELECT user_id,
       round(sum(value * pow(0.5, CAST(age // 7 AS DOUBLE))), 6)
           AS decay_score,
       CAST(count(*) AS BIGINT) AS n_events
FROM aged GROUP BY user_id
""",
)
def events_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement score — the recency-weighted feature
    every ranking/churn model starts from: each event contributes
    value x 0.5^(weeks old), halving per week back from the
    corpus's last day. The decay weight is a DYADIC rational
    (0.5^integer), exactly representable in binary floating point,
    so per-row products are bit-identical across engines and the
    only float caveat is the usual summation rounding (round 6
    absorbs it). Reference day is a 1-row aggregate attached
    in-plan by broadcast — no driver scalar. NaN values are
    scrubbed first (fn_null's hygiene rule applied for real).

    Scale: one scan, one broadcast, one map-side-combinable hash
    agg — the decay weight folds into the projection, so this costs
    exactly what sum(value) costs."""
    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.col("ts").cast("date")).alias("ref_day"))
    aged = (ev.filter(F.col("value").isNotNull()
                      & ~F.isnan("value"))
            .crossJoin(F.broadcast(ref))
            .select(
                "user_id",
                (F.col("value")
                 * F.pow(F.lit(0.5),
                         F.floor(F.datediff("ref_day",
                                            F.col("ts").cast("date"))
                                 / 7).cast("double")))
                .alias("w")))
    return (aged.groupBy("user_id")
            .agg(F.round(F.sum("w"), 6).alias("decay_score"),
                 F.count("*").cast("bigint").alias("n_events")))


@query(
    "events_peak_concurrency",
    oracle="""
WITH flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id,
           ts
    FROM flagged
),
iv AS (
    SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
    FROM sess GROUP BY user_id, session_id
),
bounds AS (
    SELECT s AS ts, 1 AS delta, user_id, session_id FROM iv
    UNION ALL
    SELECT e, -1, user_id, session_id FROM iv
),
swept AS (
    SELECT ts, delta,
           sum(delta) OVER (
               ORDER BY ts, delta DESC, user_id, session_id
               ROWS UNBOUNDED PRECEDING) AS live
    FROM bounds
),
peak AS (SELECT max(live) AS peak FROM swept)
SELECT CAST(p.peak AS BIGINT) AS peak_concurrency,
       strftime(min(s.ts), '%Y-%m-%d %H:%M:%S') AS first_peak_ts
FROM swept s JOIN peak p ON s.live = p.peak
GROUP BY p.peak
""",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions — the sweep-line classic: sessions
    (win_sessionize's 30-minute-gap islands) become +1/−1 boundary
    events, and the live count at any instant is the running sum
    over the time-ordered boundary stream; the answer is its max and
    the first instant reaching it. Boundary rows ride
    with_global_running_sum (operators/rank.py) on the tie-broken
    order (ts, starts-before-ends, user, session) — integer deltas,
    so the sweep is exact and association-free, and the global
    running sum never funnels the boundary relation through one
    partition (the oracle's partition-less window is exactly the
    plan this avoids). Ends are inclusive: a session ending at the
    instant another starts counts as overlapping, deterministically
    in both engines via the delta DESC tie-break.

    Scale: boundaries = 2 rows per session (tiny vs events); the
    sweep is the range-partitioned machinery over that compressed
    relation."""
    from project_2_semantic_similarity_spark.operators.rank import (
        with_global_running_sum)

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id", "event_id", "ts",
        # µs-precision gap, matching win_sessionize (cast-to-long
        # truncates to seconds and can disagree with the oracle's
        # interval compare on sub-second boundaries)
        F.when(
            F.unix_micros("ts")
            - F.lag(F.unix_micros("ts")).over(w) >= 1_800_000_000, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0).alias("new_session"))
    sess = flagged.select(
        "user_id", "ts",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"))
    iv = (sess.groupBy("user_id", "session_id")
          .agg(F.min("ts").alias("s"), F.max("ts").alias("e")))
    bounds = (iv.select(F.col("s").alias("ts"),
                        F.lit(1).alias("delta"),
                        "user_id", "session_id")
              .unionAll(iv.select(F.col("e").alias("ts"),
                                  F.lit(-1).alias("delta"),
                                  "user_id", "session_id")))
    swept = with_global_running_sum(
        bounds,
        [F.col("ts").asc(), F.col("delta").desc(),
         F.col("user_id").asc(), F.col("session_id").asc()],
        "delta", sum_col="live")
    peak = swept.agg(F.max("live").alias("peak"))
    return (swept.join(F.broadcast(peak),
                       swept["live"] == peak["peak"])
            .groupBy("peak")
            .agg(F.min("ts").alias("first_ts"))
            .select(F.col("peak").cast("bigint")
                    .alias("peak_concurrency"),
                    F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("first_peak_ts")))


@query(
    "graph_khop_neighbors",
    oracle="""
WITH pairs AS (
    SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (
    SELECT p1 AS u, p2 AS v FROM pairs
    UNION ALL
    SELECT p2, p1 FROM pairs
),
hop1 AS (
    SELECT DISTINCT v AS part FROM edges WHERE u = 1 AND v <> 1
),
hop2 AS (
    SELECT DISTINCT e.v AS part
    FROM hop1 h JOIN edges e ON e.u = h.part
    WHERE e.v <> 1 AND e.v NOT IN (SELECT part FROM hop1)
)
SELECT part, CAST(1 AS BIGINT) AS hop FROM hop1
UNION ALL
SELECT part, CAST(2 AS BIGINT) FROM hop2
""",
)
def graph_khop_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-hop graph expansion — 2-hop BFS from a seed part
    over the co-purchase graph, each node labeled with its first
    (minimal) hop: the recommendation-candidate / blast-radius query
    (\"what co-occurs with X, directly or through one intermediary\").
    Each hop is ONE equi-join of the frontier against the edge
    relation followed by an anti-join against the visited set — the
    iterative-BFS round the graph loop operators (pagerank, CC) run
    unbounded, here unrolled to a fixed k so the whole expansion is
    one Catalyst plan and the oracle can state it as chained CTEs.

    Scale: frontier and visited relations are node-sized, edges
    shuffle once per hop on the join key; for large k switch to the
    persist-per-round loop discipline of operators/graph.py —
    identical joins, checkpointed lineage. The edge relation is a
    keyed_persist slot keyed on the lineitem snapshot."""
    from project_2_semantic_similarity_spark.operators.cache import (
        keyed_persist)
    from project_2_semantic_similarity_spark.sources.tables import (
        source_fingerprint)

    def build():
        li = (load_table(spark, sf_dir, "lineitem")
              .select("l_orderkey", "l_partkey"))
        a, b = li.alias("a"), li.alias("b")
        pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                        & (F.col("a.l_partkey") < F.col("b.l_partkey")))
                 .select(F.col("a.l_partkey").alias("p1"),
                         F.col("b.l_partkey").alias("p2"))
                 .distinct())
        return (pairs.select(F.col("p1").alias("u"),
                             F.col("p2").alias("v"))
                .unionAll(pairs.select(F.col("p2").alias("u"),
                                       F.col("p1").alias("v"))))

    edges = keyed_persist(
        "khop_edges", (sf_dir, source_fingerprint(sf_dir, "lineitem")),
        build)
    seed = 1
    hop1 = (edges.filter((F.col("u") == seed) & (F.col("v") != seed))
            .select(F.col("v").alias("part")).distinct())
    hop2 = (hop1.join(edges, hop1["part"] == edges["u"])
            .filter(F.col("v") != seed)
            .select(F.col("v").alias("part")).distinct()
            .join(hop1, "part", "left_anti"))
    return (hop1.select("part", F.lit(1).cast("bigint").alias("hop"))
            .unionAll(hop2.select(
                "part", F.lit(2).cast("bigint").alias("hop"))))


@query(
    "events_dau_mau_stickiness",
    oracle="""
WITH days AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
),
u AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
dau AS (
    SELECT day, count(*) AS dau FROM u GROUP BY day
),
mau AS (
    SELECT d.day, count(DISTINCT u.user_id) AS mau
    FROM days d
    JOIN u ON u.day BETWEEN d.day - 29 AND d.day
    GROUP BY d.day
)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST(a.dau AS BIGINT) AS dau,
       CAST(m.mau AS BIGINT) AS mau,
       round(a.dau / CAST(m.mau AS DOUBLE), 6) AS stickiness
FROM days d JOIN dau a ON a.day = d.day JOIN mau m ON m.day = d.day
""",
)
def events_dau_mau_stickiness(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """DAU / MAU / stickiness — THE product engagement triple, via
    the bitmap-word algebra: one pass builds per-day (word, mask)
    bitmaps; DAU is each day's own popcount, MAU the popcount of a
    30-day OR-merge, stickiness their ratio. Same
    compressed-relation contract as events_sliding_distinct_bitmap
    (the 30× fan-out rides |users|/64-word rows, never raw events) —
    where the oracle's range self-join re-touches every (day, user)
    row 30 times.

    Scale: events → daily bitmaps is the only event-volume term;
    everything after is days × words. The DAU and MAU branches share
    the daily bitmap relation (one aggregation, two readers)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            (F.col("user_id") / 64).cast("long").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), "
                   "CAST(user_id % 64 AS INT))").alias("m"))
        .groupBy("day", "w").agg(F.bit_or("m").alias("mask")))
    dau = (daily.groupBy("day")
           .agg(F.sum(F.bit_count("mask")).cast("bigint")
                .alias("dau")))
    fanned = daily.select(
        F.explode(F.sequence(F.lit(0), F.lit(29))).alias("off"),
        "day", "w", "mask"
    ).select(F.date_add("day", F.col("off")).alias("target_day"),
             "w", "mask")
    mau = (fanned.groupBy("target_day", "w")
           .agg(F.bit_or("mask").alias("mask"))
           .groupBy("target_day")
           .agg(F.sum(F.bit_count("mask")).cast("bigint")
                .alias("mau")))
    present = daily.select("day").distinct()
    return (dau.join(mau, dau["day"] == mau["target_day"])
            .join(F.broadcast(present.withColumnRenamed("day", "pd")),
                  F.col("day") == F.col("pd"), "left_semi")
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "dau", "mau",
                    F.round(F.col("dau") / F.col("mau").cast("double"),
                            6).alias("stickiness")))


@query(
    "win_interpolate_linear",
    oracle="""
WITH t AS (
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           event_type,
           epoch_us(ts) AS tu,
           CASE WHEN event_type <> 'view' THEN value END AS mv
    FROM events
),
ctx AS (
    SELECT user_id, event_id, ts_s, event_type, tu,
           last_value(mv IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tu, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS pv,
           last_value(CASE WHEN mv IS NOT NULL THEN tu END
                      IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tu, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS pt,
           first_value(mv IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tu, event_id
                     ROWS BETWEEN CURRENT ROW
                              AND UNBOUNDED FOLLOWING) AS nv,
           first_value(CASE WHEN mv IS NOT NULL THEN tu END
                       IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tu, event_id
                     ROWS BETWEEN CURRENT ROW
                              AND UNBOUNDED FOLLOWING) AS nt
    FROM t
)
SELECT user_id, event_id, ts_s AS ts, event_type,
       round(CASE
           WHEN pv IS NULL OR nv IS NULL THEN NULL
           WHEN nt = pt THEN pv
           ELSE pv + (nv - pv) * (CAST(tu - pt AS DOUBLE)
                                  / CAST(nt - pt AS DOUBLE))
       END, 6) AS value_interp
FROM ctx
""",
)
def win_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED LINEAR INTERPOLATION between measurements — the
    complement to win_locf_gapfill's step fill, and the other gapfill
    every sensor/metrics store ships (timescaledb's `interpolate`):
    'view' events carry no measurement; each row takes
    prev + (next−prev)·(t−t₀)/(t₁−t₀) between its nearest real
    measurements in the SAME user's (ts, event_id) order. Strictly
    interior by contract: rows before the first or after the last
    measurement stay NULL (no fabrication — LOCF is the op that
    extends). Measured rows interpolate to exactly their own value
    (prev = next = self).

    Times enter as INTEGER epoch microseconds on both engines
    (unix_micros / epoch_us — the parquet ns column truncates to µs
    identically), so the fraction is a ratio of exact integers and
    the float arithmetic is written in the identical order in both
    engines before the single round.

    Scale: two frames over ONE hash-partitioned per-user sort (Spark
    evaluates both directions over the same window exchange); no
    self-join, no gap materialization — the win_locf_gapfill shape."""
    ev = load_table(spark, sf_dir, "events")
    tu = F.unix_micros(F.col("ts"))
    mv = F.when(F.col("event_type") != "view", F.col("value"))
    wb = (Window.partitionBy("user_id").orderBy(tu, "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wf = (Window.partitionBy("user_id").orderBy(tu, "event_id")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    pv = F.last(mv, ignorenulls=True).over(wb)
    pt = F.last(F.when(mv.isNotNull(), tu), ignorenulls=True).over(wb)
    nv = F.first(mv, ignorenulls=True).over(wf)
    nt = F.first(F.when(mv.isNotNull(), tu), ignorenulls=True).over(wf)
    interp = (F.when(pv.isNull() | nv.isNull(), F.lit(None))
              .when(nt == pt, pv)
              .otherwise(pv + (nv - pv)
                         * ((tu - pt).cast("double")
                            / (nt - pt).cast("double"))))
    return ev.select(
        "user_id", "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "event_type",
        F.round(interp, 6).alias("value_interp"))


@query(
    "graph_label_propagation",
    oracle="""
SELECT o_orderkey AS node, min_ok AS community_id
FROM (
    SELECT o_orderkey,
           min(o_orderkey) OVER (PARTITION BY o_custkey) AS min_ok,
           count(*) OVER (PARTITION BY o_custkey) AS n
    FROM orders
) t
WHERE n >= 2
""",
)
def graph_label_propagation(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """COMMUNITY DETECTION by synchronous label propagation
    (Raghavan et al. 2007), the SELF-INCLUSIVE variant: each round
    every node adopts the most frequent label among its neighbors
    AND itself, ties broken by minimum label — self-inclusion is the
    standard fix for the 2-clique oscillation of pure synchronous
    LPA (a bipartite pair flips labels forever without it), and the
    min tie-break makes every round deterministic under any
    partitioning. Three unrolled rounds, per-round localCheckpoint
    (the operators/graph.py iteration discipline).

    Graph: each customer's orders form a CLIQUE (bounded ~25-order
    cliques here; a web-scale clique build caps per-key fan-out or
    switches to the star-graph edges cc_star uses). On disjoint
    cliques self-inclusive min-tie-break LPA provably reaches its
    fixed point — every node labeled the clique's minimum order key
    — after ONE round, so the oracle states the closed form (the
    graph_cc_star / cluster_kmeans oracle strategy: independent
    fixed point, not re-simulation) and the driver hash checks three
    generic rounds land exactly there.

    Scale shape per round: one equi-join of the label relation onto
    the edge list (AQE-decided), one (node, label) count agg, one
    max_by(struct(cnt, -label)) argmax agg — all map-side
    combinable; no windows over the graph, no driver collect."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    nodes = (o.select("o_custkey", "o_orderkey",
                      F.count("*").over(w).alias("n"))
             .filter(F.col("n") >= 2)
             .select("o_custkey", F.col("o_orderkey").alias("node"))
             ).localCheckpoint()
    a = nodes.select("o_custkey", F.col("node").alias("u"))
    b = nodes.select("o_custkey", F.col("node").alias("v"))
    edges = (a.join(b, "o_custkey")
             .filter(F.col("u") != F.col("v"))
             .select("u", "v")).localCheckpoint()
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(3):
        nbr = (edges.join(labels,
                          edges.v == F.col("node"))
               .select(F.col("u").alias("node"), "label"))
        votes = (nbr.unionByName(labels)  # self-inclusive
                 .groupBy("node", "label")
                 .agg(F.count("*").alias("cnt")))
        labels = (votes.groupBy("node")
                  .agg(F.max(F.struct(
                      F.col("cnt"),
                      (-F.col("label")).alias("neg"))).alias("m"))
                  .select("node",
                          (-F.col("m.neg")).alias("label"))
                  ).localCheckpoint()
    return labels.select("node", F.col("label").alias("community_id"))


@query(
    "events_changepoint_cusum",
    oracle="""
WITH RECURSIVE daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
m AS (
    SELECT event_type, sum(cnt) / CAST(count(*) AS DOUBLE) AS mu
    FROM daily GROUP BY event_type
),
ranked AS (
    SELECT d.event_type, d.day, d.cnt, m.mu,
           row_number() OVER (PARTITION BY d.event_type
                              ORDER BY d.day) AS r
    FROM daily d JOIN m USING (event_type)
),
cusum AS (
    SELECT event_type, day, cnt, mu, r,
           greatest(0.0, cnt - mu) AS s
    FROM ranked WHERE r = 1
    UNION ALL
    SELECT x.event_type, x.day, x.cnt, x.mu, x.r,
           greatest(0.0, c.s + (x.cnt - x.mu))
    FROM ranked x JOIN cusum c
      ON x.event_type = c.event_type AND x.r = c.r + 1
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt,
       round(s, 6) AS cusum,
       CASE WHEN s > 2.0 * mu THEN 1 ELSE 0 END AS breach
FROM cusum
""",
)
def events_changepoint_cusum(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """CHANGEPOINT DETECTION by one-sided CUSUM (Page 1954): per
    event type, S_t = max(0, S_{t-1} + (x_t − μ)) over the daily
    count series, breach flagged when the cumulative drift exceeds
    2μ — the classic upward-shift detector every metrics pipeline
    runs beside the z-score point detector (events_anomaly_zscore
    finds SPIKES; CUSUM finds sustained small shifts a z-score never
    trips on). A LINEAR RECURRENCE with a clamp, so no window frame
    expresses it: implemented as the win_ema fold (higher-order
    aggregate() over the sorted per-type day sequence), the clamp
    and add written in the IDENTICAL order in both engines so IEEE
    doubles match bit-for-bit before rounding.

    Scale: daily pre-agg is map-side combinable (state bounded by
    |event types| × calendar, not event volume); μ is a bounded
    per-type aggregate joined back AQE-decided; the fold is O(days)
    per type. Multi-year horizons chunk by month and carry (S, μ)
    through scans — the recurrence composes."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type",
                        F.col("ts").cast("date").alias("day"))
             .agg(F.count("*").alias("cnt")))
    m = daily.groupBy("event_type").agg(
        (F.sum("cnt") / F.count("*").cast("double")).alias("mu"))
    packed = (daily.join(m, "event_type")
              .groupBy("event_type", "mu")
              .agg(F.sort_array(F.collect_list(
                  F.struct("day", "cnt"))).alias("seq")))
    folded = packed.withColumn(
        "ss",
        F.aggregate(
            "seq",
            F.expr("CAST(array() AS ARRAY<DOUBLE>)"),
            lambda acc, x: F.concat(acc, F.array(
                F.when(F.size(acc) == 0,
                       F.greatest(F.lit(0.0),
                                  x["cnt"] - F.col("mu")))
                .otherwise(F.greatest(
                    F.lit(0.0),
                    F.element_at(acc, -1)
                    + (x["cnt"] - F.col("mu"))))))))
    z = F.posexplode(F.arrays_zip("seq", "ss"))
    return (folded.select("event_type", "mu", z.alias("pos", "z"))
            .select("event_type",
                    F.date_format("z.seq.day", "yyyy-MM-dd")
                     .alias("day"),
                    F.col("z.seq.cnt").alias("cnt"),
                    F.round("z.ss", 6).alias("cusum"),
                    F.when(F.col("z.ss") > 2.0 * F.col("mu"), 1)
                     .otherwise(0).alias("breach")))


@query(
    "events_time_weighted_avg",
    oracle="""
WITH clean AS (
    SELECT user_id, event_id, value, epoch_us(ts) AS us, ts
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
),
stepped AS (
    SELECT user_id, value, us,
           lead(us) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS nxt
    FROM clean
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(nxt - us) AS BIGINT) AS span_us,
       round(sum(value * (nxt - us)) / sum(nxt - us), 6)
           AS time_weighted_avg
FROM stepped
WHERE nxt IS NOT NULL
GROUP BY user_id
HAVING sum(nxt - us) > 0
""",
)
def events_time_weighted_avg(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED AVERAGE per user — the hypertable analytics
    primitive (TimescaleDB's time_weight with LOCF semantics) that
    plain avg() gets wrong on irregular telemetry: each observation
    holds until the next one, so its weight is the INTERVAL it was
    current for, not 1. Implemented as one lead() window per user +
    one hash agg: Σ value·Δt / Σ Δt over the user's ordered
    timeline. Intervals are exact integer MICROSECONDS (unix_micros
    — both engines read the same parquet timestamps, so the weights
    are bit-identical; the only float is the weighted sum itself,
    6-dp-rounded). NaN/null observations are scrubbed before the
    step function forms, the fn_null hygiene rule. Single-event and
    zero-span users are excluded (no interval to weight).

    At 100 TB: one shuffle on user_id shared by the window and the
    agg (Catalyst reuses the partitioning), map-side combinable
    final agg — costs what any per-user window costs, with no
    driver scalar."""
    ev = load_table(spark, sf_dir, "events")
    clean = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
             .select("user_id", "event_id", "value", "ts",
                     F.unix_micros("ts").alias("us")))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = (clean.withColumn("nxt", F.lead("us").over(w))
               .filter(F.col("nxt").isNotNull())
               .select("user_id", "value",
                       (F.col("nxt") - F.col("us")).alias("dt")))
    return (stepped.groupBy("user_id")
            .agg(F.count("*").cast("bigint").alias("n_intervals"),
                 F.sum("dt").cast("bigint").alias("span_us"),
                 F.round(F.try_divide(F.sum(F.col("value")
                                            * F.col("dt")),
                                      F.sum("dt")), 6)
                  .alias("time_weighted_avg"))
            .filter(F.col("span_us") > 0))


# OTel exponential-histogram scale: base = 2^(1/2^_EXPHIST_SCALE).
# Scale 2 → base 2^0.25 ≈ 1.19 (16 buckets per decade-ish) — fine
# enough to be useful, coarse enough that 2-decimal fixture values
# sit ≥1e-3 relative from every irrational bucket boundary (the only
# exact boundaries are integer powers of two, where IEEE log2 is
# exact in both engines), so a last-ulp libm difference can't flip a
# floor.
_EXPHIST_SCALE = 2


@query(
    "events_histogram_exponential",
    oracle=f"""
WITH pos AS (
    SELECT event_type, value FROM events
    WHERE value IS NOT NULL AND NOT isnan(value) AND value > 0
),
bucketed AS (
    SELECT event_type,
           CAST(floor(log2(value) * {2 ** _EXPHIST_SCALE})
                AS BIGINT) AS bucket_idx,
           value
    FROM pos
)
SELECT event_type, bucket_idx,
       round(pow(2.0, bucket_idx / {2 ** _EXPHIST_SCALE}.0), 6)
           AS bucket_lo,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_value
FROM bucketed
GROUP BY event_type, bucket_idx
""",
)
def events_histogram_exponential(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """EXPONENTIAL-BUCKET VALUE HISTOGRAM — the OpenTelemetry
    exponential histogram's bucket function (scale 2: index =
    floor(log2(v)·4), base 2^(1/4)): relative-error-bounded
    value distributions with O(log range) buckets, the sketch every
    metrics backend aggregates latencies into. Pure projection +
    one map-side-combinable hash agg — mergeable across shards by
    construction (bucket counts add), which is the whole point of
    the representation at 100 TB.

    Cross-engine float discipline: bucket boundaries 2^(k/4) are
    irrational except at integer powers of two (where IEEE log2 is
    exact), and the 2-decimal fixture values sit ≥1e-3 relative
    from every irrational boundary, so a last-ulp libm difference
    between engines cannot flip a floor (the knife-edge analysis
    the _EXPHIST_SCALE comment records). sum_value rounds at 2dp
    on the 0.01 input grid."""
    ev = load_table(spark, sf_dir, "events")
    pos = ev.filter(F.col("value").isNotNull()
                    & ~F.isnan("value") & (F.col("value") > 0))
    m = 2 ** _EXPHIST_SCALE
    idx = F.floor(F.log2("value") * m).cast("bigint")
    return (pos.select("event_type", idx.alias("bucket_idx"), "value")
            .groupBy("event_type", "bucket_idx")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select("event_type", "bucket_idx",
                    F.round(F.pow(F.lit(2.0),
                                  F.col("bucket_idx")
                                  / F.lit(float(m))), 6)
                     .alias("bucket_lo"),
                    "n", "sum_value"))
