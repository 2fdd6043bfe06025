"""Window functions (SURVEY.md §2.F).

F1 (latest-version-per-id dedup) is the relational form of the
reference's snapshot pinning: each run processes one consistent
``--pgosm-date`` version of every element
(/root/reference/osm_etl.py:13,71,81). The rest are the ranking /
offset / frame operators any queryable layer needs (README.md:70).

Scale notes: a window shuffles by its partition key once; multiple
windows over the same key share the exchange (Catalyst reuses it).
Running/sliding frames use the decimal-sum pattern so frame results
are bit-stable. Avoid ``Window.orderBy`` without ``partitionBy`` at
scale — it collapses to a single task (the engine only does that in
G1's explicit global sort, which range-partitions instead).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osm_airflow_spark.bucketing import bucketed_running
from osm_airflow_spark.io import load_table
from osm_airflow_spark.registry import query


@query(
    "win_dedup_latest",
    oracle="""
    SELECT user_id, event_id AS latest_event, ts AS latest_ts, event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def win_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — latest version per id (snapshot semantics of
    ``--pgosm-date``, osm_etl.py:13). event_id is the deterministic
    tiebreak; at scale this is one shuffle by id and prunes to one
    row per key map-side if pre-sorted."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event"),
            F.col("ts").alias("latest_ts"),
            "event_type",
        )
    )


@query(
    "win_rank",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal,
           RANK() OVER (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal DESC, c_custkey) AS bal_rank,
           DENSE_RANK() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal DESC, c_custkey) AS bal_dense_rank
    FROM customer
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — rank / dense_rank within group (top features per class)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        # ranks cast to long: DuckDB RANK() is BIGINT, Spark's is int —
        # align so a dtype-strict compare can't trip
        F.rank().over(w).cast("long").alias("bal_rank"),
        F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT user_id, event_id, ts,
           LAG(ts)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts,
           epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)) AS gap_us
    FROM events
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — lag/lead offsets in ordered partition (event gaps in
    exact integer microseconds — ms rounding conventions differ
    between engines, µs subtraction doesn't)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return e.select(
        "user_id",
        "event_id",
        "ts",
        prev_ts.alias("prev_ts"),
        F.lead("ts").over(w).alias("next_ts"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(prev_ts.cast("timestamp"))
        ).alias("gap_us"),
    )


@query(
    "win_running_sum",
    oracle="""
    SELECT user_id, event_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_value
    FROM events
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — cumulative sum over ordered frame (decimal-summed: frame
    evaluation strategy differs across engines, exact decimal addition
    does not)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("running_value"),
    )


@query(
    "win_moving_avg",
    oracle="""
    SELECT user_id, event_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                /
                COUNT(value)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             AS moving_avg
    FROM events
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 — sliding frame aggregate (3-row moving average)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return e.select(
        "user_id",
        "event_id",
        "ts",
        (
            F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
            / F.count("value").over(w)
        ).alias("moving_avg"),
    )


def _ntile(rank: Column, n_total: int, k: int) -> Column:
    """NTILE(k) of an exact 1-based global rank over ``n_total`` rows:
    the first n%k tiles get ceil(n/k) rows, the rest floor(n/k)."""
    q, r = divmod(n_total, k)
    big = r * (q + 1)  # rows covered by the size-(q+1) tiles
    return (
        F.when(F.lit(r > 0) & (rank <= F.lit(big)), F.ceil(rank / F.lit(q + 1)))
        .otherwise(F.lit(r) + F.ceil((rank - F.lit(big)) / F.lit(max(q, 1))))
        .cast("long")
    )


def distributed_ntile(
    df: DataFrame,
    metric_col: Column,
    id_col: str,
    out_col: str,
    k: int,
) -> DataFrame:
    """Exact NTILE(k) over (metric asc, id asc) with NO unpartitioned
    window (callers wanting DESC pass a negated metric): the global
    rank is ``bucketing.bucketed_running``'s running count, the tile
    is pure arithmetic on it."""
    work = df.select(
        "*", metric_col.cast("double").alias("_m"), F.lit(1).alias("_one")
    )
    ranked, totals = bucketed_running(work, "_m", ["_one"], [id_col])
    return ranked.withColumn(
        out_col, _ntile(F.col("run__one"), totals["_one"], k)
    ).drop("_m", "_one", "_bkt", "run__one")


@query(
    "win_ntile",
    oracle="""
    SELECT c_custkey, c_acctbal,
           NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS bal_quartile,
           PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey) AS bal_pct_rank
    FROM customer
    """,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — distribution buckets via DISTRIBUTED exact rank (no
    unpartitioned window anywhere in the plan): the global rank in
    (c_acctbal, c_custkey) order comes from ``bucketing.py``, and
    NTILE/percent_rank are pure column math on it — matching the
    oracle's global-window semantics bit for bit while every stage
    stays partition-parallel."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", F.lit(1).alias("_one")
    )
    ranked, totals = bucketed_running(c, "c_acctbal", ["_one"], ["c_custkey"])
    rank, n_total = F.col("run__one"), totals["_one"]
    # percent_rank of a single row is 0.0 by definition (avoid 0/0)
    pct_denom = max(n_total - 1, 1)
    return ranked.select(
        "c_custkey",
        "c_acctbal",
        _ntile(rank, n_total, 4).alias("bal_quartile"),
        ((rank - F.lit(1)) / F.lit(pct_denom)).alias("bal_pct_rank"),
    )


@query(
    "win_topk_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def win_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — top-k per group (k most valuable orders per customer).
    AQE + rank pushdown keep this one shuffle; Spark 3.5+ inserts a
    WindowGroupLimit so each map task keeps only k rows per key."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@query(
    "win_first_last",
    oracle="""
    SELECT user_id, event_id, ts,
           FIRST_VALUE(event_type) OVER w AS first_type,
           LAST_VALUE(event_type)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND UNBOUNDED FOLLOWING) AS last_type,
           NTH_VALUE(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                                   AND UNBOUNDED FOLLOWING) AS second_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 (extension) — first/last/nth value in ordered partition
    (first and last event type per user). last/nth need the full
    frame — the default running frame would return the current row."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w_full).alias("last_type"),
        F.nth_value("event_type", 2).over(w_full).alias("second_type"),
    )


@query(
    "win_cume_dist",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal,
           CUME_DIST() OVER (PARTITION BY c_mktsegment
                             ORDER BY c_acctbal, c_custkey) AS bal_cume
    FROM customer
    """,
)
def win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 (extension) — cumulative distribution within group (exact
    rational n_le/n → identical doubles in both engines)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.cume_dist().over(w).alias("bal_cume"),
    )


@query(
    "win_share_of_group",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS order_price,
           CAST(o_totalprice AS DOUBLE) /
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey) AS DOUBLE) AS share_of_customer
    FROM orders
    """,
)
def win_share_of_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 (extension) — ratio-to-report: each order's share of its
    customer's lifetime spend (the contribution/mix analysis window).
    Unbounded window partitioned by the group key — fully parallel
    across customers, no ordering needed so no sort inside the
    window; the denominator sums in decimal (order-independent) and
    divides once in double, keeping partition count out of the
    hash."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    denom = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("order_price"),
        (F.col("o_totalprice").cast("double") / denom).alias("share_of_customer"),
    )


@query(
    "win_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grp AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                        AS INTEGER) AS grp_key
      FROM days
    ),
    streaks AS (
      SELECT user_id, grp_key, COUNT(*) AS streak_len
      FROM grp GROUP BY user_id, grp_key
    )
    SELECT user_id,
           CAST(SUM(streak_len) AS BIGINT) AS n_active_days,
           MAX(streak_len) AS longest_streak,
           COUNT(*) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
)
def win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 (extension) — longest consecutive-day activity streak per
    user: the gaps-and-islands pattern (day − row_number is constant
    within a run of consecutive days). Distinct → window → two
    aggregations, all partitioned by user — no self-join, no
    sequence explosion; the window is per-user so parallelism is the
    user count. Pure integer/date math on both engines →
    oracle-exact."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "grp_key", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "grp_key").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("streak_len").alias("n_active_days"),
        F.max("streak_len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) // 1000000 AS epoch_s,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour
    FROM events
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 (extension) — RANGE-framed window (value-based frame, not
    row-based): each event's count of same-user events in the
    trailing hour — the rate-limit / burst-detection shape. RANGE
    frames include ALL peers at equal ordering values, so the result
    is deterministic even when timestamps tie (a ROWS frame there
    would be partition-order-dependent — the trap this key pins
    down). Ordering key is exact integer seconds on both engines."""
    ev = load_table(spark, sf_dir, "events")
    epoch_s = F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
    df = ev.select("event_id", "user_id", epoch_s.alias("epoch_s"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return df.withColumn("n_last_hour", F.count(F.lit(1)).over(w))


@query(
    "win_locf",
    oracle="""
    SELECT event_id, user_id, ts,
           reading,
           last_value(reading IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS reading_filled
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type <> 'error' THEN value END AS reading
      FROM events
    )
    """,
)
def win_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 (extension) — last-observation-carried-forward gap fill:
    sensor-style readings (here: event value, nulled out on 'error'
    rows) forward-filled per user in time order —
    ``last(ignorenulls)`` over a running frame, the standard
    time-series imputation. The window is user-partitioned with a
    (ts, event_id) total order, so ties can't reorder the fill and
    the result is partition-count-independent. ROWS frame, one
    shuffle on the partition key."""
    ev = load_table(spark, sf_dir, "events")
    reading = F.when(F.col("event_type") != "error", F.col("value"))
    df = ev.select("event_id", "user_id", "ts", reading.alias("reading"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "reading_filled", F.last("reading", ignorenulls=True).over(w)
    )


# finite-horizon EWMA weights (alpha = 0.3, horizon 8): alpha*(1-a)^j
# for the 7 most recent lags, (1-a)^7 for the oldest — sums to 1.
# With alpha = 3/10 every weight is an EXACT decimal (3·7^j / 10^(j+1),
# tail 7^7/10^7), so the whole dot product can run in exact decimal
# arithmetic: the only rounding anywhere is the per-row double→
# DECIMAL(18,6) cast of value, which is unambiguous (a binary double
# never ties at a half-ulp of a decimal — the dsum argument). The
# naive float version of this key FAILED at sf0.1: the final
# round(x, 6) of an inexact double landed on a near-midpoint and
# Spark (HALF_UP) disagreed with DuckDB by exactly 1e-6.
_EWMA_WEIGHT_STRS: list[str] = [
    f"0.{3 * 7**j:0{j + 1}d}" for j in range(7)
] + [f"0.{7**7:07d}"]

_EWMA_SQL_TERMS = " + ".join(
    f"CAST('{w}' AS DECIMAL(9,7)) * CAST(LAG(value, {j}) OVER w AS DECIMAL(18,6))"
    for j, w in enumerate(_EWMA_WEIGHT_STRS)
)


@query(
    "win_ewma",
    oracle=f"""
    SELECT event_id, user_id, ts, value,
           CAST({_EWMA_SQL_TERMS} AS DOUBLE) AS ewma
    FROM (
      SELECT event_id, user_id, ts, value,
             ROW_NUMBER() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    QUALIFY rn >= 8
    """,
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — exponentially weighted moving average per user
    (alpha = 0.3, finite 8-event horizon): the smoothing/forecasting
    primitive next to F5's uniform moving average — recent events
    dominate, the tail-lag carries the remaining mass so weights sum
    to 1 exactly. Rows before the horizon fills (rn < 8) are dropped
    by BOTH engines rather than emitting partially-weighted values.

    Determinism: the recursive EWMA definition is order-dependent and
    numerically divergent as a running recurrence; the finite-horizon
    form is a fixed dot product of 8 lags — computed ENTIRELY in
    exact decimal (weights are exact 7-digit decimals for alpha=0.3,
    values cast once to DECIMAL(18,6) — an unambiguous cast), then
    one deterministic decimal→double conversion. No round() of an
    inexact float anywhere — the naive float version diverged from
    the oracle by 1e-6 at sf0.1 on a rounding-midpoint (ledger
    entry in SCALE.md). Window partitions are per-user — bounded,
    the F-family contract; one shuffle, lags and row_number share
    the single window spec."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ewma = None
    for j, wt in enumerate(_EWMA_WEIGHT_STRS):
        term = F.expr(f"CAST('{wt}' AS DECIMAL(9,7))") * F.lag("value", j).over(
            w
        ).cast("decimal(18,6)")
        ewma = term if ewma is None else ewma + term
    return (
        e.select(
            "event_id",
            "user_id",
            "ts",
            "value",
            ewma.cast("double").alias("ewma"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") >= 8)
        .drop("rn")
    )


@query(
    "win_rsi",
    oracle="""
    WITH diffs AS (
      SELECT user_id, event_id, ts,
             CAST(value AS DECIMAL(18,6))
               - LAG(CAST(value AS DECIMAL(18,6))) OVER w AS d,
             ROW_NUMBER() OVER w AS rn
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sums AS (
      SELECT user_id, event_id, rn,
             CAST(SUM(CASE WHEN d > 0 THEN d
                           ELSE CAST(0 AS DECIMAL(18,6)) END) OVER f
                  AS DECIMAL(24,6)) AS g,
             CAST(SUM(CASE WHEN d < 0 THEN -d
                           ELSE CAST(0 AS DECIMAL(18,6)) END) OVER f
                  AS DECIMAL(24,6)) AS l
      FROM diffs WHERE d IS NOT NULL
      WINDOW f AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CAST(g AS DOUBLE) AS sum_gain,
           CAST(l AS DOUBLE) AS sum_loss,
           CASE WHEN g + l > 0
                THEN 100.0 * CAST(g AS DOUBLE) / (CAST(g AS DOUBLE)
                                                  + CAST(l AS DOUBLE))
           END AS rsi
    FROM sums WHERE rn >= 15
    """,
)
def win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext F17 (r10) — RELATIVE STRENGTH INDEX (Cutler's variant:
    simple 14-period means instead of Wilder's recursive smoothing,
    whose infinite-horizon recurrence has the same cross-engine
    divergence problem win_ewma's ledger documents) per user:
    RSI = 100·ΣG/(ΣG+ΣL) over the trailing 14 value changes —
    the bounded-oscillator momentum screen beside win_bollinger's
    σ-bands and win_max_drawdown. Only full 14-diff frames emit
    (rn ≥ 15 — the 15th value owns the 14th diff).

    Determinism: values cast ONCE to DECIMAL(18,6) (the fixture-safe
    drawdown/anomalies precedent), so diffs, the gain/loss splits
    and both frame sums are EXACT decimal — order-free by exactness;
    the only floating-point ops are two final < 2^53-exact casts and
    one shared IEEE division (flat-frame G+L=0 emits NULL in both
    engines). Bounded per-user windows, one shuffle, diff and frame
    sums share the partition — the F-family contract."""
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dv = F.col("value").cast("decimal(18,6)")
    diffs = e.select(
        "user_id",
        "event_id",
        "ts",
        (dv - F.lag(dv).over(w)).alias("d"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("d").isNotNull())
    f = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(-13, Window.currentRow)
    )
    zero = F.lit(0).cast("decimal(18,6)")
    g = F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(zero)).over(f).cast(
        "decimal(24,6)"
    )
    l = F.sum(F.when(F.col("d") < 0, -F.col("d")).otherwise(zero)).over(f).cast(
        "decimal(24,6)"
    )
    sums = diffs.select("user_id", "event_id", "rn", g.alias("g"), l.alias("l"))
    gd = F.col("g").cast("double")
    ld = F.col("l").cast("double")
    return (
        sums.where(F.col("rn") >= 15)
        .select(
            "user_id",
            "event_id",
            gd.alias("sum_gain"),
            ld.alias("sum_loss"),
            F.when(
                F.col("g") + F.col("l") > 0, 100.0 * gd / (gd + ld)
            ).alias("rsi"),
        )
    )


@query(
    "win_hampel_outliers",
    oracle="""
    WITH framed AS (
      SELECT user_id, event_id, ts, value,
             list_sort(list(value) OVER w) AS lst,
             COUNT(*) OVER w AS n_frame
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    scored AS (
      SELECT user_id, event_id, ts, value,
             lst[4] AS med,
             list_sort(list_transform(lst, x -> abs(x - lst[4])))[4] AS mad
      FROM framed WHERE n_frame = 7
    )
    SELECT user_id, event_id, value, med, mad,
           abs(value - med) > 3.0 * 1.4826 * mad AS is_outlier
    FROM scored
    """,
)
def win_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext F15 (r9) — HAMPEL FILTER despiking: each event's value is
    compared against the rolling MEDIAN of its ±3-neighbour frame,
    with the scale estimated by the frame's MAD (median absolute
    deviation, ×1.4826 for Gaussian consistency); |x − med| >
    3·1.4826·MAD flags a spike. The robust cousin of
    pipeline_value_anomalies' mean/σ z-cut — one wild value
    contaminates a 7-point mean AND its σ, but not the median/MAD,
    which is why sensor/metrics despiking uses Hampel (Pearson
    2002).

    Only FULL 7-point frames emit (edge rows are skipped): a 7-value
    median is pure SELECTION — sort, take element 4 — identical in
    both engines, whereas even-count frames would interpolate and
    Spark's (a+b)/2 need not bit-match DuckDB's quantile_cont
    a+(b−a)·0.5. With selection only, the sole arithmetic is
    |x − med| and one shared threshold product — no rounding
    anywhere, hash-exact raw doubles.

    Scale: one bounded per-user window carrying a 7-element frame
    list (collect_list over a ROWS frame — constant-size state per
    row, unlike an unbounded collect); no shuffle beyond the user
    partition. At 100 TB this is the despiking pass that runs INSIDE
    the ingest partition before aggregates see the data."""
    # NULL values must be dropped BEFORE framing: Spark's collect_list
    # silently skips NULLs while n_frame counts rows, so a 7-row frame
    # with >=4 NULL values would index element_at(lst, 4) past the end
    # (INVALID_ARRAY_INDEX under ANSI) and 1-3 NULLs would diverge from
    # DuckDB's NULLS-LAST list_sort in the MAD transform. The oracle
    # carries the matching WHERE value IS NOT NULL.
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 3)
    )
    framed = e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.sort_array(F.collect_list("value").over(w)).alias("lst"),
        F.count(F.lit(1)).over(w).alias("n_frame"),
    ).where(F.col("n_frame") == 7)
    med = F.element_at("lst", 4)
    mad = F.element_at(
        F.sort_array(F.transform("lst", lambda x: F.abs(x - med))), 4
    )
    scored = framed.select(
        "user_id",
        "event_id",
        "value",
        med.alias("med"),
        mad.alias("mad"),
    )
    return scored.select(
        "user_id",
        "event_id",
        "value",
        "med",
        "mad",
        (F.abs(F.col("value") - F.col("med")) > 3.0 * 1.4826 * F.col("mad")).alias(
            "is_outlier"
        ),
    )


@query(
    "win_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,6))) AS x
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    dd AS (
      SELECT event_type, day,
             CAST(MAX(x) OVER w - x AS DOUBLE) AS drawdown,
             CAST(MAX(x) OVER w AS DOUBLE) AS peak,
             CAST(x AS DOUBLE) AS x
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    best AS (
      SELECT event_type, day, drawdown, peak, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY drawdown DESC, day) AS rn
      FROM dd
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d') AS trough_day,
           x AS trough_value,
           peak AS peak_value,
           drawdown AS max_drawdown,
           CASE WHEN peak > 0 THEN drawdown / peak END AS drawdown_frac
    FROM best WHERE rn = 1
    """,
)
def win_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext F16 (r9) — MAXIMUM DRAWDOWN of each event type's daily
    value series: the largest drop from a running peak, with the
    trough day and the fractional drop — the risk statistic every
    revenue/throughput dashboard carries beside the CUSUM drift flag
    (pipeline_cusum_changepoint is its mirror: running MIN of a
    drift-corrected prefix; drawdown is the running MAX of the raw
    level — the same closed-form family, no recursion).

    Determinism: daily totals are exact decimals; the running MAX is
    SELECTION over decimals (order-independent); drawdown = one
    exact decimal subtraction cast once to double; trough selection
    breaks ties by earliest day; the fraction is one agreed
    division, NULL-guarded for non-positive peaks identically in
    both engines. No rounding, no transcendental.

    Scale: one corpus pass to (type × day); the window partitions by
    event_type over DAYS — calendar-bounded (the house rule). Output
    is O(types)."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("x"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = daily.select(
        "event_type",
        "day",
        (F.max("x").over(w) - F.col("x")).cast("double").alias("drawdown"),
        F.max("x").over(w).cast("double").alias("peak"),
        F.col("x").cast("double").alias("x"),
    )
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.col("drawdown").desc(), F.col("day")
        )
    )
    return (
        dd.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("trough_day"),
            F.col("x").alias("trough_value"),
            F.col("peak").alias("peak_value"),
            F.col("drawdown").alias("max_drawdown"),
            F.when(
                F.col("peak") > 0, F.col("drawdown") / F.col("peak")
            ).alias("drawdown_frac"),
        )
    )


@query(
    "win_rolling_slope",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    td AS (
      SELECT event_type, day,
             CAST(datediff('day', DATE '2024-01-01', day) AS BIGINT) AS t, y
      FROM daily
    ),
    fr AS (
      SELECT event_type, day,
             COUNT(*) OVER w AS n_f,
             CAST(SUM(t) OVER w AS DECIMAL(10,0)) AS st,
             CAST(SUM(t * t) OVER w AS DECIMAL(14,0)) AS stt,
             CAST(SUM(CAST(t AS DECIMAL(10,0)) * y) OVER w
                  AS DECIMAL(26,0)) AS sty,
             CAST(SUM(CAST(y AS DECIMAL(19,0))) OVER w AS DECIMAL(22,0)) AS sy
      FROM td
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           round(CAST(7 * sty - st * sy AS DOUBLE)
                 / CAST(7 * stt - st * st AS DOUBLE) / 1000000, 9) AS slope
    FROM fr WHERE n_f = 7
    """,
)
def win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext F18 (r12) — ROLLING OLS SLOPE: the 7-day trailing
    least-squares trend of each event type's daily value series (the
    many-small-models ROLLING sibling of pipeline_grouped_ols, and
    the local-trend feature beside win_bollinger's band and
    win_max_drawdown's risk stat). slope = (nΣty − ΣtΣy)/(nΣt² −
    (Σt)²) over each full 7-day frame; only full frames emit.

    Determinism: y is the 6-dp exact-integer daily scaling (the
    pettitt recipe) and t an integer day offset from a fixed epoch,
    so every frame sum is an EXACT integer (decimal-typed against
    DuckDB's INT64 window-product overflow, the mann_whitney
    lesson); numerator and denominator are exact decimal integer
    expressions. The cancelled numerator can exceed 2^53 unscaled in
    adversarial frames, where the engines' decimal→double casts
    differ by 1 ulp (the acf ledger), so the slope — two shared IEEE
    divisions, the 1e6 de-scaling exact — emits at 9 dp.

    Scale: one corpus pass to the (type × day) table; both windows
    partition by event_type over DAYS — calendar-bounded. A gap in
    the calendar shrinks nothing silently: t is the REAL day offset,
    so a frame spanning a gap fits the true time axis rather than
    row indices."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    daily = (
        e.groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(
            (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
            .cast("long")
            .alias("y")
        )
    )
    td = daily.select(
        "event_type",
        "day",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("t"),
        "y",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    fr = td.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(w).alias("n_f"),
        F.sum("t").over(w).cast("decimal(10,0)").alias("st"),
        F.sum(F.col("t") * F.col("t")).over(w).cast("decimal(14,0)").alias("stt"),
        F.sum(F.col("t").cast("decimal(10,0)") * F.col("y"))
        .over(w)
        .cast("decimal(26,0)")
        .alias("sty"),
        F.sum(F.col("y").cast("decimal(19,0)")).over(w).cast("decimal(22,0)").alias("sy"),
    )
    num = (7 * F.col("sty") - F.col("st") * F.col("sy")).cast("double")
    den = (7 * F.col("stt") - F.col("st") * F.col("st")).cast("double")
    return (
        fr.where(F.col("n_f") == 7)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(num / den / 1000000, 9).alias("slope"),
        )
    )


@query(
    "win_running_distinct",
    oracle="""
    SELECT user_id, event_id, ts,
           CAST(SUM(is_new) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS distinct_types_so_far
    FROM (
      SELECT user_id, event_id, ts,
             CASE WHEN row_number() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) = 1 THEN 1 ELSE 0 END AS is_new
      FROM events
    )
    """,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 (extension) — RUNNING DISTINCT COUNT: per user, how many
    distinct event types they have touched up to each event (the
    feature-adoption / breadth-of-engagement curve; the same shape
    counts distinct SKUs per customer or distinct hosts per crawler).
    COUNT(DISTINCT) has no performant running form, so the standard
    rewrite: flag each row that is the FIRST occurrence of its
    (user, type) — one row_number over the finer partition — then a
    running SUM of the flag over the coarser per-user window. Both
    windows are user-bounded partitions with a (ts, event_id) total
    order; no global window. Two exchanges (verified in the executed
    plan): hash(user, type) does NOT satisfy the per-user
    distribution — one user's rows spread across partitions by type —
    so the coarser window re-shuffles; the alternative (join-back of
    per-(user,type) minima) pays the same two."""
    ev = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_new = F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
    return (
        ev.select("user_id", "event_id", "ts", is_new.alias("is_new"))
        .select(
            "user_id",
            "event_id",
            "ts",
            F.sum("is_new").over(w_run).alias("distinct_types_so_far"),
        )
    )


@query(
    "win_bollinger",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS x
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    framed AS (
      SELECT event_type, day, x,
             SUM(x) OVER w AS s7,
             SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 6)
                      AS DECIMAL(24,6))) OVER w AS q7,
             COUNT(*) OVER w AS k
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(x AS DOUBLE) AS daily_value,
           CAST(s7 AS DOUBLE) / 7 AS mean7,
           CAST(s7 AS DOUBLE) / 7
             + 2 * sqrt(greatest(0, (7 * CAST(q7 AS DOUBLE)
                         - CAST(s7 AS DOUBLE) * CAST(s7 AS DOUBLE)) / 42))
             AS upper_band,
           CAST(s7 AS DOUBLE) / 7
             - 2 * sqrt(greatest(0, (7 * CAST(q7 AS DOUBLE)
                         - CAST(s7 AS DOUBLE) * CAST(s7 AS DOUBLE)) / 42))
             AS lower_band,
           abs(CAST(7 * x - s7 AS DOUBLE))
             > 14 * sqrt(greatest(0, (7 * CAST(q7 AS DOUBLE)
                         - CAST(s7 AS DOUBLE) * CAST(s7 AS DOUBLE)) / 42))
             AS breakout
    FROM framed WHERE k = 7
    """,
)
def win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18 (extension) — BOLLINGER BANDS over the per-type daily value
    series: 7-day rolling mean ± 2 rolling sample std, with a
    breakout flag when the day's value escapes the band — the
    parametric twin of win_hampel_outliers (z-score band vs robust
    median/MAD band; a monitoring stack runs both). The rolling
    sufficient statistics are DECIMAL window sums (exact, so frame
    evaluation order is moot): Σx from the exact daily decimal
    totals, Σx² with the per-term 6-dp round (term rule — the
    squares are ~1e7, 15 significant digits, inside the shortest-
    repr safe zone). Everything after the two sums is a shared IEEE
    tree over agreed doubles, emitted unrounded; the band compare
    applies to the same unrounded values in both engines. Full
    7-frames only (k = 7), the hampel precedent — partial leading
    frames would make band width incomparable.

    Scale: one events pass to the dates×types-bounded daily table,
    then type-partitioned windows (bounded partitions, no global
    window), one shuffle."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("x")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    xd = F.col("x").cast("double")
    framed = daily.select(
        "event_type",
        "day",
        "x",
        F.sum("x").over(w).alias("s7"),
        F.sum(F.round(xd * xd, 6).cast("decimal(24,6)")).over(w).alias("q7"),
        F.count(F.lit(1)).over(w).alias("k"),
    ).where(F.col("k") == 7)
    s7d = F.col("s7").cast("double")
    q7d = F.col("q7").cast("double")
    mean7 = s7d / 7
    # greatest(0, ·): the 6-dp term rounding of the squares can push
    # the variance expression a few 1e-7 NEGATIVE on a flat week
    # (round(x·x, 6) < x² whenever the square rounds down), and
    # sqrt(-ε) = NaN compares greater than everything — a zero-
    # variance week would flag breakout=true with NaN bands in BOTH
    # engines (r9 self-review, confirmed numerically)
    band = 2 * F.sqrt(F.greatest(F.lit(0.0), (7 * q7d - s7d * s7d) / 42))
    # the breakout decision is |x − mean| > 2σ SCALED BY 7:
    # |7x − s7| > 7·band, with the left side an EXACT decimal — the
    # reconstructed mean s7/7 sits 1 ulp off x on a perfectly flat
    # week and the naive strict compare flagged it (r9 self-review)
    resid = F.abs((7 * F.col("x") - F.col("s7")).cast("double"))
    return framed.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("x").cast("double").alias("daily_value"),
        mean7.alias("mean7"),
        (mean7 + band).alias("upper_band"),
        (mean7 - band).alias("lower_band"),
        (resid > 7 * band).alias("breakout"),
    )


@query(
    "win_atr",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS hi,
             CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS lo,
             CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
                  AS DECIMAL(18,2)) AS cl
      FROM orders GROUP BY 1
    ),
    tr AS (
      SELECT day, hi, lo, cl,
             LAG(cl) OVER w AS pc,
             ROW_NUMBER() OVER w AS rn
      FROM daily
      WINDOW w AS (ORDER BY day)
    ),
    trval AS (
      SELECT day, rn,
             greatest(hi - lo, abs(hi - pc), abs(lo - pc)) AS trng
      FROM tr WHERE pc IS NOT NULL
    ),
    atr AS (
      SELECT day, rn, trng,
             CAST(SUM(CAST(trng AS DECIMAL(24,2))) OVER
                  (ORDER BY rn ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                  AS DECIMAL(24,2)) AS s14
      FROM trval
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(trng AS DOUBLE) AS true_range,
           CAST(s14 AS DOUBLE) / 14.0 AS atr_14
    FROM atr WHERE rn >= 15
    """,
)
def win_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r13) — AVERAGE TRUE RANGE over the daily revenue series:
    the volatility width beside win_bollinger's σ-bands and win_rsi's
    momentum (Cutler-style 14-day SIMPLE mean of the true range —
    Wilder's recursive smoothing has the win_ewma infinite-horizon
    divergence problem, same reasoning as RSI). Daily OHLC proxies:
    hi/lo = max/min order price, close = max_by(price, o_orderkey)
    (unique-key tie-break); TR = max(hi−lo, |hi−prev_close|,
    |lo−prev_close|). Only full 14-TR frames emit (rn ≥ 15).

    Determinism: prices cast once to DECIMAL(18,2), so hi/lo/close,
    the lag, every TR candidate, and the frame sum are EXACT
    (Spark carries TR as integer CENTS through the bucket-offset
    prefix pass); the oracle's DECIMAL(24,2)→double cast equals
    Spark's long→double /100.0 bit-for-bit (both are the correctly
    rounded k/100, k ≪ 2^53), and /14.0 is one shared IEEE division.
    The max_by/arg_max tie-break is on the unique order key, never on
    a price. Scale + lint: no global window anywhere — the day rank
    and the trailing-14 sum both ride ``bucketed_running`` (B-way
    parallel windows + exact offsets; the engine-wide GLOBW rule
    applies to bounded inputs too), the sliding frame is
    prefix(rn) − prefix(rn−14) via two control-plane self-joins, and
    the DuckDB oracle keeps its plain window form — only values must
    match."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
    ).agg(
        F.max(price).alias("hi"),
        F.min(price).alias("lo"),
        F.expr(
            "CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)"
            " AS DECIMAL(9,2))"
        ).alias("cl"),
    )
    # GLOBW-free global order: bucket-offset running count = the day's
    # 1-based rank (the oracle's window form is values-equivalent; the
    # lint bans global windows engine-wide, bounded input or not)
    daily = daily.select(
        "*", F.datediff("day", F.lit("1970-01-01")).alias("day_i"),
        F.lit(1).alias("one"),
    )
    ranked, _ = bucketed_running(daily, "day_i", ["one"])
    d1 = ranked.select(
        "day", "hi", "lo", "cl", F.col("run_one").cast("long").alias("rn")
    )
    prev = d1.select(
        (F.col("rn") + 1).alias("rn"), F.col("cl").alias("pc")
    )
    tr = d1.join(prev, "rn").select(
        "rn", "day",
        F.greatest(
            F.col("hi") - F.col("lo"),
            F.abs(F.col("hi") - F.col("pc")),
            F.abs(F.col("lo") - F.col("pc")),
        ).alias("trng"),
    )
    # exact-integer cents so the second bucket-offset pass sums longs
    tr = tr.select(
        "rn", "day", "trng",
        (F.col("trng") * 100).cast("long").alias("trc"),
    )
    pre, _ = bucketed_running(tr, "rn", ["trc"])
    base = pre.select("rn", "day", "trng", "run_trc")
    back = pre.select(
        (F.col("rn") + 14).alias("rn"), F.col("run_trc").alias("run_back")
    )
    frame = (
        base.join(back, "rn", "left")
        .where(F.col("rn") >= 15)
        .select(
            "day", "trng",
            (
                F.col("run_trc") - F.coalesce(F.col("run_back"), F.lit(0))
            ).alias("frame_cents"),
        )
    )
    return frame.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("trng").cast("double").alias("true_range"),
        (F.col("frame_cents").cast("double") / 100.0 / 14.0).alias("atr_14"),
    )


@query(
    "win_donchian",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS hi,
             CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS lo,
             CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
                  AS DECIMAL(18,2)) AS cl
      FROM orders GROUP BY 1
    ),
    frame AS (
      SELECT a.day, a.cl,
             MAX(b.hi) AS hi14, MIN(b.lo) AS lo14, COUNT(*) AS n_days
      FROM daily a JOIN daily b
        ON b.day BETWEEN a.day - INTERVAL 13 DAY AND a.day
      GROUP BY a.day, a.cl
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(hi14 AS DOUBLE) AS channel_high,
           CAST(lo14 AS DOUBLE) AS channel_low,
           CASE WHEN hi14 > lo14 THEN
             round(CAST(cl - lo14 AS DOUBLE) / CAST(hi14 - lo14 AS DOUBLE), 9)
               + 0.0 END AS channel_position
    FROM frame WHERE n_days = 14
    """,
)
def win_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r13) — DONCHIAN CHANNEL over the daily series: trailing
    14-calendar-day high/low band + where today's close sits inside
    it (the breakout screen beside win_bollinger's σ-bands, win_rsi's
    momentum and win_atr's width — channel_position ∈ [0,1], 1 =
    closing on the channel high). Only frames with all 14 calendar
    days present emit — a gapped frame would silently narrow the
    band.

    Determinism: prices cast once to DECIMAL(18,2); hi/lo/close,
    the frame MAX/MIN and both differences are exact decimal
    (min/max are pure selection — no arithmetic to diverge); the
    position is one ratio of exact-decimal-derived doubles at the
    9-dp house emission, NULL on a flat channel.

    Scale + lint: windowless by construction — the trailing frame is
    a BOUNDED calendar self-join of the daily table (the
    seasonal_decompose precedent: offsets fix running sums, not
    sliding MIN/MAX, so bucket-offset machinery doesn't apply and a
    global window is lint-banned); days² at a decade is control-plane
    sized and broadcast."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    daily = (
        o.groupBy(
            F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
        )
        .agg(
            F.max(price).alias("hi"),
            F.min(price).alias("lo"),
            F.expr(
                "max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)"
            ).alias("cl"),
        )
        .localCheckpoint(eager=True)  # both self-join sides
    )
    b = daily.select(
        F.col("day").alias("bday"), F.col("hi").alias("bhi"),
        F.col("lo").alias("blo"),
    )
    frame = (
        daily.join(
            F.broadcast(b),
            F.col("bday").between(F.date_sub(F.col("day"), 13), F.col("day")),
        )
        .groupBy("day", "cl")
        .agg(
            F.max("bhi").alias("hi14"),
            F.min("blo").alias("lo14"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .where(F.col("n_days") == 14)
    )
    return frame.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("hi14").cast("double").alias("channel_high"),
        F.col("lo14").cast("double").alias("channel_low"),
        F.when(
            F.col("hi14") > F.col("lo14"),
            F.round(
                (F.col("cl") - F.col("lo14")).cast("double")
                / (F.col("hi14") - F.col("lo14")).cast("double"),
                9,
            )
            + F.lit(0.0),
        ).alias("channel_position"),
    )


@query(
    "win_obv",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
                  AS DECIMAL(18,2)) AS cl,
             COUNT(*) AS vol
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT day, vol, cl, LAG(cl) OVER (ORDER BY day) AS pc
      FROM daily
    ),
    flows AS (
      SELECT day,
             CASE WHEN cl > pc THEN vol
                  WHEN cl < pc THEN -vol
                  ELSE 0 END AS flow
      FROM lagged WHERE pc IS NOT NULL
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(flow AS BIGINT) AS flow,
           CAST(SUM(flow) OVER (ORDER BY day) AS BIGINT) AS obv
    FROM flows
    """,
)
def win_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r13) — ON-BALANCE VOLUME over the daily series (Granville
    1963): each day's order count flows with the close-to-close price
    direction (up-day adds volume, down-day subtracts, flat adds
    nothing) and OBV is the running total — the volume-confirmation
    readout beside win_rsi's momentum and win_donchian's breakout
    band. Daily proxies match the ATR/donchian family: close =
    max_by(price, o_orderkey) (unique-key tie-break), volume = order
    count. The series starts at the first day WITH a predecessor (the
    ATR rn >= 2 convention): OBV is an anchored cumulative, so the
    anchor day itself emits no row.

    Determinism: prices cast once to DECIMAL(18,2); the close lag,
    the three-way sign, and the running sum are all exact
    integer/decimal arithmetic — zero float exposure in any column.

    Scale + lint: no global window — the day rank, the lag-1
    predecessor, and the anchored cumulative all ride
    ``bucketed_running`` (B-way parallel windows + exact offsets)
    exactly as win_atr; days are calendar-bounded so both extra
    passes are control-plane sized. The DuckDB oracle keeps its plain
    window form — only values must match."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
    ).agg(
        F.expr(
            "CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)"
            " AS DECIMAL(9,2))"
        ).alias("cl"),
        F.count(F.lit(1)).alias("vol"),
    )
    daily = daily.select(
        "*", F.datediff("day", F.lit("1970-01-01")).alias("day_i"),
        F.lit(1).alias("one"),
    )
    ranked, _ = bucketed_running(daily, "day_i", ["one"])
    d1 = ranked.select(
        "day", "cl", "vol", F.col("run_one").cast("long").alias("rn")
    )
    prev = d1.select((F.col("rn") + 1).alias("rn"), F.col("cl").alias("pc"))
    flows = d1.join(prev, "rn").select(
        "rn", "day",
        F.when(F.col("cl") > F.col("pc"), F.col("vol"))
        .when(F.col("cl") < F.col("pc"), -F.col("vol"))
        .otherwise(F.lit(0)).cast("long").alias("flow"),
    )
    run, _ = bucketed_running(flows, "rn", ["flow"])
    return run.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("flow").cast("long").alias("flow"),
        F.col("run_flow").cast("long").alias("obv"),
    )


@query(
    "win_aroon",
    oracle="""
    WITH daily0 AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS hi_c,
             CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS lo_c
      FROM orders GROUP BY 1
    ),
    daily AS (
      SELECT *, CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT)
                  AS day_i
      FROM daily0
    ),
    frame AS (
      SELECT a.day, a.day_i,
             MAX(b.hi_c * 32768 + b.day_i) AS enc_hi,
             MIN(b.lo_c * 32768 + (32767 - b.day_i)) AS enc_lo,
             COUNT(*) AS n_days
      FROM daily a JOIN daily b
        ON b.day BETWEEN a.day - INTERVAL 13 DAY AND a.day
      GROUP BY a.day, a.day_i
    ),
    since AS (
      SELECT day,
             day_i - (enc_hi % 32768) AS dsh,
             day_i - (32767 - (enc_lo % 32768)) AS dsl
      FROM frame WHERE n_days = 14
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(dsh AS BIGINT) AS days_since_high,
           CAST(dsl AS BIGINT) AS days_since_low,
           CAST((14 - dsh) * 100 AS DOUBLE) / 14.0 AS aroon_up,
           CAST((14 - dsl) * 100 AS DOUBLE) / 14.0 AS aroon_down,
           CAST((14 - dsh) * 100 AS DOUBLE) / 14.0
             - CAST((14 - dsl) * 100 AS DOUBLE) / 14.0 AS aroon_osc
    FROM since
    """,
)
def win_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r13) — AROON indicator (Chande 1995) over the daily
    series: how recently the trailing 14-calendar-day high and low
    were set. aroon_up = 100·(14 − days_since_high)/14 (100 = the
    high is today, fading as it ages); the oscillator (up − down) is
    the trend-direction readout beside win_donchian's band POSITION —
    donchian says where the close sits, aroon says how FRESH each
    band edge is. Only full 14-day frames emit (the donchian gap
    rule).

    Determinism: the frame argmax/argmin ride ONE exact integer
    encoding — cents·32768 + day_index (cents ≤ 5·10⁷ from
    DECIMAL(18,2) prices, day_index < 32768 through year 2059, so the
    encode is < 2^53 and collision-free) — MAX picks the highest
    price breaking ties toward the LATEST day; the low side mirrors
    the day index (32767 − i) so MIN also tie-breaks latest. Both
    engines decode with the same % — every column is exact integer
    until the two shared single-division IEEE trees.

    Scale + lint: windowless — the donchian bounded calendar
    self-join (days² at a decade is control-plane sized, broadcast);
    one groupBy over the frame."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    daily = (
        o.groupBy(
            F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
        )
        .agg(
            (F.max(price) * 100).cast("long").alias("hi_c"),
            (F.min(price) * 100).cast("long").alias("lo_c"),
        )
        .select(
            "*",
            F.datediff("day", F.lit("1970-01-01")).cast("long").alias("day_i"),
        )
        .localCheckpoint(eager=True)  # both self-join sides
    )
    b = daily.select(
        F.col("day").alias("bday"),
        (F.col("hi_c") * 32768 + F.col("day_i")).alias("benc_hi"),
        (F.col("lo_c") * 32768 + (32767 - F.col("day_i"))).alias("benc_lo"),
    )
    frame = (
        daily.join(
            F.broadcast(b),
            F.col("bday").between(F.date_sub(F.col("day"), 13), F.col("day")),
        )
        .groupBy("day", "day_i")
        .agg(
            F.max("benc_hi").alias("enc_hi"),
            F.min("benc_lo").alias("enc_lo"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .where(F.col("n_days") == 14)
    )
    dsh = F.col("day_i") - F.col("enc_hi") % 32768
    dsl = F.col("day_i") - (32767 - F.col("enc_lo") % 32768)
    up = ((14 - dsh) * 100).cast("double") / 14.0
    down = ((14 - dsl) * 100).cast("double") / 14.0
    return frame.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        dsh.cast("long").alias("days_since_high"),
        dsl.cast("long").alias("days_since_low"),
        up.alias("aroon_up"),
        down.alias("aroon_down"),
        (up - down).alias("aroon_osc"),
    )


@query(
    "win_vwap",
    oracle="""
    WITH daily AS (
      SELECT CAST(EXTRACT(year FROM l_shipdate) * 12
                  + EXTRACT(month FROM l_shipdate) - 1 AS BIGINT) AS mi,
             CAST(date_trunc('day', l_shipdate) AS DATE) AS day,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS pq_c,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    run AS (
      SELECT day,
             CAST(SUM(pq_c) OVER w AS BIGINT) AS run_pq,
             CAST(SUM(q) OVER w AS BIGINT) AS run_q
      FROM daily
      WINDOW w AS (PARTITION BY mi ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           run_q AS cum_qty,
           CAST(run_pq AS DOUBLE) / run_q / 100.0 AS vwap
    FROM run
    """,
)
def win_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r13) — month-ANCHORED VWAP over lineitem: the cumulative
    quantity-weighted average price from each month's first shipping
    day through the current day (the execution-quality benchmark the
    finance family was missing — OBV weights direction by volume,
    VWAP weights PRICE by volume; the anchor resets monthly, the
    intraday-session convention lifted to the fixture's daily grain).

    Determinism: l_extendedprice is ALREADY price·qty by TPC-H
    construction, so the numerator is its exact cent sum (cast once
    to DECIMAL(18,2), ·100 exact) and the denominator sums
    l_quantity (integral by construction) as BIGINT — both running
    sums exact; vwap is one shared two-division IEEE tree over
    exact-long casts, unrounded. Integer headroom: a month's cent
    total stays < 2^53 through sf ≈ 1000; past that the documented
    decimal(38,0) upgrade applies (the kruskal n³−n knob).

    Scale + lint: the running sum is a window PARTITIONED by month
    (≤ 31 rows per partition — never global, lint-clean) over the
    pre-aggregated daily table, so the corpus is touched exactly
    once by the groupBy; day is unique within a month, so the frame
    order is total and partition-count independent."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
        .cast("long").alias("mi"),
        F.date_trunc("day", F.col("l_shipdate")).cast("date").alias("day"),
    ).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)") * 100
        ).cast("long").alias("pq_c"),
        F.sum(F.col("l_quantity").cast("long")).alias("q"),
    )
    w = (
        Window.partitionBy("mi")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = daily.select(
        "day",
        F.sum("pq_c").over(w).cast("long").alias("run_pq"),
        F.sum("q").over(w).cast("long").alias("run_q"),
    )
    return run.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("run_q").alias("cum_qty"),
        (F.col("run_pq").cast("double") / F.col("run_q") / 100.0).alias(
            "vwap"
        ),
    )


@query(
    "win_stochastic",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS hi,
             CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS lo,
             CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
                  AS DECIMAL(18,2)) AS cl
      FROM orders GROUP BY 1
    ),
    frame AS (
      SELECT a.day, a.cl,
             MAX(b.hi) AS hi14, MIN(b.lo) AS lo14, COUNT(*) AS n_days
      FROM daily a JOIN daily b
        ON b.day BETWEEN a.day - INTERVAL 13 DAY AND a.day
      GROUP BY a.day, a.cl
    ),
    k AS (
      SELECT day,
             CASE WHEN hi14 > lo14 THEN
               100.0 * CAST(cl - lo14 AS DOUBLE)
                 / CAST(hi14 - lo14 AS DOUBLE) END AS pct_k,
             ROW_NUMBER() OVER (ORDER BY day) AS rn
      FROM frame WHERE n_days = 14
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, pct_k,
           (pct_k + LAG(pct_k, 1) OVER w + LAG(pct_k, 2) OVER w) / 3.0
             AS pct_d
    FROM k
    WINDOW w AS (ORDER BY rn)
    """,
)
def win_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r13) — STOCHASTIC OSCILLATOR (Lane 1950s): %K = where
    today's close sits in the trailing 14-calendar-day range on a
    0–100 scale (win_donchian's position × 100, same daily OHLC
    proxies), %D = the 3-frame simple mean of %K — the smoothed
    signal line traders cross against %K. Only full 14-day frames
    emit; the first two frame days carry NULL %D (no 3-frame
    history), and a flat channel carries NULL %K which propagates
    into any %D touching it — identical in both engines.

    Determinism: hi/lo/close and the frame extremes are exact
    decimal selection; %K is one shared IEEE tree over exact-cent
    casts (< 2^53), and %D is the FIXED-ORDER tree
    (k₀ + k₋₁ + k₋₂)/3 of bit-identical doubles — both unrounded
    (a 3-term fixed-order sum is not an order-free aggregate, so the
    win_ewma round-the-sum rule does not apply).

    Scale + lint: the frame is the donchian bounded calendar
    self-join; the frame-day rank rides ``bucketed_running`` (no
    global window) and the two lags are broadcast control-plane
    self-joins on rank."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    daily = (
        o.groupBy(
            F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
        )
        .agg(
            F.max(price).alias("hi"),
            F.min(price).alias("lo"),
            F.expr(
                "max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)"
            ).alias("cl"),
        )
        .localCheckpoint(eager=True)  # both self-join sides
    )
    b = daily.select(
        F.col("day").alias("bday"), F.col("hi").alias("bhi"),
        F.col("lo").alias("blo"),
    )
    frame = (
        daily.join(
            F.broadcast(b),
            F.col("bday").between(F.date_sub(F.col("day"), 13), F.col("day")),
        )
        .groupBy("day", "cl")
        .agg(
            F.max("bhi").alias("hi14"),
            F.min("blo").alias("lo14"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .where(F.col("n_days") == 14)
    )
    pct_k = F.when(
        F.col("hi14") > F.col("lo14"),
        100.0
        * (F.col("cl") - F.col("lo14")).cast("double")
        / (F.col("hi14") - F.col("lo14")).cast("double"),
    )
    kdf = frame.select(
        "day", pct_k.alias("pct_k"),
        F.datediff("day", F.lit("1970-01-01")).alias("day_i"),
        F.lit(1).alias("one"),
    )
    ranked, _ = bucketed_running(kdf, "day_i", ["one"])
    kr = ranked.select(
        "day", "pct_k", F.col("run_one").cast("long").alias("rn")
    ).localCheckpoint(eager=True)  # three join legs
    l1 = kr.select((F.col("rn") + 1).alias("rn"), F.col("pct_k").alias("k1"))
    l2 = kr.select((F.col("rn") + 2).alias("rn"), F.col("pct_k").alias("k2"))
    return (
        kr.join(F.broadcast(l1), "rn", "left")
        .join(F.broadcast(l2), "rn", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "pct_k",
            ((F.col("pct_k") + F.col("k1") + F.col("k2")) / 3.0).alias(
                "pct_d"
            ),
        )
    )


@query(
    "win_ichimoku",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS hi_c,
             CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS lo_c
      FROM orders GROUP BY 1
    ),
    frame AS (
      SELECT a.day,
             MAX(CASE WHEN b.day >= a.day - INTERVAL 8 DAY
                      THEN b.hi_c END) AS hi9,
             MIN(CASE WHEN b.day >= a.day - INTERVAL 8 DAY
                      THEN b.lo_c END) AS lo9,
             SUM(CASE WHEN b.day >= a.day - INTERVAL 8 DAY
                      THEN 1 ELSE 0 END) AS n9,
             MAX(CASE WHEN b.day >= a.day - INTERVAL 25 DAY
                      THEN b.hi_c END) AS hi26,
             MIN(CASE WHEN b.day >= a.day - INTERVAL 25 DAY
                      THEN b.lo_c END) AS lo26,
             SUM(CASE WHEN b.day >= a.day - INTERVAL 25 DAY
                      THEN 1 ELSE 0 END) AS n26,
             MAX(b.hi_c) AS hi52, MIN(b.lo_c) AS lo52,
             COUNT(*) AS n52
      FROM daily a JOIN daily b
        ON b.day BETWEEN a.day - INTERVAL 51 DAY AND a.day
      GROUP BY a.day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(hi9 + lo9 AS DOUBLE) / 200.0 AS tenkan,
           CAST(hi26 + lo26 AS DOUBLE) / 200.0 AS kijun,
           CAST((hi9 + lo9) + (hi26 + lo26) AS DOUBLE) / 400.0 AS senkou_a,
           CAST(hi52 + lo52 AS DOUBLE) / 200.0 AS senkou_b,
           CAST((hi9 + lo9) + (hi26 + lo26) AS DOUBLE) / 400.0
             > CAST(hi52 + lo52 AS DOUBLE) / 200.0 AS cloud_bullish
    FROM frame
    WHERE n9 = 9 AND n26 = 26 AND n52 = 52
    """,
)
def win_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r13) — ICHIMOKU component lines (Hosoda 1969) over the
    daily series: Tenkan (9-day midrange), Kijun (26-day midrange),
    Senkou A = their mean, Senkou B (52-day midrange), and the
    cloud-direction bit — the MULTI-HORIZON trend stack beside the
    single-horizon donchian/aroon (all three lines are pure
    range-midpoints at different lookbacks; A above B reads bullish).
    Projection shifts (plotting the spans 26 days forward) are a
    chart convention, not a data transform, and are omitted. Only
    days where ALL THREE calendar frames are full emit (the donchian
    gap rule at the strictest horizon).

    Determinism: everything is exact integer-cent selection (MAX/MIN
    of cents, conditional on calendar bounds) until four final
    shared single-division IEEE trees (summed cents /200 — never a
    decimal division, which binds different scales per engine); the
    cloud bit compares two of those identical doubles.

    Scale + lint: windowless — ONE bounded 52-day calendar self-join
    serves all three horizons via conditional aggregation (not three
    joins); days² at a decade is control-plane sized and
    broadcast."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    daily = (
        o.groupBy(
            F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
        )
        .agg(
            (F.max(price) * 100).cast("long").alias("hi_c"),
            (F.min(price) * 100).cast("long").alias("lo_c"),
        )
        .localCheckpoint(eager=True)  # both self-join sides
    )
    b = daily.select(
        F.col("day").alias("bday"), F.col("hi_c").alias("bhi"),
        F.col("lo_c").alias("blo"),
    )

    def in_horizon(days_back):
        return F.col("bday") >= F.date_sub(F.col("day"), days_back)

    frame = (
        daily.join(
            F.broadcast(b),
            F.col("bday").between(F.date_sub(F.col("day"), 51), F.col("day")),
        )
        .groupBy("day")
        .agg(
            F.max(F.when(in_horizon(8), F.col("bhi"))).alias("hi9"),
            F.min(F.when(in_horizon(8), F.col("blo"))).alias("lo9"),
            F.sum(F.when(in_horizon(8), 1).otherwise(0)).alias("n9"),
            F.max(F.when(in_horizon(25), F.col("bhi"))).alias("hi26"),
            F.min(F.when(in_horizon(25), F.col("blo"))).alias("lo26"),
            F.sum(F.when(in_horizon(25), 1).otherwise(0)).alias("n26"),
            F.max("bhi").alias("hi52"),
            F.min("blo").alias("lo52"),
            F.count(F.lit(1)).alias("n52"),
        )
        .where(
            (F.col("n9") == 9) & (F.col("n26") == 26) & (F.col("n52") == 52)
        )
    )
    tenkan = (F.col("hi9") + F.col("lo9")).cast("double") / 200.0
    kijun = (F.col("hi26") + F.col("lo26")).cast("double") / 200.0
    senkou_a = (
        (F.col("hi9") + F.col("lo9")) + (F.col("hi26") + F.col("lo26"))
    ).cast("double") / 400.0
    senkou_b = (F.col("hi52") + F.col("lo52")).cast("double") / 200.0
    return frame.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        tenkan.alias("tenkan"),
        kijun.alias("kijun"),
        senkou_a.alias("senkou_a"),
        senkou_b.alias("senkou_b"),
        (senkou_a > senkou_b).alias("cloud_bullish"),
    )


@query(
    "win_pivot_points",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS hi_c,
             CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS lo_c,
             CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
                  * 100 AS BIGINT) AS cl_c
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT day,
             LAG(hi_c) OVER w AS ph, LAG(lo_c) OVER w AS pl,
             LAG(cl_c) OVER w AS pc
      FROM daily WINDOW w AS (ORDER BY day)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(ph + pl + pc AS DOUBLE) / 300.0 AS pivot,
           CAST(2 * (ph + pl + pc) - 3 * pl AS DOUBLE) / 300.0 AS r1,
           CAST(2 * (ph + pl + pc) - 3 * ph AS DOUBLE) / 300.0 AS s1,
           CAST((ph + pl + pc) + 3 * (ph - pl) AS DOUBLE) / 300.0 AS r2,
           CAST((ph + pl + pc) - 3 * (ph - pl) AS DOUBLE) / 300.0 AS s2
    FROM lagged WHERE pc IS NOT NULL
    """,
)
def win_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r13) — classic floor-trader PIVOT POINTS from the PRIOR
    day's OHLC: P = (H+L+C)/3, R1 = 2P−L, S1 = 2P−H, R2 = P+(H−L),
    S2 = P−(H−L) — the support/resistance levels published before
    each session opens (today's row carries YESTERDAY's levels, the
    convention). Completes the finance-window family's intraday leg
    beside the trailing-frame indicators.

    Determinism: all five levels are exact integer-CENT arithmetic
    (3P = H+L+C in cents; every level is an integer-cent combination
    over /300) until one shared division each — unrounded, zero
    accumulation. The close tie-break is max_by on the unique order
    key (the ATR convention).

    Scale + lint: the lag-1 predecessor rides ``bucketed_running``'s
    day rank + a broadcast self-join (the OBV shape) — no global
    window; days-bounded control plane throughout."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
    ).agg(
        (F.max(price) * 100).cast("long").alias("hi_c"),
        (F.min(price) * 100).cast("long").alias("lo_c"),
        F.expr(
            "CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)"
            " * 100 AS BIGINT)"
        ).alias("cl_c"),
    )
    daily = daily.select(
        "*", F.datediff("day", F.lit("1970-01-01")).alias("day_i"),
        F.lit(1).alias("one"),
    )
    ranked, _ = bucketed_running(daily, "day_i", ["one"])
    d1 = ranked.select(
        "day", "hi_c", "lo_c", "cl_c",
        F.col("run_one").cast("long").alias("rn"),
    )
    prev = d1.select(
        (F.col("rn") + 1).alias("rn"), F.col("hi_c").alias("ph"),
        F.col("lo_c").alias("pl"), F.col("cl_c").alias("pc"),
    )
    j = d1.join(F.broadcast(prev), "rn")
    p3 = F.col("ph") + F.col("pl") + F.col("pc")  # 3·pivot in cents
    rng3 = 3 * (F.col("ph") - F.col("pl"))
    return j.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (p3.cast("double") / 300.0).alias("pivot"),
        ((2 * p3 - 3 * F.col("pl")).cast("double") / 300.0).alias("r1"),
        ((2 * p3 - 3 * F.col("ph")).cast("double") / 300.0).alias("s1"),
        ((p3 + rng3).cast("double") / 300.0).alias("r2"),
        ((p3 - rng3).cast("double") / 300.0).alias("s2"),
    )


@query(
    "win_cci",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
             + CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
             + CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
                    * 100 AS BIGINT) AS s
      FROM orders GROUP BY 1
    ),
    frame AS (
      SELECT a.day, a.s AS s_t, COUNT(*) AS n, SUM(b.s) AS sum_s
      FROM daily a JOIN daily b
        ON b.day BETWEEN a.day - INTERVAL 13 DAY AND a.day
      GROUP BY a.day, a.s
      HAVING COUNT(*) = 14
    ),
    dev AS (
      SELECT f.day, f.s_t, f.n, f.sum_s,
             SUM(abs(f.n * b.s - f.sum_s)) AS dsum
      FROM frame f JOIN daily b
        ON b.day BETWEEN f.day - INTERVAL 13 DAY AND f.day
      GROUP BY f.day, f.s_t, f.n, f.sum_s
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(s_t AS DOUBLE) / 300.0 AS typical_price,
           CASE WHEN dsum > 0 THEN
             CAST(n * (n * s_t - sum_s) AS DOUBLE)
               / (0.015 * CAST(dsum AS DOUBLE)) END AS cci
    FROM dev
    """,
)
def win_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r14) — COMMODITY CHANNEL INDEX (Lambert 1980) over the
    daily OHLC proxies: CCI = (TP − SMA₁₄(TP)) / (0.015·MD₁₄) with
    TP = (high+low+close)/3 and MD the mean absolute deviation of TP
    from its own 14-frame mean — the mean-reversion oscillator the
    finance family (ATR/stochastic/donchian) lacks a
    deviation-normalized form of. Only full 14-calendar-day frames
    emit; a zero-deviation (flat) frame carries NULL.

    Determinism: the ÷3 of the typical price CANCELS between
    numerator and denominator — the identity
    CCI = n·(n·s_t − Σs) / (0.015·Σ|n·sⱼ − Σs|) runs ENTIRELY in
    exact integer cent sums (s = hi+lo+close cents < 2e8; every
    window term < 2^45), with exactly one double division at the end
    (0.015 a short exact literal). ``typical_price`` is the single
    exact-int / 300.0 tree.

    Scale + lint: two broadcast bounded calendar self-joins (the
    donchian/stochastic frame pattern — day-bounded, never
    all-pairs), daily localCheckpointed once for all three legs; no
    global window."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    daily = (
        o.groupBy(
            F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
        )
        .agg(
            (
                (F.max(price) * 100).cast("bigint")
                + (F.min(price) * 100).cast("bigint")
                + F.expr(
                    "CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)),"
                    " o_orderkey) * 100 AS BIGINT)"
                )
            ).alias("s")
        )
        .localCheckpoint(eager=True)  # three join legs
    )
    b = daily.select(F.col("day").alias("bday"), F.col("s").alias("bs"))
    frame = (
        daily.join(
            F.broadcast(b),
            F.col("bday").between(F.date_sub(F.col("day"), 13), F.col("day")),
        )
        .groupBy("day", "s")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("bs").alias("sum_s"))
        .where(F.col("n") == 14)
        .withColumnRenamed("s", "s_t")
    )
    dev = (
        frame.join(
            F.broadcast(b),
            F.col("bday").between(F.date_sub(F.col("day"), 13), F.col("day")),
        )
        .groupBy("day", "s_t", "n", "sum_s")
        .agg(
            F.sum(
                F.abs(F.col("n") * F.col("bs") - F.col("sum_s"))
            ).alias("dsum")
        )
    )
    return dev.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("s_t").cast("double") / 300.0).alias("typical_price"),
        F.when(
            F.col("dsum") > 0,
            (F.col("n") * (F.col("n") * F.col("s_t") - F.col("sum_s"))).cast(
                "double"
            )
            / (F.lit(0.015) * F.col("dsum").cast("double")),
        ).alias("cci"),
    )


@query(
    "win_mfi",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
             + CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
             + CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
                    * 100 AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT day, s, v, ROW_NUMBER() OVER (ORDER BY day) AS rn
      FROM daily
    ),
    dirs AS (
      SELECT day, rn, s, v,
             CASE WHEN s > LAG(s) OVER w THEN 1
                  WHEN s < LAG(s) OVER w THEN -1 ELSE 0 END AS dir,
             LAG(s) OVER w IS NULL AS no_prev
      FROM ranked WINDOW w AS (ORDER BY rn)
    ),
    d2 AS (SELECT * FROM dirs WHERE NOT no_prev),
    frame AS (
      SELECT a.day,
             CAST(SUM(CASE WHEN b.dir = 1 THEN b.s * b.v ELSE 0 END)
                  AS BIGINT) AS pos_mf,
             CAST(SUM(CASE WHEN b.dir = -1 THEN b.s * b.v ELSE 0 END)
                  AS BIGINT) AS neg_mf,
             COUNT(*) AS n
      FROM d2 a JOIN d2 b ON b.rn BETWEEN a.rn - 13 AND a.rn
      GROUP BY a.day
      HAVING COUNT(*) = 14
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, pos_mf, neg_mf,
           CASE WHEN pos_mf + neg_mf > 0 THEN
             100.0 * CAST(pos_mf AS DOUBLE) / (pos_mf + neg_mf)
           END AS mfi
    FROM frame
    """,
)
def win_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r14) — MONEY FLOW INDEX (Quong–Soudack) over the daily
    series: the volume-weighted RSI. Raw money flow = typical price
    x volume, signed by whether TP rose or fell vs the prior trading
    day (flat days contribute to neither side — the textbook rule);
    MFI = 100·pos/(pos+neg) over a 14-PERIOD (row) frame — the
    volume leg the finance family lacks (OBV signs volume by close
    direction; MFI weights PRICE FLOW by volume). Volume proxies as
    the daily order count; the first trading day (no prior) is
    excluded and only full 14-period frames emit.

    Determinism: s = (high+low+close) in exact cents (the CCI sum —
    the /3 of TP cancels inside the pos/(pos+neg) ratio, so money
    flow rides as the exact BIGINT s*v), direction compares exact
    longs, and MFI is ONE IEEE division of exact BIGINTs (frame sums
    < 2^47 at sf100). pos_mf/neg_mf emit in 3*cents*orders units —
    exact, documented. A zero-flow frame (all flat) is NULL, never a
    crash.

    Scale + lint: period ranks ride ``bucketed_running`` (no global
    window); the prior-day direction and the 14-period frame are
    TWO broadcast rank-range self-joins over the days-bounded
    control plane (the stochastic/CCI shape)."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
    ).agg(
        (
            (F.max(price) * 100).cast("bigint")
            + (F.min(price) * 100).cast("bigint")
            + F.expr(
                "CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)),"
                " o_orderkey) * 100 AS BIGINT)"
            )
        ).alias("s"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    daily = daily.select(
        "*", F.datediff("day", F.lit("1970-01-01")).alias("day_i"),
        F.lit(1).alias("one"),
    )
    ranked, _ = bucketed_running(daily, "day_i", ["one"])
    r = ranked.select(
        "day", "s", "v", F.col("run_one").cast("long").alias("rn")
    ).localCheckpoint(eager=True)  # self-join legs
    prev = r.select((F.col("rn") + 1).alias("rn"), F.col("s").alias("ps"))
    dirs = (
        r.join(F.broadcast(prev), "rn")  # inner: drops the first day
        .select(
            "day", "rn", "s", "v",
            F.when(F.col("s") > F.col("ps"), 1)
            .when(F.col("s") < F.col("ps"), -1)
            .otherwise(0)
            .alias("dir"),
        )
        .localCheckpoint(eager=True)  # both frame legs
    )
    b = dirs.select(
        F.col("rn").alias("brn"), F.col("dir").alias("bdir"),
        (F.col("s") * F.col("v")).alias("bmf"),
    )
    frame = (
        dirs.join(
            F.broadcast(b),
            F.col("brn").between(F.col("rn") - 13, F.col("rn")),
        )
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("bdir") == 1, F.col("bmf")).otherwise(0))
            .cast("long")
            .alias("pos_mf"),
            F.sum(F.when(F.col("bdir") == -1, F.col("bmf")).otherwise(0))
            .cast("long")
            .alias("neg_mf"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") == 14)
    )
    flow = F.col("pos_mf") + F.col("neg_mf")
    return frame.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "pos_mf", "neg_mf",
        F.when(
            flow > 0, 100.0 * F.col("pos_mf").cast("double") / flow
        ).alias("mfi"),
    )
# Finite-horizon EMA kernels for win_macd, exact-decimal alphas so
# every tap terminates at <= 11 decimal digits and the whole dot
# product runs in EXACT decimal (the win_ewma discipline — a
# round(w*x, 6)-of-doubles draft hit the shortest-repr vs exact-value
# rounding split at a 6-dp midpoint; see SCALE.md r8/r14). Taps are
# alpha*(1-alpha)^j; the LAST tap carries the tail mass (1-alpha)^h
# so each kernel sums to exactly 1 (the win_ewma convention).
_MACD_FAST = ["0.5", "0.25", "0.125", "0.0625", "0.03125", "0.015625",
              "0.0078125", "0.0078125"]                # alpha=1/2, h=8
_MACD_SLOW = ["0.2", "0.16", "0.128", "0.1024", "0.08192", "0.065536",
              "0.0524288", "0.04194304", "0.033554432", "0.0268435456",
              "0.02147483648", "0.08589934592"]        # alpha=1/5, h=12
_MACD_SIG = ["0.25", "0.1875", "0.140625", "0.10546875",
             "0.31640625"]                             # alpha=1/4, h=5


def _kernel_sql(col: str, diff: str, taps: list[str]) -> str:
    """Exact-decimal CASE-chain dot-product term, shared verbatim by
    the Spark expr and the DuckDB oracle: tap * col with the tap an
    exact DECIMAL(19,11) literal (width > 18 forces DuckDB's int128
    decimal path — at width 13 it multiplies in int64 and overflows),
    0 outside the kernel."""
    whens = " ".join(f"WHEN {d} THEN '{w}'" for d, w in enumerate(taps))
    return (
        f"CAST(CASE {diff} {whens} ELSE '0' END AS DECIMAL(19,11)) * {col}"
    )


@query(
    "win_macd",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
                  AS DECIMAL(9,2)) AS cl
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT day, cl, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
    ),
    emas AS (
      SELECT a.day, a.rn,
             CAST(SUM({_kernel_sql('b.cl', 'a.rn - b.rn', _MACD_FAST)})
                  AS DECIMAL(24,13)) AS fast,
             CAST(SUM({_kernel_sql('b.cl', 'a.rn - b.rn', _MACD_SLOW)})
                  AS DECIMAL(24,13)) AS slow,
             COUNT(*) AS n
      FROM ranked a JOIN ranked b ON b.rn BETWEEN a.rn - 11 AND a.rn
      GROUP BY a.day, a.rn
      HAVING COUNT(*) = 12
    ),
    macd AS (
      SELECT day, rn,
             CAST(round(fast - slow, 6) AS DECIMAL(13,6)) AS m
      FROM emas
    ),
    sig AS (
      SELECT a.day, a.m,
             CAST(round(SUM({_kernel_sql('b.m', 'a.rn - b.rn', _MACD_SIG)}),
                        6) AS DECIMAL(13,6)) AS s,
             COUNT(*) AS n
      FROM macd a JOIN macd b ON b.rn BETWEEN a.rn - 4 AND a.rn
      GROUP BY a.day, a.m, a.rn
      HAVING COUNT(*) = 5
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(m AS DOUBLE) AS macd,
           CAST(s AS DOUBLE) AS signal,
           CAST(m - s AS DOUBLE) AS histogram
    FROM sig
    """,
)
def win_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r14) — MACD (Appel) over the daily close series, the
    EXACT-DECIMAL-alpha finite-horizon adaptation MACD(3,9) with a
    7-period signal line: fast/slow EMAs use alpha = 1/2 and 1/5
    (alphas whose kernel taps terminate at <= 11 decimal digits —
    the win_ewma alpha-selection rule), each a FIXED 8/12-tap dot
    product whose last tap carries the tail mass so weights sum to
    exactly 1; macd = fast - slow; signal = the 5-tap alpha=1/4
    kernel over macd; histogram = macd - signal. Rows emit once both
    EMA horizons and the signal horizon are full (rn >= 16).

    Determinism: the ENTIRE computation is exact decimal — taps are
    DECIMAL(19,11) string-literal casts, the close is the exact
    DECIMAL(18,2) tie-broken by order key, products/sums never leave
    decimal (downcast to DECIMAL(24,13) is exact: values terminate
    at 13 dp and fit), and macd/signal are rounded to 6 dp IN
    DECIMAL (exact-value HALF_UP in both engines — never the
    round-of-double shortest-repr trap, which a draft of this key
    measurably hit) before the three final double casts (< 2^53
    unscaled — exact). The recursive EMA is order-dependent; the
    finite-horizon kernel is the documented equivalence (win_ewma).

    Scale + lint: period ranks ride ``bucketed_running`` (no global
    window); ONE bounded rank-range self-join serves BOTH EMAs via
    conditional kernels (the ichimoku multi-horizon trick) and a
    second ONE serves the signal — all broadcast, days-bounded."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
    ).agg(
        F.expr(
            "CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)"
            " AS DECIMAL(9,2))"
        ).alias("cl")
    )
    daily = daily.select(
        "*", F.datediff("day", F.lit("1970-01-01")).alias("day_i"),
        F.lit(1).alias("one"),
    )
    ranked, _ = bucketed_running(daily, "day_i", ["one"])
    r = ranked.select(
        "day", "cl", F.col("run_one").cast("long").alias("rn")
    ).localCheckpoint(eager=True)  # both self-join sides
    b = r.select(F.col("rn").alias("brn"), F.col("cl").alias("bcl"))
    emas = (
        r.join(F.broadcast(b),
               F.col("brn").between(F.col("rn") - 11, F.col("rn")))
        .groupBy("day", "rn")
        .agg(
            F.sum(F.expr(_kernel_sql("bcl", "rn - brn", _MACD_FAST)))
            .cast("decimal(24,13)")
            .alias("fast"),
            F.sum(F.expr(_kernel_sql("bcl", "rn - brn", _MACD_SLOW)))
            .cast("decimal(24,13)")
            .alias("slow"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") == 12)
    )
    macd = emas.select(
        "day", "rn",
        F.round(F.col("fast") - F.col("slow"), 6)
        .cast("decimal(13,6)")
        .alias("m"),
    ).localCheckpoint(eager=True)  # both signal-join sides
    mb = macd.select(F.col("rn").alias("brn"), F.col("m").alias("bm"))
    sig = (
        macd.join(F.broadcast(mb),
                  F.col("brn").between(F.col("rn") - 4, F.col("rn")))
        .groupBy("day", "m", "rn")
        .agg(
            F.round(
                F.sum(F.expr(_kernel_sql("bm", "rn - brn", _MACD_SIG))), 6
            )
            .cast("decimal(13,6)")
            .alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") == 5)
    )
    return sig.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("m").cast("double").alias("macd"),
        F.col("s").cast("double").alias("signal"),
        (F.col("m") - F.col("s")).cast("double").alias("histogram"),
    )


@query(
    "win_ulcer_index",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
                  * 100 AS BIGINT) AS cl_c
      FROM orders GROUP BY 1
    ),
    dd AS (
      SELECT a.day, a.cl_c, MAX(b.cl_c) AS mx_c, COUNT(*) AS n
      FROM daily a JOIN daily b
        ON b.day BETWEEN a.day - INTERVAL 13 DAY AND a.day
      GROUP BY a.day, a.cl_c
      HAVING COUNT(*) = 14
    ),
    dsq AS (
      SELECT day,
             100.0 * CAST(cl_c - mx_c AS DOUBLE) / mx_c AS dd_pct,
             CAST(round(
               (100.0 * CAST(cl_c - mx_c AS DOUBLE) / mx_c)
               * (100.0 * CAST(cl_c - mx_c AS DOUBLE) / mx_c), 6)
               AS DECIMAL(18,6)) AS ddsq
      FROM dd
    ),
    ui AS (
      SELECT a.day, a.dd_pct,
             CAST(SUM(b.ddsq) AS DECIMAL(24,6)) AS ssq, COUNT(*) AS n
      FROM dsq a JOIN dsq b
        ON b.day BETWEEN a.day - INTERVAL 13 DAY AND a.day
      GROUP BY a.day, a.dd_pct
      HAVING COUNT(*) = 14
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, dd_pct,
           sqrt(CAST(ssq AS DOUBLE) / 14.0) AS ulcer_index
    FROM ui
    """,
)
def win_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r14) — ULCER INDEX (Martin 1987) over the daily close
    series: the RMS of the trailing 14-day percentage drawdown —
    the DOWNSIDE-only risk measure beside win_max_drawdown (which
    takes the single worst dip) and win_bollinger (which penalizes
    up-moves symmetrically). Each day's drawdown is measured against
    the max close of ITS trailing 14-calendar-day frame; the index
    then root-mean-squares those drawdowns over a second 14-day
    frame. Only days where both frames are full emit.

    Determinism: dd_pct is one shared IEEE tree over exact cent
    longs (identical in both engines); its square is pre-rounded to
    6 dp and decimal-summed (the term rule — the square of an agreed
    double is itself agreed, and a quotient's square can never sit
    on an exact 7-dp midpoint, see the r14 SCALE ledger note), the
    mean divides the exact decimal sum cast ONCE to double by the
    literal 14.0, and sqrt is IEEE-correctly-rounded in both
    engines (unlike exp/ln, sqrt has a single admissible result).

    Scale + lint: the donchian/CCI pattern — TWO chained bounded
    calendar self-joins (broadcast, days-bounded control plane), the
    daily table localCheckpointed once for all legs; no global
    window, no collects."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
        )
        .agg(
            F.expr(
                "CAST(max_by(CAST(o_totalprice AS DECIMAL(18,2)),"
                " o_orderkey) * 100 AS BIGINT)"
            ).alias("cl_c")
        )
        .localCheckpoint(eager=True)  # both frame-1 legs
    )
    b = daily.select(F.col("day").alias("bday"), F.col("cl_c").alias("bcl"))
    dd = (
        daily.join(
            F.broadcast(b),
            F.col("bday").between(F.date_sub(F.col("day"), 13), F.col("day")),
        )
        .groupBy("day", "cl_c")
        .agg(F.max("bcl").alias("mx_c"), F.count(F.lit(1)).alias("n"))
        .where(F.col("n") == 14)
    )
    dd_pct = (
        100.0 * (F.col("cl_c") - F.col("mx_c")).cast("double") / F.col("mx_c")
    )
    dsq = dd.select(
        "day",
        dd_pct.alias("dd_pct"),
        F.round(dd_pct * dd_pct, 6).cast("decimal(18,6)").alias("ddsq"),
    ).localCheckpoint(eager=True)  # both frame-2 legs
    b2 = dsq.select(F.col("day").alias("bday"), F.col("ddsq").alias("bsq"))
    ui = (
        dsq.join(
            F.broadcast(b2),
            F.col("bday").between(F.date_sub(F.col("day"), 13), F.col("day")),
        )
        .groupBy("day", "dd_pct")
        .agg(
            F.sum("bsq").cast("decimal(24,6)").alias("ssq"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") == 14)
    )
    return ui.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dd_pct",
        F.sqrt(F.col("ssq").cast("double") / 14.0).alias("ulcer_index"),
    )


@query(
    "win_parkinson",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS hi_c,
             CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS lo_c
      FROM orders GROUP BY 1
    ),
    terms AS (
      SELECT day,
             ln(CAST(hi_c AS DOUBLE) / lo_c) AS log_range,
             CAST(round(ln(CAST(hi_c AS DOUBLE) / lo_c)
                        * ln(CAST(hi_c AS DOUBLE) / lo_c), 6)
                  AS DECIMAL(18,6)) AS sq
      FROM daily
    ),
    frame AS (
      SELECT a.day, a.log_range,
             CAST(SUM(b.sq) AS DECIMAL(24,6)) AS ssq, COUNT(*) AS n
      FROM terms a JOIN terms b
        ON b.day BETWEEN a.day - INTERVAL 13 DAY AND a.day
      GROUP BY a.day, a.log_range
      HAVING COUNT(*) = 14
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           round(log_range, 6) AS log_range,
           sqrt(CAST(ssq AS DOUBLE) / 14.0 * 0.360673760222241)
             AS parkinson_sigma
    FROM frame
    """,
)
def win_parkinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r14) — PARKINSON (1980) high-low range volatility over
    the daily series: sigma_P = sqrt(mean(ln(hi/lo)^2) / (4 ln 2))
    on a trailing 14-calendar-day frame — the range-based estimator
    that is ~5x more statistically efficient than close-to-close
    variance at the same horizon, completing the volatility family
    (ATR measures the range in PRICE units, Bollinger close-to-close
    dispersion, ulcer downside-only; Parkinson is the LOG-range
    variance estimator proper). hi > 0 always; a flat day
    contributes ln(1)^2 = 0.

    Determinism: the daily log-range is libm ln of ONE shared IEEE
    division of exact cents, emitted ROUNDED at the transcendental
    (JVM Math.log and C libm disagree by 1 ulp on real fixture
    inputs — measured on this key's draft); its square
    is pre-rounded to 6 dp and decimal-summed (term rule — the
    square of an agreed transcendental image cannot systematically
    sit on rounding midpoints, unlike terminating products; r14
    SCALE ledger); 1/(4 ln 2) rides as the 15-digit literal
    0.360673760222241 (no second libm site) and sqrt is
    IEEE-correctly-rounded.

    Scale + lint: the donchian single bounded calendar self-join
    (broadcast, days-bounded); daily localCheckpointed once; no
    global window."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
    ).agg(
        (F.max(price) * 100).cast("long").alias("hi_c"),
        (F.min(price) * 100).cast("long").alias("lo_c"),
    )
    lnr = F.log(F.col("hi_c").cast("double") / F.col("lo_c"))
    terms = daily.select(
        "day",
        lnr.alias("log_range"),
        F.round(lnr * lnr, 6).cast("decimal(18,6)").alias("sq"),
    ).localCheckpoint(eager=True)  # both frame legs
    b = terms.select(F.col("day").alias("bday"), F.col("sq").alias("bsq"))
    frame = (
        terms.join(
            F.broadcast(b),
            F.col("bday").between(F.date_sub(F.col("day"), 13), F.col("day")),
        )
        .groupBy("day", "log_range")
        .agg(
            F.sum("bsq").cast("decimal(24,6)").alias("ssq"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") == 14)
    )
    return frame.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("log_range", 6).alias("log_range"),
        F.sqrt(
            F.col("ssq").cast("double") / 14.0 * 0.360673760222241
        ).alias("parkinson_sigma"),
    )
