"""Operations-research / inventory / SPC pipelines (split from
plans/analytics.py in round 14): concentration and inequality (Gini,
Lorenz, HHI, Pareto/ABC, ABC-XYZ, ABC migration), inventory policy
(newsvendor, EOQ, Little's law, open-order WIP), and statistical
process control (p/c control charts, XmR individuals chart).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_airflow_spark.bucketing import bucketed_running, bucketed_running_max
from osm_airflow_spark.io import load_table
from osm_airflow_spark.registry import dsum, query, sql_dsum


from osm_airflow_spark.plans.analytics import _rev

@query(
    "pipeline_pareto_abc",
    oracle=f"""
    WITH part_rev AS (
      SELECT l_partkey,
             {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, revenue,
             CAST(SUM(CAST(revenue AS DECIMAL(18,4)))
                    OVER (ORDER BY revenue DESC, l_partkey
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / CAST((SELECT SUM(CAST(revenue AS DECIMAL(18,4)))
                       FROM part_rev) AS DOUBLE) AS cum_share
      FROM part_rev
    )
    SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class,
           COUNT(*) AS n_parts,
           {sql_dsum('revenue', 4)} AS class_revenue
    FROM ranked
    GROUP BY 1
    """,
)
def pipeline_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: parts ranked by revenue,
    cumulative revenue share, classes at 80% / 95% — the 80/20
    analysis every inventory and spend dashboard runs, and the shape
    that tempts a GLOBAL cumulative window (the canonical 100x scale
    killer). The prefix is ``bucketing.bucketed_running`` over
    (-revenue, l_partkey) on revenue in integer 1e-4 units (exact:
    revenue is a 4-dp value by construction), read back as the same
    decimal(·,4) prefix the oracle sums, then one double division
    against the exact total."""
    from decimal import Decimal

    def e4_to_double(c):
        return (c.cast("decimal(20,0)") * F.lit(Decimal("0.0001"))).cast("double")

    li = load_table(spark, sf_dir, "lineitem")
    part_rev = li.groupBy("l_partkey").agg(dsum(_rev(), 4).alias("revenue"))
    work = part_rev.select(
        "l_partkey",
        "revenue",
        (-F.col("revenue")).alias("_m"),
        (F.col("revenue").cast("decimal(18,4)") * 10_000)
        .cast("long")
        .alias("rev_e4"),
    )
    ranked, totals = bucketed_running(work, "_m", ["rev_e4"], ["l_partkey"])
    cum_share = e4_to_double(F.col("run_rev_e4")) / e4_to_double(
        F.lit(totals["rev_e4"])
    )
    classed = ranked.withColumn(
        "abc_class",
        F.when(cum_share <= 0.8, "A").when(cum_share <= 0.95, "B").otherwise("C"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        dsum("revenue", 4).alias("class_revenue"),
    )


@query(
    "pipeline_gini",
    oracle=f"""
    WITH cust_rev AS (
      SELECT o_custkey,
             {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, revenue,
             ROW_NUMBER() OVER (ORDER BY revenue, o_custkey) AS i
      FROM cust_rev
    )
    SELECT COUNT(*) AS n_customers,
           CAST(SUM(CAST(revenue AS DECIMAL(18,4))) AS DOUBLE)
             AS total_revenue,
           (2 * CAST(SUM(i * CAST(revenue AS DECIMAL(18,4))) AS DOUBLE))
             / (COUNT(*) * CAST(SUM(CAST(revenue AS DECIMAL(18,4)))
                                AS DOUBLE))
             - (COUNT(*) + 1.0) / COUNT(*) AS gini
    FROM ranked
    """,
)
def pipeline_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration GINI coefficient over customers — the
    inequality metric beside Pareto/ABC: G = 2·Σ(i·xᵢ)/(n·Σx) −
    (n+1)/n with x ascending. The rank i is GLOBAL — the shape that
    tempts an unpartitioned window (the lint's hard GLOBW rule) — so
    it comes from ``bucketing.bucketed_running`` over (revenue,
    o_custkey). Σ(i·x) is exact: bigint rank × DECIMAL(18,4) revenue
    (an unambiguous double→decimal cast — revenue IS a 4-dp value by
    construction) summed in decimal; the final G is one shared IEEE
    expression over agreed doubles, emitted UNROUNDED (the win_ewma
    ledger rule: never round() an inexact double sum for the
    oracle)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cust_rev = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(dsum(_rev(), 4).alias("revenue"))
        .withColumn("_one", F.lit(1))
    )
    ranked, _ = bucketed_running(cust_rev, "revenue", ["_one"], ["o_custkey"])
    rev_dec = F.col("revenue").cast("decimal(18,4)")
    ranked = ranked.select(rev_dec.alias("rd"), F.col("run__one").alias("i"))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rd").alias("sx"),
        F.sum(F.col("i") * F.col("rd")).alias("six"),
    )
    n = F.col("n")
    return agg.select(
        n.alias("n_customers"),
        F.col("sx").cast("double").alias("total_revenue"),
        (
            (F.lit(2) * F.col("six").cast("double"))
            / (n * F.col("sx").cast("double"))
            - (n + F.lit(1.0)) / n
        ).alias("gini"),
    )


@query(
    "pipeline_hhi",
    oracle="""
    WITH fs AS (
      SELECT n.n_name AS nation, l.l_suppkey AS supp,
             CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS frev
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    w AS (
      SELECT nation, frev,
             CAST(SUM(frev) OVER (PARTITION BY nation) AS DECIMAL(38,4))
               AS trev
      FROM fs
    ),
    t AS (
      SELECT nation, trev,
             CAST(frev AS DOUBLE) / CAST(trev AS DOUBLE) AS share,
             round(10000.0 * (CAST(frev AS DOUBLE) / CAST(trev AS DOUBLE))
                           * (CAST(frev AS DOUBLE) / CAST(trev AS DOUBLE)),
                   6) AS term
      FROM w
    )
    SELECT nation, COUNT(*) AS n_suppliers,
           CAST(MAX(trev) AS DOUBLE) AS total_revenue,
           CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS hhi,
           MAX(share) AS top_share
    FROM t GROUP BY nation
    """,
)
def pipeline_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r11) — HERFINDAHL-HIRSCHMAN concentration index per
    nation-market: HHI = Σ (100·share)² over each nation's suppliers'
    discounted-revenue shares (0 → atomistic, 10 000 → monopoly; the
    DOJ's 1 500/2 500 merger screens live on this scale), with the
    top supplier's share beside it. The concentration measure next to
    pipeline_gini's inequality curve and pipeline_market_share's
    single-share ratio — the standard "is this market captured?"
    screen over any grouped revenue table.

    Determinism: per-supplier and per-nation revenues are exact
    decimal sums (the dsum contract); the share is one agreed double
    division (both decimals < 2^53 unscaled at bench SFs, so the
    casts are exact); each squared term pre-rounds to 6 dp and
    decimal-sums (the house TERM rule — Σ of doubles is the one
    order-sensitive op, so it never happens in raw doubles);
    top_share is a MAX of agreed doubles (order-free).

    Shape: one corpus pass to the (nation, supplier)-bounded
    aggregate; the nation total is a WINDOW over that aggregate
    (partition = suppliers-per-nation, bounded), NOT a groupBy +
    join-back, per the measured no-exchange-reuse rule; the final
    collapse is a 25-row groupBy. At 100 TB the only corpus-sized
    work is the first aggregation's shuffle."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    fs = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("l_suppkey").alias("supp"))
        .agg(
            F.sum(rev.cast("decimal(18,4)"))
            .cast("decimal(28,4)")
            .alias("frev")
        )
    )
    w = fs.select(
        "nation",
        "frev",
        F.sum("frev")
        .over(Window.partitionBy("nation"))
        .cast("decimal(38,4)")
        .alias("trev"),
    )
    share = F.col("frev").cast("double") / F.col("trev").cast("double")
    t = w.select(
        "nation",
        "trev",
        share.alias("share"),
        F.round(F.lit(10000.0) * share * share, 6).alias("term"),
    )
    return t.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.max("trev").cast("double").alias("total_revenue"),
        F.sum(F.col("term").cast("decimal(18,6)")).cast("double").alias("hhi"),
        F.max("share").alias("top_share"),
    )


@query(
    "pipeline_abc_xyz",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS rc
      FROM lineitem GROUP BY l_partkey
    ),
    vals AS (
      SELECT rc, CAST(rc * COUNT(*) AS BIGINT) AS vt
      FROM rev GROUP BY rc
    ),
    run AS (
      SELECT rc, CAST(SUM(vt) OVER (ORDER BY rc DESC) AS BIGINT) AS cum,
             CAST((SELECT SUM(vt) FROM vals) AS BIGINT) AS total
      FROM vals
    ),
    abc AS (
      SELECT rev.pk,
             CASE WHEN run.cum * 5 <= run.total * 4 THEN 'A'
                  WHEN run.cum * 20 <= run.total * 19 THEN 'B'
                  ELSE 'C' END AS abc_class,
             rev.rc
      FROM rev JOIN run ON rev.rc = run.rc
    ),
    monthly AS (
      SELECT l_partkey AS pk, date_trunc('month', l_shipdate) AS m,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    xyz AS (
      SELECT pk,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS sq,
             CAST(SUM(q * q) AS BIGINT) AS sqq
      FROM monthly GROUP BY pk
    ),
    classed AS (
      SELECT abc.abc_class,
             CASE WHEN (xyz.n * xyz.sqq - xyz.sq * xyz.sq) * 4
                       < xyz.sq * xyz.sq THEN 'X'
                  WHEN (xyz.n * xyz.sqq - xyz.sq * xyz.sq)
                       <= xyz.sq * xyz.sq THEN 'Y'
                  ELSE 'Z' END AS xyz_class,
             abc.rc
      FROM abc JOIN xyz ON abc.pk = xyz.pk
    )
    SELECT abc_class, xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rc) AS DOUBLE)
             / (SELECT CAST(SUM(rc) AS DOUBLE) FROM rev) AS revenue_share
    FROM classed
    GROUP BY abc_class, xyz_class
    ORDER BY abc_class, xyz_class
    """,
)
def pipeline_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r10) — ABC/XYZ INVENTORY SEGMENTATION: every sold
    part classed on two axes — cumulative revenue contribution
    (A ≤ 80% cum share, B ≤ 95%, C tail: the pipeline_pareto_abc cut,
    here value-grained so equal-revenue parts always share a class)
    × demand variability (coefficient of variation of monthly
    demand: X = CV < 0.5, Y ≤ 1.0, Z erratic) — the 9-cell planning
    matrix (AX = forecast + automate, CZ = stock-to-order) every
    supply-chain curriculum teaches, and the same two-axis screen a
    training-data curator runs on sources (volume × volatility).

    The entire classification is INTEGER arithmetic: revenue in
    exact cents, the cumulative cut via scaled comparisons
    (cum·5 ≤ total·4), and the CV thresholds CROSS-MULTIPLIED so no
    sqrt, division or float ever participates — CV < 0.5 ⟺
    4·(nΣq²−(Σq)²) < (Σq)² on exact int64 (population variance
    identity, n²-scaled on both sides). Only the final reporting
    ratio (revenue_share) touches doubles: one division of exact
    < 2^53 cents sums. Running revenue uses the bucket-offset
    pattern over DISTINCT part-revenue values (no global window,
    value-contiguous ⇒ tie-safe).

    Scale: two lineitem aggregations (per-part revenue, per-part×
    month demand — both map-side combine on the partkey shuffle),
    a distinct-value running pass (bounded by distinct revenue
    values), one value-bounded join-back, one parts-bounded join.
    Nothing corpus-sized after the first shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("rc")
        )
        .localCheckpoint(eager=True)  # vals + abc join-back + share total
    )
    vals = rev.groupBy("rc").agg(
        (F.col("rc") * F.count(F.lit(1))).cast("long").alias("vt")
    ).select((-F.col("rc")).alias("neg_rc"), "rc", "vt")
    run, totals = bucketed_running(vals, "neg_rc", ["vt"])
    total = int(totals["vt"])
    # explicit long literal: a small fixture total would land an
    # int32 lit and total*19 overflows under ANSI (caught by the
    # planted test; the sf fixtures' cent totals auto-promote to long)
    total_l = F.lit(total).cast("long")
    classed_vals = run.select(
        "rc",
        F.when(F.col("run_vt") * 5 <= total_l * 4, "A")
        .when(F.col("run_vt") * 20 <= total_l * 19, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    abc = rev.join(classed_vals, "rc")

    monthly = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.date_trunc("month", F.col("l_shipdate")).alias("m"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
    xyz = monthly.groupBy("pk").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    var_n2 = F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq")
    mean_n2 = F.col("sq") * F.col("sq")
    xyz_class = (
        F.when(var_n2 * 4 < mean_n2, "X")
        .when(var_n2 <= mean_n2, "Y")
        .otherwise("Z")
    )
    classed = abc.join(xyz.select("pk", xyz_class.alias("xyz_class")), "pk")
    total_rev = rev.agg(F.sum("rc").alias("tr"))
    return (
        classed.groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rc").alias("cell_rc"),
        )
        .crossJoin(F.broadcast(total_rev))
        .select(
            "abc_class",
            "xyz_class",
            "n_parts",
            (F.col("cell_rc").cast("double") / F.col("tr").cast("double"))
            .alias("revenue_share"),
        )
        .orderBy("abc_class", "xyz_class")
    )


@query(
    "pipeline_open_orders_per_day",
    oracle="""
    WITH iv AS (
      SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS s,
             -- the fixture has ship dates BEFORE order dates (the
             -- ship_latency filter precedent): an order is open at
             -- least on its order day
             GREATEST(MAX(CAST(l.l_shipdate AS DATE)),
                      CAST(o.o_orderdate AS DATE)) AS e,
             ANY_VALUE(CAST(o.o_totalprice AS DECIMAL(18,2))) AS val
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    ),
    bounds AS (SELECT MIN(s) AS d0, MAX(e) AS d1 FROM iv),
    spine AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ),
    sp AS (SELECT day, date_trunc('month', day)::DATE AS m FROM spine),
    ivm AS (
      SELECT iv.s, iv.e, iv.val,
             unnest(generate_series(date_trunc('month', iv.s),
                                    date_trunc('month', iv.e),
                                    INTERVAL 1 MONTH))::DATE AS m
      FROM iv
    )
    SELECT strftime(sp.day, '%Y-%m-%d') AS day,
           CAST(COUNT(ivm.val) AS BIGINT) AS n_open,
           CAST(COALESCE(SUM(ivm.val), CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
             AS open_value
    FROM sp LEFT JOIN ivm
      ON ivm.m = sp.m AND sp.day >= ivm.s AND sp.day <= ivm.e
    GROUP BY sp.day
    """,
)
def pipeline_open_orders_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal OCCUPANCY — how many orders are open (placed, not yet
    fully shipped) on each calendar day, with the open dollar value:
    the WIP/backlog report, and the interval-overlap COUNTING shape
    (join_interval_overlap emits the pairs; this aggregates
    concurrency over a spine).

    Scale shape: the naive form is spine x intervals — a
    broadcast-nested-loop over every (day, order) pair. Bucketing
    both sides by MONTH turns it into an EQUI-join (each order
    explodes into the handful of months it spans; each spine day
    carries its month), so cost is Σ per-month overlap — the
    join_interval_overlap coarse-cell rule. Zero-open days survive
    via the LEFT join from the spine (the date_spine densification
    discipline). The sweep-line alternative (+1/−1 running sum) needs
    a global cumulative window — rejected by the no-global-window
    rule; at 100 TB the month bucket IS the partition key. Exact:
    integer dates, decimal value sums, one final double cast."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # r14 optimization (guide §2.4/§2.5): iv feeds BOTH the bounds
    # aggregate (via the spine) and the month-exploded interval side,
    # and this build never reuses exchange subtrees — the r13 plan
    # executed the orders⋈lineitem groupBy TWICE. localCheckpoint
    # materializes it once (orders-bounded — the prescribed barrier).
    iv = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("s"))
        .agg(
            # fixture quirk: ship dates can precede order dates — an
            # order is open at least on its order day
            F.greatest(F.max(F.to_date("l_shipdate")), F.to_date(F.first("o_orderdate"))).alias("e"),
            F.any_value(F.col("o_totalprice").cast("decimal(18,2)")).alias("val"),
        )
        .localCheckpoint(eager=True)
    )
    bounds = iv.agg(F.min("s").alias("d0"), F.max("e").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    ).select("day", F.trunc("day", "month").alias("sm"))
    ivm = iv.select(
        "s",
        "e",
        "val",
        F.explode(
            F.sequence(
                F.trunc("s", "month"), F.trunc("e", "month"), F.expr("INTERVAL 1 MONTH")
            )
        ).alias("m"),
    )
    # The r13 form LEFT-joined spine→ivm, which forced a SortMergeJoin
    # shuffling the interval side hash-partitioned on MONTH — ~10²
    # distinct keys, the guide-§2.5 too-few-distinct-values skew trap
    # at scale. The outer join only existed to keep zero-open days;
    # split it: INNER join with the calendar-bounded spine BROADCAST
    # (the interval side is never shuffled at all), aggregate per day,
    # then densify by left-joining the small per-day aggregate back
    # onto the spine (day-bounded ⋈ day-bounded, also broadcast —
    # measured faster than the union-a-null-row-per-day densification,
    # 3.8 s vs 4.6 s isolated). Identical rows: inner-join days
    # aggregate exactly as before; missing days surface as the same
    # 0 / 0.00 via coalesce.
    zero2 = F.lit(0).cast("decimal(18,2)")
    perday = (
        ivm.join(
            F.broadcast(spine),
            (F.col("m") == F.col("sm")) & (F.col("day") >= F.col("s")) & (F.col("day") <= F.col("e")),
        )
        .groupBy("day")
        .agg(
            F.count("val").cast("long").alias("n_open"),
            F.sum("val").alias("open_value_d"),
        )
    )
    return (
        spine.select("day")
        .join(F.broadcast(perday), "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_open", F.lit(0).cast("long")).alias("n_open"),
            F.coalesce("open_value_d", zero2).cast("double").alias("open_value"),
        )
    )


@query(
    "pipeline_lorenz",
    oracle=f"""
    WITH cust_rev AS (
      SELECT o_custkey,
             {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey
    ),
    ranked AS (
      SELECT CAST(CAST(revenue AS DECIMAL(18,4)) * 10000 AS BIGINT) AS units,
             ROW_NUMBER() OVER (ORDER BY revenue, o_custkey) AS i
      FROM cust_rev
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(units) AS BIGINT) AS t
      FROM ranked
    ),
    sel AS (
      SELECT g.k, (g.k * tot.n) // 10 AS m, tot.n, tot.t
      FROM generate_series(1, 10) AS g(k), tot
    ),
    nums AS (
      SELECT s.k, s.m, s.n, s.t,
             CAST(COALESCE(SUM(r.units), 0) AS BIGINT) AS num
      FROM sel s LEFT JOIN ranked r ON r.i <= s.m
      GROUP BY s.k, s.m, s.n, s.t
    )
    SELECT CAST(k AS INT) AS decile,
           m AS n_customers_cum,
           CAST(num AS DOUBLE) / 10000.0 AS cum_revenue,
           CAST(num AS DOUBLE) / t AS cum_share,
           CAST(m AS DOUBLE) / n AS pop_share
    FROM nums
    WHERE m > 0
    ORDER BY k
    """,
)
def pipeline_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LORENZ CURVE decile points over customer revenue — the curve
    pipeline_gini's coefficient summarizes: for each population
    decile (customers ascending by revenue), the cumulative share of
    total revenue held — the concentration readout a revenue team
    reads directly ('the bottom half holds x%').

    Exactness: revenues are exact DECIMAL(18,4) sums scaled to
    integer 10⁻⁴-units; the cumulative at each decile boundary is
    EXACT even mid-tie — the boundary row's tie group contributes
    (m − cum_before)·v, which is order-free because tied customers
    are interchangeable (so Spark's value-contiguous cumulative and
    the oracle's arbitrary within-tie ROW_NUMBER agree exactly).
    Decile positions m = ⌊k·n/10⌋ ride as exact control-plane
    literals from ``bucketed_running``'s by-product totals; every
    emitted double is one shared cast/division of < 2^53 exact longs,
    unrounded.

    Scale: one corpus pass to per-customer revenue, one groupBy to
    the distinct-value table, the bucket-offset cumulative (B-way
    parallel, no global window), then a broadcast 10-row boundary
    join — output is O(10)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cust_rev = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(dsum(_rev(), 4).alias("revenue"))
    )
    by_val = (
        cust_rev.groupBy("revenue")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            (F.col("revenue").cast("decimal(18,4)") * 10000)
            .cast("long")
            .alias("units"),
            "c",
        )
        .withColumn("rv", F.col("units") * F.col("c"))
        .localCheckpoint(eager=True)  # distinct-value-bounded
    )
    out, totals = bucketed_running(by_val, "units", ["c", "rv"])
    n, t = totals["c"], totals["rv"]
    if n == 0:
        return out.limit(0).select(
            F.lit(0).cast("int").alias("decile"),
            F.lit(0).cast("long").alias("n_customers_cum"),
            F.lit(0.0).alias("cum_revenue"),
            F.lit(0.0).alias("cum_share"),
            F.lit(0.0).alias("pop_share"),
        )
    deciles = spark.createDataFrame(
        [(k, (k * n) // 10) for k in range(1, 11) if (k * n) // 10 > 0],
        "k int, m long",
    )
    hit = out.join(
        F.broadcast(deciles),
        (F.col("run_c") >= F.col("m"))
        & (F.col("run_c") - F.col("c") < F.col("m")),
    )
    num = (
        F.col("run_rv")
        - F.col("rv")
        + (F.col("m") - (F.col("run_c") - F.col("c"))) * F.col("units")
    )
    return hit.select(
        F.col("k").cast("int").alias("decile"),
        F.col("m").cast("long").alias("n_customers_cum"),
        (num.cast("double") / 10000.0).alias("cum_revenue"),
        (num.cast("double") / F.lit(t).cast("long")).alias("cum_share"),
        (F.col("m").cast("double") / F.lit(n).cast("long")).alias(
            "pop_share"
        ),
    )


_NV_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@query(
    "pipeline_newsvendor",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderpriority AS prio,
             CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS demand
      FROM orders GROUP BY 1, 2
    ),
    by_val AS (
      SELECT demand,
             {', '.join(
                 "CAST(SUM(CASE WHEN prio = '" + p + "' THEN 1 ELSE 0 END)"
                 f" AS BIGINT) AS c{i}"
                 for i, p in enumerate(_NV_PRIOS))}
      FROM daily GROUP BY demand
    ),
    cum AS (
      SELECT demand,
             {', '.join(
                 f'c{i}, SUM(c{i}) OVER (ORDER BY demand) AS run{i}'
                 for i in range(len(_NV_PRIOS)))}
      FROM by_val
    ),
    tot AS (
      SELECT {', '.join(
          f'CAST(SUM(c{i}) AS BIGINT) AS n{i}, '
          f'CAST(SUM(demand * c{i}) AS BIGINT) AS d{i}'
          for i in range(len(_NV_PRIOS)))}
      FROM by_val
    ),
    sel AS (
      SELECT {', '.join(
          f'MIN(CASE WHEN run{i} >= (3 * t.n{i} + 3) // 4 '
          f'THEN demand END) AS q{i}'
          for i in range(len(_NV_PRIOS)))}
      FROM cum, tot t
    )
    SELECT u.prio AS o_orderpriority, u.n_days, u.total_demand,
           CAST(u.total_demand AS DOUBLE) / u.n_days AS mean_demand,
           0.75 AS service_level,
           u.q_opt
    FROM (SELECT * FROM sel, tot) s, LATERAL (VALUES
      {', '.join(
          f"('{p}', s.n{i}, s.d{i}, s.q{i})"
          for i, p in enumerate(_NV_PRIOS))}
    ) AS u(prio, n_days, total_demand, q_opt)
    WHERE u.n_days > 0
    ORDER BY u.prio
    """,
)
def pipeline_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWSVENDOR critical-fractile stocking (Arrow–Harris–Marschak
    1951) per order priority: with underage:overage cost 3:1 the
    optimal stock is the 75% fractile of the daily demand
    distribution — q* = min{q : F(q) ≥ cu/(cu+co)} — the inventory
    sizing decision beside pipeline_excess_stock's after-the-fact
    screen. Demand = orders per (priority, day); emits each
    priority's day count, mean daily demand and q*.

    Exactness: demand values and day counts are exact integers; the
    per-priority CDF rides the distinct-value cumulative (5-way wide
    pivot, bucket-offsets — no global window), the fractile position
    ⌈3n/4⌉ = (3n+3)//4 is an exact control-plane literal from
    ``bucketed_running``'s totals, and q* is a pure MIN selection
    over the monotone cumulative. mean_demand is one division of
    exact longs; service_level is the short literal 0.75.

    Scale: one corpus pass to (priority, day) counts (days ×
    priorities bounded), then distinct-value-bounded everywhere."""
    o = load_table(spark, sf_dir, "orders")
    np_ = len(_NV_PRIOS)
    daily = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("demand"))
    by_val = (
        daily.groupBy("demand")
        .agg(
            *[
                F.sum(F.when(F.col("prio") == p, 1).otherwise(0))
                .cast("long")
                .alias(f"c{i}")
                for i, p in enumerate(_NV_PRIOS)
            ]
        )
        .localCheckpoint(eager=True)  # distinct-value-bounded
    )
    # demand totals thread through bucketed_running's by-product
    # totals exactly like the day counts (the lorenz rv pattern) —
    # no extra aggregation pass, no extra join
    by_val = by_val.select(
        "*",
        *[
            (F.col("demand") * F.col(f"c{i}")).alias(f"d{i}")
            for i in range(np_)
        ],
    )
    out, totals = bucketed_running(
        by_val,
        "demand",
        [f"c{i}" for i in range(np_)] + [f"d{i}" for i in range(np_)],
    )
    sel = out.agg(
        *[
            F.min(
                F.when(
                    F.col(f"run_c{i}")
                    >= F.lit((3 * totals[f"c{i}"] + 3) // 4),
                    F.col("demand"),
                )
            ).alias(f"q{i}")
            for i in range(np_)
        ]
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("prio"),
                    F.lit(totals[f"c{i}"]).cast("long").alias("n_days"),
                    F.lit(totals[f"d{i}"]).cast("long").alias(
                        "total_demand"
                    ),
                    F.col(f"q{i}").alias("q_opt"),
                )
                for i, p in enumerate(_NV_PRIOS)
            ]
        )
    )
    return (
        sel.select(rows.alias("r"))
        .select(
            F.col("r.prio").alias("o_orderpriority"),
            F.col("r.n_days").alias("n_days"),
            F.col("r.total_demand").alias("total_demand"),
            (
                F.col("r.total_demand").cast("double") / F.col("r.n_days")
            ).alias("mean_demand"),
            F.lit(0.75).alias("service_level"),
            F.col("r.q_opt").alias("q_opt"),
        )
        .where(F.col("n_days") > 0)
    )


@query(
    "pipeline_little_law",
    oracle="""
    WITH spans AS (
      SELECT o.o_orderkey,
             CAST(date_trunc('day', o.o_orderdate) AS DATE) AS od,
             CAST(MAX(date_trunc('day', l.l_shipdate)) AS DATE) AS sd
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, 2
    ),
    win AS (
      SELECT DATE '1997-01-01' AS w0, DATE '1997-12-31' AS w1,
             CAST(365 AS BIGINT) AS wdays
    ),
    occ AS (
      SELECT CAST(SUM(GREATEST(
               date_diff('day', GREATEST(s.od, w.w0), LEAST(s.sd, w.w1)) + 1,
               0)) AS BIGINT) AS occ_days
      FROM spans s, win w
      WHERE s.od <= w.w1 AND s.sd >= w.w0
    ),
    arr AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_arrivals,
             CAST(SUM(date_diff('day', s.od, s.sd) + 1) AS BIGINT)
               AS arr_days
      FROM spans s, win w
      WHERE s.od BETWEEN w.w0 AND w.w1
    )
    SELECT w.wdays AS window_days,
           a.n_arrivals,
           CAST(o.occ_days AS DOUBLE) / w.wdays AS l_avg_open,
           CAST(a.n_arrivals AS DOUBLE) / w.wdays AS lambda_per_day,
           CAST(a.arr_days AS DOUBLE) / a.n_arrivals AS w_mean_days,
           CAST(o.occ_days AS DOUBLE) / a.arr_days AS little_ratio
    FROM occ o, arr a, win w
    WHERE a.n_arrivals > 0
    """,
)
def pipeline_little_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LITTLE'S LAW audit (Little 1961, L = λW) over the 1997
    fulfillment window: average open orders per day (L, from clamped
    interval occupancy — an order is open from o_orderdate through
    its LAST ship day), arrival rate (λ, 1997 arrivals/365) and mean
    time-in-system of those arrivals (W, inclusive days). On a
    TRUNCATED window the identity holds only under stationarity, so
    little_ratio = L/(λW) = occupancy_days/arrival_days quantifies
    edge/nonstationarity effects — the queueing sanity check beside
    pipeline_open_orders_per_day's per-day curve (≈ 1 healthy;
    drifting says the window bites in-flight seasonality). On
    complete data with matching conventions the ratio is exactly 1
    by telescoping — the truncation is what makes it informative.

    Determinism: every ingredient (clamped overlaps, inclusive
    durations, counts) is an exact integer-day sum; the four emitted
    measures are single divisions of exact longs, unrounded.

    Scale: one join + groupBy to per-order spans, then two
    global 1-row aggregates (no spine explode — occupancy sums the
    CLOSED-FORM clamped overlap per order, the open_orders lesson
    generalized); output is O(1)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderkey",
            F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("od"),
        )
        .agg(
            F.max(F.date_trunc("day", F.col("l_shipdate")).cast("date")).alias(
                "sd"
            )
        )
        .localCheckpoint(eager=True)  # feeds both window aggregates
    )
    w0, w1 = F.lit("1997-01-01").cast("date"), F.lit("1997-12-31").cast("date")
    occ = spans.where((F.col("od") <= w1) & (F.col("sd") >= w0)).agg(
        F.sum(
            F.greatest(
                F.datediff(F.least(F.col("sd"), w1), F.greatest(F.col("od"), w0))
                + 1,
                F.lit(0),
            )
        )
        .cast("long")
        .alias("occ_days")
    )
    arr = spans.where(F.col("od").between(w0, w1)).agg(
        F.count(F.lit(1)).cast("long").alias("n_arrivals"),
        F.sum(F.datediff(F.col("sd"), F.col("od")) + 1)
        .cast("long")
        .alias("arr_days"),
    )
    return (
        occ.join(F.broadcast(arr))
        .where(F.col("n_arrivals") > 0)
        .select(
            F.lit(365).cast("long").alias("window_days"),
            "n_arrivals",
            (F.col("occ_days").cast("double") / 365).alias("l_avg_open"),
            (F.col("n_arrivals").cast("double") / 365).alias(
                "lambda_per_day"
            ),
            (F.col("arr_days").cast("double") / F.col("n_arrivals")).alias(
                "w_mean_days"
            ),
            (F.col("occ_days").cast("double") / F.col("arr_days")).alias(
                "little_ratio"
            ),
        )
    )


@query(
    "pipeline_eoq",
    oracle="""
    WITH demand AS (
      SELECT p.p_brand AS brand,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d_units
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    )
    SELECT brand, d_units,
           sqrt(2.0 * d_units * 100.0 / 2.0) AS eoq_units,
           CAST(d_units AS DOUBLE) / sqrt(2.0 * d_units * 100.0 / 2.0)
             AS orders_per_period,
           sqrt(2.0 * d_units * 100.0 * 2.0) AS period_cost
    FROM demand
    WHERE d_units > 0
    """,
)
def pipeline_eoq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECONOMIC ORDER QUANTITY (Harris 1913) per part brand: the
    deterministic-demand stocking rule beside pipeline_newsvendor's
    stochastic fractile — EOQ = √(2DS/H) with ordering cost S = 100
    and holding cost H = 2 per unit-period (short literals), plus
    the implied order cadence D/EOQ and the optimal total cost
    √(2DSH) (at the optimum, ordering and holding costs are equal —
    the closed form the n_orders·S + q/2·H curve minimizes to).

    Determinism: per-brand demand is an exact BIGINT quantity sum
    (TPC-H quantities are integral); every emitted measure is one
    shared IEEE sqrt/division tree over the exact-long cast with
    short exact literals — unrounded.

    Scale: one broadcast-dim join + groupBy(brand) — sums all the
    way down; output is O(brands)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    demand = (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("d_units"))
        .where(F.col("d_units") > 0)
    )
    eoq = F.sqrt(2.0 * F.col("d_units") * 100.0 / 2.0)
    return demand.select(
        "brand", "d_units",
        eoq.alias("eoq_units"),
        (F.col("d_units").cast("double") / eoq).alias("orders_per_period"),
        F.sqrt(2.0 * F.col("d_units") * 100.0 * 2.0).alias("period_cost"),
    )


_ABC_ERA_SQL = """
      SELECT l_partkey,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount), 4)
                           AS DECIMAL(18,4)) * 10000) AS BIGINT) AS units
      FROM lineitem WHERE l_shipdate {cond}
      GROUP BY l_partkey
"""

_ABC_CLASS_SQL = """
      SELECT v.units,
             CASE WHEN CAST(v.cum AS DOUBLE) / t.total <= 0.8 THEN 'A'
                  WHEN CAST(v.cum AS DOUBLE) / t.total <= 0.95 THEN 'B'
                  ELSE 'C' END AS cls
      FROM (
        SELECT units,
               SUM(units * n) OVER (ORDER BY units DESC
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM (SELECT units, COUNT(*) AS n FROM {era} GROUP BY units)
      ) v, (SELECT CAST(SUM(units) AS DOUBLE) AS total FROM {era}) t
"""


@query(
    "pipeline_abc_migration",
    oracle=f"""
    WITH era1 AS ({_ABC_ERA_SQL.format(cond="<  TIMESTAMP '1998-01-01'")}),
    era2 AS ({_ABC_ERA_SQL.format(cond=">= TIMESTAMP '1998-01-01'")}),
    cls1 AS ({_ABC_CLASS_SQL.format(era='era1')}),
    cls2 AS ({_ABC_CLASS_SQL.format(era='era2')}),
    p1 AS (SELECT e.l_partkey, c.cls FROM era1 e JOIN cls1 c USING (units)),
    p2 AS (SELECT e.l_partkey, c.cls FROM era2 e JOIN cls2 c USING (units)),
    m AS (
      SELECT COALESCE(p1.cls, '-') AS class_before,
             COALESCE(p2.cls, '-') AS class_after
      FROM p1 FULL OUTER JOIN p2 ON p1.l_partkey = p2.l_partkey
    ),
    agg AS (
      SELECT class_before, class_after,
             CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM m GROUP BY 1, 2
    )
    SELECT class_before, class_after, n_parts,
           class_before <> class_after AS moved
    FROM agg
    """,
)
def pipeline_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC CLASS MIGRATION matrix across the 1998 era split: every
    part's Pareto class (A ≤ 80% cumulative revenue share, B ≤ 95%,
    C rest) computed independently for pre-1998 and 1998+ shipments,
    then the before×after transition counts with '-' for parts absent
    from an era — the inventory-DYNAMICS readout pipeline_pareto_abc's
    static snapshot can't give (a B→A climber and an A→C faller need
    opposite stocking responses; the '-'→A column is new-product
    velocity).

    Exactness: revenues quantize per-row (4-dp round then exact
    decimal — the dsum recipe) to integer 10⁻⁴-units; classes assign
    at the DISTINCT-VALUE grain with the tie-INCLUSIVE cumulative
    (every part of equal revenue shares one class — no arbitrary
    tie split to mirror), so the share is a ratio of exact longs and
    each class boundary reads one agreed double against short
    literals. Both eras' cumulatives ride ``bucketed_running`` over
    the distinct revenue values (DESC via negated order key — no
    global window).

    Scale: two filtered corpus passes to per-part revenue (the date
    predicate pushes to the scan), two distinct-value cumulatives,
    one full-outer join on partkey; output ≤ 16 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1998-01-01").cast("timestamp")

    def era_classes(cond):
        rev = (
            li.where(cond)
            .groupBy("l_partkey")
            .agg(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")),
                        4,
                    ).cast("decimal(18,4)")
                    * 10000
                )
                .cast("long")
                .alias("units")
            )
        )
        by_val = (
            rev.groupBy("units")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "units", "n",
                (-F.col("units")).alias("neg_units"),
                (F.col("units") * F.col("n")).alias("contrib"),
            )
            .localCheckpoint(eager=True)  # distinct-value-bounded
        )
        out, totals = bucketed_running(by_val, "neg_units", ["contrib"])
        total = totals["contrib"]
        share = F.col("run_contrib").cast("double") / F.lit(total).cast(
            "long"
        )
        cls = out.select(
            "units",
            F.when(share <= 0.8, "A")
            .when(share <= 0.95, "B")
            .otherwise("C")
            .alias("cls"),
        )
        return rev.join(cls, "units").select("l_partkey", "cls")

    p1 = era_classes(F.col("l_shipdate") < cut).select(
        F.col("l_partkey").alias("k1"), F.col("cls").alias("c1")
    )
    p2 = era_classes(F.col("l_shipdate") >= cut).select(
        F.col("l_partkey").alias("k2"), F.col("cls").alias("c2")
    )
    m = p1.join(p2, F.col("k1") == F.col("k2"), "full_outer").select(
        F.coalesce(F.col("c1"), F.lit("-")).alias("class_before"),
        F.coalesce(F.col("c2"), F.lit("-")).alias("class_after"),
    )
    return (
        m.groupBy("class_before", "class_after")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .select(
            "class_before", "class_after", "n_parts",
            (F.col("class_before") != F.col("class_after")).alias("moved"),
        )
    )


@query(
    "pipeline_control_chart",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    base AS (
      SELECT CAST(SUM(c) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day, d.c AS n_orders,
           CAST(b.total AS DOUBLE) / b.n_days AS center_line,
           CAST(b.total AS DOUBLE) / b.n_days
             + 3.0 * sqrt(CAST(b.total AS DOUBLE) / b.n_days) AS ucl,
           greatest(CAST(b.total AS DOUBLE) / b.n_days
             - 3.0 * sqrt(CAST(b.total AS DOUBLE) / b.n_days), 0.0) AS lcl,
           d.c > CAST(b.total AS DOUBLE) / b.n_days
             + 3.0 * sqrt(CAST(b.total AS DOUBLE) / b.n_days)
           OR d.c < greatest(CAST(b.total AS DOUBLE) / b.n_days
             - 3.0 * sqrt(CAST(b.total AS DOUBLE) / b.n_days), 0.0)
             AS out_of_control
    FROM daily d, base b
    """,
)
def pipeline_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHEWHART c-CHART (Shewhart 1931) over daily order counts: the
    Poisson count-control chart — center line c̄, control limits
    c̄ ± 3√c̄ (LCL floored at 0), and the out-of-control flag per
    day. The MEMORYLESS alarm beside the engine's sequential
    monitors (cusum/page_hinkley catch small persistent shifts;
    the Shewhart chart catches single large excursions — SPC runs
    both). At 100 TB the same plan monitors any keyed count stream.

    Determinism: counts are exact; c̄ rides the broadcast 1-row
    aggregate as one exact-long division, the limits are one shared
    sqrt tree over that agreed double, and the flag compares exact
    integer counts against the identical limit doubles — all
    unrounded.

    Scale: one groupBy(day) pass + a broadcast scalar; output is
    days-bounded."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    base = daily.agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    j = daily.join(F.broadcast(base))
    cl = F.col("total").cast("double") / F.col("n_days")
    ucl = cl + 3.0 * F.sqrt(cl)
    lcl = F.greatest(cl - 3.0 * F.sqrt(cl), F.lit(0.0))
    return j.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("c").alias("n_orders"),
        cl.alias("center_line"),
        ucl.alias("ucl"),
        lcl.alias("lcl"),
        ((F.col("c") > ucl) | (F.col("c") < lcl)).alias("out_of_control"),
    )


@query(
    "pipeline_xmr_chart",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS x_c
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT day, x_c, LAG(x_c) OVER (ORDER BY day) AS px
      FROM daily
    ),
    mr AS (
      SELECT day, x_c, ABS(x_c - px) AS mr_c
      FROM lagged WHERE px IS NOT NULL
    ),
    base AS (
      SELECT CAST(SUM(x_c) AS BIGINT) AS sx,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(mr_c) AS BIGINT) AS smr
      FROM mr
    )
    SELECT strftime(m.day, '%Y-%m-%d') AS day,
           CAST(m.x_c AS DOUBLE) / 100.0 AS x,
           CAST(m.mr_c AS DOUBLE) / 100.0 AS moving_range,
           CAST(b.sx AS DOUBLE) / b.n / 100.0 AS center_line,
           (CAST(b.sx AS DOUBLE) / b.n
            + 2.66 * (CAST(b.smr AS DOUBLE) / b.n)) / 100.0 AS ucl,
           (CAST(b.sx AS DOUBLE) / b.n
            - 2.66 * (CAST(b.smr AS DOUBLE) / b.n)) / 100.0 AS lcl,
           m.x_c > CAST(b.sx AS DOUBLE) / b.n
                    + 2.66 * (CAST(b.smr AS DOUBLE) / b.n)
           OR m.x_c < CAST(b.sx AS DOUBLE) / b.n
                       - 2.66 * (CAST(b.smr AS DOUBLE) / b.n)
             AS out_of_control
    FROM mr m, base b
    """,
)
def pipeline_xmr_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR INDIVIDUALS chart (Shewhart's I-MR) over daily revenue:
    each day's total against limits x̄ ± 2.66·M̄R (the moving-range
    estimate of short-term variation — 2.66 = 3/d₂ at n=2) — the
    CONTINUOUS-variable control chart beside pipeline_control_chart's
    Poisson counts; together they are the standard SPC pair. Days
    after the first emit (the anchored MR convention).

    Determinism: daily totals and moving ranges are exact integer
    CENTS (decimal sums, lag via the bucket-offset rank join — the
    OBV shape); x̄ and M̄R ride the broadcast 1-row aggregate as
    exact-long divisions; limits are one shared tree over those
    agreed doubles with the short literal 2.66, and the flag compares
    through the IDENTICAL expression text in both engines (the
    comparison is on the same tree, so no rounding boundary) —
    all unrounded.

    Scale: one groupBy(day) pass + days-bounded control plane."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("x_c")
    )
    daily = daily.select(
        "*", F.datediff("day", F.lit("1970-01-01")).alias("day_i"),
        F.lit(1).alias("one"),
    )
    ranked, _ = bucketed_running(daily, "day_i", ["one"])
    d1 = ranked.select(
        "day", "x_c", F.col("run_one").cast("long").alias("rn")
    )
    prev = d1.select((F.col("rn") + 1).alias("rn"), F.col("x_c").alias("px"))
    mr = d1.join(F.broadcast(prev), "rn").select(
        "day", "x_c", F.abs(F.col("x_c") - F.col("px")).alias("mr_c")
    )
    base = mr.agg(
        F.sum("x_c").cast("long").alias("sx"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("mr_c").cast("long").alias("smr"),
    )
    j = mr.join(F.broadcast(base))
    xbar = F.col("sx").cast("double") / F.col("n")
    mrbar = F.col("smr").cast("double") / F.col("n")
    ucl_c = xbar + 2.66 * mrbar  # cents scale: compared against x_c
    lcl_c = xbar - 2.66 * mrbar
    return j.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("x_c").cast("double") / 100.0).alias("x"),
        (F.col("mr_c").cast("double") / 100.0).alias("moving_range"),
        (xbar / 100.0).alias("center_line"),
        ((xbar + 2.66 * mrbar) / 100.0).alias("ucl"),
        ((xbar - 2.66 * mrbar) / 100.0).alias("lcl"),
        ((F.col("x_c") > ucl_c) | (F.col("x_c") < lcl_c)).alias(
            "out_of_control"
        ),
    )


@query(
    "pipeline_cpk",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,0))
                      * CAST(l_quantity AS DECIMAL(28,0))) AS DOUBLE) AS sx2
      FROM lineitem
    )
    SELECT n,
           sx / n AS mu,
           sqrt((sx2 - sx * sx / n) / (n - 1)) AS sigma,
           (50.5 - sx / n) / (3.0 * sqrt((sx2 - sx * sx / n) / (n - 1)))
             AS cpu,
           (sx / n - 0.5) / (3.0 * sqrt((sx2 - sx * sx / n) / (n - 1)))
             AS cpl,
           LEAST(
             (50.5 - sx / n) / (3.0 * sqrt((sx2 - sx * sx / n) / (n - 1))),
             (sx / n - 0.5) / (3.0 * sqrt((sx2 - sx * sx / n) / (n - 1)))
           ) AS cpk
    FROM s
    """,
)
def pipeline_cpk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r14) — PROCESS CAPABILITY INDEX Cpk over line-item
    quantity against spec limits [0.5, 50.5] (the quantity domain is
    integral 1..50 by TPC-H construction, so the half-open literals
    bracket it symmetrically): Cpk = min(USL−μ, μ−LSL) / 3σ — the SPC
    summary the control-chart family (pipeline_control_chart /
    xmr_chart) reports per-window but never as the single
    capability number.

    Determinism: n, Σx are exact integer aggregates; Σx² runs in
    DECIMAL(28,0)×DECIMAL(28,0) so BOTH engines bind an
    exact-int128-backed product (the SCALE.md r13 DuckDB
    no-widening rule), each cast once to double; μ, σ and the two
    one-sided indices are one FIXED-ORDER IEEE tree over those
    three exact casts — bit-identical across engines and
    partitionings. Spec limits are short literals (exact parse).

    Scale + lint: one full-scan aggregate, no window, no join; the
    1-row output rides the standard global-aggregate reduction."""
    li = load_table(spark, sf_dir, "lineitem")
    q28 = F.col("l_quantity").cast("decimal(28,0)")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("double").alias("sx"),
        F.sum(q28 * q28).cast("double").alias("sx2"),
    )
    mu = F.col("sx") / F.col("n")
    sigma = F.sqrt(
        (F.col("sx2") - F.col("sx") * F.col("sx") / F.col("n"))
        / (F.col("n") - 1)
    )
    cpu = (F.lit(50.5) - mu) / (F.lit(3.0) * sigma)
    cpl = (mu - F.lit(0.5)) / (F.lit(3.0) * sigma)
    return s.select(
        "n",
        mu.alias("mu"),
        sigma.alias("sigma"),
        cpu.alias("cpu"),
        cpl.alias("cpl"),
        F.least(cpu, cpl).alias("cpk"),
    )


@query(
    "pipeline_safety_stock",
    oracle="""
    WITH daily AS (
      SELECT p_brand, CAST(date_trunc('day', l_shipdate) AS DATE) AS day,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ),
    s AS (
      SELECT p_brand, COUNT(*) AS n_days,
             CAST(SUM(d) AS DOUBLE) AS sx,
             CAST(SUM(CAST(d AS DECIMAL(28,0)) * CAST(d AS DECIMAL(28,0)))
                  AS DOUBLE) AS sx2
      FROM daily GROUP BY 1
    )
    SELECT p_brand, n_days,
           sx / n_days AS mu_daily,
           sqrt((sx2 - sx * sx / n_days) / (n_days - 1)) AS sigma_daily,
           1.645 * sqrt((sx2 - sx * sx / n_days) / (n_days - 1))
             * sqrt(7.0) AS safety_stock,
           sx / n_days * 7.0
             + 1.645 * sqrt((sx2 - sx * sx / n_days) / (n_days - 1))
               * sqrt(7.0) AS reorder_point
    FROM s WHERE n_days > 1 ORDER BY p_brand
    """,
)
def pipeline_safety_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r14) — SAFETY STOCK / REORDER POINT per part brand (the
    classical σ√L policy): daily brand demand from shipped
    quantities, z = 1.645 (95% cycle-service), lead time L = 7 days
    → safety = z·σ_daily·√L, ROP = μ_daily·L + safety. Completes the
    inventory-policy family (EOQ gives the order SIZE, newsvendor
    the single-period quantile, Little's-law the flow time — this is
    the WHEN-to-order threshold). Demand days are observed ship
    days; zero-demand days are not imputed (documented convention).

    Determinism: per-brand n, Σd exact integers; Σd² in
    DECIMAL(28,0) products (both engines int128-exact, the SCALE.md
    rule); one fixed-order IEEE tree from the three exact casts —
    z and L short literals, sqrt correctly rounded in both engines.

    Scale + lint: part is the broadcast dim; one shuffle to (brand,
    day), one to brand; no windows; output |brands| rows."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    daily = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            F.date_trunc("day", F.col("l_shipdate")).cast("date").alias("day"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("d"))
    )
    d28 = F.col("d").cast("decimal(28,0)")
    s = daily.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("d").cast("double").alias("sx"),
        F.sum(d28 * d28).cast("double").alias("sx2"),
    ).where(F.col("n_days") > 1)
    mu = F.col("sx") / F.col("n_days")
    sigma = F.sqrt(
        (F.col("sx2") - F.col("sx") * F.col("sx") / F.col("n_days"))
        / (F.col("n_days") - 1)
    )
    safety = F.lit(1.645) * sigma * F.sqrt(F.lit(7.0))
    return s.select(
        "p_brand",
        "n_days",
        mu.alias("mu_daily"),
        sigma.alias("sigma_daily"),
        safety.alias("safety_stock"),
        (mu * F.lit(7.0) + safety).alias("reorder_point"),
    ).orderBy("p_brand")


def _erlang_b_chain(a: str, depth: int = 8) -> list[str]:
    """Erlang-B recursion B(k) = a*B(k-1) / (k + a*B(k-1)) unrolled
    to ``depth`` as SQL expression strings over the column name
    ``a`` (B(0) = 1 folded into B(1) = a/(1+a)). The SAME strings
    feed Spark's F.expr and the DuckDB oracle, so both engines
    evaluate the identical fixed-order IEEE tree (the tukey_hsd
    CASE-chain discipline). String size doubles per level but every
    leaf is a column REFERENCE, not a subtree — ~2^depth refs, fine
    at depth 8."""
    chain = []
    prev = f"({a} / (1.0 + {a}))"
    chain.append(prev)
    for k in range(2, depth + 1):
        prev = f"(({a} * {prev}) / ({k}.0 + ({a} * {prev})))"
        chain.append(prev)
    return chain


def _erlang_c_sql() -> dict[str, str]:
    """Shared Spark/DuckDB expression fragments for pipeline_erlang_c
    (identical IEEE trees in both engines)."""
    a = "a"
    bs = _erlang_b_chain(a)
    b_pick = "CASE c " + " ".join(
        f"WHEN {k} THEN {b}" for k, b in enumerate(bs, start=1)
    ) + " END"
    erlc = (
        f"(c * ({b_pick})) / (c - {a} * (1.0 - ({b_pick})))"
    )
    return {"erlang_c": erlc}


@query(
    "pipeline_erlang_c",
    oracle=f"""
    WITH counts AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total_n,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM counts
    ),
    days AS (
      SELECT CAST(COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE))
                  AS BIGINT) AS n_days
      FROM events
    ),
    load AS (
      SELECT event_type, n, total_n, n_types, n_days,
             CAST(n * n_types AS DOUBLE) / total_n AS a,
             CAST(LEAST(FLOOR(CAST(n * n_types AS DOUBLE) / total_n)
                        + 1, 8.0) AS BIGINT) AS c
      FROM counts, tot, days
    )
    SELECT event_type, n,
           CAST(n AS DOUBLE) / n_days AS lambda_per_day,
           a, c,
           CASE WHEN a < c THEN {_erlang_c_sql()['erlang_c']} END
             AS p_wait,
           CASE WHEN a < c THEN
             ({_erlang_c_sql()['erlang_c']})
               / ((c - a) * (CAST(total_n AS DOUBLE) / n_types / n_days))
           END AS wq_days
    FROM load
    """,
)
def pipeline_erlang_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r14) — ERLANG-C STAFFING TABLE (M/M/c queueing) per event
    type: arrival rate lambda from the event stream, service rate mu
    = the MEAN per-type daily rate (so traffic intensity a =
    lambda/mu = n*n_types/total — an EXACT integer ratio), servers
    c = floor(a)+1 (the minimum stable pool) clamped to 8. Emits the
    Erlang-C probability of waiting, P(W>0) = c*B(c) / (c -
    a*(1-B(c))) via the Erlang-B recursion unrolled to the clamp
    depth, and the mean queue wait Wq = C/((c-a)*mu) in days — the
    STOCHASTIC counterpart to the deterministic Little's-law audit
    beside it (little_law measures L = lambda*W ex post; Erlang C
    predicts the wait from rates alone). A clamped-unstable type
    (a >= c) emits NULL waits, never a negative denominator.

    Determinism: a is ONE IEEE division of exact BIGINTs; c is
    floor of that double (+1, clamp) — integer-exact in both
    engines; B(1..8) and the C formula are the SAME generated SQL
    string fed to Spark's F.expr and the DuckDB oracle, so both
    evaluate the identical fixed-order IEEE tree (the tukey_hsd
    discipline — no transcendentals, only +,*,/ on shared operands).

    Scale + lint: one events groupBy(event_type); the totals and
    day-span ride broadcast 1-row aggregates (never a driver
    collect); the per-type Erlang tree is pure column arithmetic on
    a types-bounded table. The distinct-day count is one exact
    aggregate over the corpus — co-planned with the count scan."""
    e = load_table(spark, sf_dir, "events")
    # r14 optimization (guide §2.4): the r13 form ran THREE passes
    # over events — the per-type counts, the tot join-back (counts'
    # subtree re-executes, this build never reuses exchanges), and a
    # separate global distinct-day aggregate. Pre-aggregate once on
    # (event_type, day) — types×days-bounded, localCheckpointed — and
    # derive all three from that tiny table: one events scan, one
    # corpus-sized shuffle (map-side partials) instead of three scans.
    pre = (
        e.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    counts = pre.groupBy("event_type").agg(F.sum("cnt").cast("long").alias("n"))
    tot = counts.agg(
        F.sum("n").cast("long").alias("total_n"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    days = pre.agg(F.countDistinct("d").cast("long").alias("n_days"))
    load = (
        counts.join(F.broadcast(tot))
        .join(F.broadcast(days))
        .select(
            "event_type", "n", "total_n", "n_types", "n_days",
            ((F.col("n") * F.col("n_types")).cast("double") / F.col("total_n"))
            .alias("a"),
            F.least(
                F.floor(
                    (F.col("n") * F.col("n_types")).cast("double")
                    / F.col("total_n")
                ) + 1,
                F.lit(8).cast("long"),
            ).cast("long").alias("c"),
        )
    )
    # r14 optimization (guide §1.2 step 2): the oracle-shared unrolled
    # CASE chain inlines B_k with 2^k leaf references (prev appears
    # twice per level), and erlc used it four times — a ~2000-leaf
    # expression tree that shipped a 1.6 MB task binary and dominated
    # plan compile. The SAME recurrence b_1 = a/(1+a),
    # b_k = (a·b_{k-1})/(k + a·b_{k-1}) folds in LINEAR size via
    # aggregate(); filter(sequence(2,8), k <= c) yields [] at c=1 so
    # the fold returns the b_1 init. Operand order inside the lambda
    # matches the unrolled string exactly ((a*acc) both places,
    # k exact as double), so the IEEE tree per row is unchanged —
    # tools/check.py proves the hash-exact match. wq_days reuses the
    # p_wait COLUMN (its CASE guard already yields NULL exactly when
    # the old guard did; NULL propagates through the division).
    b = F.expr(
        "aggregate(filter(sequence(2, 8), k -> k <= c),"
        " a / (1.0 + a),"
        " (acc, k) -> (a * acc) / (CAST(k AS DOUBLE) + (a * acc)))"
    )
    p_wait = F.expr(
        "CASE WHEN a < c THEN (c * b) / (c - a * (1.0 - b)) END"
    )
    return (
        load.withColumn("b", b)
        .withColumn("p_wait", p_wait)
        .select(
            "event_type", "n",
            (F.col("n").cast("double") / F.col("n_days")).alias(
                "lambda_per_day"
            ),
            "a", "c",
            "p_wait",
            F.expr(
                "p_wait / ((c - a) * (CAST(total_n AS DOUBLE) / n_types / n_days))"
            ).alias("wq_days"),
        )
    )


@query(
    "pipeline_skyline",
    oracle="""
    WITH pp AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS vol,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS v_c
      FROM lineitem GROUP BY 1
    ),
    up AS (
      SELECT pk, vol, (2 * v_c + vol) // (2 * vol) AS p_c FROM pp
    ),
    pairs AS (
      SELECT p_c, vol, CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM up GROUP BY 1, 2
    ),
    s AS (
      SELECT p_c, vol, n_parts,
             MAX(vol) OVER (ORDER BY p_c ASC, vol DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS rm
      FROM pairs
    )
    SELECT CAST(p_c AS DOUBLE) / 100.0 AS unit_price,
           vol AS volume, n_parts
    FROM s WHERE rm IS NULL OR vol > rm
    """,
)
def pipeline_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r14) — SKYLINE / PARETO-FRONTIER operator (Börzsönyi et
    al. 2001) over parts: the (unit price, volume) pairs not
    DOMINATED by any other pair (cheaper-or-equal AND
    higher-or-equal-volume with one strict) — the classic
    multi-criteria "best offers" operator the engine's top-k/rank
    family can't express (no single scoring function). Pairs are
    grouped first (equal pairs are mutually incomparable and all
    survive, carried as n_parts); unit price is the exact HALF-UP
    integer-cent convention from pipeline_price_index.

    Determinism: after pair-grouping, a pair survives iff its volume
    STRICTLY exceeds the running max volume over the (price asc,
    volume desc) EXCLUSIVE prefix — an exact-integer criterion
    (proof: any prefix witness has p' < p, or p' = p with v' > v,
    and v' >= v — always a strict dominance; conversely any
    dominator sorts into the prefix with v' >= v). No floating
    point anywhere but the final display division.

    Scale + lint: one lineitem groupBy(partkey) + one pair groupBy;
    the prefix max rides ``bucketed_running_max`` (value-contiguous
    buckets on the composite (price, -volume) key, 8-way parallel
    EXCLUSIVE windows, <=8 collected bucket maxima — no global
    window); the composite key p_c * 2^33 - vol is injective while
    volumes stay under 2^33 (sf ~ 10^5) and keys stay under 2^63
    (cent prices < 2^29 — TPC-H prices are sf-independent)."""
    li = load_table(spark, sf_dir, "lineitem")
    pp = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("vol"),
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("v_c"),
    )
    pairs = (
        pp.select(
            F.expr("(2 * v_c + vol) DIV (2 * vol)").alias("p_c"), "vol"
        )
        .groupBy("p_c", "vol")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .withColumn(
            "skey",
            F.col("p_c") * F.lit(2**33).cast("long") - F.col("vol"),
        )
    )
    sky = bucketed_running_max(pairs, "skey", "vol")
    return sky.where(
        F.col("run_max_vol").isNull() | (F.col("vol") > F.col("run_max_vol"))
    ).select(
        (F.col("p_c").cast("double") / 100.0).alias("unit_price"),
        F.col("vol").alias("volume"),
        "n_parts",
    )
