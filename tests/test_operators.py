"""Operator unit tests on tiny inline inputs (SURVEY.md §5.2):
hand-computed expectations plus algebraic invariants — null keys,
empty groups, window ties, dedup idempotence."""

from pyspark.sql import functions as F

from osm_airflow_spark.registry import all_oracles, all_queries

QUERIES = all_queries()
ORACLES = all_oracles()


def test_ordered_collect_with_duplicate_positions(spark):
    df = spark.createDataFrame(
        [(1, 2, 30.0), (1, 1, 10.0), (1, 2, 20.0), (2, 1, 5.0)],
        "k int, pos int, v double",
    )
    out = (
        df.groupBy("k")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pairs"))
        .select("k", F.transform("pairs", lambda s: s.getField("v")).alias("seq"))
    )
    rows = {r["k"]: r["seq"] for r in out.collect()}
    # ties on pos=2 break by value → fully deterministic
    assert rows[1] == [10.0, 20.0, 30.0]
    assert rows[2] == [5.0]


def test_window_dedup_exactly_one_row_per_key(spark, sf_dir):
    out = QUERIES["win_dedup_latest"](spark, sf_dir)
    total = out.count()
    assert total == out.select("user_id").distinct().count()


def test_dedup_idempotent(spark, sf_dir):
    once = QUERIES["llm_dedup_exact"](spark, sf_dir)
    assert once.count() == once.dropDuplicates(["doc_id"]).count()


def test_union_count_additivity(spark, sf_dir):
    u = QUERIES["set_union_all"](spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n_f = li.where(F.col("l_linestatus") == "F").count()
    n_o = li.where(F.col("l_linestatus") == "O").count()
    assert u.count() == n_f + n_o


def test_semi_join_equals_inner_distinct(spark, sf_dir):
    semi = QUERIES["join_semi"](spark, sf_dir)
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    inner_distinct = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey")
        .distinct()
    )
    assert semi.count() == inner_distinct.count()


def test_semi_anti_partition_the_left(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    assert (
        QUERIES["join_semi"](spark, sf_dir).count()
        + QUERIES["join_anti"](spark, sf_dir).count()
        == c.count()
    )


def test_null_join_keys_never_match(spark):
    a = spark.createDataFrame([(1,), (None,)], "k int")
    b = spark.createDataFrame([(1,), (None,)], "k int")
    assert a.join(b, a["k"] == b["k"]).count() == 1


def test_session_islands_on_hand_data(spark):
    # gaps: 10min, 45min (new session), 5min → sessions of 2 and 2
    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),
        (1, "2024-01-01 00:55:00"),
        (1, "2024-01-01 01:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string").select(
        "user_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        F.monotonically_increasing_id().alias("event_id"),
        F.lit(1.0).alias("value"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts"))
    gap = ts_us - F.lag(ts_us).over(w)
    sessions = (
        df.withColumn("is_new", F.when(gap <= 30 * 60 * 1_000_000, 0).otherwise(1))
        .withColumn(
            "sid",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
        .groupBy("user_id", "sid")
        .count()
    )
    assert sorted(r["count"] for r in sessions.collect()) == [2, 2]


def test_asof_join_picks_latest_not_after(spark, sf_dir):
    out = QUERIES["join_asof"](spark, sf_dir)
    sample = out.limit(50).collect()
    assert sample and all(r["asof_orderdate"] <= r["ts"] for r in sample)


def test_empty_group_aggregate(spark):
    df = spark.createDataFrame([], "k int, v double")
    assert df.groupBy("k").agg(F.sum("v")).count() == 0


def test_unicode_string_functions(spark):
    df = spark.createDataFrame([("Straße café ÄÖÜ",)], "s string")
    row = df.select(
        F.lower("s").alias("lo"), F.length("s").alias("n"), F.upper("s").alias("up")
    ).collect()[0]
    assert row["lo"] == "straße café äöü"
    assert row["n"] == 15


def test_salted_join_equals_plain_join(spark, sf_dir):
    from osm_airflow_spark.operators.skew import salted_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    plain = orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
    salted = salted_join(orders, customer, F.col("o_custkey") == F.col("c_custkey"))
    assert salted.count() == plain.count()
    a = {tuple(r) for r in plain.select("o_orderkey", "c_custkey").collect()}
    b = {tuple(r) for r in salted.select("o_orderkey", "c_custkey").collect()}
    assert a == b


def test_salted_agg_count_equals_groupby(spark, sf_dir):
    from osm_airflow_spark.operators.skew import salted_agg_count

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    direct = {r["l_returnflag"]: r["n"] for r in li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["l_returnflag"]: r["n"] for r in salted_agg_count(li, "l_returnflag").collect()}
    assert direct == salted


def test_pagerank_invariants(spark, sf_dir):
    """graph_pagerank (rows-only): ranks form a probability
    distribution (Σ=1, all above the teleport floor), reruns are
    bit-identical, and rank tracks degree (the highest-degree node
    outranks the lowest-degree one)."""
    from osm_airflow_spark.operators.graph import graph_pagerank, trade_edges

    rows = graph_pagerank(spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 1e-6, f"sum {total}"
    floor = (1.0 - 0.85) / n
    assert all(r["pagerank"] >= floor - 1e-12 for r in rows)

    deg = {}
    for r in trade_edges(spark, sf_dir).collect():
        deg[r["a"]] = deg.get(r["a"], 0) + 1
        deg[r["b"]] = deg.get(r["b"], 0) + 1
    ranks = {r["node"]: r["pagerank"] for r in rows}
    hi = max(deg, key=lambda k: (deg[k], k))
    lo = min(deg, key=lambda k: (deg[k], k))
    if deg[hi] > deg[lo]:
        assert ranks[hi] > ranks[lo]

    again = graph_pagerank(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_hll_partial_merge_matches_direct_and_bounds_error(spark, sf_dir):
    """agg_hll_partial_merge (rows-only): merging per-day sketches
    must equal the direct whole-table sketch exactly (register max
    is associative), and the estimate must sit within 5% of the
    exact distinct count at lgK=12."""
    from osm_airflow_spark.operators.aggregates import agg_hll_partial_merge

    rows = agg_hll_partial_merge(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["merge_equals_direct"], r
        err = abs(r["est_users"] - r["exact_users"]) / max(r["exact_users"], 1)
        assert err < 0.05, r


def test_countmin_estimates_one_sided_and_linear(spark, sf_dir):
    """CM invariants: est >= true for every probe (one-sided error),
    the absent word's true count is 0, and the sketch is LINEAR —
    cell-wise sum of two half-corpus sketches equals the full-corpus
    sketch (the mergeability the docstring claims)."""
    from pyspark.sql import functions as F

    from osm_airflow_spark.io import load_table
    from osm_airflow_spark.registry import all_queries

    rows = all_queries()["agg_countmin_sketch"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["cm_est"] >= r["true_cnt"], r
    assert {r["true_cnt"] for r in rows if r["word"] == "zz-absent"} == {0}

    d = load_table(spark, sf_dir, "documents")

    def sketch(df):
        words = df.select(F.explode(F.split("text", " ")).alias("word"))
        j = F.explode(F.array(*[F.lit(x) for x in range(4)])).alias("j")
        b = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("word"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 256
        )
        return {
            (r["j"], r["bucket"]): r["cnt"]
            for r in words.select("word", j)
            .select("j", b.alias("bucket"))
            .groupBy("j", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

    full = sketch(d)
    lo = sketch(d.where(F.col("doc_id") % 2 == 0))
    hi = sketch(d.where(F.col("doc_id") % 2 == 1))
    merged = dict(lo)
    for k, v in hi.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == full


def test_skew_report_flags_planted_hot_key(spark, sf_dir):
    """The r8 skew policy as code: on a 20%-hot planted key the
    report must flag salting/splitting as warranted with a large row
    skew ratio, and on the natural (near-uniform) key it must not."""
    from pyspark.sql import functions as F

    from osm_airflow_spark.operators.skew import skew_report

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey")
    hot = li.withColumn(
        "k",
        F.when(F.pmod(F.xxhash64("l_orderkey"), 5) == 0, 0).otherwise(
            F.col("l_orderkey")
        ),
    )
    r = skew_report(hot, "k")
    assert r["top_keys"][0]["key"] == 0
    assert 0.15 < r["top_keys"][0]["share"] < 0.25
    assert r["recommend"]["salting_warranted"]
    assert r["row_skew_ratio"] > 3
    uniform = skew_report(li, "l_orderkey")
    assert not uniform["recommend"]["salting_warranted"]


def test_apply_skew_policy_sets_confs_and_preserves_results(spark, sf_dir):
    """r9: the measured skew policy closes the loop into session
    config. apply_skew_policy must set the AQE thresholds to the
    report's recommendation (far below the 256 MB default that the
    r8 bench showed misses every hot partition at these scales), and
    a join executed under the applied policy must equal the same join
    under defaults — thresholds change WHEN AQE splits, never
    results."""
    from pyspark.sql import functions as F

    from osm_airflow_spark.operators.skew import apply_skew_policy

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    hot = li.withColumn(
        "k",
        F.when(F.pmod(F.xxhash64("l_orderkey"), 5) == 0, 0).otherwise(
            F.col("l_orderkey")
        ),
    )
    dim = hot.select("k").distinct().withColumn("tag", F.pmod(F.col("k"), 7))

    def joined():
        return sorted(
            tuple(r)
            for r in hot.join(dim, "k")
            .groupBy("tag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
            )
            .collect()
        )

    thr_key = "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    adv_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before_thr, before_adv = spark.conf.get(thr_key, None), spark.conf.get(
        adv_key, None
    )
    baseline = joined()
    try:
        report = apply_skew_policy(spark, hot, "k", n_partitions=32)
        assert report["applied"] and report["recommend"]["salting_warranted"]
        assert spark.conf.get(thr_key) == report["recommend"][thr_key]
        assert spark.conf.get(adv_key) == report["recommend"][adv_key]
        assert int(spark.conf.get(thr_key)) < 256 * 1024 * 1024
        assert joined() == baseline  # identical results under the policy
    finally:
        for k, v in ((thr_key, before_thr), (adv_key, before_adv)):
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _planted_two_arm_events(spark, tmp_path):
    """Events fixture with a KNOWN distribution shift between arms:
    arm A (even user_id) draws values 1..100, arm B (odd) 51..150 —
    ECDFs separate by exactly 0.5 at value 100, with 50 tied values
    (51..100) exercising the midrank path."""
    rows = []
    eid = 0
    for v in range(1, 101):
        rows.append((eid, 2, "purchase", float(v)))
        eid += 1
    for v in range(51, 151):
        rows.append((eid, 3, "purchase", float(v)))
        eid += 1
    rows.append((eid, 2, "view", 999.0))  # non-purchase noise
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double"
    ).select(
        "event_id",
        F.timestamp_micros(F.lit(1_600_000_000_000_000)).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)
    return str(tmp_path)


def test_ks_test_planted_shift_exact(spark, tmp_path):
    """D must be exactly 0.5 on the planted half-shifted arms, and
    the tiny-p tail must mark the shift significant."""
    sf = _planted_two_arm_events(spark, tmp_path)
    row = QUERIES["pipeline_ks_test"](spark, sf).collect()[0]
    assert (row["n_a"], row["n_b"]) == (100, 100)
    assert row["d_num"] == 5000  # 0.5 * 100 * 100
    assert row["d_stat"] == 0.5
    assert row["p_approx"] < 0.001


def test_mann_whitney_matches_pure_python_midranks(spark, tmp_path):
    """Third implementation: rank-sum with midranks computed the
    textbook way (sort, assign average ranks, sum over arm A) must
    reproduce u_a / z_score exactly."""
    sf = _planted_two_arm_events(spark, tmp_path)
    row = QUERIES["pipeline_mann_whitney"](spark, sf).collect()[0]

    a = [float(v) for v in range(1, 101)]
    b = [float(v) for v in range(51, 151)]
    pooled = sorted([(v, "a") for v in a] + [(v, "b") for v in b])
    ranks, i = {}, 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j][0] == pooled[i][0]:
            j += 1
        mid = (i + 1 + j) / 2.0
        ranks[pooled[i][0]] = mid
        i = j
    r_a = sum(ranks[v] for v in a)
    u_a = r_a - len(a) * (len(a) + 1) / 2.0
    assert row["u_a"] == u_a
    assert row["u_b"] == len(a) * len(b) - u_a
    from collections import Counter

    c = Counter(a + b)
    tie = sum(k**3 - k for k in c.values())
    assert row["tie_term"] == tie
    n = len(a) + len(b)
    import math

    var = (len(a) * len(b) / 12.0) * ((n + 1) - tie / (n * (n - 1.0)))
    want_z = (u_a - len(a) * len(b) / 2.0) / math.sqrt(var)
    assert abs(row["z_score"] - want_z) < 1e-12
    # B is stochastically larger -> U_A below its mean -> negative z
    assert row["z_score"] < -3


def test_chi_square_matches_pure_python(spark, sf_dir):
    """Recompute chi2 / Cramér's V from the collected contingency
    table with the textbook formula (per-term 6-dp rounding applied
    the same way)."""
    from osm_airflow_spark.io import load_table

    row = QUERIES["pipeline_chi_square"](spark, sf_dir).collect()[0]
    cells = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .count()
        .collect()
    )
    from collections import defaultdict

    rtot, ctot = defaultdict(int), defaultdict(int)
    n = 0
    for r in cells:
        rtot[r["o_orderpriority"]] += r["count"]
        ctot[r["o_orderstatus"]] += r["count"]
        n += r["count"]
    chi2 = 0.0
    for r in cells:
        e = rtot[r["o_orderpriority"]] * ctot[r["o_orderstatus"]] / n
        chi2 += round((r["count"] - e) ** 2 / e, 6)
    assert row["n"] == n
    assert (row["n_rows"], row["n_cols"]) == (len(rtot), len(ctot))
    assert row["dof"] == (len(rtot) - 1) * (len(ctot) - 1)
    assert abs(row["chi2"] - chi2) < 1e-9
    import math

    want_v = math.sqrt(chi2 / (n * min(len(rtot) - 1, len(ctot) - 1)))
    assert abs(row["cramers_v"] - want_v) < 1e-12


def test_kmv_distinct_estimate_and_union_semantics(spark, sf_dir):
    """The estimator must land within a 3-sigma band of the exact
    distinct (sigma ~ 1/sqrt(k-2) ~ 0.27 at k=16), and the ROLLUP
    total row must be the true union (exact distinct over all types,
    >= every per-type exact)."""
    rows = QUERIES["agg_kmv_distinct"](spark, sf_dir).collect()
    per_type = [r for r in rows if r["event_type"] is not None]
    union = [r for r in rows if r["event_type"] is None]
    assert len(union) == 1 and per_type
    for r in rows:
        assert r["exact_distinct"] > 0
        assert r["kmv_estimate"] > 0
        assert abs(r["rel_err"]) < 0.8, (r["event_type"], r["rel_err"])
        assert r["rel_err"] == (
            r["kmv_estimate"] - r["exact_distinct"]
        ) / r["exact_distinct"]
    u = union[0]
    assert u["exact_distinct"] >= max(r["exact_distinct"] for r in per_type)
    assert u["n_rows"] == sum(r["n_rows"] for r in per_type)


def test_bloom_probe_invariants(spark, sf_dir):
    """No false negatives (hits = members + false positives exactly),
    bit count bounded by both m and j*members, and the measured FP
    rate in the same regime as the (n_set_bits/m)^j prediction."""
    r = QUERIES["agg_bloom_probe"](spark, sf_dir).collect()[0]
    assert r["n_hits"] - r["n_false_pos"] == r["n_members"]
    assert 0 < r["n_set_bits"] <= min(r["m_bits"], r["k_hashes"] * r["n_members"])
    assert r["n_probed"] >= r["n_members"]
    assert 0.0 < r["predicted_fp"] <= 1.0
    if r["fp_rate"] is not None:
        assert 0.0 <= r["fp_rate"] <= 1.0
        # loose concentration: measured within 5x + 5pp of predicted
        assert r["fp_rate"] <= 5 * r["predicted_fp"] + 0.05


def test_cusum_planted_level_shift(spark, tmp_path):
    """A flat series with a late sustained level shift must breach
    the 4-sigma decision bound with the peak at the series end (the
    drift keeps accumulating through the shifted regime)."""
    rows = []
    for i in range(40):
        val = 10.0 if i < 30 else 100.0
        rows.append((i, 1, "purchase", val, 1_600_000_000_000_000 + i * 86_400_000_000))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, us long"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    row = QUERIES["pipeline_cusum_changepoint"](spark, str(tmp_path)).collect()[0]
    assert row["n_days"] == 40
    assert bool(row["breached"]) is True
    # drift accumulates through the shifted regime: peak on the last
    # day (epoch 1.6e9 s = 2020-09-13; day 39 = 2020-10-22)
    assert row["peak_day"] == "2020-10-22"
    assert row["max_cusum"] > 4.0 * row["sigma"]


def test_survival_km_matches_pure_python(spark, sf_dir):
    """Third implementation: recompute the KM curve from collected
    per-customer spells with the textbook product-limit formula
    (same 6-dp log rounding), and pin monotonicity + at-risk
    bookkeeping."""
    import math
    from collections import Counter

    rows = QUERIES["pipeline_survival_km"](spark, sf_dir).collect()
    rows = sorted(rows, key=lambda r: r["t_days"])
    total = rows[0]["n_risk"]
    # n_risk bookkeeping: decreasing by d+c each step
    seen = 0
    surv = 1.0
    cum_micro = 0
    for r in rows:
        assert r["n_risk"] == total - seen
        seen += r["n_events"] + r["n_censored"]
        if r["n_events"] > 0:
            if r["n_events"] < r["n_risk"]:
                cum_micro += round(
                    round(math.log(1.0 - r["n_events"] / r["n_risk"]), 6)
                    * 1_000_000
                )
            else:
                cum_micro += -99_000_000_000
        want = round(math.exp(cum_micro / 1_000_000), 6)
        assert r["survival"] == want, (r["t_days"], r["survival"], want)
        assert r["survival"] <= surv + 1e-12  # non-increasing
        surv = r["survival"]
    assert 0.0 <= rows[-1]["survival"] <= 1.0


def test_kcore_matches_pure_python_peeling(spark, sf_dir):
    """Exact oracle for the rows-only key: textbook peeling on the
    collected trade-edge list must reproduce every coreness."""
    from osm_airflow_spark.operators.graph import trade_edges

    got = {
        r["node"]: r["coreness"]
        for r in QUERIES["graph_kcore"](spark, sf_dir).collect()
    }
    pairs = [(r["a"], r["b"]) for r in trade_edges(spark, sf_dir).collect()]
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    k = 1
    live = {n: set(nb) for n, nb in adj.items()}
    while live:
        while True:
            low = [n for n, nb in live.items() if len(nb) < k]
            if not low:
                break
            for n in low:
                for m in live.get(n, ()):
                    live[m].discard(n)
                live.pop(n, None)
        for n in live:
            want[n] = k
        k += 1
        if k > 64:
            break
    assert got == want
    assert max(got.values()) >= 2  # the trade graph has a dense core


def test_theil_sen_robust_to_planted_outlier(spark, tmp_path):
    """12 months of exactly-linear revenue (slope 10/month) with ONE
    corrupted month: the pairwise-slope median must stay exactly 10
    while OLS is dragged far off; pair count is n(n-1)/2."""
    rows = []
    ok = 0
    for mo in range(12):
        rev = 1000.0 + 10.0 * mo
        if mo == 6:
            rev += 100000.0  # the spike month
        rows.append((ok, 1, "O", rev, f"2024-{mo+1:02d}-15", "1-URGENT"))
        ok += 1
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, d string, o_orderpriority string",
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("d").cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    r = QUERIES["pipeline_theil_sen"](spark, str(tmp_path)).collect()[0]
    assert r["n_months"] == 12
    assert r["n_pairs"] == 12 * 11 // 2
    assert r["ts_slope"] == 10.0
    assert abs(r["ols_slope"] - 10.0) > 100  # dragged by the spike
    # intercept: median residual of the uncorrupted line is 1000
    assert abs(r["ts_intercept"] - 1000.0) < 1e-9


def test_position_attribution_conserves_conversions_and_credit(spark, sf_dir):
    """Credit conservation: summed credited_conversions over ALL rows
    (incl. 'none') must equal the exact purchase count to within the
    6-dp per-touch rounding; the hand-checkable credit split is
    pinned on a planted three-touch conversion."""
    from osm_airflow_spark.io import load_table

    rows = QUERIES["pipeline_position_attribution"](spark, sf_dir).collect()
    total_credit = sum(r["credited_conversions"] for r in rows)
    n_purchases = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .count()
    )
    # each touched conversion's credits sum to 1 up to k*5e-7 rounding
    assert abs(total_credit - n_purchases) < 0.01 * n_purchases
    assert {r["attributed_to"] for r in rows} <= {"click", "view", "none"}


def test_position_attribution_u_shape_on_planted_journey(spark, tmp_path):
    """view -> click -> view -> purchase within 24h: credits must be
    exactly 0.4 (first view) + 0.2 (middle click) + 0.4 (last view);
    a second user's touchless purchase lands on 'none' with full
    credit."""
    base = 1_600_000_000_000_000
    hour = 3_600_000_000
    rows = [
        (1, 1, "view", 0.0, base),
        (2, 1, "click", 0.0, base + hour),
        (3, 1, "view", 0.0, base + 2 * hour),
        (4, 1, "purchase", 100.0, base + 3 * hour),
        (5, 2, "purchase", 50.0, base),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, us long"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["attributed_to"]: r
        for r in QUERIES["pipeline_position_attribution"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["view"]["credited_conversions"] == 0.8
    assert got["click"]["credited_conversions"] == 0.2
    assert got["view"]["credited_value"] == 80.0
    assert got["click"]["credited_value"] == 20.0
    assert got["none"]["credited_conversions"] == 1.0
    assert got["none"]["credited_value"] == 50.0


def test_cusum_first_day_spike_breaches(spark, tmp_path):
    """The r9 self-review bug: without the P_0 = 0 prefix candidate,
    a spike on the FIRST day leaves the drift-corrected prefix
    positive, the running min equals P_1, and C+ collapses to 0 —
    the true change-point is silently missed. The fixed closed form
    (pref - least(0, min pref)) must flag it on day one."""
    rows = []
    for i in range(40):
        val = 2000.0 if i == 0 else 10.0
        rows.append(
            (i, 1, "purchase", val, 1_600_000_000_000_000 + i * 86_400_000_000)
        )
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, us long"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    row = QUERIES["pipeline_cusum_changepoint"](spark, str(tmp_path)).collect()[0]
    assert bool(row["breached"]) is True
    assert row["peak_day"] == "2020-09-13"  # the spike day itself
    assert row["max_cusum"] > 4.0 * row["sigma"]


def test_hampel_flags_planted_spike_not_neighbors(spark, tmp_path):
    """A single 100x spike inside a flat series must be the ONLY
    flagged row; its neighbors' frames contain the spike but their
    median/MAD stay robust (the whole point vs a mean/sigma cut)."""
    rows = []
    for i in range(15):
        val = 1000.0 if i == 7 else 10.0 + (i % 3)  # mild wiggle
        rows.append((i, 1, "purchase", val, 1_600_000_000_000_000 + i * 60_000_000))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, us long"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["event_id"]: r
        for r in QUERIES["win_hampel_outliers"](spark, str(tmp_path)).collect()
    }
    # edge rows (0-2, 12-14) are skipped: full frames only
    assert set(got) == set(range(3, 12))
    assert bool(got[7]["is_outlier"]) is True
    for eid in set(got) - {7}:
        assert bool(got[eid]["is_outlier"]) is False, eid
    assert got[7]["med"] <= 12.0  # median robust to its own spike


def test_seasonal_decompose_identity_and_planted_cycle(spark, tmp_path):
    """Planted series: linear trend + exact 12-month square-wave
    seasonality, no noise. The decomposition must (a) satisfy
    revenue == trend + seasonal + residual exactly as emitted, and
    (b) recover the alternating seasonal sign pattern."""
    rows = []
    ok = 0
    for m in range(36):
        rev = 10000.0 + 100.0 * m + (500.0 if m % 12 < 6 else -500.0)
        y, mo = 2020 + m // 12, m % 12 + 1
        rows.append((ok, 1, "O", rev, f"{y}-{mo:02d}-15", "1-URGENT"))
        ok += 1
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, d string, o_orderpriority string",
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("d").cast("timestamp").alias("o_orderdate"), "o_orderpriority",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    rows_out = QUERIES["pipeline_seasonal_decompose"](spark, str(tmp_path)).collect()
    assert len(rows_out) == 36 - 12  # edges without a full 13-frame drop
    for r in rows_out:
        assert abs(r["revenue"] - (r["trend"] + r["seasonal"] + r["residual"])) < 1e-6
    # square wave: first-half months positive seasonal, second half negative
    by_mo = {}
    for r in rows_out:
        by_mo.setdefault(r["month_index"] % 12, r["seasonal"])
    assert all(by_mo[m] > 100 for m in range(0, 6) if m in by_mo)
    assert all(by_mo[m] < -100 for m in range(6, 12) if m in by_mo)


def _psi_orders(spark, tmp_path, shift):
    rows = []
    ok = 0
    for d in range(20):
        for v in (50000.0, 150000.0, 250000.0):
            val = v + (shift if d >= 10 else 0.0)
            rows.append((ok, 1, "O", val, f"2024-01-{d+1:02d}", "1-URGENT"))
            ok += 1
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, d string, o_orderpriority string",
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("d").cast("timestamp").alias("o_orderdate"), "o_orderpriority",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    return QUERIES["pipeline_psi_drift"](spark, str(tmp_path)).collect()[0]


def test_psi_zero_on_identical_halves(spark, tmp_path):
    """Identical early/late distributions: every bin has p == q, so
    ln(p/q) = 0 and PSI is exactly 0.0 — no drift flag."""
    r = _psi_orders(spark, tmp_path / "same", shift=0.0)
    assert r["psi"] == 0.0 and bool(r["drifted"]) is False
    assert r["n_ref"] == r["n_cur"] == 30


def test_psi_flags_planted_distribution_shift(spark, tmp_path):
    """Second half shifted two bins up: mass moves between bins and
    PSI must clear the 0.2 investigate threshold."""
    r = _psi_orders(spark, tmp_path / "shift", shift=120000.0)
    assert r["psi"] > 0.2 and bool(r["drifted"]) is True


def test_max_drawdown_planted_peak_and_trough(spark, tmp_path):
    """Series 10 -> 100 -> 30 -> 80 -> 20: the max drawdown is
    100-20=80 at the LAST day (peak stays 100), fraction 0.8."""
    vals = [10.0, 100.0, 30.0, 80.0, 20.0]
    rows = [
        (i, 1, "purchase", v, 1_600_000_000_000_000 + i * 86_400_000_000)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, us long"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    r = QUERIES["win_max_drawdown"](spark, str(tmp_path)).collect()[0]
    assert r["peak_value"] == 100.0
    assert r["trough_value"] == 20.0
    assert r["max_drawdown"] == 80.0
    assert r["drawdown_frac"] == 0.8
    assert r["trough_day"] == "2020-09-17"


def test_acf_planted_alternating_series(spark, tmp_path):
    """A strictly alternating daily series (50, 150, 50, ...) over
    100 consecutive days has the closed-form biased ACF
    r_k = (-1)^k (n-k)/n — exact because deviations are +-const.
    Also pins the n^2-scaled deviation algebra: num/den are exact
    decimals, so the 9-dp emission is bit-stable."""
    rows = [
        (i, 1, "O", 150.0 if i % 2 else 50.0, "1-URGENT")
        for i in range(100)
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderpriority string",
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        (
            F.timestamp_micros(
                F.lit(1_577_836_800_000_000)
                + F.col("o_orderkey") * 86_400_000_000
            )
        ).alias("o_orderdate"),
        "o_orderpriority",
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    rows = {r["lag"]: r for r in QUERIES["pipeline_acf"](spark, str(tmp_path)).collect()}
    assert sorted(rows) == list(range(1, 9))
    for k in range(1, 9):
        want = round(((-1) ** k) * (100 - k) / 100.0, 9)
        assert rows[k]["acf"] == want, (k, rows[k]["acf"], want)
        assert rows[k]["n_pairs"] == 100 - k


def test_anova_planted_weekday_shift_and_identities(spark, tmp_path):
    """One hot weekday (Monday ~ value 100, all others 10) must give
    a large F and eta^2 near 1; the emitted columns must satisfy the
    exact F and eta^2 identities recomputed from ss_between /
    ss_within (same IEEE subtrees)."""
    rows = []
    # 2020-01-06 (Mon) epoch-days base; 98 events over 14 weeks
    base_us = 1_578_268_800_000_000
    for i in range(98):
        day = i % 7  # Mon..Sun
        v = 100.0 + i * 0.01 if day == 0 else 10.0 + i * 0.01
        rows.append((i, i, "purchase", v, base_us + i * 86_400_000_000))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, us long"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    r = QUERIES["pipeline_anova"](spark, str(tmp_path)).collect()[0]
    assert r["n"] == 98 and r["k"] == 7
    assert r["ss_between"] > 0 and r["ss_within"] > 0
    assert r["f_stat"] > 1000  # planted 90-point Monday shift
    assert 0.9 < r["eta_sq"] < 1.0
    assert r["f_stat"] == (r["ss_between"] / 6.0) / (
        r["ss_within"] / (r["n"] - 7.0)
    )
    assert r["eta_sq"] == r["ss_between"] / (r["ss_between"] + r["ss_within"])


def test_benford_matches_pure_python_digits(spark, sf_dir):
    """Third implementation: first digits recomputed driver-side from
    the raw totals (int(floor(x)) string head) must reproduce every
    count; shares and deviations follow from the emitted columns."""
    import math

    from osm_airflow_spark.io import load_table

    rows = QUERIES["pipeline_benford"](spark, sf_dir).collect()
    vals = [
        r["o_totalprice"]
        for r in load_table(spark, sf_dir, "orders")
        .select("o_totalprice")
        .collect()
    ]
    from collections import Counter

    want = Counter(int(str(int(math.floor(v)))[0]) for v in vals if v >= 1)
    got = {r["digit"]: r["n"] for r in rows}
    assert got == dict(want)
    total = sum(want.values())
    for r in rows:
        assert r["obs_share"] == r["n"] / total
        assert abs(r["exp_share"] - math.log10(1 + 1 / r["digit"])) <= 5e-7
        assert r["abs_dev"] == abs(r["obs_share"] - r["exp_share"])
    # uniform-ish TPC-H totals are NOT Benford: some digit deviates
    # visibly (digit 4's top decade alone is ~20% of the range)
    assert max(r["abs_dev"] for r in rows) > 0.05


def test_running_distinct_planted_sequence(spark, tmp_path):
    """One user touching types A,B,A,C,B,D in time order must read
    1,2,2,3,3,4 — repeats never increment, order decided by (ts,
    event_id)."""
    seq = ["A", "B", "A", "C", "B", "D"]
    rows = [
        (i, 7, t, 1.0, 1_600_000_000_000_000 + i * 1_000_000)
        for i, t in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, us long"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = [
        r["distinct_types_so_far"]
        for r in QUERIES["win_running_distinct"](spark, str(tmp_path))
        .orderBy("event_id")
        .collect()
    ]
    assert got == [1, 2, 2, 3, 3, 4]


def test_adamic_adar_planted_baskets(spark, tmp_path):
    """Two overlapping baskets: {1,2,3} and {1,2} (the second with a
    planted duplicate lineitem to pin the DISTINCT). Pair (1,2)
    scores round(1/ln3,6) + round(1/ln2,6) over two common orders;
    (1,3) and (2,3) score only the ln3 term."""
    import math

    rows = [(100, 1), (100, 2), (100, 3), (200, 1), (200, 2), (200, 2)]
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").coalesce(
        1
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        (r["p1"], r["p2"]): (r["n_common_orders"], r["aa_score"])
        for r in QUERIES["graph_adamic_adar"](spark, str(tmp_path)).collect()
    }
    from decimal import Decimal

    w3 = round(1 / math.log(3), 6)
    w2 = round(1 / math.log(2), 6)
    # scores sum in exact decimal, not float (w3 + w2 as floats
    # carries a 4e-16 artifact the engine correctly does not)
    both = float(Decimal(str(w3)) + Decimal(str(w2)))
    assert got == {
        (1, 2): (2, both),
        (1, 3): (1, w3),
        (2, 3): (1, w3),
    }


def test_ngram_novelty_matches_pure_python(spark, sf_dir):
    """Third implementation: recompute every count driver-side with
    hashlib md5 split assignment and plain python bigram sets."""
    import hashlib

    from osm_airflow_spark.io import load_table

    r = QUERIES["llm_ngram_novelty"](spark, sf_dir).collect()[0]
    docs = [
        row["text"]
        for row in load_table(spark, sf_dir, "documents")
        .select("text")
        .collect()
    ]
    train, val_inst = set(), []
    for t in docs:
        pfx = hashlib.md5(t.encode()).hexdigest()[:2]
        w = t.split(" ")
        grams = [f"2|{w[i]} {w[i + 1]}" for i in range(len(w) - 1)]
        if pfx >= "1a":
            train.update(grams)
        elif pfx >= "0a":
            val_inst.extend(grams)
    unseen = [g for g in val_inst if g not in train]
    assert r["n_train_distinct"] == len(train)
    assert r["n_val_instances"] == len(val_inst)
    assert r["n_val_distinct"] == len(set(val_inst))
    assert r["n_unseen_instances"] == len(unseen)
    assert r["n_unseen_distinct"] == len(set(unseen))
    assert r["novelty_mass"] == len(unseen) / len(val_inst)
    assert r["novelty_distinct"] == len(set(unseen)) / len(set(val_inst))


def test_xcorr_planted_lead_lag(spark, tmp_path):
    """Purchases exactly replay clicks two days later: the
    cross-correlation must peak at lag +2 (x leads y), with the
    peak near 1 and every other lag visibly below it."""
    rows = []
    eid = 0
    vals = [10.0, 25.0, 5.0, 40.0, 15.0, 30.0, 8.0, 22.0] * 8  # 64 days
    for day, v in enumerate(vals):
        us = 1_600_000_000_000_000 + day * 86_400_000_000
        rows.append((eid, 1, "click", v, us))
        eid += 1
        if day >= 2:
            rows.append((eid, 2, "purchase", vals[day - 2], us))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, us long"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["lag"]: r["xcorr"]
        for r in QUERIES["pipeline_xcorr"](spark, str(tmp_path)).collect()
    }
    assert sorted(got) == list(range(-7, 8))
    peak = max(got, key=lambda k: got[k])
    assert peak == 2, got
    assert got[2] > 0.9
    # the planted period-8 pattern echoes at lag 2-8=-6, but the true
    # alignment must dominate every other lag
    assert all(got[k] < got[2] for k in got if k != 2)


def test_mutual_info_matches_pure_python(spark, sf_dir):
    """Third implementation: MI and joint entropy recomputed from the
    collected contingency table with the same term-rounding recipe."""
    import math

    from osm_airflow_spark.io import load_table

    r = QUERIES["pipeline_mutual_info"](spark, sf_dir).collect()[0]
    cells = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .count()
        .collect()
    )
    from collections import defaultdict
    from decimal import Decimal

    rtot, ctot, n = defaultdict(int), defaultdict(int), 0
    for c in cells:
        rtot[c["o_orderpriority"]] += c["count"]
        ctot[c["o_orderstatus"]] += c["count"]
        n += c["count"]
    mi = Decimal(0)
    h = Decimal(0)
    for c in cells:
        o = c["count"]
        pr = rtot[c["o_orderpriority"]]
        pc = ctot[c["o_orderstatus"]]
        mi += Decimal(
            str(round((o / n) * round(math.log(o * n / (pr * pc)), 6), 9))
        )
        h += Decimal(str(round(-(o / n) * round(math.log(o / n), 6), 9)))
    assert r["n"] == n and r["n_cells"] == len(cells)
    assert abs(r["mutual_info"] - float(mi)) < 1e-12
    assert abs(r["joint_entropy"] - float(h)) < 1e-12
    assert r["iqr_ratio"] == r["mutual_info"] / r["joint_entropy"]
    assert 0 <= r["iqr_ratio"] < 1


def test_did_planted_treatment_effect(spark, tmp_path):
    """Parallel trends +10 in both arms, +15 extra in the treated
    arm post-period: DiD must isolate exactly 15.0 (cell means are
    dyadic-exact), with a positive t."""
    rows = []
    eid = 0

    def cell(user, day_lo, v):
        nonlocal eid
        for i in range(50):
            us = 1_600_000_000_000_000 + (day_lo + i % 10) * 86_400_000_000 + i
            rows.append((eid, user, "purchase", v + 2.0 * (i % 2), us))
            eid += 1

    cell(2, 0, 9.0)    # A pre  -> mean 10
    cell(2, 20, 19.0)  # A post -> mean 20
    cell(3, 0, 9.0)    # B pre  -> mean 10
    cell(3, 20, 34.0)  # B post -> mean 35
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, us long"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    r = QUERIES["pipeline_did"](spark, str(tmp_path)).collect()[0]
    assert r["n"] == 200
    assert r["delta_control"] == 10.0
    assert r["delta_treat"] == 25.0
    assert r["did_estimate"] == 15.0
    assert r["std_err"] > 0 and r["t_stat"] > 10


def test_bollinger_planted_spike(spark, tmp_path):
    """Seven flat days give a zero-width band (no breakout: the
    compare is strict); the day-8 spike escapes upward. Only full
    7-frames emit."""
    rows = []
    for day in range(8):
        v = 200.0 if day == 7 else 100.0
        rows.append(
            (day, 1, "view", v, 1_600_000_000_000_000 + day * 86_400_000_000)
        )
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, us long"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["day"]: r
        for r in QUERIES["win_bollinger"](spark, str(tmp_path)).collect()
    }
    assert len(got) == 2  # days 0-5 have partial frames
    flat = got["2020-09-19"]  # day 6
    assert flat["mean7"] == 100.0
    assert flat["upper_band"] == 100.0 == flat["lower_band"]
    assert not flat["breakout"]
    spike = got["2020-09-20"]  # day 7
    assert spike["daily_value"] == 200.0
    assert spike["breakout"]
    assert spike["upper_band"] < 200.0


def test_bollinger_flat_week_rounding_never_nan(spark, tmp_path):
    """Regression (r9 self-review): a flat week of 1.414214 makes
    round(x*x, 6) < x*x, so the un-clamped variance was -2.8e-7 and
    sqrt gave NaN bands that compared as breakout=true. The clamp
    must yield exact zero-width bands and no breakout."""
    import math

    rows = [
        (day, 1, "view", 1.414214, 1_600_000_000_000_000 + day * 86_400_000_000)
        for day in range(7)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, us long"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    rows = QUERIES["win_bollinger"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert not math.isnan(r["upper_band"]) and not math.isnan(r["lower_band"])
    assert r["upper_band"] == r["mean7"] == r["lower_band"]
    assert not r["breakout"]


def test_runs_test_planted_regimes(spark, tmp_path):
    """Three planted types: strict alternation (max runs, z > 0),
    two long regimes (minimal runs, z < 0 and non-random), and a
    monotone ramp (one-direction: statistic undefined -> NULL)."""
    rows = []
    eid = 0
    for day in range(40):
        us = 1_600_000_000_000_000 + day * 86_400_000_000
        rows.append((eid, 1, "alt", 10.0 if day % 2 else 20.0, us)); eid += 1
        rows.append((eid, 1, "regime", 10.0 + day if day < 20 else 200.0 - day, us)); eid += 1
        rows.append((eid, 1, "ramp", float(day), us)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, us long"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["event_type"]: r
        for r in QUERIES["pipeline_runs_test"](spark, str(tmp_path)).collect()
    }
    alt = got["alt"]  # signs strictly alternate: runs == n
    assert alt["n_runs"] == alt["n_plus"] + alt["n_minus"]
    assert alt["z_score"] > 1.96 and alt["random_at_05"] is False
    reg = got["regime"]  # one up-regime then one down-regime: 2 runs
    assert reg["n_runs"] == 2
    assert reg["z_score"] < -1.96 and reg["random_at_05"] is False
    ramp = got["ramp"]  # all ups: undefined
    assert ramp["n_minus"] == 0
    assert ramp["z_score"] is None and ramp["random_at_05"] is None


def test_hampel_null_values_dropped(spark, tmp_path):
    """r9 ADVICE: a 7-row frame with >=4 NULL values used to index
    element_at(lst, 4) past the end of collect_list's NULL-skipping
    array (INVALID_ARRAY_INDEX under ANSI). NULL rows must be dropped
    BEFORE framing — they neither emit nor appear in neighbor frames."""
    rows = []
    for i in range(20):
        # events 5-9 are NULL: pre-fix, event 7's frame held 7 rows
        # but only 3 non-null values -> element_at(lst, 4) crash
        val = None if 5 <= i <= 9 else 10.0 + (i % 3)
        rows.append((i, 1, "purchase", val, 1_600_000_000_000_000 + i * 60_000_000))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, us long"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["event_id"]: r
        for r in QUERIES["win_hampel_outliers"](spark, str(tmp_path)).collect()
    }
    # 15 non-null rows -> 15 - 6 edge rows = 9 full frames; NULL rows
    # are invisible (frames span the gap as if 5-9 never existed)
    assert len(got) == 9
    assert not any(5 <= eid <= 9 for eid in got)
    assert all(not bool(r["is_outlier"]) for r in got.values())


def test_bucketed_running_empty_input(spark):
    """r9 ADVICE: percentile_approx over an empty frame returns NULL;
    bucketed_running must emit a typed empty result + zero totals, not
    TypeError on iterating None cuts."""
    from osm_airflow_spark.bucketing import bucketed_running

    empty = spark.createDataFrame([], "v long, n long")
    out, totals = bucketed_running(empty, "v", ["n"])
    assert out.count() == 0
    assert "run_n" in out.columns and "_bkt" in out.columns
    assert totals == {"n": 0}
    # single-row input still takes the real path (cuts are non-NULL)
    one = spark.createDataFrame([(5, 2)], "v long, n long")
    out1, totals1 = bucketed_running(one, "v", ["n"])
    assert [(r["v"], r["run_n"]) for r in out1.collect()] == [(5, 2)]
    assert totals1 == {"n": 2}
    # an all-NULL order column also gets NULL cuts, but the frame is
    # not empty: it must take the real path (one bucket), not the
    # zero-row one
    nulls = spark.createDataFrame([(None, 1)] * 3, "v long, n long")
    outn, totn = bucketed_running(nulls, "v", ["n"])
    assert sorted(r["run_n"] for r in outn.collect()) == [1, 2, 3]
    assert totn == {"n": 3}
    # r10 ADVICE: the empty path types run_<col> from the SUM-result
    # type (not a hardcoded long), so a non-long sum column keeps the
    # same degenerate schema a future non-empty path would produce
    dec = spark.createDataFrame([], "v long, amt decimal(12,2)")
    outd, totd = bucketed_running(dec, "v", ["amt"])
    assert (
        outd.schema["run_amt"].dataType
        == dec.select(F.sum("amt")).schema[0].dataType
    )
    assert totd == {"amt": 0}
    # distributed_ntile ranks through bucketed_running, so it inherits
    # the empty guard: an empty frame gets an empty, typed tile column
    from osm_airflow_spark.operators.windows import distributed_ntile

    tiles = distributed_ntile(empty, F.col("n"), "v", "q", 4)
    assert tiles.count() == 0 and tiles.columns == ["v", "n", "q"]


def test_kcore_peel_cap_raises_not_mislabels(spark):
    """r9 ADVICE: a graph with degeneracy > max_k must raise, not
    silently label survivors max_k. A (k+2)-clique has degeneracy
    k+1, so max_k=3 on a 5-clique must raise; max_k=4 labels it 4."""
    import pytest as _pytest

    from osm_airflow_spark.operators.graph import kcore_peel

    clique = [
        (f"n{i}", f"n{j}") for i in range(5) for j in range(i + 1, 5)
    ]
    edges = spark.createDataFrame(clique, "a string, b string")
    with _pytest.raises(ValueError, match="degeneracy exceeds"):
        kcore_peel(edges, max_k=3)
    got = {r["node"]: r["coreness"] for r in kcore_peel(edges, max_k=4).collect()}
    assert got == {f"n{i}": 4 for i in range(5)}


def test_spearman_planted_monotone_with_outlier(spark, tmp_path):
    """r10: a strictly monotone relation with a massive whale-order
    outlier on the last day must give Spearman rho == 1.0 EXACTLY
    (ranks don't move), plus a pure-Python midrank recompute on a
    tied series and the NULL guard for a constant series."""
    # day i: 1 + (i % 3) orders (ties in y!), revenue grows with the
    # order count monotonically; last day is a 1000x revenue whale
    # with the highest order count -> still monotone in ranks
    rows = []
    key = 0
    for i in range(30):
        n_orders = 4 if i == 29 else 1 + (i % 3)
        price = 1_000_000.0 if i == 29 else 10.0 + 5.0 * n_orders + 0.01 * i
        for _ in range(n_orders):
            rows.append((key, 1, "O", price / n_orders, i))
            key += 1
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, day int",
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.timestamp_micros(
            F.lit(1_577_836_800_000_000) + F.col("day") * 86_400_000_000
        ).alias("o_orderdate"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    got = QUERIES["pipeline_spearman"](spark, str(tmp_path)).first()
    assert got["n_days"] == 30

    # independent pure-Python Spearman on the same daily series
    import collections

    daily = collections.defaultdict(lambda: [0, 0.0])
    for k, c, s, price, day in rows:
        daily[day][0] += 1
        daily[day][1] += price
    days = sorted(daily)
    ys = [daily[d][0] for d in days]
    xs = [round(daily[d][1], 2) for d in days]

    def midranks(vals):
        order = sorted(vals)
        first = {}
        for idx, v in enumerate(order):
            first.setdefault(v, idx + 1)
        cnt = collections.Counter(order)
        return [first[v] + (cnt[v] - 1) / 2.0 for v in vals]

    ru, rw = midranks(xs), midranks(ys)
    n = len(ru)
    su, sw = sum(ru), sum(rw)
    suw = sum(a * b for a, b in zip(ru, rw))
    suu = sum(a * a for a in ru)
    sww = sum(b * b for b in rw)
    import math

    want = (n * suw - su * sw) / math.sqrt(
        (n * suu - su * su) * (n * sww - sw * sw)
    )
    assert abs(got["rho"] - want) < 1e-12, (got["rho"], want)
    # monotone in ranks despite the whale: high rho; and Pearson on
    # raw values WOULD be dragged (sanity: rho is near the top)
    assert got["rho"] > 0.8

    # constant y series -> NULL rho (tie guard), not a crash
    const = spark.createDataFrame(
        [(i, 1, "O", 10.0 + i, i // 1) for i in range(5)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, day int",
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.timestamp_micros(
            F.lit(1_577_836_800_000_000) + F.col("day") * 86_400_000_000
        ).alias("o_orderdate"),
    )
    d2 = tmp_path / "const"
    d2.mkdir()
    const.coalesce(1).write.parquet(str(d2 / "orders.parquet"))
    got2 = QUERIES["pipeline_spearman"](spark, str(d2)).first()
    assert got2["rho"] is None  # y constant (1 order/day): degenerate


def test_rsi_planted_regimes(spark, tmp_path):
    """r10 win_rsi: a strictly rising series pins RSI == 100.0
    exactly, strictly falling pins 0.0, perfect alternation of equal
    up/down steps pins 50.0, and a flat series emits NULL (the
    G+L == 0 guard) — all closed-form because gains/losses are exact
    decimals."""
    rows = []
    eid = 0
    for i in range(30):
        us = 1_600_000_000_000_000 + i * 60_000_000
        rows.append((eid, 1, "up", 10.0 + i, us)); eid += 1
        rows.append((eid, 2, "down", 100.0 - i, us)); eid += 1
        rows.append((eid, 3, "alt", 10.0 + (i % 2), us)); eid += 1
        rows.append((eid, 4, "flat", 7.0, us)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, us long"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = {}
    for r in QUERIES["win_rsi"](spark, str(tmp_path)).collect():
        got.setdefault(r["user_id"], []).append(r)
    assert set(got) == {1, 2, 3, 4}
    for u, want in ((1, 100.0), (2, 0.0), (3, 50.0)):
        assert len(got[u]) == 30 - 15 + 1
        assert all(r["rsi"] == want for r in got[u]), (u, got[u][0]["rsi"])
    assert all(r["rsi"] is None for r in got[4])
    assert all(r["sum_gain"] == 0.0 and r["sum_loss"] == 0.0 for r in got[4])


def test_join_asof_nearest_direction_and_ties(spark, tmp_path):
    """r11 D9c: nearest picks the closer order in EITHER direction
    (backward asof would ignore the later one); an exact |delta| tie
    prefers the EARLIER order; users with no orders drop (inner
    semantics, same as D9)."""
    import datetime

    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)

    def dt(sec):
        return t0 + datetime.timedelta(seconds=sec)

    spark.createDataFrame(
        [
            (1, t0, 10, "click", 1.0, "{}"),   # orders at -10s and +5s
            (2, t0, 20, "click", 1.0, "{}"),   # tie: -7s and +7s
            (3, t0, 30, "click", 1.0, "{}"),   # user 30 has no orders
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    spark.createDataFrame(
        [
            (100, 10, "O", 1.0, dt(-10), "1-URGENT"),
            (101, 10, "O", 1.0, dt(5), "1-URGENT"),
            (200, 20, "O", 1.0, dt(-7), "1-URGENT"),
            (201, 20, "O", 1.0, dt(7), "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))

    rows = {
        r["event_id"]: r
        for r in QUERIES["join_asof_nearest"](spark, str(tmp_path)).collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1]["nearest_orderkey"] == 101 and rows[1]["gap_us"] == 5_000_000
    assert rows[2]["nearest_orderkey"] == 200 and rows[2]["gap_us"] == 7_000_000


def test_trimmed_mean_planted_outliers(spark, tmp_path):
    """r11 E23: n=20 with planted +-1000 whales -> k=1 trims exactly
    them; trimmed and winsorized means hit the closed forms while the
    raw mean is dragged; a tiny n<20 group has k=0 and all three
    means coincide."""
    vals = list(range(1, 19)) + [1000.0, -1000.0]  # n=20, k=1
    rows = [(i, 1, 1, i, 1.0, float(v), 0.0, 0.0, "T", "O", None) for i, v in enumerate(vals)]
    rows += [(100 + i, 1, 1, i, 1.0, float(v), 0.0, 0.0, "S", "O", None) for i, v in enumerate([5.0, 7.0])]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))

    out = {r["l_returnflag"]: r for r in QUERIES["agg_trimmed_mean"](spark, str(tmp_path)).collect()}
    t = out["T"]
    assert (t["n"], t["k"]) == (20, 1)
    assert t["raw_mean"] == sum(range(1, 19)) / 20.0
    assert t["trimmed_mean"] == sum(range(1, 19)) / 18.0  # whales gone
    assert t["winsor_mean"] == (sum(range(1, 19)) + 1.0 + 18.0) / 20.0
    s = out["S"]
    assert s["k"] == 0
    assert s["raw_mean"] == s["trimmed_mean"] == s["winsor_mean"] == 6.0


def test_graph_jaccard_planted_baskets(spark, tmp_path):
    """Baskets {1,2,3}, {1,2}, {1,2} (one with a duplicate lineitem
    to pin the DISTINCT): jaccard(1,2) = 3/3 = 1.0 exactly, the
    other pairs 1/3; ordering is (jaccard DESC, p1, p2)."""
    rows = [
        (100, 1), (100, 2), (100, 3),
        (200, 1), (200, 2), (200, 2),
        (300, 1), (300, 2),
    ]
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").coalesce(
        1
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = QUERIES["graph_jaccard"](spark, str(tmp_path)).collect()
    assert [(r["p1"], r["p2"]) for r in out] == [(1, 2), (1, 3), (2, 3)]
    assert out[0]["jaccard"] == 1.0
    assert out[0]["n_common"] == 3 and out[0]["n_a"] == 3
    assert out[1]["jaccard"] == 1 / 3 and out[2]["jaccard"] == 1 / 3


def test_assortativity_planted_star(spark, tmp_path):
    """Star co-purchase graph (part 1 in three two-part baskets):
    K_{1,3} has assortativity exactly -1 (hubs only touch leaves);
    mean stub degree = 12/6 = 2."""
    rows = [(100, 1), (100, 2), (200, 1), (200, 3), (300, 1), (300, 4)]
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").coalesce(
        1
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    r = QUERIES["graph_assortativity"](spark, str(tmp_path)).collect()[0]
    assert r["n_edges"] == 3 and r["n_nodes"] == 4
    assert r["mean_degree"] == 2.0
    assert r["assortativity"] == -1.0


def test_assortativity_stub_sums_are_decimal_typed(spark, tmp_path):
    """ADVICE r12: the stub-stat sums Sx/Sxx/Sxy must aggregate
    DECIMAL products, never raw longs — SUM(long) wraps silently past
    2^63 (hub degree ~1e6 over 1e10 stubs) while the DuckDB oracle's
    SUM(HUGEINT) stays exact. Pin the optimized plan: every sum over
    a degree column goes through a decimal cast first."""
    import re

    rows = [(100, 1), (100, 2), (200, 1), (200, 3)]
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").coalesce(
        1
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    df = QUERIES["graph_assortativity"](spark, str(tmp_path))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # Raw long-typed sums of a degree column (x/y end in the L long
    # marker) must not exist; only sums of decimal casts/products.
    assert not re.search(r"sum\([xy]#\d+L\)", plan)
    assert not re.search(r"sum\(\([xy]#\d+L \*", plan)
    assert re.search(r"sum\(cast\(x#\d+L as decimal\(19,0\)\)", plan)


def test_win_atr_hand_fixture(spark, tmp_path):
    """Hand-walkable ATR: one order per day with prices chosen so
    hi = lo = close; TR_t = |close_t − close_{t−1}|. 16 days of
    +10 steps → every TR = 10, ATR_14 = 10 exactly, first emission
    on day 16 (15th TR owner); then replay vs the DuckDB oracle."""
    import datetime

    import duckdb

    rows = [
        (i, datetime.date(2024, 1, 1 + i), 1000.0 + 10.0 * i)
        for i in range(16)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    got = QUERIES["win_atr"](spark, str(tmp_path)).collect()
    # rn numbers DAYS (day 1 drops with its NULL prev-close), so TR
    # rows carry rn 2..16 and day 15 (rn 15) already owns TRs 2..15 —
    # a full 14-TR frame: days 15 and 16 emit
    assert [(r["day"], r["true_range"], r["atr_14"]) for r in got] == [
        ("2024-01-15", 10.0, 10.0),
        ("2024-01-16", 10.0, 10.0),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM read_parquet("
        f"'{tmp_path}/orders.parquet/*.parquet')"
    )
    want = con.execute(ORACLES["win_atr"]).fetchall()
    assert [tuple(r) for r in got] == want


def test_graph_closeness_matches_python_bfs_replica(spark, sf_dir, monkeypatch):
    """Third implementation: pure-Python BFS from the same 4
    alphabetically-first seeds over the collected trade edge list
    must reproduce every (n_seeds_reached, h840, harmonic) exactly —
    h840 is an exact integer (840 = lcm(1..8) clears each reciprocal)
    so the comparison is equality, no tolerance. Also pins the
    multi-seed kernel on a hand star graph: the hub is 1 hop from
    every seed, rim nodes are 2 from every seed but 1 from
    themselves-as-seed."""
    from collections import deque

    from osm_airflow_spark.operators import graph
    from osm_airflow_spark.operators.graph import (
        bfs_hops_multi,
        trade_edges,
    )
    from osm_airflow_spark.registry import all_queries

    edges = [(r["a"], r["b"]) for r in trade_edges(spark, sf_dir).collect()]
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    seeds = nodes[:4]
    n = len(nodes)

    def bfs(s):
        d = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            if d[v] >= 8:
                continue
            for w in adj[v]:
                if w not in d:
                    d[w] = d[v] + 1
                    q.append(w)
        return d

    dists = {s: bfs(s) for s in seeds}
    want = {}
    for v in nodes:
        ds = [dists[s].get(v) for s in seeds]
        h840 = sum(840 // d for d in ds if d is not None and d > 0)
        reached = sum(1 for d in ds if d is not None and d > 0)
        want[v] = (reached, h840, h840 / 840.0 / 4.0 * (n - 1))

    got = {
        r["node"]: (r["n_seeds_reached"], r["h840"], r["harmonic_centrality"])
        for r in all_queries()["graph_closeness"](spark, sf_dir).collect()
    }
    assert got == want

    # hand star: hub H, rim r1..r4 (seeds = H,r1,r2,r3 alphabetically)
    star = spark.createDataFrame(
        [("H", x) for x in ("r1", "r2", "r3", "r4")], "a string, b string"
    )
    und = star.union(star.select(F.col("b").alias("a"), F.col("a").alias("b")))
    seed_df = spark.createDataFrame(
        [(s, s, 0) for s in ("H", "r1", "r2", "r3")],
        "sid string, node string, hops int",
    )
    rows = bfs_hops_multi(und, seed_df).collect()
    d = {(r["sid"], r["node"]): r["hops"] for r in rows}
    assert d[("H", "r4")] == 1 and d[("r1", "r4")] == 2
    assert d[("r1", "r2")] == 2 and d[("r1", "H")] == 1
    # a zero broadcast cap runs every round through the shuffle-join
    # fallback; it must label the same rows
    monkeypatch.setattr(graph, "BFS_BROADCAST_ROWS", 0)
    assert sorted(bfs_hops_multi(und, seed_df).collect()) == sorted(rows)


def test_agg_moments_closed_form_distributions(spark, tmp_path):
    """Closed forms: a symmetric two-point distribution has skewness
    0 and excess kurtosis −2 exactly (Bernoulli(½) shape); a constant
    group is zero-variance → NULL moments, never NaN; and a planted
    one-sided outlier drives skewness positive. Replayed on the
    oracle."""
    import datetime

    import duckdb

    rows = []
    k = 0
    for _ in range(10):  # symmetric two-point: 100 and 300
        for v in (100.0, 300.0):
            rows.append((k, datetime.date(2024, 1, 1), "A-SYM", v)); k += 1
    for _ in range(8):  # constant group
        rows.append((k, datetime.date(2024, 1, 1), "B-CONST", 42.0)); k += 1
    for v in [100.0] * 9 + [1000.0]:  # right outlier
        rows.append((k, datetime.date(2024, 1, 1), "C-SKEW", v)); k += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_orderdate date, o_orderpriority string,"
        " o_totalprice double",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    got = {
        r["prio"]: r
        for r in QUERIES["agg_moments"](spark, str(tmp_path)).collect()
    }
    assert got["A-SYM"]["skewness"] == 0.0
    assert got["A-SYM"]["excess_kurtosis"] == -2.0
    assert got["A-SYM"]["mean_price"] == 200.0
    assert got["B-CONST"]["skewness"] is None
    assert got["B-CONST"]["excess_kurtosis"] is None
    assert got["C-SKEW"]["skewness"] > 2.0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM read_parquet("
        f"'{tmp_path}/orders.parquet/*.parquet')"
    )
    want = {r[0]: r for r in con.execute(ORACLES["agg_moments"]).fetchall()}
    for prio, r in got.items():
        assert tuple(r) == want[prio]


def test_win_donchian_rising_series_and_gap(spark, tmp_path):
    """Closed forms: a strictly rising dense daily series closes on
    its channel high every day (position == 1.0 exactly; channel_low
    = price 13 days back); removing one calendar day kills exactly
    the 14 frames that needed it. Oracle replayed."""
    import datetime

    import duckdb

    def run(days, sub):
        base = tmp_path / sub
        base.mkdir()
        rows = [
            (i, datetime.date(2024, 1, 1) + datetime.timedelta(days=d),
             1000.0 + 10.0 * d)
            for i, d in enumerate(days)
        ]
        spark.createDataFrame(
            rows, "o_orderkey long, o_orderdate date, o_totalprice double"
        ).coalesce(1).write.parquet(str(base / "orders.parquet"))
        got = QUERIES["win_donchian"](spark, str(base)).collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM read_parquet("
            f"'{base}/orders.parquet/*.parquet')"
        )
        want = con.execute(ORACLES["win_donchian"]).fetchall()
        assert sorted(tuple(r) for r in got) == sorted(want)
        return {r["day"]: r for r in got}

    dense = run(list(range(20)), "dense")
    assert len(dense) == 7  # days 14..20 own full frames
    r = dense["2024-01-20"]
    assert r["channel_position"] == 1.0  # rising: close IS the high
    assert r["channel_high"] == 1000.0 + 10.0 * 19
    assert r["channel_low"] == 1000.0 + 10.0 * 6  # 13 days back

    gapped = run([d for d in range(20) if d != 10], "gapped")
    # every frame that includes day 10 (i.e. anchor days 10..23 of
    # the span → anchors 14..20 here all include it except day 24+)
    assert len(gapped) == 0


def test_win_obv_hand_fixture(spark, tmp_path):
    """Hand-walkable OBV: one order per day (vol=1) except day 3
    (two orders → vol=2, close = price of the MAX orderkey);
    directions up,up,down,flat → flows +1,+2,-1,0 and OBV walks
    1,3,2,2. Day 1 anchors and emits nothing. Oracle replayed."""
    import datetime

    import duckdb

    rows = [
        (1, datetime.date(2024, 1, 1), 100.0),
        (2, datetime.date(2024, 1, 2), 110.0),
        # day 3: close is max-orderkey price (120), not the larger 130
        (3, datetime.date(2024, 1, 3), 130.0),
        (4, datetime.date(2024, 1, 3), 120.0),
        (5, datetime.date(2024, 1, 4), 90.0),
        (6, datetime.date(2024, 1, 5), 90.0),
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    got = QUERIES["win_obv"](spark, str(tmp_path)).collect()
    assert [(r["day"], r["flow"], r["obv"]) for r in got] == [
        ("2024-01-02", 1, 1),
        ("2024-01-03", 2, 3),
        ("2024-01-04", -1, 2),
        ("2024-01-05", 0, 2),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM read_parquet("
        f"'{tmp_path}/orders.parquet/*.parquet')"
    )
    want = con.execute(ORACLES["win_obv"]).fetchall()
    assert sorted(tuple(r) for r in got) == sorted(want)


def test_win_aroon_rising_and_flat(spark, tmp_path):
    """Closed forms: a strictly rising daily series sets its 14-day
    high TODAY (aroon_up = 100) and its low 13 days back
    (aroon_down = 100·1/14); a FLAT series ties every day and both
    sides tie-break to the LATEST day → up = down = 100, osc = 0.
    Oracle replayed on both."""
    import datetime

    import duckdb

    def run(prices, sub):
        base = tmp_path / sub
        base.mkdir()
        rows = [
            (i, datetime.date(2024, 1, 1) + datetime.timedelta(days=i), p)
            for i, p in enumerate(prices)
        ]
        spark.createDataFrame(
            rows, "o_orderkey long, o_orderdate date, o_totalprice double"
        ).coalesce(1).write.parquet(str(base / "orders.parquet"))
        got = QUERIES["win_aroon"](spark, str(base)).collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM read_parquet("
            f"'{base}/orders.parquet/*.parquet')"
        )
        want = con.execute(ORACLES["win_aroon"]).fetchall()
        assert sorted(tuple(r) for r in got) == sorted(want)
        return {r["day"]: r for r in got}

    rising = run([1000.0 + 10.0 * i for i in range(16)], "rising")
    assert len(rising) == 3  # days 14..16 own full frames
    r = rising["2024-01-16"]
    assert r["days_since_high"] == 0 and r["aroon_up"] == 100.0
    assert r["days_since_low"] == 13
    assert r["aroon_down"] == 100.0 / 14.0
    assert r["aroon_osc"] == 100.0 - 100.0 / 14.0

    flat = run([500.0] * 15, "flat")
    f = flat["2024-01-15"]
    assert f["days_since_high"] == 0 and f["days_since_low"] == 0
    assert f["aroon_up"] == 100.0 and f["aroon_osc"] == 0.0


def test_win_vwap_monthly_anchor_resets(spark, tmp_path):
    """Hand-walkable anchored VWAP: Jan day 1 ships 2 units @ 10.00
    (vwap 10), day 2 adds 2 units @ 20.00 (cum vwap 15); Feb resets
    the anchor (first day's vwap is its own price again). Oracle
    replayed."""
    import datetime

    import duckdb

    rows = [
        (datetime.date(2024, 1, 1), 20.0, 2.0),   # extprice = price*qty
        (datetime.date(2024, 1, 2), 40.0, 2.0),
        (datetime.date(2024, 2, 1), 30.0, 1.0),
    ]
    spark.createDataFrame(
        rows, "l_shipdate date, l_extendedprice double, l_quantity double"
    ).coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = QUERIES["win_vwap"](spark, str(tmp_path)).collect()
    assert [(r["day"], r["cum_qty"], r["vwap"]) for r in got] == [
        ("2024-01-01", 2, 10.0),
        ("2024-01-02", 4, 15.0),
        ("2024-02-01", 1, 30.0),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM read_parquet("
        f"'{tmp_path}/lineitem.parquet/*.parquet')"
    )
    want = con.execute(ORACLES["win_vwap"]).fetchall()
    assert sorted(tuple(r) for r in got) == sorted(want)


def test_graph_clustering_coefficient_matches_python_replica(spark, sf_dir):
    """Third implementation: pure-Python triangle/wedge count over
    the collected trade edge list must reproduce every (degree,
    n_triangles, clustering_coefficient) exactly — the coefficient is
    one IEEE division of exact ints, so equality needs no tolerance.
    Also pins the closed forms: a triangle node has cc 1.0, a pure
    star hub has cc 0.0, a leaf (degree 1) is NULL."""
    from itertools import combinations

    from osm_airflow_spark.operators.graph import trade_edges
    from osm_airflow_spark.registry import all_queries

    edges = {
        tuple(sorted((r["a"], r["b"])))
        for r in trade_edges(spark, sf_dir).collect()
    }
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for v, nb in adj.items():
        d = len(nb)
        t = sum(1 for x, y in combinations(sorted(nb), 2) if (x, y) in edges)
        want[v] = (d, t, (2 * t) / (d * (d - 1)) if d >= 2 else None)

    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering_coefficient"])
        for r in all_queries()["graph_clustering_coefficient"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_fn_geohash_matches_classic_bisection_encoder(spark, sf_dir):
    """Third implementation: the textbook geohash encoder (interval
    bisection, lon-first bit alternation, base32 readout) must
    reproduce every geohash6 exactly — catches interleave-layout or
    alphabet mistakes the SQL oracle can't (it shares the formula).
    Also pins cell containment: each point lies inside its reported
    cell's [west, west + 360/2^15) x [south, south + 180/2^15) box
    (up to the top-edge clamp)."""
    from osm_airflow_spark.registry import all_queries

    _B32 = "0123456789bcdefghjkmnpqrstuvwxyz"

    def classic(lat, lon, precision=6):
        lat_rng, lon_rng = [-90.0, 90.0], [-180.0, 180.0]
        bits, out, even = 0, [], True
        ch = 0
        for _ in range(precision * 5):
            rng, v = (lon_rng, lon) if even else (lat_rng, lat)
            mid = (rng[0] + rng[1]) / 2
            ch <<= 1
            if v >= mid:
                ch |= 1
                rng[0] = mid
            else:
                rng[1] = mid
            even = not even
            bits += 1
            if bits == 5:
                out.append(_B32[ch])
                bits, ch = 0, 0
        return "".join(out)

    rows = all_queries()["fn_geohash"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["geohash6"] == classic(r["lat"], r["lon"]), (
            r["c_custkey"], r["lat"], r["lon"], r["geohash6"],
        )
        assert r["cell_west"] <= r["lon"]
        assert r["cell_south"] <= r["lat"]
        assert r["lon"] < r["cell_west"] + 360.0 / 32768.0 or r["lon"] == 180.0
        assert r["lat"] < r["cell_south"] + 180.0 / 32768.0 or r["lat"] == 90.0


def test_weighted_median_hand_and_missing_flag(spark, tmp_path):
    """Hand-walkable lower weighted median: flag A prices 10/20/30
    with quantities 1/2/1 → W=4, crossing position 2 → median 20;
    a single-row flag N returns its own price; flag R absent from
    the fixture emits no row. Oracle replayed."""
    import duckdb

    rows = [
        (10.0, 1.0, "A"),
        (20.0, 2.0, "A"),
        (30.0, 1.0, "A"),
        (77.0, 5.0, "N"),
    ]
    spark.createDataFrame(
        rows, "l_extendedprice double, l_quantity double, l_returnflag string"
    ).coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r["l_returnflag"]: r
        for r in QUERIES["agg_weighted_median"](spark, str(tmp_path)).collect()
    }
    assert set(got) == {"A", "N"}
    assert got["A"]["total_qty"] == 4 and got["A"]["median_price"] == 20.0
    assert got["N"]["total_qty"] == 5 and got["N"]["median_price"] == 77.0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM read_parquet("
        f"'{tmp_path}/lineitem.parquet/*.parquet')"
    )
    want = con.execute(ORACLES["agg_weighted_median"]).fetchall()
    assert sorted(tuple(r) for r in got.values()) == sorted(
        tuple(w) for w in want
    )


def test_agg_histogram_edges_clamp_and_degenerate(spark, tmp_path):
    """Prices 0..200 in steps of 10 over 20 equal bins of width 10:
    every bin holds exactly one price except the last (190 AND the
    200 maximum, which clamps into bin 19); shares sum to 1. A
    single-value corpus (zero extent) emits no rows. Oracle
    replayed."""
    import duckdb

    def run(prices, sub):
        base = tmp_path / sub
        base.mkdir()
        spark.createDataFrame(
            [(i, p) for i, p in enumerate(prices)],
            "o_orderkey long, o_totalprice double",
        ).coalesce(1).write.parquet(str(base / "orders.parquet"))
        got = QUERIES["agg_histogram"](spark, str(base)).collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM read_parquet("
            f"'{base}/orders.parquet/*.parquet')"
        )
        want = con.execute(ORACLES["agg_histogram"]).fetchall()
        assert sorted(tuple(r) for r in got) == sorted(tuple(w) for w in want)
        return {r["bin"]: r for r in got}

    h = run([10.0 * k for k in range(21)], "grid")
    assert len(h) == 20
    assert h[19]["n"] == 2  # 190 and the clamped 200
    assert all(h[b]["n"] == 1 for b in range(19))
    assert abs(sum(r["share"] for r in h.values()) - 1.0) < 1e-12
    assert h[0]["bin_low"] == 0.0 and h[0]["bin_high"] == 10.0
    assert h[19]["bin_high"] == 200.0

    assert run([42.0] * 5, "flat") == {}


def test_win_stochastic_rising_series(spark, tmp_path):
    """A strictly rising dense series closes on its 14-day high every
    day: %K = 100 exactly; %D = 100 from the third frame day and NULL
    before (no 3-frame history). Oracle replayed."""
    import datetime

    import duckdb

    rows = [
        (i, datetime.date(2024, 1, 1) + datetime.timedelta(days=i),
         1000.0 + 10.0 * i)
        for i in range(18)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    got = {r["day"]: r for r in
           QUERIES["win_stochastic"](spark, str(tmp_path)).collect()}
    assert len(got) == 5  # days 14..18 own full frames
    for day, r in got.items():
        assert r["pct_k"] == 100.0
    assert got["2024-01-14"]["pct_d"] is None
    assert got["2024-01-15"]["pct_d"] is None
    assert got["2024-01-16"]["pct_d"] == 100.0
    assert got["2024-01-18"]["pct_d"] == 100.0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM read_parquet("
        f"'{tmp_path}/orders.parquet/*.parquet')"
    )
    want = con.execute(ORACLES["win_stochastic"]).fetchall()
    assert sorted(tuple(r) for r in got.values()) == sorted(
        tuple(w) for w in want
    )


def test_win_ichimoku_rising_series(spark, tmp_path):
    """A strictly rising dense series (hi = lo = price): every
    midrange line is (price_today + price_lookback_ago)/2, so tenkan
    > kijun > senkou_b and the cloud is bullish on every emitted day;
    only days 52+ own all three full frames. Oracle replayed."""
    import datetime

    import duckdb

    rows = [
        (i, datetime.date(2024, 1, 1) + datetime.timedelta(days=i),
         1000.0 + 10.0 * i)
        for i in range(55)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    got = {r["day"]: r for r in
           QUERIES["win_ichimoku"](spark, str(tmp_path)).collect()}
    assert len(got) == 4  # days 52..55 (indices 51..54)
    r = got["2024-02-24"]  # index 54, price 1540
    assert r["tenkan"] == (1540.0 + 1460.0) / 2   # 9-day: idx 46..54
    assert r["kijun"] == (1540.0 + 1290.0) / 2    # 26-day: idx 29..54
    assert r["senkou_b"] == (1540.0 + 1030.0) / 2  # 52-day: idx 3..54
    assert r["senkou_a"] == (r["tenkan"] + r["kijun"]) / 2
    assert all(v["cloud_bullish"] for v in got.values())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM read_parquet("
        f"'{tmp_path}/orders.parquet/*.parquet')"
    )
    want = con.execute(ORACLES["win_ichimoku"]).fetchall()
    assert sorted(tuple(r) for r in got.values()) == sorted(
        tuple(w) for w in want
    )


def test_win_pivot_points_hand_fixture(spark, tmp_path):
    """Hand-walkable pivots: day 1 has H=120, L=80, C=100 (close =
    max orderkey's price) → day 2 carries P=100, R1=120, S1=80,
    R2=140, S2=60; day 1 itself emits nothing (no prior day). Oracle
    replayed."""
    import datetime

    import duckdb

    rows = [
        (1, datetime.date(2024, 1, 1), 120.0),
        (2, datetime.date(2024, 1, 1), 80.0),
        (3, datetime.date(2024, 1, 1), 100.0),  # max key -> close
        (4, datetime.date(2024, 1, 2), 500.0),
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    got = QUERIES["win_pivot_points"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert r["day"] == "2024-01-02"
    assert (r["pivot"], r["r1"], r["s1"], r["r2"], r["s2"]) == (
        100.0, 120.0, 80.0, 140.0, 60.0
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM read_parquet("
        f"'{tmp_path}/orders.parquet/*.parquet')"
    )
    assert [tuple(x) for x in got] == con.execute(
        ORACLES["win_pivot_points"]
    ).fetchall()


def test_graph_degree_distribution_matches_replica(spark, sf_dir):
    """Pure-Python degree histogram + CCDF over the collected trade
    edges must match exactly (shares are single divisions of exact
    ints); shares sum to 1 and ccdf is monotone non-increasing in
    degree."""
    from collections import Counter

    from osm_airflow_spark.operators.graph import trade_edges
    from osm_airflow_spark.registry import all_queries

    edges = [(r["a"], r["b"]) for r in trade_edges(spark, sf_dir).collect()]
    degc = Counter()
    for a, b in edges:
        degc[a] += 1
        degc[b] += 1
    hist = Counter(degc.values())
    n = sum(hist.values())
    want = {
        d: (c, c / n, sum(c2 for d2, c2 in hist.items() if d2 >= d) / n)
        for d, c in hist.items()
    }
    got = {
        r["degree"]: (r["n_nodes"], r["share"], r["ccdf"])
        for r in all_queries()["graph_degree_distribution"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    assert abs(sum(v[1] for v in got.values()) - 1.0) < 1e-12
    seq = [got[d][2] for d in sorted(got)]
    assert all(x >= y for x, y in zip(seq, seq[1:]))


def test_fn_luhn_matches_python_replica(spark, sf_dir):
    """Third implementation: the textbook right-to-left Luhn fold
    over each emitted 13-char account string must reproduce validity
    — every generated number validates, every corrupted check digit
    fails, and the check digit equals the replica's."""
    from osm_airflow_spark.registry import all_queries

    def luhn_ok(num: str) -> bool:
        total = 0
        for i, ch in enumerate(reversed(num)):
            d = int(ch)
            if i % 2 == 1:  # alternate digits from the check digit
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    rows = all_queries()["fn_luhn"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        acct = r["account_number"]
        assert len(acct) == 13
        assert r["valid"] is True and luhn_ok(acct)
        assert r["corrupted_valid"] is False
        assert int(acct[-1]) == r["check_digit"]
    # classic vector through the same replica (sanity of the replica)
    assert luhn_ok("79927398713") and not luhn_ok("79927398710")


def test_graph_reciprocity_matches_python_replica(spark, sf_dir):
    """Third implementation: pure-Python reciprocity over the
    collected DIRECTED trade edge list must reproduce every
    (out_deg, in_deg, mutual_out, reciprocity) exactly — the ratio
    is one IEEE division of exact ints, so equality needs no
    tolerance. Also pins the structural invariants: mutual_out is
    symmetric in aggregate (total mutual edges is even) and bounded
    by out_deg."""
    from osm_airflow_spark.operators.graph import trade_edges_directed
    from osm_airflow_spark.registry import all_queries

    edges = {
        (r["a"], r["b"])
        for r in trade_edges_directed(spark, sf_dir).collect()
    }
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    want = {}
    for v in nodes:
        outs = [(a, b) for a, b in edges if a == v]
        ins = [(a, b) for a, b in edges if b == v]
        mut = sum(1 for a, b in outs if (b, a) in edges)
        want[v] = (
            len(outs), len(ins), mut,
            mut / len(outs) if outs else None,
        )
    got = {
        r["node"]: (
            r["out_deg"], r["in_deg"], r["mutual_out"], r["reciprocity"]
        )
        for r in all_queries()["graph_reciprocity"](spark, sf_dir).collect()
    }
    assert got == want
    assert len(got) > 0
    total_mutual = sum(v[2] for v in want.values())
    assert total_mutual % 2 == 0  # mutual edges come in pairs
    for v, (o, _i, m, _r) in want.items():
        assert m <= o


def test_graph_eccentricity_matches_python_bfs(spark, sf_dir):
    """Third implementation: pure-Python BFS from every node over
    the collected undirected trade edge list must reproduce every
    (n_reached, eccentricity) exactly, and the derived
    diameter/radius flags must match the replica's max/min. Also
    pins radius <= diameter <= 2*radius (metric space law) on the
    largest component when all nodes reach the same set."""
    from collections import deque

    from osm_airflow_spark.operators.graph import trade_edges
    from osm_airflow_spark.registry import all_queries

    und: dict = {}
    for r in trade_edges(spark, sf_dir).collect():
        und.setdefault(r["a"], set()).add(r["b"])
        und.setdefault(r["b"], set()).add(r["a"])
    want = {}
    for s in und:
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            if dist[v] >= 8:  # the key's hop cap
                continue
            for u in und[v]:
                if u not in dist:
                    dist[u] = dist[v] + 1
                    q.append(u)
        want[s] = (len(dist), max(dist.values()))
    diam = max(e for _, e in want.values())
    rad = min(e for _, e in want.values())
    got = {
        r["node"]: (
            r["n_reached"], r["eccentricity"],
            r["is_peripheral"], r["is_central"],
        )
        for r in all_queries()["graph_eccentricity"](spark, sf_dir).collect()
    }
    assert len(got) == len(want) > 0
    for v, (nr, ecc) in want.items():
        assert got[v] == (nr, ecc, ecc == diam, ecc == rad)
    assert rad <= diam <= 2 * rad


def test_win_mfi_rising_flat_down_hand(spark, tmp_path):
    """Hand-walkable MFI: 16 strictly-rising single-order days ⇒ all
    directions up, the two full frames read MFI = 100 with pos_mf =
    the exact 3·cents sum of their 14 frame days. A variant with a
    flat pair and a terminal drop: the flat day joins neither side
    and the last frame's neg_mf is exactly the dropped day's flow.
    Oracle replayed on both fixtures."""
    import datetime

    import duckdb

    def build(base, prices):
        base.mkdir()
        rows = [
            (i + 1, datetime.date(2024, 1, i + 1), float(p))
            for i, p in enumerate(prices)
        ]
        spark.createDataFrame(
            rows, "o_orderkey long, o_orderdate date, o_totalprice double"
        ).coalesce(1).write.parquet(str(base / "orders.parquet"))

    def run(base):
        got = QUERIES["win_mfi"](spark, str(base)).collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM read_parquet("
            f"'{base}/orders.parquet/*.parquet')"
        )
        want = con.execute(ORACLES["win_mfi"]).fetchall()
        assert sorted(tuple(r) for r in got) == sorted(
            tuple(w) for w in want
        )
        return {r["day"]: r for r in got}

    rising = [100.0 + 10.0 * i for i in range(16)]
    got = build(tmp_path / "a", rising) or run(tmp_path / "a")
    assert sorted(got) == ["2024-01-15", "2024-01-16"]
    for day, first_rn in (("2024-01-15", 2), ("2024-01-16", 3)):
        r = got[day]
        # single order/day: s = 3 * price cents, v = 1
        frame_days = range(first_rn, first_rn + 14)
        assert r["pos_mf"] == sum(
            3 * int(rising[d - 1] * 100) for d in frame_days
        )
        assert r["neg_mf"] == 0 and r["mfi"] == 100.0

    # 17 days: day2 flat vs day1, day17 drops; frames at rn 15..17
    prices = [100.0, 100.0] + [110.0 + 10.0 * i for i in range(14)]
    prices.append(50.0)
    got = build(tmp_path / "b", prices) or run(tmp_path / "b")
    last = got["2024-01-17"]
    assert last["neg_mf"] == 3 * 5000  # only the dropped day
    flat_frame = got["2024-01-15"]  # contains the flat day 2
    assert flat_frame["pos_mf"] + flat_frame["neg_mf"] < sum(
        3 * int(p * 100) for p in prices[1:15]
    )  # the flat day joined neither side
    assert flat_frame["neg_mf"] == 0


def test_win_macd_constant_and_ramp_closed_forms(spark, tmp_path):
    """Closed forms: a CONSTANT close series has fast = slow = close
    (kernels sum to exactly 1) ⇒ macd = signal = histogram = 0. A
    LINEAR ramp (slope 1/day) gives EMA_t = cl_t − D (D = Σ j·w_j,
    the kernel delay) once the horizon fills ⇒ macd is the exact
    constant D_slow − D_fast (rounded to 6 dp), the signal of a
    constant equals it, histogram = 0. D is recomputed here from the
    tap lists with Fraction — a third implementation of the kernel
    algebra. Oracle replayed on both fixtures."""
    import datetime
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction

    import duckdb

    from osm_airflow_spark.operators.windows import _MACD_FAST, _MACD_SLOW

    def build(base, prices):
        base.mkdir()
        rows = [
            (i + 1, datetime.date(2024, 1, i + 1), float(p))
            for i, p in enumerate(prices)
        ]
        spark.createDataFrame(
            rows, "o_orderkey long, o_orderdate date, o_totalprice double"
        ).coalesce(1).write.parquet(str(base / "orders.parquet"))

    def run(base):
        got = QUERIES["win_macd"](spark, str(base)).collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM read_parquet("
            f"'{base}/orders.parquet/*.parquet')"
        )
        want = con.execute(ORACLES["win_macd"]).fetchall()
        assert sorted(tuple(r) for r in got) == sorted(
            tuple(w) for w in want
        )
        return got

    build(tmp_path / "flat", [500.0] * 20)
    rows = run(tmp_path / "flat")
    assert len(rows) == 5  # rn 16..20
    for r in rows:
        assert (r["macd"], r["signal"], r["histogram"]) == (0.0, 0.0, 0.0)

    build(tmp_path / "ramp", [100.0 + i for i in range(30)])
    rows = run(tmp_path / "ramp")
    assert len(rows) == 15  # rn 16..30
    d_fast = sum(j * Fraction(w) for j, w in enumerate(_MACD_FAST))
    d_slow = sum(j * Fraction(w) for j, w in enumerate(_MACD_SLOW))
    delta = d_slow - d_fast
    expect = float(
        (Decimal(delta.numerator) / Decimal(delta.denominator))
        .quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )
    assert expect > 0  # the slow EMA lags more on a rising ramp
    for r in rows:
        assert r["macd"] == expect and r["signal"] == expect
        assert r["histogram"] == 0.0


def test_win_ulcer_index_flat_and_single_dip(spark, tmp_path):
    """Closed forms: a CONSTANT series never draws down ⇒ every
    ulcer_index = 0. A series flat at 200 with ONE day dipping to
    150 (-25%): that day's dd_pct = -25, each subsequent full RMS
    frame containing it reads sqrt(625·k/14) for the k frame days
    whose own trailing max saw the dip... with a single dip only the
    dip day itself has nonzero dd (later days recover to the flat
    max), so UI = sqrt(625/14) exactly while the dip day sits in the
    frame. Oracle replayed on both fixtures."""
    import datetime
    import math

    import duckdb

    def build(base, prices):
        base.mkdir()
        d0 = datetime.date(2024, 1, 1)
        rows = [
            (i + 1, d0 + datetime.timedelta(days=i), float(p))
            for i, p in enumerate(prices)
        ]
        spark.createDataFrame(
            rows, "o_orderkey long, o_orderdate date, o_totalprice double"
        ).coalesce(1).write.parquet(str(base / "orders.parquet"))

    def run(base):
        got = QUERIES["win_ulcer_index"](spark, str(base)).collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM read_parquet("
            f"'{base}/orders.parquet/*.parquet')"
        )
        want = con.execute(ORACLES["win_ulcer_index"]).fetchall()
        assert sorted(tuple(r) for r in got) == sorted(
            tuple(w) for w in want
        )
        return {r["day"]: r for r in got}

    build(tmp_path / "flat", [200.0] * 30)
    got = run(tmp_path / "flat")
    assert len(got) == 4  # days 27..30 have both frames full
    assert all(r["ulcer_index"] == 0.0 and r["dd_pct"] == 0.0
               for r in got.values())

    # dip on day 20 of 40 flat-200 days
    prices = [200.0] * 40
    prices[19] = 150.0
    build(tmp_path / "dip", prices)
    got = run(tmp_path / "dip")
    dipped = math.sqrt(625.0 / 14.0)
    d0 = datetime.date(2024, 1, 1)
    for day, r in got.items():
        d = (datetime.date.fromisoformat(day) - d0).days + 1
        if d == 20:
            assert r["dd_pct"] == -25.0
        else:
            assert r["dd_pct"] == 0.0
        # RMS frame [d-13, d] contains day 20's dd iff 20 <= d <= 33
        if 27 <= d <= 33:  # emitting days start at 27
            assert abs(r["ulcer_index"] - dipped) < 1e-12
        else:
            assert r["ulcer_index"] == 0.0


def test_graph_hits_integer_replica_and_star(spark, sf_dir, tmp_path):
    """(1) Third implementation on the fixture graph: the pure-Python
    INTEGER recurrence (scaled 10^6, floor-division renormalization)
    must reproduce every hub/authority score exactly — the key's
    integer contract makes this an equality test, no tolerance.
    (2) Planted star A→{B,C,D}: A is the unit hub with hub 1.0 and
    authority 0; the leaves tie at authority 1.0 with hub 0."""
    import datetime

    from osm_airflow_spark.operators.graph import trade_edges_directed
    from osm_airflow_spark.registry import all_queries

    SCALE = 10**6

    def replica(edges, iters=16):
        nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
        out = {v: [b for a, b in edges if a == v] for v in nodes}
        inn = {v: [a for a, b in edges if b == v] for v in nodes}
        a = {v: SCALE for v in nodes}
        h = {}
        for _ in range(iters):
            hraw = {v: sum(a[u] for u in out[v]) for v in nodes}
            mx = max(r for r in hraw.values() if r > 0)
            h = {v: hraw[v] * SCALE // mx for v in nodes}
            araw = {v: sum(h[u] for u in inn[v]) for v in nodes}
            mx = max(r for r in araw.values() if r > 0)
            a = {v: araw[v] * SCALE // mx for v in nodes}
        return {v: (h[v] / SCALE, a[v] / SCALE) for v in nodes}

    edges = {(r["a"], r["b"])
             for r in trade_edges_directed(spark, sf_dir).collect()}
    want = replica(edges)
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in all_queries()["graph_hits"](spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0

    # planted star: supplier nation A ships to customer nations B,C,D
    nations = [(0, "A"), (1, "B"), (2, "C"), (3, "D")]
    spark.createDataFrame(
        nations, "n_nationkey long, n_name string"
    ).coalesce(1).write.parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(
        [(1, 0)], "s_suppkey long, s_nationkey long"
    ).coalesce(1).write.parquet(str(tmp_path / "supplier.parquet"))
    spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "c_custkey long, c_nationkey long"
    ).coalesce(1).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(100, 10), (200, 20), (300, 30)],
        "o_orderkey long, o_custkey long",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    d = datetime.date(1997, 1, 1)
    spark.createDataFrame(
        [(100, 1, d), (200, 1, d), (300, 1, d)],
        "l_orderkey long, l_suppkey long, l_shipdate date",
    ).coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
    star = {
        r["node"]: (r["hub"], r["authority"])
        for r in all_queries()["graph_hits"](spark, str(tmp_path)).collect()
    }
    assert star["A"] == (1.0, 0.0)
    for leaf in ("B", "C", "D"):
        assert star[leaf] == (0.0, 1.0)


def test_win_parkinson_flat_and_constant_range(spark, tmp_path):
    """Closed forms: days where hi = lo (one order/day) have
    log_range 0 and sigma 0; a series with every day spanning
    exactly 100→200 (two orders) reads log_range = ln 2 and
    sigma = sqrt(round(ln2², 6)·/(4 ln 2)) on every full frame.
    Oracle replayed on both fixtures."""
    import datetime
    import math

    import duckdb

    def build(base, two_level):
        base.mkdir()
        d0 = datetime.date(2024, 1, 1)
        rows, ok = [], 1
        for i in range(20):
            d = d0 + datetime.timedelta(days=i)
            rows.append((ok, d, 100.0)); ok += 1
            if two_level:
                rows.append((ok, d, 200.0)); ok += 1
        spark.createDataFrame(
            rows, "o_orderkey long, o_orderdate date, o_totalprice double"
        ).coalesce(1).write.parquet(str(base / "orders.parquet"))

    def run(base):
        got = QUERIES["win_parkinson"](spark, str(base)).collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM read_parquet("
            f"'{base}/orders.parquet/*.parquet')"
        )
        want = con.execute(ORACLES["win_parkinson"]).fetchall()
        assert sorted(tuple(r) for r in got) == sorted(
            tuple(w) for w in want
        )
        return got

    build(tmp_path / "flat", two_level=False)
    flat = run(tmp_path / "flat")
    assert len(flat) == 7  # days 14..20
    assert all(r["log_range"] == 0.0 and r["parkinson_sigma"] == 0.0
               for r in flat)

    build(tmp_path / "span", two_level=True)
    span = run(tmp_path / "span")
    assert len(span) == 7
    sq6 = round(math.log(2.0) ** 2, 6)  # ln2² is far from a midpoint
    want_sigma = math.sqrt(sq6 * 0.360673760222241)
    for r in span:
        assert abs(r["log_range"] - math.log(2.0)) < 1e-6
        assert abs(r["parkinson_sigma"] - want_sigma) < 1e-12
