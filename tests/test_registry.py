"""Driver-contract invariants: every declared key runs on the smoke
fixture with a stable schema; oracle keys are a subset of query keys;
column names stay canonical (no auto-generated aggregate names that
would break the driver's sorted-by-name hash compare)."""

import re

import pytest

import __spark_entry__ as entry_mod
from osm_airflow_spark.registry import DRIVER_WINDOW, all_oracles, all_queries

QUERIES = all_queries()
ORACLES = all_oracles()


def test_driver_window_is_pinned():
    """The external driver checks exactly the first 50 keys of
    all_queries(). Round 2 proved that letting import order decide
    those 50 silently evicts keys (fn_string's fixed FAIL never got
    re-checked). The window must be the explicit manifest — if this
    fails, a registration change reshuffled driver visibility without
    review. Update DRIVER_WINDOW deliberately, never incidentally."""
    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == 50
    assert list(QUERIES)[:50] == DRIVER_WINDOW

AUTO_NAME = re.compile(r"[()]")  # sum(x), count(1) … = unaliased


def test_oracles_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_rows_only_keys_are_the_documented_ones():
    rows_only = set(QUERIES) - set(ORACLES)
    assert rows_only == {
        "agg_approx_distinct",
        "agg_approx_percentile",
        "agg_hll_partial_merge",
        "udf_grouped_map",
        "llm_dedup_near",
        "llm_dedup_embed_lsh",
        "llm_dedup_simhash",
        "llm_dedup_cluster_best",
        "llm_sim_ann_lsh",
        "llm_sim_ann_ivf",
        "llm_sim_ann_multiprobe",
        "llm_sim_ann_ivf_kmeans",
        "llm_sim_ann_pq",
        "llm_sim_ann_ivf_rq",
        "llm_sim_ann_graph",
        "llm_sim_topk_batch",
        "llm_embed_pca",
        "llm_semdedup",
        "graph_pagerank",
        "graph_hits",
        "llm_bpe_train",
        "llm_bpe_encode",
        "osm_ring_repair",
        "graph_kcore",
        "osm_convex_hull",
        "osm_polygon_clip",
    }


@pytest.mark.parametrize("key", sorted(QUERIES))
def test_query_runs_and_has_clean_schema(spark, sf_dir, key):
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    df = QUERIES[key](spark, sf_dir)
    assert df.columns, key
    for c in df.columns:
        assert not AUTO_NAME.search(c), f"{key}: unaliased column {c!r}"
    if key in ORACLES:
        # The external driver canonicalizer crashes on collection cells
        # (round-1 sweep abort) — oracled outputs must be scalar-only.
        hazards = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType, BinaryType))
        ]
        assert not hazards, f"{key}: complex top-level columns {hazards}"
    # plan-lint hard rules, enforced per key (tools/plan_lint.py is
    # the reportable sweep; this keeps regressions from landing
    # between lint runs). BroadcastNestedLoopJoin is fine — one side
    # is broadcast by definition (the 1-row-scalar pattern).
    physical = df._jdf.queryExecution().executedPlan().toString()
    if key != "join_cross":
        assert "CartesianProduct" not in physical, f"{key}: unbounded cartesian"
    # udf_scalar is the deliberate J1 row-UDF surface; udf_table's
    # BatchEvalPythonUDTF node matches the same substring (the
    # deliberate UDTF surface) — same whitelist as plan_lint.PYUDF_OK.
    if key not in ("udf_scalar", "udf_table"):
        assert "BatchEvalPython" not in physical, f"{key}: row-at-a-time Python UDF"
    assert df.count() >= 0


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_registry_import_idempotent():
    a = all_queries()
    b = all_queries()
    assert a.keys() == b.keys()
    assert len(a) >= 99


def test_no_precision_losing_float_literals_in_oracles():
    """DuckDB parses float literals as DECIMAL first; at >= 16
    significant digits the decimal->double conversion routes through
    an integer mantissa beyond 2^53 and silently loses ulps (even an
    explicit ::DOUBLE cast cannot repair the parse). A repr(float)
    interpolated into oracle SQL is exactly that shape — it broke
    win_ewma v1 by 1e-6 at a rounding boundary (SCALE.md round-6
    addendum). Short literals (0.3, 6371.0, 1.96) are exact.

    Significance = mantissa digits stripped of leading AND trailing
    zeros (0.1000000000000000 is exactly 0.1 — fine), and exponent
    notation counts too (1.1360000000000001e0 is the same defect as
    its plain spelling; repr(float) emits e-notation for small
    magnitudes)."""
    import re

    offenders = []
    for key, sql in ORACLES.items():
        for m in re.finditer(r"\d+\.\d+(?:[eE][+-]?\d+)?", sql):
            mantissa = m.group(0).split("e")[0].split("E")[0]
            digits = mantissa.replace(".", "").lstrip("0").rstrip("0")
            if len(digits) >= 16:
                offenders.append((key, m.group(0)))
    assert not offenders, offenders


def test_no_interval_division_in_oracles():
    """DuckDB divides INTERVALs FIELD-WISE — (t1 - t0) / 2 on a
    29-day-23h span truncates the day component to 14 days and
    silently drops twelve hours, while Spark divides the interval's
    total microseconds exactly (SCALE.md r9 ledger; it moved the
    pipeline_did split by ~30 rows). Timestamp midpoints and interval
    fractions must be computed in integer epoch micros
    (epoch_us(a) + epoch_us(b) style) on both sides. This lint
    rejects arithmetic on a timestamp difference: a subtraction of
    two timestamp-typed columns followed by * or /.

    No exemptions: psi_drift's day-aligned split only escaped the
    truncation because the fixture span happens to be an EVEN number
    of days — it was migrated to epoch micros with everything else.

    The check is NAME-CONVENTION based (regex over SQL text, not a
    type checker): it rejects `(x - y)` followed by * or / whenever
    either operand is a timestamp-looking identifier — t0/t1/d0/d1
    (the house span-aggregate aliases), ts, or *_ts/ts_* names —
    with word boundaries so integer deltas like (cnt1 - cnt0) pass.
    Keep span aggregates on those names; a renamed span column is
    the reviewer's job, not this lint's."""
    import re

    ts_ident = r"(?:t0|t1|d0|d1|ts|\w+_ts|ts_\w+)"
    pat = re.compile(
        rf"\(\s*{ts_ident}\b\s*-\s*\b{ts_ident}\s*\)\s*[*/]",
        re.IGNORECASE,
    )
    offenders = [
        key for key, sql in ORACLES.items() if pat.search(sql)
    ]
    assert not offenders, f"interval arithmetic in oracles: {offenders}"


# Keys whose oracle legitimately round()s a derived double, each with
# the audited reason (r7 round()-of-derived-double audit). round() is
# the ONE place the engines' semantics can diverge: Spark rounds the
# SHORTEST DECIMAL REPR of the double (BigDecimal.valueOf + HALF_UP)
# while DuckDB rounds x·10^s computed in double arithmetic — within an
# ulp of a .5 midpoint they can disagree. Rounding is therefore only
# allowed where it is load-bearing:
#   libm   — absorbs last-ulp differences of non-correctly-rounded
#            transcendentals (exp/ln/pow/trig); unrounded would
#            hash-mismatch outright, so the midpoint risk is the
#            price of comparability (matrix-proven on the fixtures).
#   term   — the "round each term to 6 dp, then decimal-sum" rule:
#            the pre-round makes the double→decimal cast exact and
#            the sum order-independent (CLAUDE.md).
#   fma    — DuckDB may contract a·b−c into a fused multiply-add;
#            rounding hides the 1-ulp contraction difference.
#   op     — round() IS the demonstrated operator surface.
# Derived-double rounds with NONE of these purposes were migrated to
# unrounded emission (bit-identical shared IEEE trees) or exact
# integer HALF_UP (llm_vocab_coverage) in round 7.
ROUND_AUDITED = {
    "pipeline_pettitt": "libm (exp of an exact-int-derived double ratio, "
    "rounded at the transcendental to 6 dp — the benford/bh_fdr rule; the "
    "significance decision reads the ROUNDED p; K and the change day are "
    "pure integers, no float content)",
    "pipeline_cuped": "fma (theta and both contrasts are single double "
    "expressions over exact-cast sufficient statistics; DuckDB may "
    "contract a*b-c — the corr_exact 9 dp guard; delta_cuped reads the "
    "ROUNDED theta so the adjustment itself cannot diverge)",
    "pipeline_power_analysis": "fma (same corr_exact guard on the "
    "mean/var/MDE doubles) + decision (n_req's ceil reads a 6-dp-rounded "
    "quotient — the bh_fdr rounded-decision rule, so the integer emission "
    "can't sit on a contraction ulp)",
    "pipeline_grouped_ols": "ulp (slope is a ratio of exact decimals "
    "whose unscaled magnitudes pass 2^53 at sf>=~0.5 — the acf 9 dp "
    "decimal-ratio emission; intercept derives from the rounded slope)",
    "llm_eval_perplexity": "libm (per-instance -ln of an agreed exact "
    "rational rounds at 6 dp — the term rule; exp(avg_nll) re-rounds at "
    "emission, the ks_test precedent)",
    "pipeline_acf": "ulp (>2^53-unscaled decimal ratio emitted at 9 dp — "
    "SCALE r9: DuckDB's two-rounding decimal->double cast)",
    "pipeline_xcorr": "ulp (same >2^53 decimal-ratio emission as ACF)",
    "pipeline_anova": "term (value^2 pre-rounded to 6 dp, the ab_test recipe)",
    "pipeline_did": "term (value^2 pre-rounded to 6 dp, the ab_test recipe)",
    "pipeline_benford": "libm (log10 of exact-int rationals, rounded at the "
    "transcendental)",
    "pipeline_mutual_info": "libm (ln of agreed rational doubles) + term "
    "(9-dp products decimal-summed)",
    "graph_adamic_adar": "libm (1/ln(basket size), rounded at the "
    "transcendental, decimal-summed)",
    "win_bollinger": "term (daily-total^2 pre-rounded to 6 dp inside the "
    "decimal window sum)",
    "llm_mixture_plan": "term (sqrt(toks) rounded at the irrational to 6 dp, "
    "decimal-summed share denominator)",
    "fn_math": "op",
    "fn_geo_distance": "libm (asin/sin/cos)",
    "fn_geo_bearing": "libm (atan2)",
    "agg_corr_exact": "fma",
    "llm_embed_quantize": "op (round IS the quantizer) + term",
    "mm_audio_rms": "libm-analogue (kernel parity rounds both sides)",
    "llm_quality_logit": "libm (exp)",
    "pipeline_bh_fdr": "libm (exp via the quality_logit sigmoid recipe; "
    "z itself is exact-IEEE on integer counts, and ranking/threshold/"
    "rejection all read the 6-dp-rounded p)",
    "pipeline_hhi": "term (squared share pre-rounded to 6 dp, "
    "decimal-summed; share itself is an agreed exact-decimal ratio)",
    "pipeline_forecast_backtest": "term (per-month sMAPE ratio "
    "pre-rounded to 6 dp, decimal-summed; MAE/MASE stay exact-decimal "
    "until one final cast)",
    "win_ulcer_index": "term (squared trailing-drawdown pct — the square "
    "of an agreed shared-IEEE-tree double; a quotient's square cannot sit "
    "on an exact 7-dp midpoint, so the 6-dp pre-round is engine-agreed — "
    "decimal-summed; sqrt is IEEE-correctly-rounded)",
    "win_parkinson": "libm (ln of the agreed cent-ratio double — JVM vs "
    "C libm differ by 1 ulp on real inputs, measured on this key's draft — "
    "emitted rounded at the transcendental) + term (its square pre-rounded "
    "to 6 dp, decimal-summed; the 1/(4 ln 2) constant is a 15-digit "
    "literal, no second libm site)",
    "llm_rake_keywords": "term (deg/freq word scores — single agreed IEEE "
    "quotients of exact BIGINTs — pre-rounded to 6 dp and decimal-summed "
    "per phrase, so the unordered word-instance sum is order-free; the "
    "top-50 reads the exact decimal image)",
    "llm_pmi_collocations": "libm (ln of an agreed exact-int-ratio double, "
    "rounded at the transcendental to 6 dp — the benford/mutual_info rule; "
    "the top-100 ordering reads the ROUNDED pmi with a lexicographic "
    "tie-break)",
    "win_macd": "exact-decimal (round(x, 6) is applied to EXACT decimals "
    "— the fast-slow EMA difference and the signal dot product never "
    "leave decimal, so both engines round the same exact value HALF_UP; "
    "never a round-of-double; see the key's SCALE.md r14 ledger on the "
    "shortest-repr draft this replaced)",
    "llm_eval_agreement": "ulp (kappa/mcnemar are ratios of exact "
    "DECIMAL(19,0)² products whose magnitudes pass 2^53 at ~1e8 docs — "
    "the 9 dp decimal-ratio emission; significance reads the rounded "
    "statistic)",
    "llm_tfidf_topk": "libm (ln)",
    "llm_bm25_topk": "libm (ln — idf rounded at the transcendental)",
    "llm_eval_brier": "libm (p is the quality_logit 6-dp sigmoid — exp "
    "rounds at the transcendental) + ulp (Brier is a >2^53-unscaled "
    "DECIMAL(38,12) ratio — the acf 9 dp emission; rel/res/unc fold "
    "exact-int per-bin ingredients unrounded)",
    "llm_eval_ece": "libm (the same 6-dp sigmoid p; ECE/MCE themselves "
    "are exact-integer arithmetic with no further rounding)",
    "llm_cluster_silhouette": "term (float32 components pre-rounded to "
    "6 dp into the decimal centroid mean — float32 granularity keeps "
    "6 dp far from midpoints, the agg_vector_centroid recipe; per-"
    "vector s rounds sqrt-quotient digits at 6 dp, decimal-meaned)",
    "pipeline_seasonality_strength": "ulp (F_s/F_t are ratios of "
    ">2^53-unscaled exact-decimal-derived doubles — the acf 9 dp "
    "ratio emission; Σresid ≡ 0 exactly so only square folds round)",
    "win_donchian": "op (channel_position is the 9-dp emission of an "
    "agreed double — one IEEE division of exact-decimal cents both "
    "engines compute identically, so the round is a shared no-risk "
    "canonicalization; hi/lo/close themselves are exact selection)",
    "pipeline_levene": "op (round(value, 2) IS the cent quantizer — "
    "the statistic is DEFINED on cent-quantized values, and a 2-dp "
    "double casts exactly to DECIMAL(18,2); every downstream column "
    "is exact integer until the final fixed-order F tree)",
    "pipeline_tukey_hsd": "term (value^2 pre-rounded to 6 dp, the "
    "ab_test/anova recipe — identical sufficient statistics to "
    "pipeline_anova)",
    "osm_tile_pyramid": "term (the polygon_areas shoelace rule: each "
    "wrapped dlon*(lat+lat) term rounds 6 dp into the decimal fold, "
    "ring_area re-rounds at 6 dp — bit-identical to osm_polygon_areas "
    "whose terms these are; tile assignment is FLOOR, no boundary)",
    "pipeline_hurst": "term (each block R/S — a shared sqrt-division "
    "tree over exact longs via the m-cancellation — rounds 6 dp "
    "before the order-free cross-block decimal mean) + libm (log2 of "
    "the agreed mean rounds at the transcendental; H is exact decimal "
    "arithmetic on the rounded y's)",
    "llm_heaps_law": "libm (the four endpoint ln's round at the "
    "transcendental — beta is one ratio of 6-dp decimal differences; "
    "every count/position/running sum is exact integer)",
    "pipeline_abc_migration": "term (per-row revenue rounds 4 dp into "
    "the exact decimal sum — the sql_dsum recipe verbatim; classes "
    "read exact-long share ratios against short literals)",
    "agg_moments": "ulp (central moments derive from >2^53-unscaled "
    "exact decimal power sums — 9 dp ratio emission for skew/kurt, "
    "6 dp for the mean; zero-variance groups NULL before any round)",
    "llm_hybrid_rrf": "libm (ln via the shared BM25 CTE)",
    "llm_sample_weighted": "libm (ln of exact-int uniform, pre-rank)",
    "llm_char_entropy": "libm (ln of exact ints) + term (decimal-summed)",
    "llm_zipf_fit": "libm (ln of exact ints, rounded at the transcendental) + term",
    "llm_embed_covariance": "term (raw values and raw products pre-rounded to 6 dp)",
    "llm_corpus_divergence": "libm (ln of agreed rational doubles) + term",
    "llm_embed_outliers": "term (squared deviations pre-rounded to 6 dp)",
    "llm_eval_calibration": "libm (exp via the quality_logit sigmoid recipe)",
    "llm_eval_auc": "libm (exp via the quality_logit sigmoid recipe; "
    "the AUC statistic itself is exact-integer)",
    "llm_eval_rank_metrics": "libm (ln via the shared BM25 CTE; log2 rounded "
    "at the transcendental) + term (DCG position terms decimal-summed)",
    "llm_eval_bleu": "libm (ln of exact-int ratios at the transcendental; "
    "final exp rounded at emission) + term",
    "agg_vector_centroid": "term (float->decimal diverges both raw AND via double; measured)",
    "llm_perplexity_filter": "libm (ln) + term",
    "llm_domain_mix": "libm (pow) + term",
    "pipeline_value_anomalies": "term (x² pre-round) + libm (sqrt-adjacent rounded cut)",
    "pipeline_ab_test": "term (x² pre-round)",
    "pipeline_ks_test": "libm (exp — the asymptotic Kolmogorov tail, "
    "rounded at emission; D itself is exact-integer)",
    "pipeline_chi_square": "term ((o-e)²/e pre-round, decimal-summed)",
    "llm_source_profile": "term (quality score pre-round feeds the decimal mean)",
    "pipeline_position_attribution": "term (credit and value*credit pre-round, decimal-summed)",
    "pipeline_psi_drift": "libm (ln of agreed smoothed ratios) + term",
    "pipeline_cusum_changepoint": "term (x² pre-round for the sigma stats)",
    "pipeline_survival_km": "libm (ln per KM factor, scaled to exact integer "
    "micros; final exp rounded at emission)",
    "pipeline_seasonal_index": "term (ratio pre-round feeds decimal mean)",
    "osm_way_lengths": "libm (haversine) + term",
    "osm_polygon_areas": "term (shoelace cross-products)",
    "osm_polygon_geodesic_areas": "libm (trig) + term",
    "osm_multipolygon_net_area": "libm (trig) + term",
    "osm_polygon_tile_rollup": "term (shoelace cross-products)",
    "osm_nearest_node": "libm (haversine)",
    "osm_polygon_centroid": "term (cross-product pre-round)",
    "osm_nearest_way_segment": "libm-analogue (sqrt distance, 6-dp contract)",
    "pipeline_kruskal_wallis": "libm (chi2_6 even-dof survival exp, rounded "
    "at the transcendental; H/tie exact ints, decision reads the rounded p)",
    "pipeline_two_proportion_z": "libm (logistic-Phi exp via the bh_fdr "
    "recipe; z exact-IEEE on integer counts, decision reads the rounded p)",
    "pipeline_price_elasticity": "term (both logs at the transcendental AND "
    "both 12-dp-scale products pre-rounded to 6 dp before decimal sums; "
    "slope a shared IEEE tree emitted unrounded)",
    "pipeline_ljung_box": "libm (chi2_8 even-dof survival exp; Q consumes "
    "the ACF 9-dp r_k in a fixed-order pivot, unrounded)",
    "win_rolling_slope": "ulp (slope is a >2^53-unscaled exact-decimal "
    "ratio at corpus scale — the acf 9 dp decimal-ratio emission)",
    "pipeline_nelson_aalen": "term (d/n at 6 dp and d/n^2 at 9 dp, scaled "
    "to exact integer micros/nanos — the survival_km recipe) + libm (final "
    "exp rounded at emission)",
    "pipeline_logrank": "term (hypergeometric E/V rational terms, one "
    "fixed-shape IEEE tree rounded 6 dp then decimal-summed) + libm "
    "(logistic-Phi p via the bh_fdr recipe, decision reads the rounded p)",
    "pipeline_wilcoxon_signed_rank": "libm (logistic-Phi p only; 2W+/tie/n "
    "all exact ints, z a shared IEEE tree emitted unrounded)",
    "pipeline_friedman": "libm (chi2_6 even-dof survival exp; chi2 itself "
    "is a ratio of exact longs — zero IEEE content upstream)",
    "pipeline_page_trend": "libm (logistic-Phi one-sided p; 2L exact long, "
    "z a shared IEEE tree over exact longs after the x12 scaling)",
    "pipeline_holm": "libm (logistic-Phi p via the bh_fdr recipe; every "
    "decision — rank, step-down stop, Bonferroni — reads the rounded p)",
    "pipeline_rdd": "ulp (each intercept/slope is an exact-decimal/exact-"
    "long ratio passing 2^53 unscaled past sf ~3 — the grouped_ols 9 dp "
    "emission; tau subtracts the two ROUNDED intercepts)",
    "graph_assortativity": "ulp (r is a ratio of exact DECIMAL(38,0) "
    "centered products passing 2^53 unscaled — the acf 9 dp emission)",
    "pipeline_page_hinkley": "op (round(s/t) IS the estimator's integer-"
    "micro running mean — half-away on the shared double quotient, the "
    "reachable .5 midpoint is dyadic and both engines round away; "
    "everything else is exact long arithmetic)",
    "pipeline_weibull_fit": "libm (both logs rounded 6 dp at the "
    "transcendental; eta re-rounds at its exp) + term (x², xy pre-rounded "
    "6 dp before decimal sums — the price_elasticity discipline)",
    "pipeline_srm": "libm (logistic-Phi p via the bh_fdr recipe; z/chi2 "
    "exact-IEEE on integer counts, decision reads the rounded p)",
    "osm_bearing_rose": "libm (bearing atan2 rounded 6 dp BEFORE the "
    "sector floor — the fn_geo_bearing boundary rule; haversine 6 dp "
    "terms into decimal sums — the way_lengths recipe)",
    "pipeline_jarque_bera": "term (centered powers d²/d³/d⁴ rounded 6 dp "
    "into decimal sums — the chi_square rule) + ulp (the two moment "
    "ratios pass 2^53 unscaled — 9 dp emission, JB computed FROM the "
    "rounded values) + libm (exp(−JB/2), the exact chi²(2) survival)",
    "pipeline_cointegration": "op (round(u*1000) IS the residual "
    "quantizer — one half-away round to integer millis on the shared "
    "double tree; step-2 statistics are exact longs from there)",
}


def test_round_of_derived_double_sites_are_audited():
    """Every oracle that round()s must be on the audited allowlist
    with a load-bearing reason; a NEW round( site fails here until it
    is audited against the win_ewma midpoint rule (SCALE.md r6/r7).
    Prefer unrounded emission for shared-IEEE-tree doubles and exact
    integer HALF_UP for integer ratios."""
    rounding = {
        key
        for key, sql in ORACLES.items()
        if re.search(r"\bround\s*\(", sql, re.IGNORECASE)
    }
    unaudited = rounding - set(ROUND_AUDITED)
    stale = set(ROUND_AUDITED) - rounding
    assert not unaudited, f"unaudited round() oracle sites: {sorted(unaudited)}"
    assert not stale, f"ROUND_AUDITED entries with no round(): {sorted(stale)}"


def test_repeat_call_rebuilds_the_plan(spark, tmp_path, monkeypatch):
    """A registry call always builds a fresh plan: a second call with
    the same (session, key, sf_dir) sees a patched ``load_table``
    instead of re-serving the first call's DataFrame."""
    from osm_airflow_spark.operators import aggregates

    spark.createDataFrame(
        [("A", "F", 1.0, 10.0, 0.1), ("A", "F", 2.0, 20.0, 0.0),
         ("N", "O", 3.0, 30.0, 0.05)],
        "l_returnflag string, l_linestatus string, l_quantity double,"
        " l_extendedprice double, l_discount double",
    ).coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
    fn = QUERIES["agg_groupby"]
    first = fn(spark, str(tmp_path)).collect()
    assert sorted(r["l_returnflag"] for r in first) == ["A", "N"]

    orig = aggregates.load_table
    monkeypatch.setattr(
        aggregates,
        "load_table",
        lambda sp, sd, t: orig(sp, sd, t).where("l_returnflag = 'N'"),
    )
    second = fn(spark, str(tmp_path)).collect()
    assert [(r["l_returnflag"], r["count_order"]) for r in second] == [("N", 1)]


def test_no_plan_cache_switch_in_program_files():
    """The registry builds every plan on demand; neither the removed
    plan-cache bypass switch nor its clear hook may come back."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    files = [root / "bench.py"]
    for d in ("osm_airflow_spark", "tools"):
        files += sorted((root / d).rglob("*.py"))
    # [e] keeps this pattern itself out of a repo-wide grep for the names
    banned = re.compile(r"SPARK_GRAFT_NO_PLAN_CACH[E]|clear_plan_cach[e]")
    hits = [
        f"{f.relative_to(root)}:{i}"
        for f in files
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, f"plan-cache switch referenced at {hits}"


def test_bucket_offsets_only_in_bucketing():
    """Every global rank, prefix and NTILE goes through bucketing.py:
    no other engine file places approx-percentile cuts of its own."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "osm_airflow_spark"
    hits = [
        f"{f.relative_to(pkg)}:{i}"
        for f in sorted(pkg.rglob("*.py"))
        if f.name != "bucketing.py"
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if "percentile_approx" in line
    ]
    assert not hits, f"hand-rolled bucket cuts at {hits}"
