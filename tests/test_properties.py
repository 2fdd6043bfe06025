"""Property-based tests (SURVEY.md §5.4): algebraic invariants on
hypothesis-generated inputs — the operator-interaction bugs example
tables can't catch."""

from decimal import ROUND_HALF_UP, Decimal

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

amounts = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=50,
)


@settings(max_examples=15, deadline=None)
@given(vals=amounts, parts=st.integers(min_value=1, max_value=8))
def test_dsum_partition_independent(spark, vals, parts):
    """The decimal-sum pattern returns the identical double for any
    partition count — the core determinism claim."""
    from osm_airflow_spark.registry import dsum

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    a = df.repartition(1).agg(dsum("v").alias("s")).collect()[0]["s"]
    b = df.repartition(parts).agg(dsum("v").alias("s")).collect()[0]["s"]
    assert a == b  # bit equality, not approx


@settings(max_examples=10, deadline=None)
@given(
    keys=st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=30),
)
def test_semi_plus_anti_is_identity(spark, keys):
    left = spark.range(10).withColumnRenamed("id", "k")
    right = spark.createDataFrame([(k,) for k in keys], "k long") if keys else (
        spark.createDataFrame([], "k long")
    )
    semi = left.join(right, "k", "left_semi").count()
    anti = left.join(right, "k", "left_anti").count()
    assert semi + anti == 10


@settings(max_examples=10, deadline=None)
@given(
    a=st.lists(st.integers(0, 20), min_size=0, max_size=25),
    b=st.lists(st.integers(0, 20), min_size=0, max_size=25),
)
def test_union_all_count_additive_and_intersect_bounded(spark, a, b):
    da = spark.createDataFrame([(x,) for x in a], "v int") if a else spark.createDataFrame([], "v int")
    db = spark.createDataFrame([(x,) for x in b], "v int") if b else spark.createDataFrame([], "v int")
    assert da.union(db).count() == len(a) + len(b)
    inter = da.intersect(db).count()
    assert inter <= min(da.distinct().count(), db.distinct().count())


@settings(max_examples=10, deadline=None)
@given(vals=st.lists(st.integers(-100, 100), min_size=1, max_size=40))
def test_window_dedup_returns_one_row_per_key(spark, vals):
    rows = [(i % 5, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k int, v int")
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(F.col("v").desc(), F.col("k"))
    dedup = df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    assert dedup.count() == df.select("k").distinct().count()


@settings(max_examples=10, deadline=None)
@given(texts=st.lists(st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=10))
def test_exact_dedup_idempotent_on_random_text(spark, texts):
    from pyspark.sql import Window

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    once = df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    twice = once.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    assert sorted(once.collect()) == sorted(twice.collect())
    assert once.count() == df.select(F.md5("text")).distinct().count()


@settings(max_examples=8, deadline=None)
@given(
    lines=st.lists(
        st.lists(
            st.tuples(
                st.floats(-180, 180, allow_nan=False, width=32),
                st.floats(-90, 90, allow_nan=False, width=32),
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_wkb_roundtrip_property(spark, lines):
    """Encode→decode over arbitrary coordinate lists is the identity."""
    from osm_airflow_spark.plans.osm import lines_to_wkb, wkb_to_lines

    rows = [
        (i, [{"lon": float(x), "lat": float(y)} for x, y in pts])
        for i, pts in enumerate(lines)
    ]
    df = spark.createDataFrame(rows, "way_id long, line array<struct<lon:double,lat:double>>")
    decoded = {r["way_id"]: r["line"] for r in wkb_to_lines(lines_to_wkb(df)).collect()}
    for i, pts in enumerate(lines):
        assert [(p["lon"], p["lat"]) for p in decoded[i]] == [
            (float(x), float(y)) for x, y in pts
        ]


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),          # key
            st.sampled_from(["create", "modify", "delete"]),
            st.integers(min_value=0, max_value=400),        # day offset
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=12, deadline=None)
def test_scd2_intervals_never_invert_property(spark, changes):
    """SCD2 invariants under arbitrary (multi-change-per-key,
    out-of-order) batches: no closed version has valid_to <
    valid_from, and each key has at most one open version."""
    from osm_airflow_spark.plans.merge import scd2_merge

    history = spark.createDataFrame(
        [(k, f"v{k}", "2024-06-01", None) for k in {c[0] for c in changes}],
        "node_id long, amenity string, valid_from string, valid_to string",
    ).select(
        "node_id",
        "amenity",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    )
    batch = (
        spark.createDataFrame(
            [(k, f"n{k}-{d}", op, d) for (k, op, d) in changes],
            "node_id long, amenity string, change_op string, d int",
        )
        .withColumn(
            "change_ts",
            F.to_timestamp(F.lit("2024-01-01")) + F.make_interval(days=F.col("d")),
        )
        .drop("d")
        .dropDuplicates(["node_id", "amenity", "change_op"])
    )
    merged = scd2_merge(history, batch, "node_id")
    rows = merged.collect()
    for r in rows:
        if r["valid_to"] is not None:
            assert r["valid_to"] >= r["valid_from"], r
    open_per_key = {}
    for r in rows:
        if r["valid_to"] is None:
            open_per_key[r["node_id"]] = open_per_key.get(r["node_id"], 0) + 1
    assert all(v == 1 for v in open_per_key.values()), open_per_key


coords = st.floats(
    min_value=-50.0, max_value=50.0, allow_nan=False, allow_infinity=False
)


@settings(max_examples=200, deadline=None)
@given(pts=st.lists(st.tuples(coords, coords), min_size=3, max_size=8, unique=True))
def test_ring_split_parts_are_simple_and_conserve_area(pts):
    """Pure-kernel property (no Spark: 200 examples stay cheap): for
    ANY closed ring, split_ring_at_crossings returns parts that are
    (a) closed, (b) individually simple (re-splitting is identity),
    and (c) area-conserving-or-better: Σ|part| ≥ |signed total| (a
    figure-eight's lobes cancel in the signed shoelace but add in the
    decomposition). Degenerate inputs may drop to zero parts, never
    crash."""
    from osm_airflow_spark.plans.osm import _shoelace, split_ring_at_crossings

    ring = list(pts) + [pts[0]]
    parts = split_ring_at_crossings(ring)
    for p in parts:
        assert p[0] == p[-1]
        assert split_ring_at_crossings(p) == [p]  # simple: idempotent
        assert abs(_shoelace(p)) > 0
    if parts:
        total = sum(abs(_shoelace(p)) for p in parts)
        assert total >= abs(_shoelace(ring)) - 1e-9


GRID = st.integers(min_value=0, max_value=4)


@settings(max_examples=200, deadline=None)
@given(pts=st.lists(st.tuples(GRID, GRID), min_size=3, max_size=8))
def test_ring_split_handles_degenerate_grid_rings(pts):
    """Degenerate-ring property (VERDICT r4 #7): small-integer-grid
    rings WITH duplicate vertices allowed maximize collinear overlaps,
    whiskers, and repeated points. For any such ring the repair must
    terminate and every emitted part must be closed, simple
    (idempotent under re-split), positive-area, and spike-free —
    unless the incomplete flag says otherwise (never on ≤8-vertex
    input)."""
    from osm_airflow_spark.plans.osm import (
        _remove_spikes,
        _shoelace,
        split_ring_with_status,
    )

    ring = [(float(x), float(y)) for x, y in pts]
    ring = ring + [ring[0]]
    parts, incomplete = split_ring_with_status(ring)
    assert not incomplete  # tiny rings can't hit the depth cap
    for p in parts:
        assert p[0] == p[-1]
        assert abs(_shoelace(p)) > 0
        assert _remove_spikes(p[:-1]) == p[:-1]  # spike-free output
        re_parts, re_inc = split_ring_with_status(p)
        assert not re_inc and re_parts == [p]  # simple: idempotent


@given(
    st.lists(
        st.tuples(
            st.floats(-100, 100, allow_nan=False, width=32),
            st.floats(-100, 100, allow_nan=False, width=32),
        ),
        min_size=2,
        max_size=60,
    ),
    st.floats(0.01, 20.0, allow_nan=False),
)
@settings(max_examples=60, deadline=None)
def test_simplify_line_invariants_property(pts, eps):
    """DP invariants on arbitrary lines (pure kernel, no Spark):
    output is an in-order subsequence of the input keeping both
    endpoints; every dropped vertex lies within eps of the kept
    chord covering it; eps=0-like tiny tolerance keeps every
    non-collinear vertex (idempotence: simplifying the output again
    changes nothing)."""
    from osm_airflow_spark.plans.osm import _perp_dist, simplify_line

    pts = [tuple(map(float, p)) for p in pts]
    simp = simplify_line(pts, eps)
    assert simp[0] == pts[0] and simp[-1] == pts[-1]
    # in-order subsequence
    it = iter(pts)
    assert all(p in it for p in simp)  # consumes iterator: order-preserving
    # deviation bound segment by segment over the kept chain
    idx = []
    j = 0
    for p in simp:  # first occurrence indices, in order
        while pts[j] != p:
            j += 1
        idx.append(j)
        j += 1
    for a, b in zip(idx, idx[1:]):
        for k in range(a + 1, b):
            assert _perp_dist(pts[k], pts[a], pts[b]) <= eps + 1e-9
    # idempotence
    assert simplify_line(simp, eps) == simp


def test_string_length_semantics_match_duckdb_on_multibyte(spark, tmp_path):
    """Determinism-contract guard for future oracle authors: Spark
    ``length()`` and DuckDB ``length()`` both count CHARACTERS (not
    bytes) on multibyte text, and ``string_split``/``split`` agree on
    token counts — so the text-stats keys stay hash-safe the day the
    corpus stops being ASCII. DuckDB's byte count is ``strlen``,
    asserted different to document the trap."""
    import duckdb
    from pyspark.sql import functions as F

    rows = [
        (1, "héllo wörld"),
        (2, "日本語 テスト 文"),
        (3, "mixed ascii héré 漢字"),
        (4, "emoji 🙂 and 🚀 here"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    path = str(tmp_path / "uni.parquet")
    df.coalesce(1).write.parquet(path)

    got_spark = {
        r.id: (r.n_chars, r.n_tokens)
        for r in df.select(
            "id",
            F.length("text").alias("n_chars"),
            F.size(F.split("text", " ")).alias("n_tokens"),
        ).collect()
    }
    con = duckdb.connect()
    got_duck = {
        i: (n, t)
        for i, n, t in con.execute(
            f"""SELECT id, length(text), len(string_split(text, ' '))
                FROM read_parquet('{path}/*.parquet')"""
        ).fetchall()
    }
    assert got_spark == got_duck
    # and the documented trap: strlen is BYTES, not chars
    byte_len = dict(
        con.execute(
            f"SELECT id, strlen(text) FROM read_parquet('{path}/*.parquet')"
        ).fetchall()
    )
    assert byte_len[2] > got_duck[2][0]  # CJK: bytes > chars


@settings(max_examples=10, deadline=None)
@given(
    payload=st.binary(min_size=0, max_size=600),
    window=st.sampled_from([4, 16, 64]),
)
def test_audio_rms_matches_numpy_reference(spark, payload, window):
    """The PCM16 RMS kernel equals a direct numpy computation for
    arbitrary bytes — full int16 range, odd lengths, empty payloads,
    partial trailing windows."""
    import numpy as np

    from osm_airflow_spark.llm.multimodal import audio_rms

    media = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary"
    )
    got = {
        r["window_idx"]: r["rms"]
        for r in audio_rms(media, window=window).collect()
    }
    raw = payload[: len(payload) - (len(payload) % 2)]
    samples = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    n_windows = len(samples) // window
    assert set(got) == set(range(n_windows))
    for wi in range(n_windows):
        chunk = samples[wi * window : (wi + 1) * window]
        assert got[wi] == float(np.round(np.sqrt(np.mean(chunk * chunk)), 6))


@settings(max_examples=10, deadline=None)
@given(
    parents=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=30)
)
def test_chase_to_roots_matches_sequential_chase(spark, parents):
    """Pointer chasing converges to the same root labels a sequential
    walk computes, for arbitrary parent functions (parent < 1 = root,
    parent ≥ 1 follows the edge; self-loops collapse to roots because
    i//anything here is < i is NOT guaranteed — so clamp parent to
    < pid, mirroring the acyclicity contract the operator documents)."""
    from osm_airflow_spark.plans.analytics import chase_to_roots

    rows = [
        (i + 1, min(p, i))  # parent < pid: the documented acyclic contract
        for i, p in enumerate(parents)
    ]
    edge = spark.createDataFrame(rows, "pid long, parent long").localCheckpoint(
        eager=True
    )
    got = {
        r["id"]: r["cur"] for r in chase_to_roots(edge, max_rounds=40).collect()
    }
    parent_of = dict(rows)
    for pid, _ in rows:
        cur = pid
        while parent_of.get(cur, 0) >= 1:
            cur = parent_of[cur]
        assert got[pid] == cur


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_bfs_frontier_matches_sequential_bfs(spark, edges):
    """The SHARED frontier-expansion kernel (bfs_hops — the same
    function graph_shortest_path calls) assigns the same hop counts
    as a sequential BFS on arbitrary small graphs (seed = min
    labeled node)."""
    from collections import deque
    from unittest import mock

    from pyspark.sql import functions as F  # noqa: F811

    from osm_airflow_spark.operators import graph
    from osm_airflow_spark.operators.graph import bfs_hops

    named = [(f"n{a:02d}", f"n{b:02d}") for a, b in edges if a != b]
    if not named:
        return
    df = spark.createDataFrame(named, "a string, b string")
    und = (
        df.union(df.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seed = min(min(a, b) for a, b in named)
    seed_df = (
        und.agg(F.min("a").alias("node"))
        .select("node", F.lit(0).alias("hops"))
        .localCheckpoint(eager=True)
    )
    labels = bfs_hops(und, seed_df, max_rounds=14)
    got = {r["node"]: r["hops"] for r in labels.collect()}
    # a zero broadcast cap runs every round through the shuffle-join
    # fallback; it must label the same rows
    with mock.patch.object(graph, "BFS_BROADCAST_ROWS", 0):
        shuffled = bfs_hops(und, seed_df, max_rounds=14).collect()
    assert {r["node"]: r["hops"] for r in shuffled} == got

    adj: dict = {}
    for a, b in named:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {seed: 0}
    dq = deque([seed])
    while dq:
        v = dq.popleft()
        for u in sorted(adj.get(v, ())):
            if u not in dist:
                dist[u] = dist[v] + 1
                dq.append(u)
    assert got == dist


@given(
    st.lists(
        st.tuples(
            st.floats(-170, 170, allow_nan=False, width=32),
            st.floats(-85, 85, allow_nan=False, width=32),
        ),
        min_size=2,
        max_size=50,
    )
)
@settings(max_examples=60, deadline=None)
def test_simplify_line_q_invariants_property(pts):
    """Integer-DP invariants on arbitrary lines (the r8 oracle-backed
    kernel): quantized endpoints always survive; the output is an
    in-order subsequence of the quantized input; every dropped vertex
    sits within eps = 1 micro-degree of the kept chord covering it
    (checked in the same exact integer arithmetic the kernel uses:
    cross^2 <= |chord|^2, point-distance^2 <= 1 for degenerate
    chords); and the result is idempotent under re-simplification."""
    from osm_airflow_spark.plans.osm import quantize_microdeg, simplify_line_q

    pts = [tuple(map(float, p)) for p in pts]
    sx, sy = simplify_line_q(pts)
    qx = [quantize_microdeg(x) for x, _ in pts]
    qy = [quantize_microdeg(y) for _, y in pts]
    assert (sx[0], sy[0]) == (qx[0], qy[0])
    assert (sx[-1], sy[-1]) == (qx[-1], qy[-1])
    kept = list(zip(sx, sy))
    # in-order subsequence of the quantized input
    it = iter(zip(qx, qy))
    assert all(p in it for p in kept)
    # exact-integer deviation bound over the kept chain
    idx, j = [], 0
    for p in kept:
        while (qx[j], qy[j]) != p:
            j += 1
        idx.append(j)
        j += 1
    for a, b in zip(idx, idx[1:]):
        ax, ay, bx, by = qx[a], qy[a], qx[b], qy[b]
        dx, dy = bx - ax, by - ay
        l2 = dx * dx + dy * dy
        for k in range(a + 1, b):
            if l2 == 0:
                assert (qx[k] - ax) ** 2 + (qy[k] - ay) ** 2 <= 1
            else:
                cross = dy * qx[k] - dx * qy[k] + bx * ay - by * ax
                assert cross * cross <= l2
    # idempotence: re-simplifying the kept (micro-degree) points
    # changes nothing — quantizing an already-quantized value is a
    # no-op, so the decisions replay identically
    again = simplify_line_q([(x / 1e6, y / 1e6) for x, y in kept])
    assert list(zip(*again)) == kept if kept else True


@settings(max_examples=10, deadline=None)
@given(
    resids=st.lists(
        st.floats(min_value=0.0, max_value=1e6, allow_nan=False, width=32),
        min_size=20,
        max_size=120,
    ),
    width=st.sampled_from([10.0, 250.0, 1000.0, 37.5]),
)
def test_conformal_histogram_dominates_exact(spark, resids, width):
    """Property: for ANY calibration residual set and bin width, the
    histogram conformal quantile is >= the exact k-th order statistic
    (coverage-conservative) and exceeds it by at most one bin."""


    from osm_airflow_spark.plans.experiments import conformal_qhat_histogram

    df = spark.createDataFrame(
        [("g", float(r)) for r in resids], "prio string, resid double"
    )
    row = conformal_qhat_histogram(df, bin_width=width).collect()[0]
    n = len(resids)
    k = (9 * (n + 1) + 9) // 10  # same integer ceil as the engine
    if k > n:
        return  # exact form undefined (infinite interval)
    exact = sorted(resids)[k - 1]
    assert row["n_cal"] == n
    assert row["q_hist"] >= exact
    assert row["q_hist"] - exact <= width + 1e-9


def _micros_ref(x: float) -> int:
    """Spark's ``round(double, 6)`` in micro-units: HALF_UP on the
    shortest repr of the double (BigDecimal.valueOf semantics)."""
    q = Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP)
    return int(q.scaleb(6))


def _band_edge(k: int, sign: int, side: int, ulps: int) -> float:
    """A value whose ×1e6 scaling sits on (±``ulps``) the edge of the
    fast path's midpoint-fallback band, ``1e-6 + 8*spacing``."""
    import numpy as np

    half = k + 0.5
    x = np.float64((half + side * (1e-6 + 8.0 * np.spacing(half))) / 1e6)
    for _ in range(abs(ulps)):
        x = np.nextafter(x, np.copysign(np.inf, ulps))
    return sign * float(x)


_signs = st.sampled_from([1, -1])
_micro_values = st.one_of(
    # exact scale-6 midpoints (2k+1)·5e-7, nearest double
    st.builds(
        lambda k, s: s * float((2 * k + 1) * Decimal("5e-7")),
        st.integers(0, 2_000_000_000),
        _signs,
    ),
    st.builds(
        _band_edge,
        st.integers(0, 1_000_000_000),
        _signs,
        st.sampled_from([-1, 1]),
        st.integers(-1, 1),
    ),
    st.just(-0.0),
    st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False),
)


@settings(max_examples=300, deadline=None)
@given(batches=st.lists(st.lists(_micro_values, max_size=8), max_size=4))
def test_gram_micro_partials_match_decimal_half_up(batches):
    """The covariance kernel's vectorized micro rounding equals Java's
    shortest-repr HALF_UP for every one-dimensional input: exact
    scale-6 midpoints of either sign, values within an ulp of the
    fallback band's edge, -0.0, and empty batches or partitions."""
    import pandas as pd

    from osm_airflow_spark.llm.similarity import _gram_micro_partials

    frames = list(
        _gram_micro_partials(
            pd.DataFrame({"embedding": [[x] for x in b]}) for b in batches
        )
    )
    xs = [x for b in batches for x in b]
    if not xs:
        assert frames == []  # an empty partition yields no partial
        return
    (out,) = frames
    got = {(r.i, r.j): (r.s, r.n) for r in out.itertuples()}
    assert got == {
        (1, 0): (sum(_micros_ref(x) for x in xs), len(xs)),
        (1, 1): (sum(_micros_ref(x * x) for x in xs), len(xs)),
    }


# Raw (pre-zigzag) varint values for packed OSM PBF fields; each list
# shape aims at one side of decode_packed's numpy/scalar split.
_packed_raw = st.one_of(
    # short varints: long runs cross the 64-byte cut-over, numpy answers
    st.lists(st.integers(0, 2**14), max_size=120),
    # up to 9-byte varints: unsigned delta sums run past 2^62 and 2^63
    st.lists(st.integers(0, 2**63 - 1), max_size=40),
    # 10-byte varints (full uint64) mixed in: numpy declines
    st.lists(
        st.one_of(st.integers(0, 127), st.integers(2**56, 2**64 - 1)), max_size=60
    ),
    # the int64 edges, where a running delta sum can leave int64
    st.lists(st.sampled_from([0, 1, 2**62 - 1, 2**62, 2**63 - 2, 2**63 - 1]), max_size=80),
)


@settings(max_examples=400, deadline=None)
@given(
    raw=_packed_raw,
    tail=st.sampled_from([b"", b"\x80", b"\xff\xff\xff"]),
    signed=st.booleans(),
    delta=st.booleans(),
)
@example(raw=[2**63 - 2] * 3 + [0] * 60, tail=b"", signed=True, delta=True)
@example(raw=[2**62 + 1] * 70, tail=b"", signed=False, delta=True)
def test_packed_decode_numpy_matches_scalar(raw, tail, signed, delta):
    """decode_packed's vectorized path equals the scalar loop wherever
    it answers, and both follow one int64 rule: a delta sum that
    leaves int64 raises ValueError on either path (numpy used to wrap
    it silently, Python ints to carry it on), a truncated tail raises
    IndexError. Covers signed/unsigned x delta/plain, lengths on both
    sides of the 64-byte cut-over, 9- and 10-byte varints and unsigned
    sums past 2^62."""
    from osm_airflow_spark.sources.pbf_wire import (
        _decode_packed_np,
        _decode_packed_scalar,
        decode_packed,
        encode_varint,
    )

    buf = b"".join(encode_varint(v) for v in raw) + tail

    def outcome(fn):
        try:
            return fn(buf, signed, delta)
        except (IndexError, ValueError) as e:
            return type(e)

    want = outcome(_decode_packed_scalar)
    assert outcome(decode_packed) == want
    fast = _decode_packed_np(buf, signed, delta)
    if fast is not None:
        assert fast.tolist() == want
    if tail:
        assert want is IndexError
    elif delta and want is not ValueError:
        assert all(-(2**63) <= v < 2**63 for v in want)
