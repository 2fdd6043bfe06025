"""LLM training-data operator tests: known duplicates get caught,
LSH agrees with brute force, multimodal plumbing produces the right
bytes/features."""

import pytest
from pyspark.sql import Window as PWindow
from pyspark.sql import functions as F

from osm_airflow_spark.llm.dedup import minhash_lsh_pairs, simhash_expr
from osm_airflow_spark.llm.multimodal import documents_as_media, extract_features, fake_features
from osm_airflow_spark.llm.similarity import cosine_expr
from osm_airflow_spark.registry import all_oracles, all_queries

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup
            (3, "the quick brown fox leaps over the lazy dog"),  # near dup
            (4, "completely different words entirely unrelated content here now"),
        ],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def topk_ids(spark, sf_dir):
    """llm_sim_topk's exact top-10 vec_ids in result order: the ground
    truth the ANN recall tests compare against, built once per module."""
    return [r["vec_id"] for r in QUERIES["llm_sim_topk"](spark, sf_dir).collect()]


def test_minhash_finds_exact_and_near_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in minhash_lsh_pairs(docs).collect()}
    assert pairs.get((1, 2)) == 1.0  # identical word sets
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_minhash_near_dup_estimate_reasonable(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.0).collect()
    }
    if (1, 3) in pairs:  # true jaccard 8/10
        assert pairs[(1, 3)] >= 0.5


def test_minhash_mega_bucket_drops_are_observable(docs):
    """With a pathological cap every bucket is a 'mega-bucket'; the
    Observation must report the dropped doc×band rows instead of the
    recall loss being silent."""
    from pyspark.sql import Observation

    obs = Observation("lsh_cap")
    out = minhash_lsh_pairs(docs, max_bucket=1, observation=obs)
    assert out.count() == 0  # all candidates came from capped buckets
    assert obs.get["lsh_rows_skipped"] > 0
    assert obs.get["lsh_buckets_skipped_approx"] > 0


def test_minhash_no_drops_reports_zero(docs):
    from pyspark.sql import Observation

    obs = Observation("lsh_nocap")
    pairs = minhash_lsh_pairs(docs, observation=obs).collect()
    assert len(pairs) >= 1
    assert obs.get["lsh_rows_skipped"] == 0


def test_minhash_recall_bound_vs_exact_shingle_jaccard(spark, sf_dir):
    """Quantified quality invariant for llm_dedup_near: against the
    EXACT 3-gram shingle-set Jaccard (the quantity MinHash estimates
    — word-set Jaccard is a different, looser measure on templated
    text), the LSH pipeline at threshold 0.8 must recall ≥ 90% of
    true ≥0.8 pairs and every reported pair must be a true ≥0.7
    pair. Deterministic: content-hash family, fixed fixture."""
    from osm_airflow_spark.io import load_table
    from osm_airflow_spark.llm.dedup import shingle_array

    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.split("text", " ").alias("words")).select(
        "doc_id", F.array_distinct(shingle_array("words", 3)).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("da"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("db"), F.col("sh").alias("sb"))
    jac = F.size(F.array_intersect("sa", "sb")).cast("double") / F.size(
        F.array_union("sa", "sb")
    )
    truth = {
        (r["da"], r["db"]): r["j"]
        for r in a.crossJoin(b)
        .where(F.col("da") < F.col("db"))
        .select("da", "db", jac.alias("j"))
        .where(F.col("j") >= 0.7)
        .collect()
    }
    got = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(d).collect()}
    true_pairs = {p for p, j in truth.items() if j >= 0.8}
    assert true_pairs, "fixture must contain near-dup pairs"
    recall = len(got & true_pairs) / len(true_pairs)
    assert recall >= 0.9, f"recall {recall:.3f} < 0.9 ({len(true_pairs)} true pairs)"
    assert all(p in truth for p in got), "false positive below true j=0.7"


def test_embed_lsh_planted_duplicate_recall(spark, sf_dir):
    """Planted-duplicate recall for llm_dedup_embed_lsh's banding: a
    vector and its exact copy have identical band signatures (cos=1
    → every hyperplane side agrees), so recall on planted dups must
    be 100%. Also: every emitted pair really meets the cosine bar
    (precision is by construction — assert it anyway), and the
    candidate generator is an equi-join, so the pair set must be a
    subset of brute force at the same threshold."""
    from osm_airflow_spark.io import load_table
    from osm_airflow_spark.llm.dedup import llm_dedup_embed_lsh
    from osm_airflow_spark.llm.similarity import cosine_expr

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    planted = e.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + F.lit(n * 10)).alias("vec_id"),
        "label",
        "embedding",
    )
    planted_ids = {r["vec_id"] - n * 10 for r in planted.select("vec_id").collect()}
    assert planted_ids, "fixture must yield planted rows"
    union = e.unionByName(planted.select(*e.columns))
    union.createOrReplaceTempView("_embed_lsh_planted")

    import osm_airflow_spark.llm.dedup as dd

    orig = dd.load_table
    dd.load_table = lambda sp, sd, t: union if t == "embeddings" else orig(sp, sd, t)
    try:
        got = llm_dedup_embed_lsh(spark, sf_dir)
        pairs = {(r["vec_a"], r["vec_b"]): r["cos_sim"] for r in got.collect()}
    finally:
        dd.load_table = orig

    for vid in planted_ids:
        assert (vid, vid + n * 10) in pairs, f"planted dup {vid} not recalled"
        assert abs(pairs[(vid, vid + n * 10)] - 1.0) < 1e-9
    assert all(c >= 0.3 for c in pairs.values())

    a = union.select(F.col("vec_id").alias("va"), F.col("embedding").alias("xa"))
    b = union.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("xb"))
    brute = {
        (r["va"], r["vb"])
        for r in a.crossJoin(b)
        .where(F.col("va") < F.col("vb"))
        .select("va", "vb", cosine_expr("xa", "xb").alias("c"))
        .where(F.col("c") >= 0.3)
        .collect()
    }
    assert set(pairs) <= brute


def test_simhash_identical_docs_same_fingerprint(docs):
    fp = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", simhash_expr(F.split("text", " ")).alias("s")).collect()
    }
    assert fp[1] == fp[2]
    assert fp[1] != fp[4]


def test_simhash_hash_once_identical(spark, sf_dir):
    """The r15 hash-once formulation (_simhash_from_hashes over a
    pre-hashed attribute array) must reproduce simhash_expr exactly
    on the full fixture corpus — integer bit math, strict equality."""
    from osm_airflow_spark.io import load_table
    from osm_airflow_spark.llm.dedup import _simhash_from_hashes

    d = load_table(spark, sf_dir, "documents")
    want = {
        r["doc_id"]: r["s"]
        for r in d.select(
            "doc_id", simhash_expr(F.split("text", " ")).alias("s")
        ).collect()
    }
    got = {
        r["doc_id"]: r["s"]
        for r in d.select(
            "doc_id", F.split("text", " ").alias("w")
        )
        .select(
            "doc_id", F.transform("w", lambda w: F.xxhash64(w)).alias("hs")
        )
        .select("doc_id", _simhash_from_hashes(F.col("hs")).alias("s"))
        .collect()
    }
    assert want == got


def test_cosine_expr_exact_values(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([3.0, 4.0], [3.0, 4.0])],
        "a array<float>, b array<float>",
    )
    vals = [r["c"] for r in df.select(cosine_expr("a", "b").alias("c")).collect()]
    assert vals == [1.0, 0.0, 1.0]


def test_ann_lsh_results_subset_of_brute_force(spark, sf_dir, topk_ids):
    brute = set(topk_ids)
    ann = QUERIES["llm_sim_ann_lsh"](spark, sf_dir).collect()
    # every ANN hit must be a genuine cosine score (sanity), and the
    # bucket's top hits should overlap the true top-k
    assert all(-1.0 <= r["cos_sim"] <= 1.0 for r in ann)
    if ann:
        assert any(r["vec_id"] in brute for r in ann)


def test_exact_dedup_drops_duplicate_text(spark, docs):
    d = docs.withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text").cast("long")
    )
    d.createOrReplaceTempView("_docs_tmp")
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    out = d.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 3, 4}  # doc 2 deduped into doc 1


def test_multimodal_payload_roundtrip(spark, sf_dir):
    media = documents_as_media(spark, sf_dir)
    row = media.orderBy("media_id").first()
    assert bytes(row["payload"]).decode("utf-8")  # payload is the utf-8 text
    assert row["meta"]["n_bytes"] == len(bytes(row["payload"]))
    assert row["meta"]["mime"] == "text/plain"


def test_feature_extract_matches_python_kernel(spark, sf_dir):
    media = documents_as_media(spark, sf_dir).limit(5)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    raw = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for mid, payload in raw.items():
        assert feats[mid]["n_bytes"] == len(payload)
        assert feats[mid]["features"] == fake_features(payload)


def _encode_ppm(px):
    """Minimal P6 encoder (test-side twin of decode_image)."""
    h, w, _ = px.shape
    return b"P6\n# test\n%d %d\n255\n" % (w, h) + px.tobytes()


def _encode_bmp24(px):
    """Minimal uncompressed bottom-up 24-bit BMP encoder."""
    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    raster = bytearray()
    for row in px[::-1]:  # bottom-up
        line = bytearray()
        for r, g, b in row:
            line += bytes((b, g, r))  # BGR
        line += b"\0" * (stride - len(line))
        raster += line
    header = (
        b"BM"
        + (54 + len(raster)).to_bytes(4, "little")
        + b"\0\0\0\0"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(raster).to_bytes(4, "little")
        + b"\0" * 16
    )
    return bytes(header) + bytes(raster)


def test_decode_image_ppm_and_bmp_roundtrip():
    import numpy as np

    from osm_airflow_spark.llm.multimodal import decode_image

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, (5, 3, 3), dtype=np.uint8)
    assert (decode_image(_encode_ppm(px)) == px).all()
    assert (decode_image(_encode_bmp24(px)) == px).all()
    # odd width exercises the 4-byte BMP row padding
    px_odd = rng.randint(0, 256, (4, 5, 3), dtype=np.uint8)
    assert (decode_image(_encode_bmp24(px_odd)) == px_odd).all()
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n....")  # codec formats refuse


def test_feature_extract_decodes_real_images_through_map_in_pandas(spark):
    """bytes→pixels→features for real: generated PPM + BMP payloads of
    a KNOWN image flow through the Arrow-batched mapInPandas path and
    come back with exact pixel statistics (not byte stats)."""
    import numpy as np

    from osm_airflow_spark.llm.multimodal import extract_features

    px = np.zeros((4, 6, 3), dtype=np.uint8)
    px[:, :, 0] = 200  # R plane constant
    px[:, :, 1] = 100
    px[:, :, 2] = 50
    media = spark.createDataFrame(
        [(1, bytearray(_encode_ppm(px))), (2, bytearray(_encode_bmp24(px))),
         (3, bytearray(b"not an image"))],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in extract_features(media).collect()}
    for mid in (1, 2):
        w, h, mr, mg, mb, lstd = out[mid]["features"]
        assert (w, h) == (6.0, 4.0)
        assert (mr, mg, mb) == (200.0, 100.0, 50.0)
        assert lstd == 0.0  # constant image
    assert out[3]["features"] == fake_features(b"not an image")


def test_image_sniff_rejects_magic_only_lookalikes():
    """A payload that merely STARTS with an image magic must stay on
    the byte-stats path: the structural sniff validates the whole
    header against the payload length (ADVICE r4)."""
    import numpy as np

    from osm_airflow_spark.llm.multimodal import (
        fake_features,
        looks_like_image,
        media_features,
    )

    lookalikes = [
        b"BMW dealers report 5 5 strong quarterly sales figures....",
        b"P6 is the sixth sound in the sequence 2 2 255 " + b"x" * 400,
        b"P5\n3 3\n255\n",  # header parses but raster missing
        b"BM" + b"\x00" * 60,  # zero dims / zero planes
    ]
    for payload in lookalikes:
        assert not looks_like_image(payload)
        assert media_features(payload) == fake_features(payload)

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, (4, 5, 3), dtype=np.uint8)
    assert looks_like_image(_encode_ppm(px))
    assert looks_like_image(_encode_bmp24(px))


def test_mm_feature_extract_query_is_canonicalization_safe(spark, sf_dir):
    """The driver's harness sorts every column; the query must
    therefore emit scalars/strings, not array<double> (the r4 driver
    failure). r8: the projection is now the Q20 fixed-point digest
    (floor(f*2^20) comma-joined) — scalar-safe AND exactly
    SQL-oracled."""
    out = QUERIES["mm_feature_extract"](spark, sf_dir)
    kinds = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert kinds == {
        "media_id": "bigint",
        "n_bytes": "bigint",
        "n_features": "int",
        "features_q20": "string",
    }
    row = out.orderBy("media_id").first()
    assert row["n_features"] == 4  # text fixture → byte-stats kernel
    vals = [int(v) for v in row["features_q20"].split(",")]
    assert len(vals) == 4
    assert vals[0] == row["n_bytes"] * 1048576  # f0 = payload length, exact


def test_quality_score_bounds(spark, sf_dir):
    out = QUERIES["llm_quality_score"](spark, sf_dir)
    assert out.where((F.col("quality_score") < 0) | (F.col("quality_score") > 1)).count() == 0


def test_cluster_pairs_connected_components(spark):
    from osm_airflow_spark.llm.dedup import cluster_pairs

    # components: {1,2,3,4} via chain, {7,8}, (5 and 6 absent = no edges)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in cluster_pairs(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_dedup_cluster_best_covers_all_docs_once(spark, sf_dir):
    from osm_airflow_spark.registry import all_queries

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = all_queries()["llm_dedup_cluster_best"](spark, sf_dir)
    rows = out.collect()
    # one survivor per cluster, survivors + singleton clusters ≤ corpus
    assert len(rows) == len({r["cluster_id"] for r in rows})
    assert 0 < len(rows) <= d.count()


def test_multiprobe_recall_at_least_single_probe(spark, sf_dir, topk_ids):
    """Multi-probe amplifies a SINGLE 8-bit table: its recall must
    dominate the plain one-bucket probe of that same table (built
    inline — llm_sim_ann_lsh is now the stronger multi-TABLE family,
    a different dial)."""
    from osm_airflow_spark.io import load_table
    from osm_airflow_spark.llm.similarity import cosine_expr, hyperplane_signature

    brute = topk_ids
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select("vec_id", "embedding", hyperplane_signature("embedding").alias("bucket"))
    q = b.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"), F.col("bucket").alias("qb")
    )
    single = {
        r["vec_id"]
        for r in b.join(F.broadcast(q), F.col("bucket") == F.col("qb"))
        .where(F.col("vec_id") != 0)
        .select("vec_id", cosine_expr("embedding", "qvec").alias("s"))
        .orderBy(F.col("s").desc(), "vec_id")
        .limit(10)
        .collect()
    }
    multi = {r["vec_id"] for r in QUERIES["llm_sim_ann_multiprobe"](spark, sf_dir).collect()}
    recall_single = len(single & set(brute)) / len(brute)
    recall_multi = len(multi & set(brute)) / len(brute)
    assert recall_multi >= recall_single


def test_hyperplane_arrow_matches_expression(spark, sf_dir):
    """The r15 Arrow signature pass (with_hyperplane_columns) must be
    BIT-identical to the expression forms it replaced — signatures
    (strict-left-fold dots → sign bits) and raw margin doubles — on
    the full fixture corpus, across a multi-table family with a
    nonzero plane offset."""
    from osm_airflow_spark.io import load_table
    from osm_airflow_spark.llm.similarity import (
        hyperplane_margins,
        hyperplane_signature,
        with_hyperplane_columns,
    )

    e = load_table(spark, sf_dir, "embeddings")
    expr_df = e.select(
        "vec_id",
        hyperplane_signature("embedding", n_planes=4, plane_offset=0).alias("s0"),
        hyperplane_signature("embedding", n_planes=4, plane_offset=8).alias("s2"),
        hyperplane_margins("embedding", n_planes=8, plane_offset=0).alias("m"),
    )
    arrow_df = with_hyperplane_columns(
        e.select("vec_id", "embedding"),
        sig_specs=[("s0", 4, 0), ("s2", 4, 8)],
        margin_specs=[("m", 8, 0)],
    ).drop("embedding")
    want = {r["vec_id"]: (r["s0"], r["s2"], list(r["m"])) for r in expr_df.collect()}
    got = {r["vec_id"]: (r["s0"], r["s2"], list(r["m"])) for r in arrow_df.collect()}
    assert want == got  # exact doubles: bit-identity, not approx

    with pytest.raises(Exception, match="dim"):
        with_hyperplane_columns(
            e.limit(1).select("vec_id", F.slice("embedding", 1, 8).alias("embedding")),
            sig_specs=[("s", 4, 0)],
        ).collect()


def test_kmeans_centroids_shape_and_stability(spark, sf_dir):
    from osm_airflow_spark.llm.similarity import kmeans_centroids

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_centroids(e, k=4, iters=2).collect()
    assert len(cents) <= 4  # a centroid can die if no vectors assign
    assert all(len(r["cvec"]) == 64 for r in cents)


def test_ivf_kmeans_returns_valid_scores(spark, sf_dir):
    out = QUERIES["llm_sim_ann_ivf_kmeans"](spark, sf_dir).collect()
    assert 0 < len(out) <= 10
    assert all(-1.0 <= r["cos_sim"] <= 1.0 for r in out)


def test_star_contraction_equals_label_propagation(spark, sf_dir):
    """cluster_pairs_star must produce the identical (doc_id,
    cluster_id) map as cluster_pairs: on a chain (worst diameter), a
    clique (worst density), a singleton edge — and on the real LSH
    candidate pairs from the fixture."""
    from osm_airflow_spark.io import load_table
    from osm_airflow_spark.llm.dedup import cluster_pairs, cluster_pairs_star

    chain = [(i, i + 1) for i in range(1, 10)]
    clique = [(a, b) for a in range(20, 26) for b in range(20, 26) if a < b]
    single = [(100, 101)]
    synthetic = spark.createDataFrame(
        chain + clique + single, "doc_a long, doc_b long"
    )
    lp = {(r["doc_id"], r["cluster_id"]) for r in cluster_pairs(synthetic).collect()}
    star = {
        (r["doc_id"], r["cluster_id"]) for r in cluster_pairs_star(synthetic).collect()
    }
    assert lp == star
    assert (9, 1) in star and (25, 20) in star and (101, 100) in star

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, threshold=0.8)
    lp2 = {(r["doc_id"], r["cluster_id"]) for r in cluster_pairs(pairs).collect()}
    star2 = {
        (r["doc_id"], r["cluster_id"]) for r in cluster_pairs_star(pairs).collect()
    }
    assert lp2 == star2 and len(star2) > 0


def test_semdedup_invariants(spark, sf_dir):
    """llm_semdedup structural invariants (rows-only key): exactly
    one survivor per group; groups never span k-means clusters;
    survivors within a cluster are pairwise below tau (no edge
    between components); every multi-member group is tau-connected
    (each dropped member has SOME tau-neighbor in its group); and
    the whole thing is deterministic across reruns."""
    import math
    from collections import defaultdict

    from osm_airflow_spark.io import load_table
    from osm_airflow_spark.llm.dedup import llm_semdedup

    tau = 0.25
    rows = llm_semdedup(spark, sf_dir).collect()
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    groups = defaultdict(list)
    for r in rows:
        groups[r["group_id"]].append(r)
    assert len(rows) == len(vecs), "one output row per vector"
    for gid, members in groups.items():
        kept = [m for m in members if m["kept"]]
        assert len(kept) == 1, f"group {gid}: {len(kept)} survivors"
        assert len({m["cent_id"] for m in members}) == 1, "group spans clusters"
        # survivor is the centroid-closest (tie-break vec_id)
        best = min(members, key=lambda m: (m["dist_to_cent"], m["vec_id"]))
        assert kept[0]["vec_id"] == best["vec_id"]
        if len(members) > 1:
            for m in members:
                others = [o for o in members if o["vec_id"] != m["vec_id"]]
                assert any(
                    cos(vecs[m["vec_id"]], vecs[o["vec_id"]]) >= tau for o in others
                ), f"group {gid}: member {m['vec_id']} has no tau-neighbor"

    by_cluster = defaultdict(list)
    for r in rows:
        if r["kept"]:
            by_cluster[r["cent_id"]].append(r["vec_id"])
    for cid, kept_ids in by_cluster.items():
        for i, va in enumerate(kept_ids):
            for vb in kept_ids[i + 1 :]:
                assert cos(vecs[va], vecs[vb]) < tau, (
                    f"cluster {cid}: kept pair ({va},{vb}) above tau"
                )

    again = llm_semdedup(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again)), "nondeterministic"


def test_pq_ann_invariants(spark, sf_dir):
    """llm_sim_ann_pq (rows-only): exactly 10 candidates from the
    ADC-shortlist + exact-rerank path, exact cosine scores in bounds
    and descending (total order with vec_id tie-break), query vector
    itself excluded, deterministic rerun."""
    from osm_airflow_spark.llm.similarity import llm_sim_ann_pq

    rows = llm_sim_ann_pq(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r["vec_id"] != 0 for r in rows)
    sims = [r["cos_sim"] for r in rows]
    assert all(-1.0 <= s <= 1.0 for s in sims)
    assert sims == sorted(sims, reverse=True)
    again = llm_sim_ann_pq(spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


# Per-SF floors (VERDICT r9 #4: flat min-across-SF floors made the
# weakest keys near-decorative). Everything here is DETERMINISTIC —
# content-derived planes/centroids, no rand() — so "measured" values
# are exactly reproducible; the floor sits one hit (0.1) under the
# measured recall at THAT SF, and every sf0.01 floor is >= 0.5. The
# fixture's near-random unit vectors (top-10 cosine ~= 0.3, expected
# query-neighbor Hamming ~3.2 of 8 bits) are the hard regime for
# LSH-family methods, so these floors are meaningful, not decorative.
ANN_RECALL_FLOORS = {
    # key: {sf: floor}; comments = measured recall@10 at each SF.
    # r12 added MEASURED sf0.1 floors everywhere (the fallback-min was
    # the one place the gate could silently weaken) — and the sweep
    # that produced them caught two real fixed-budget decays: seeded
    # IVF at nprobe=2 and graph at beam 12/hops 4 both measured 0.2
    # at sf0.1 (a fixed probe/exploration budget explores a fixed
    # fraction/count while the true top-10 tightens with corpus
    # growth). Budgets raised to nprobe=3 and beam 24/hops 6; floors
    # below are one hit (0.1) under the re-measured values.
    "llm_sim_ann_lsh": {"0.001": 0.6, "0.01": 0.8, "0.1": 0.7},  # .7/.9/.8
    "llm_sim_ann_ivf": {"0.001": 0.6, "0.01": 0.5, "0.1": 0.4},  # nprobe=3: .7/.6/.5
    "llm_sim_ann_multiprobe": {"0.001": 0.3, "0.01": 0.5, "0.1": 0.6},  # .4/.6/.7
    "llm_sim_ann_ivf_kmeans": {"0.001": 0.8, "0.01": 0.8, "0.1": 0.9},  # .9/.9/1.0
    "llm_sim_ann_pq": {"0.001": 0.4, "0.01": 0.7, "0.1": 0.6},  # .5/.8/.7
    "llm_sim_ann_ivf_rq": {"0.001": 0.7, "0.01": 0.7, "0.1": 0.7},  # .8/.8/.8
    "llm_sim_ann_graph": {"0.001": 0.7, "0.01": 0.8, "0.1": 0.5},  # beam24/h6: .8/.9/.6
}


def _sf_of(sf_dir: str) -> str:
    return sf_dir.rstrip("/").rsplit("sf", 1)[-1]


def _floor_for(floors: dict, sf_dir: str) -> float:
    """Measured per-SF floor, falling back to the CONSERVATIVE
    minimum across measured SFs at any other SF (r10 review: a skip
    at sf0.1 would drop the recall guard exactly where CLAUDE.md's
    pre-close drift sweep runs)."""
    return floors.get(_sf_of(sf_dir), min(floors.values()))


@pytest.mark.parametrize("key", sorted(ANN_RECALL_FLOORS))
def test_ann_recall_floor_vs_brute_force(spark, sf_dir, key, topk_ids):
    """recall@10 against the llm_sim_topk exact ground truth, per ANN
    variant at its fixed probe budget (VERDICT r4 next-round #5; r9
    #4 raised the weak floors and made them per-SF)."""
    floor = _floor_for(ANN_RECALL_FLOORS[key], sf_dir)
    gt = set(topk_ids)
    got = {r["vec_id"] for r in QUERIES[key](spark, sf_dir).collect()}
    recall = len(got & gt) / len(gt)
    assert recall >= floor, f"{key}: recall@10 {recall:.2f} < {floor}"


def test_sim_topk_batch_recall_and_shape(spark, sf_dir):
    """llm_sim_topk_batch (rows-only, VERDICT r9 #3): one-plan batch
    ANN serving. Mean recall@10 across the 16 held-out queries vs the
    per-query exact ground truth (computed here as ONE brute-force
    plan) must clear the per-SF floor; output is total-ordered,
    exactly 10 per query, never the query itself, deterministic."""
    from osm_airflow_spark.io import load_table
    from osm_airflow_spark.llm.similarity import cosine_expr

    floor = _floor_for({"0.001": 0.55, "0.01": 0.55}, sf_dir)  # 0.631/0.644
    rows = QUERIES["llm_sim_topk_batch"](spark, sf_dir).collect()
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append(r)
    assert set(got) == set(range(16))
    for q, rs in got.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == list(
            range(1, 11)
        )
        sims = [r["cos_sim"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["vec_id"] >= 16 for r in rs)  # corpus only

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = e.where(F.col("vec_id") >= 16)
    wk = PWindow.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    exact = (
        corpus.crossJoin(F.broadcast(queries))
        .select(
            "query_id", "vec_id", cosine_expr("embedding", "qvec").alias("cos_sim")
        )
        .withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= 10)
    )
    gt: dict[int, set] = {}
    for r in exact.collect():
        gt.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len({x["vec_id"] for x in got[q]} & gt[q]) / len(gt[q]) for q in gt
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= floor, f"mean recall@10 {mean_recall:.3f} < {floor}"

    again = QUERIES["llm_sim_topk_batch"](spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_kmeans_sampled_training_deterministic_and_usable(spark, sf_dir):
    """sample_mod trains Lloyd on the deterministic id-modulo sample
    (the 100 TB codebook move): result is deterministic across runs,
    k centroids of the right width come back, and assigning the FULL
    corpus against sampled centroids still covers every vector."""
    from osm_airflow_spark.io import load_table
    from osm_airflow_spark.llm.similarity import _as_double, kmeans_centroids

    e = load_table(spark, sf_dir, "embeddings")
    a = kmeans_centroids(e, k=4, iters=2, sample_mod=3).collect()
    b = kmeans_centroids(e, k=4, iters=2, sample_mod=3).collect()
    assert sorted(r["cent_id"] for r in a) == sorted(r["cent_id"] for r in b)
    av = {r["cent_id"]: r["cvec"] for r in a}
    bv = {r["cent_id"]: r["cvec"] for r in b}
    assert av == bv  # bit-identical rerun
    assert len(av) == 4
    dim = len(e.select(_as_double("embedding").alias("v")).first()["v"])
    assert all(len(v) == dim for v in av.values())

    cents = kmeans_centroids(e, k=4, iters=2, sample_mod=3)
    dist2 = F.aggregate(
        F.zip_with(_as_double("embedding"), F.col("cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.col("d"), F.col("cent_id"))
    assigned = (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", "cent_id", dist2.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    assert assigned.count() == e.count()  # full corpus covered


def test_resize_image_nearest_neighbor_exact():
    """Nearest-neighbor resize is exact integer index selection:
    downscale of a known gradient picks floor(r*h/H), floor(c*w/W);
    upscale repeats pixels; identity size is a no-op copy."""
    import numpy as np

    from osm_airflow_spark.llm.multimodal import resize_image

    px = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    small = resize_image(px, 4, 4)
    assert small.shape == (4, 4, 3)
    rows = (np.arange(4) * 16) // 4
    cols = (np.arange(4) * 16) // 4
    assert (small == px[rows][:, cols]).all()
    assert (resize_image(px, 16, 16) == px).all()
    up = resize_image(px[:2, :2], 4, 4)
    assert up.shape == (4, 4, 3)
    assert (up[:2, :2] == px[:2, :2].repeat(2, 0).repeat(2, 1)[:2, :2]).all()


def test_mm_image_resize_decodes_every_synthesized_payload(spark, sf_dir):
    """The in-column PGM synthesis must produce payloads the strict
    sniff accepts — every row decodes, source dims are 16x16, and the
    checksum is bounded by 255 * 8 * 8 * 3 (PGM expands to 3 chan)."""
    rows = QUERIES["mm_image_resize"](spark, sf_dir).collect()
    assert rows and all(r.decoded for r in rows)
    assert all(r.src_w == 16 and r.src_h == 16 for r in rows)
    assert all(0 <= r.px_checksum <= 255 * 8 * 8 * 3 for r in rows)


def test_llm_domain_mix_weights_sum_to_one(spark, sf_dir):
    """Mixture weights are a probability vector, and the 0.7
    temperature strictly compresses the spread: the max/min weight
    ratio is below the max/min count ratio."""
    rows = QUERIES["llm_domain_mix"](spark, sf_dir).collect()
    total = sum(r.mix_weight for r in rows)
    assert abs(total - 1.0) < 1e-9
    counts = [r.n_docs for r in rows]
    weights = [r.mix_weight for r in rows]
    if max(counts) > min(counts):
        assert max(weights) / min(weights) < max(counts) / min(counts)


def test_llm_dedup_incremental_never_reemits_base_content(spark, sf_dir):
    """Every surviving batch doc's digest is absent from the base
    slice, and batch-internal duplicates keep only the min doc_id."""
    from pyspark.sql import functions as F

    from osm_airflow_spark.io import load_table

    surv = QUERIES["llm_dedup_incremental"](spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    base_h = {
        r.h
        for r in d.where(F.col("doc_id") % 10 < 8)
        .select(F.md5("text").alias("h"))
        .distinct()
        .collect()
    }
    surv_rows = (
        surv.join(d.select("doc_id", F.md5("text").alias("h")), "doc_id")
        .collect()
    )
    assert surv_rows
    assert all(r.h not in base_h for r in surv_rows)
    seen = {}
    for r in sorted(surv_rows, key=lambda r: r.doc_id):
        assert r.h not in seen  # one survivor per digest
        seen[r.h] = r.doc_id


def test_graph_connected_components_matches_bruteforce(spark, sf_dir):
    """Component labels (min member), sizes, and key checksums agree
    with a driver-side union-find over the same thresholded edges."""
    from pyspark.sql import functions as F

    from osm_airflow_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = [
        (r.pa, r.pb)
        for r in a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .collect()
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comps = {}
    for node in parent:
        comps.setdefault(find(node), []).append(node)
    expected = sorted(
        (c, len(members), sum(members)) for c, members in comps.items()
    )
    got = sorted(
        (r.comp, r.n_members, r.member_key_sum)
        for r in QUERIES["graph_connected_components"](spark, sf_dir).collect()
    )
    assert got == expected


def test_audio_rms_kernel_handles_negative_samples(spark):
    """The fixture's ASCII payloads only produce positive PCM16
    samples, so the int16 SIGN path of the audio kernel is pinned
    here with hand-packed negatives: a window of alternating ±v has
    rms == v exactly, and int16 extremes survive the parse."""
    import math
    import struct

    from osm_airflow_spark.llm.multimodal import audio_rms

    w1 = struct.pack("<4h", -3, 3, -3, 3)  # rms = 3 exactly
    w2 = struct.pack("<4h", -32768, 32767, 0, -1)
    payload = w1 + w2 + b"\x07"  # odd trailing byte must be ignored
    media = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary"
    )
    rows = {
        r["window_idx"]: r
        for r in audio_rms(media, window=4).orderBy("window_idx").collect()
    }
    assert set(rows) == {0, 1}  # partial third window dropped
    assert rows[0]["rms"] == 3.0
    expect = round(
        math.sqrt((32768**2 + 32767**2 + 0 + 1) / 4), 6
    )
    assert rows[1]["rms"] == expect
    assert all(r["n_samples"] == 4 for r in rows.values())


def test_bpe_train_matches_pure_python_reference(spark, sf_dir):
    """llm_bpe_train is rows-only (iterative argmax has no SQL twin);
    its correctness contract is EXACT equality of the learned merge
    table with a from-scratch pure-Python BPE over the same corpus —
    same pair counting (all adjacent positions, word-frequency
    weighted), same argmax tie-break (count desc, then left, right
    ascending), same greedy left-to-right merge application."""
    from collections import Counter

    from osm_airflow_spark.llm.text import BPE_SEP, llm_bpe_train

    texts = [
        r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
    ]
    wc = Counter(w for t in texts for w in t.split(" ") if w != "")
    forms = {w: tuple(w) for w in wc}
    expected = []
    for rank in range(1, 9):
        pc: Counter = Counter()
        for w, syms in forms.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        (left, right), n = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append(
            (rank, left, right, (left + right).replace(BPE_SEP, ""), n)
        )
        for w, syms in forms.items():
            out: list = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = left + BPE_SEP + right
                else:
                    out.append(x)
            forms[w] = tuple(out)

    got = [
        (r["rank"], r["left"], r["right"], r["token"], r["n_occurrences"])
        for r in llm_bpe_train(spark, sf_dir).orderBy("rank").collect()
    ]
    assert got == expected
    assert len(got) == 8  # fixture corpus never runs dry in 8 rounds


def test_bpe_encode_matches_pure_python_reference(spark, sf_dir):
    """llm_bpe_encode (rows-only): per-language word/subword totals
    under the 8 learned merges must equal the pure-Python tokenizer
    applied end-to-end (train on the corpus, encode the corpus)."""
    from collections import Counter, defaultdict

    from osm_airflow_spark.llm.text import BPE_SEP, llm_bpe_encode

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("lang", "text")
        .collect()
    )
    wc = Counter(w for r in rows for w in r["text"].split(" ") if w != "")
    forms = {w: tuple(w) for w in wc}
    for _ in range(8):
        pc: Counter = Counter()
        for w, syms in forms.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        (left, right), _n = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        for w, syms in forms.items():
            out: list = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = left + BPE_SEP + right
                else:
                    out.append(x)
            forms[w] = tuple(out)

    exp_words: dict = defaultdict(int)
    exp_sub: dict = defaultdict(int)
    for r in rows:
        for w in r["text"].split(" "):
            if w == "":
                continue
            exp_words[r["lang"]] += 1
            exp_sub[r["lang"]] += len(forms[w])

    got = {
        r["lang"]: r for r in llm_bpe_encode(spark, sf_dir).collect()
    }
    assert set(got) == set(exp_words)
    for lang in exp_words:
        assert got[lang]["n_words"] == exp_words[lang]
        assert got[lang]["n_bpe_tokens"] == exp_sub[lang]
        assert got[lang]["compression_ratio"] == round(
            exp_words[lang] / exp_sub[lang], 6
        )
        # every word is >= 1 subtoken, so the ratio is bounded by 1
        assert 0 < got[lang]["compression_ratio"] <= 1.0


def test_ivf_index_build_query_prune_and_recall(spark, sf_dir, tmp_path):
    """Persistent IVF lifecycle: build → probe-query. The probe scan
    must actually PRUNE (runtime numFiles < total postings files; the
    inputFiles() trap is documented in SCALE.md) and the pruned
    top-10 must hit the exact brute-force top-10 at or above the
    llm_sim_ann_ivf_kmeans recall floor."""
    from osm_airflow_spark.llm.similarity import (
        build_ivf_index,
        cosine_expr,
        query_ivf_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index_dir = str(tmp_path / "ivf")
    build_ivf_index(e, index_dir, k=8, iters=3)

    assert (
        spark.read.parquet(f"{index_dir}/postings").count() == e.count()
    )  # every vector landed in exactly one inverted list

    qvec = e.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    got = query_ivf_index(spark, index_dir, qvec, nprobe=2, topk=11)
    plan_df = got
    ids = [r["vec_id"] for r in got.collect() if r["vec_id"] != 0][:10]

    scan = plan_df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    n_read = scan.metrics().apply("numFiles").value()
    n_total = len(spark.read.parquet(f"{index_dir}/postings").inputFiles())
    assert 0 < n_read < n_total  # partition pruning actually happened

    qcol = F.array(*[F.lit(float(v)) for v in qvec])
    exact = [
        r["vec_id"]
        for r in e.where(F.col("vec_id") != 0)
        .select("vec_id", cosine_expr("embedding", qcol).alias("c"))
        .orderBy(F.col("c").desc(), "vec_id")
        .limit(10)
        .collect()
    ]
    recall = len(set(ids) & set(exact)) / 10
    assert recall >= 0.5  # conservative floor; kmeans-IVF measures 0.9


def test_ivf_index_incremental_add(spark, sf_dir, tmp_path):
    """Incremental ingest: build on 80% of vectors, add the rest
    against the persisted centroids (no retrain). Postings must cover
    the full corpus, and a query AT a newly added vector must return
    that vector first (self-recall through the index)."""
    from osm_airflow_spark.llm.similarity import (
        add_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.where(F.col("vec_id") % 10 < 8)
    delta = e.where(F.col("vec_id") % 10 >= 8)
    index_dir = str(tmp_path / "ivf-inc")
    build_ivf_index(base, index_dir, k=8, iters=3)
    add_to_ivf_index(delta, index_dir)

    postings = spark.read.parquet(f"{index_dir}/postings")
    assert postings.count() == e.count()
    assert postings.select("vec_id").distinct().count() == e.count()

    probe = delta.orderBy("vec_id").limit(1).collect()[0]
    got = query_ivf_index(
        spark, index_dir, probe["embedding"], nprobe=1, topk=1
    ).collect()
    assert got[0]["vec_id"] == probe["vec_id"]  # cos(v, v) = 1 tops the list


def test_bpe_keys_partition_count_independent(spark, sf_dir, monkeypatch):
    """The rows-only BPE keys carry the same determinism contract as
    the oracled keys: identical values at 7 and 32 shuffle partitions
    (pair counts are exact integer sums; the argmax is total-ordered;
    the fold is per-row) — pinned here because check.py's hash gate
    only covers oracled keys."""
    import osm_airflow_spark.session as sess
    from osm_airflow_spark.llm.text import llm_bpe_encode, llm_bpe_train

    def snapshot():
        train = [tuple(r) for r in llm_bpe_train(spark, sf_dir).orderBy("rank").collect()]
        enc = sorted(tuple(r) for r in llm_bpe_encode(spark, sf_dir).collect())
        return train, enc

    monkeypatch.setattr(sess, "DEFAULT_SHUFFLE_PARTITIONS", 7)
    at7 = snapshot()
    monkeypatch.setattr(sess, "DEFAULT_SHUFFLE_PARTITIONS", 32)
    at32 = snapshot()
    assert at7 == at32


def test_sample_weighted_biases_toward_heavy_docs(spark, sf_dir):
    """A-ES weighted sampling must tilt the sample toward high-weight
    docs: the sampled mean weight exceeds the corpus mean, and the
    selection is reproducible (content-derived uniforms, no rand)."""
    out = QUERIES["llm_sample_weighted"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 50
    sampled_mean = sum(r["weight"] for r in rows) / len(rows)
    from osm_airflow_spark.io import load_table

    corpus = load_table(spark, sf_dir, "documents")
    corpus_mean = corpus.agg(F.avg("n_chars")).first()[0]
    assert sampled_mean > corpus_mean
    again = {r["doc_id"] for r in QUERIES["llm_sample_weighted"](spark, sf_dir).collect()}
    assert again == {r["doc_id"] for r in rows}


def test_bm25_topk_docs_contain_query_terms(spark, sf_dir):
    out = QUERIES["llm_bm25_topk"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 20
    assert all(r["bm25"] > 0 for r in rows)
    from osm_airflow_spark.io import load_table

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isin([r["doc_id"] for r in rows]))
        .collect()
    }
    for r in rows:
        toks = set(docs[r["doc_id"]].split(" "))
        assert toks & {"table", "spark", "merge"}, r["doc_id"]


def test_hybrid_rrf_fuses_both_arms(spark, sf_dir):
    """The fused top-20 must draw evidence from both retrievers: at
    least one member ranked by each arm, scores bounded by the RRF
    identity (max two arms at rank 1 → 2/61), and any doc ranked
    top-10 by BOTH arms must outrank a doc seen by only one arm at
    worse than rank 40 (the fusion property)."""
    rows = QUERIES["llm_hybrid_rrf"](spark, sf_dir).collect()
    assert len(rows) == 20
    assert any(r["bm_rank"] is not None for r in rows)
    assert any(r["cos_rank"] is not None for r in rows)
    for r in rows:
        expect = (1.0 / (60 + r["bm_rank"]) if r["bm_rank"] else 0.0) + (
            1.0 / (60 + r["cos_rank"]) if r["cos_rank"] else 0.0
        )
        assert abs(r["rrf"] - expect) < 1e-12
        assert r["rrf"] <= 2.0 / 61.0 + 1e-12


def test_embed_project_distortion_is_jl_bounded(spark, sf_dir):
    """JL invariant: the 1/sqrt(8)-scaled projected pairwise distance
    over the original distance is UNBIASED (median ~ 1) with bounded
    distortion, across all 780 pairs of a deterministic 40-vector
    sample. (Correlation is the wrong test here: random high-dim
    vectors are near-equidistant, so between-pair variance is noise
    by construction — the JL guarantee is about the per-pair RATIO.)
    Measured on this fixture: min 0.357, median 1.02, max 1.842 —
    the envelope asserts a safety margin around that."""
    import math

    proj = {
        r["vec_id"]: [r[f"p{j}"] for j in range(8)]
        for r in QUERIES["llm_embed_project"](spark, sf_dir)
        .where(F.col("vec_id") < 40)
        .collect()
    }
    from osm_airflow_spark.io import load_table

    orig = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 40)
        .collect()
    }

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    ids = sorted(proj)
    ratios = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d_o = dist(orig[ids[i]], orig[ids[j]])
            d_p = dist(proj[ids[i]], proj[ids[j]]) / math.sqrt(8)
            ratios.append(d_p / d_o)
    ratios.sort()
    assert len(ratios) == len(ids) * (len(ids) - 1) // 2
    assert all(0.2 < r < 3.0 for r in ratios), (ratios[0], ratios[-1])
    med = ratios[len(ratios) // 2]
    assert 0.85 < med < 1.15, med


def test_keyframe_select_kernel_edges(spark):
    """Kernel edges for the r8 keyframe pick: sub-frame payloads emit
    no row; an exactly-one-frame payload picks frame 0; two frames
    with IDENTICAL byte spread tie-break to the LOWER index (the
    np.argmax-first == list_position-first contract the oracle
    relies on); and the metric is the exact integer variance
    numerator."""
    from osm_airflow_spark.llm.multimodal import keyframe_select

    frame_a = bytes(range(64))            # high spread
    flat = bytes([7] * 64)                # zero spread
    media = spark.createDataFrame(
        [
            (1, bytes([1] * 63)),          # < one frame -> no row
            (2, flat),                     # one flat frame
            (3, frame_a + frame_a),        # identical frames -> idx 0
            (4, flat + frame_a),           # second frame wins
        ],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in keyframe_select(media).collect()}
    assert 1 not in rows
    assert rows[2]["key_frame_idx"] == 0 and rows[2]["key_metric"] == 0
    assert rows[3]["n_frames"] == 2 and rows[3]["key_frame_idx"] == 0
    assert rows[4]["key_frame_idx"] == 1
    s = sum(frame_a)
    s2 = sum(b * b for b in frame_a)
    assert rows[4]["key_metric"] == 64 * s2 - s * s


def _write_short_docs(spark, tmp_path):
    """A documents fixture the real one deliberately lacks: empty,
    single-word and sub-8-char docs (ADVICE r9 — the fixture min
    length 44 masked both short-doc divergences)."""
    rows = [
        (1, ""),                       # empty: split -> [''], len 0
        (2, "one"),                    # single word, < 8 chars
        (3, "two words"),              # one bigram, >= 8 chars
        (4, "seven77"),                # exactly 7 chars -> no gram
        (5, "eight888"),               # exactly 8 chars -> one gram
        (6, "a a a"),                  # repeated bigrams
        (7, "a much longer document with enough words and characters"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    return str(tmp_path), con


def test_distinct_ngrams_single_word(spark, tmp_path):
    """r9 ADVICE fix: sequence(1, 0) in Spark is the DESCENDING array
    [1, 0], so the r8 bigram build CRASHED on single-word docs while
    the oracle returned n_bigrams=0. Both engines must now agree on
    every short-doc shape."""
    sf_dir, con = _write_short_docs(spark, tmp_path)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["distinct_bigrams"], r["distinct_ratio"])
        for r in QUERIES["llm_distinct_ngrams"](spark, sf_dir).collect()
    }
    want = {
        i: (n, d, rat)
        for i, n, d, rat in con.execute(ORACLES["llm_distinct_ngrams"]).fetchall()
    }
    assert got == want
    assert got[2] == (0, 0, None)       # the r8 crash shape
    assert got[6] == (2, 1, 0.5)        # repeated bigram


def test_fingerprint_short_docs(spark, tmp_path):
    """r9 ADVICE fix: the r8 greatest(length-7, 1) clamp manufactured
    one gram for docs < 8 chars from out-of-range reads, where Spark
    ascii('') = 0 but DuckDB unicode('') = -1. Short docs must now
    emit an EMPTY fingerprint identically in both engines."""
    sf_dir, con = _write_short_docs(spark, tmp_path)
    got = {
        r["doc_id"]: (r["n_fingerprints"], r["min_fp"], r["fp_checksum"])
        for r in QUERIES["llm_fingerprint"](spark, sf_dir).collect()
    }
    want = {
        i: (n, m, c)
        for i, n, m, c in con.execute(ORACLES["llm_fingerprint"]).fetchall()
    }
    assert got == want
    for short_id in (1, 2, 4):          # < 8 chars: empty fingerprint
        assert got[short_id] == (0, None, 0)
    assert got[5][0] == 1               # exactly 8 chars: one gram


def test_bigram_keys_short_docs(spark, tmp_path):
    """ADVICE r11 fix: shingle_array's <2-word fallback emitted the
    whole doc as ONE pseudo-bigram for 0/1-word docs, whose
    split()[1] has no second element — a NULL-w2 row inflating
    n_types/n_pred (and the LM's context rows) — while the DuckDB
    oracle's generate_series(1, n-1) emits nothing. All three
    bigram-based keys must now match the oracle exactly on a fixture
    with empty and single-word docs."""
    sf_dir, con = _write_short_docs(spark, tmp_path)
    for key in ("llm_bigram_lm", "llm_kneser_ney", "llm_perplexity_filter"):
        got = sorted(tuple(r) for r in QUERIES[key](spark, sf_dir).collect())
        want = sorted(tuple(r) for r in con.execute(ORACLES[key]).fetchall())
        assert got == want, key
    kn = QUERIES["llm_kneser_ney"](spark, sf_dir).collect()
    assert kn, "bigram-capable docs must still score"
    # no pseudo-bigram row survives: every row is a real (w1, w2) pair
    assert all(r["w2"] is not None for r in kn)
    assert {(r["w1"], r["w2"]) for r in kn} == {
        ("two", "words"),
        ("a", "a"),
        ("a", "much"),
        ("much", "longer"),
        ("longer", "document"),
        ("document", "with"),
        ("with", "enough"),
        ("enough", "words"),
        ("words", "and"),
        ("and", "characters"),
    }


def test_graph_index_build_query_prune_and_recall(
    spark, sf_dir, tmp_path, topk_ids
):
    """Persisted graph-ANN lifecycle (r9 — the VERDICT r8 serve-path
    gap): build the NN-Descent graph ONCE into a bucket-partitioned
    edge+vector layout, then beam-probe it. The probe's edge scan
    must actually PRUNE buckets (runtime numFiles < total), recall@10
    must meet the in-query llm_sim_ann_graph floor, and a rerun must
    be bit-identical."""
    from osm_airflow_spark.llm.similarity import (
        build_graph_index,
        query_graph_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index_dir = str(tmp_path / "graph")
    build_graph_index(e, index_dir, k=8, rounds=2, n_buckets=8)

    edges = spark.read.parquet(f"{index_dir}/edges")
    assert edges.select("vec_id").distinct().count() == e.count()
    per_node = edges.groupBy("vec_id").count().agg(F.max("count")).first()[0]
    assert per_node <= 8  # k-bounded out-degree

    qvec = e.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    got = query_graph_index(
        spark, index_dir, qvec, beam_w=24, hops=6, topk=10, exclude_ids=(0,)
    )
    rows = got.collect()
    assert len(rows) == 10 and all(r["vec_id"] != 0 for r in rows)
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)

    # bucket pruning on a single-bucket probe: the edge read for one
    # beam id touches fewer files than the whole edge table
    probe = (
        spark.read.parquet(f"{index_dir}/edges")
        .where(F.col("bucket").isin([rows[0]["vec_id"] % 8]))
    )
    probe.collect()  # materialize THIS DataFrame's queryExecution
    scan = probe._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    n_read = scan.metrics().apply("numFiles").value()
    n_total = len(spark.read.parquet(f"{index_dir}/edges").inputFiles())
    assert 0 < n_read < n_total

    gt = set(topk_ids)
    recall = len({r["vec_id"] for r in rows} & gt) / len(gt)
    assert recall >= _floor_for(ANN_RECALL_FLOORS["llm_sim_ann_graph"], sf_dir), recall

    again = query_graph_index(
        spark, index_dir, qvec, beam_w=24, hops=6, topk=10, exclude_ids=(0,)
    ).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_zipf_fit_recovers_planted_power_law(spark, tmp_path):
    """r9: on a corpus PLANTED with freq(r) = floor(2000/r) the fitted
    exponent must recover s ~ 1 with high R^2 (the fixture corpus is
    near-uniform, so the hash gate alone never exercises a true power
    law), and Spark must equal the DuckDB oracle on this corpus too."""
    import duckdb

    words = [f"w{i:02d}" for i in range(1, 26)]
    toks = []
    for r, w in enumerate(words, start=1):
        toks.extend([w] * (2000 // r))
    # spread deterministically over 10 docs
    docs = [(i, " ".join(toks[i::10])) for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )

    got = QUERIES["llm_zipf_fit"](spark, str(tmp_path)).collect()[0]
    want = con.execute(ORACLES["llm_zipf_fit"]).fetchone()
    assert (got["n_words"], got["zipf_exponent"], got["intercept"],
            got["r_squared"]) == want
    assert got["n_words"] == 25
    assert 0.9 < got["zipf_exponent"] < 1.1, got["zipf_exponent"]
    assert got["r_squared"] > 0.98


def test_embed_covariance_matches_numpy(spark, sf_dir):
    """r9: the exact covariance key must agree with a direct numpy
    covariance of the same embeddings (tolerance bounded by the 6-dp
    term pre-round: |err| <= ~1e-6 per cell), with exactly the
    dims*(dims+1)/2 upper-triangle cells."""
    import numpy as np

    from osm_airflow_spark.io import load_table

    e = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").collect()
    x = np.array([r["embedding"] for r in e], dtype=np.float64)
    ref = np.cov(x, rowvar=False, bias=True)  # population covariance

    rows = QUERIES["llm_embed_covariance"](spark, sf_dir).collect()
    d = x.shape[1]
    assert len(rows) == d * (d + 1) // 2
    worst = max(
        abs(r["cov"] - ref[r["dim_i"] - 1, r["dim_j"] - 1]) for r in rows
    )
    assert worst < 5e-6, worst


def test_embed_pca_whitens(spark, sf_dir):
    """r9: the PCA-whitening projection's invariants — component
    scores have ~unit variance and ~zero cross-covariance (the point
    of whitening), the kept eigenvalues are descending, and the key
    is deterministic across reruns (sign canonicalization makes eigh
    reproducible)."""
    import numpy as np

    from osm_airflow_spark.llm.similarity import pca_whitening_model

    _, lams = pca_whitening_model(spark, sf_dir, k=4)
    assert lams == sorted(lams, reverse=True) and lams[-1] > 0

    rows = QUERIES["llm_embed_pca"](spark, sf_dir).collect()
    pcs = np.array([[r["pc1"], r["pc2"], r["pc3"], r["pc4"]] for r in rows])
    cov = np.cov(pcs, rowvar=False, bias=True)
    assert np.abs(np.diag(cov) - 1.0).max() < 1e-3, np.diag(cov)
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() < 1e-3, np.abs(off).max()

    again = QUERIES["llm_embed_pca"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_shot_boundaries_kernel_edges(spark):
    """r9 kernel edges for the decode-free shot detector: sub-2-frame
    payloads emit nothing; identical adjacent frames are never a
    boundary (SAD 0); a planted hard cut is flagged at the index of
    the frame that OPENS the new shot with the exact integer SAD."""
    from osm_airflow_spark.llm.multimodal import shot_boundaries

    flat = bytes([10] * 64)
    bright = bytes([200] * 64)
    media = spark.createDataFrame(
        [
            (1, bytes([1] * 100)),            # one full frame only
            (2, flat + flat + flat),          # static scene
            (3, flat + flat + bright),        # cut opens at frame 2
        ],
        "media_id long, payload binary",
    )
    rows = [tuple(r) for r in shot_boundaries(media).collect()]
    assert all(r[0] != 1 for r in rows)
    assert all(r[0] != 2 for r in rows)
    assert rows == [(3, 2, 64 * 190)]


def test_corpus_divergence_semantics_on_planted_sources(spark, tmp_path):
    """r9: JS-divergence invariants the hash gate cannot see — on a
    planted corpus where sources A and B share one word distribution
    and source C is a disjoint vocabulary, A and B must sit near 0
    (they ARE most of the corpus mix) and C far above them; all
    values within [0, ln 2]; and Spark must equal the DuckDB oracle
    on this corpus too."""
    import math

    import duckdb

    common = "alpha beta gamma delta " * 25
    rows = (
        [(i, "A", common) for i in range(10)]
        + [(i + 10, "B", common) for i in range(10)]
        + [(21, "C", "zeta eta theta iota " * 25)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )

    got = {
        r["source"]: (r["n_tokens"], r["js_divergence"])
        for r in QUERIES["llm_corpus_divergence"](spark, str(tmp_path)).collect()
    }
    want = {
        s: (n, js)
        for s, n, js in con.execute(ORACLES["llm_corpus_divergence"]).fetchall()
    }
    assert got == want
    ln2 = math.log(2)
    assert all(0.0 <= js <= ln2 + 1e-9 for _, js in got.values())
    # A and B share a distribution -> identical small divergence (only
    # C's 1/21 share of the corpus mix separates them from 0)
    assert got["A"][1] == got["B"][1] < 0.05
    assert got["C"][1] > 0.5  # disjoint vocabulary: near ln 2
    assert got["C"][1] > 10 * got["A"][1]


def test_dedup_fingerprint_candidates_are_true_near_dups(spark, sf_dir):
    """r9: winnowing-overlap candidates are verified against the EXACT
    quantity the fingerprints sample — shared char 8-grams (the
    base-101 polynomial is injective on 8 ASCII chars: any digit
    delta is bounded by 90 < 101, so a nonzero difference cannot
    cancel — shared hash == shared gram). Every candidate pair must
    truly share >= shared_fp distinct 8-grams, and the planted
    strong near-dup pairs (word-shingle Jaccard >= 0.8) must be
    recalled in full (df cap 25 = the measured recall knee). Also
    pins the plan-shape fix: seconds, not the 17-minute
    InferFiltersFromGenerate blowup (SCALE.md r9)."""
    import time

    from osm_airflow_spark.io import load_table
    from osm_airflow_spark.llm.dedup import shingle_array

    t0 = time.time()
    got = {
        (r["doc_a"], r["doc_b"]): r["shared_fp"]
        for r in QUERIES["llm_dedup_fingerprint"](spark, sf_dir).collect()
    }
    assert time.time() - t0 < 120
    assert got and all(s >= 5 for s in got.values())
    assert all(a < b for a, b in got)

    involved = {i for p_ in got for i in p_}
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isin(sorted(involved)))
        .collect()
    }

    def grams(t):
        return {t[i : i + 8] for i in range(len(t) - 7)}

    for (da, db), shared in got.items():
        inter = len(grams(texts[da]) & grams(texts[db]))
        assert inter >= shared, (da, db, shared, inter)

    # recall on the planted strong pairs (word-shingle Jaccard >= 0.8)
    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.split("text", " ").alias("words")).select(
        "doc_id", F.array_distinct(shingle_array("words", 3)).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("da"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("db"), F.col("sh").alias("sb"))
    jac = F.size(F.array_intersect("sa", "sb")).cast("double") / F.size(
        F.array_union("sa", "sb")
    )
    strong = {
        (r["da"], r["db"])
        for r in a.crossJoin(b)
        .where(F.col("da") < F.col("db"))
        .select("da", "db", jac.alias("j"))
        .where(F.col("j") >= 0.8)
        .collect()
    }
    assert strong
    recall = len(strong & set(got)) / len(strong)
    assert recall == 1.0, recall


def test_embed_outliers_flags_planted_corruption(spark, sf_dir):
    """r9: a PLANTED corrupted vector (one coordinate blown up — the
    classic ingest-corruption shape) must be flagged by the outlier
    screen, and on the clean fixture the flag rate must be the
    calibrated tail (~5%), never the majority."""
    from osm_airflow_spark.io import load_table
    import osm_airflow_spark.llm.similarity as sim

    rows = QUERIES["llm_embed_outliers"](spark, sf_dir).collect()
    rate = sum(r["is_outlier"] for r in rows) / len(rows)
    assert 0.0 < rate < 0.2, rate
    assert all(r["dist2"] >= 0 for r in rows)

    e = load_table(spark, sf_dir, "embeddings")
    corrupt = e.where(F.col("vec_id") == 3).select(
        F.lit(990001).alias("vec_id"),
        "label",
        F.transform(
            "embedding", lambda x: (x * 5.0).cast("float")
        ).alias("embedding"),
    )
    union = e.unionByName(corrupt.select(*e.columns))

    orig = sim.load_table
    sim.load_table = lambda sp, sd, t: union if t == "embeddings" else orig(sp, sd, t)
    try:
        flagged = {
            r["vec_id"]: r["is_outlier"]
            for r in QUERIES["llm_embed_outliers"](spark, sf_dir).collect()
        }
    finally:
        sim.load_table = orig
    assert flagged[990001] is True


def test_graph_index_incremental_add(spark, sf_dir, tmp_path, topk_ids):
    """r9: HNSW-shape incremental insert — build on 80% of vectors,
    batch-add the rest. The vectors layout must cover the full
    corpus, every added node must have bidirectional links (that is
    what makes it reachable), a query AT an added vector must return
    it first (self-recall through the augmented graph), and the
    augmented index must still meet the graph recall floor."""
    from osm_airflow_spark.llm.similarity import (
        add_to_graph_index,
        build_graph_index,
        query_graph_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.where(F.col("vec_id") % 10 < 8)
    delta = e.where(F.col("vec_id") % 10 >= 8)
    index_dir = str(tmp_path / "graph-inc")
    build_graph_index(base, index_dir, k=8, rounds=2, n_buckets=8)
    add_to_graph_index(delta, index_dir, beam_w=8, hops=3, k=8)

    vecs = spark.read.parquet(f"{index_dir}/vectors")
    assert vecs.count() == e.count()
    assert vecs.select("vec_id").distinct().count() == e.count()

    edges = spark.read.parquet(f"{index_dir}/edges")
    delta_ids = {r["vec_id"] for r in delta.select("vec_id").collect()}
    out_srcs = {r["vec_id"] for r in edges.select("vec_id").distinct().collect()}
    in_dsts = {r["nbr"] for r in edges.select("nbr").distinct().collect()}
    assert delta_ids <= out_srcs and delta_ids <= in_dsts  # bidirectional

    probe = delta.orderBy("vec_id").limit(1).collect()[0]
    got = query_graph_index(
        spark, index_dir, probe["embedding"], beam_w=24, hops=6, topk=1
    ).collect()
    assert got[0]["vec_id"] == probe["vec_id"]  # cos(v, v) = 1 tops the list

    qvec = e.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    rows = query_graph_index(
        spark, index_dir, qvec, beam_w=24, hops=6, topk=10, exclude_ids=(0,)
    ).collect()
    gt = set(topk_ids)
    recall = len({r["vec_id"] for r in rows} & gt) / len(gt)
    assert recall >= _floor_for(ANN_RECALL_FLOORS["llm_sim_ann_graph"], sf_dir), recall


def test_eval_rank_metrics_invariants_and_guards(spark, sf_dir, tmp_path):
    """nDCG/MRR/P@k/R@k invariants on the real fixture, plus the
    degenerate-corpus guards (no relevant docs at all) proven
    engine-identical on the short-docs fixture — that corpus contains
    none of the query terms, so every grade is 0 and the key must
    emit NULL ndcg / 0.0 mrr in BOTH engines rather than divide by
    zero."""
    row = QUERIES["llm_eval_rank_metrics"](spark, sf_dir).collect()[0]
    assert row["n_retrieved"] == 20
    assert 0 <= row["n_rel_top"] <= row["n_retrieved"]
    assert row["n_rel_top"] <= row["n_rel_corpus"]
    assert row["prec_at_k"] == row["n_rel_top"] / row["n_retrieved"]
    assert 0.0 <= row["mrr"] <= 1.0
    assert row["dcg_at_k"] <= row["idcg_at_k"]
    assert row["ndcg_at_k"] is None or 0.0 <= row["ndcg_at_k"] <= 1.0
    # BM25 ranks relevant docs up: nDCG of the BM25 ordering should
    # beat the expected nDCG of a random ordering by a wide margin.
    assert row["ndcg_at_k"] is not None and row["ndcg_at_k"] > 0.5

    short_dir, con = _write_short_docs(spark, tmp_path)
    got = QUERIES["llm_eval_rank_metrics"](spark, short_dir).collect()[0]
    want = con.execute(ORACLES["llm_eval_rank_metrics"]).fetchone()
    assert tuple(got) == want
    assert got["n_rel_corpus"] == 0 and got["mrr"] == 0.0
    assert got["ndcg_at_k"] is None and got["rec_at_k"] is None


def test_eval_auc_matches_pure_python_midrank_formula(spark, sf_dir):
    """Independent recompute: collect (score, label) via DuckDB's CTE
    (already proven equal to Spark's by the oracle gate) and compute
    AUC with the classic sorted-midrank formula in pure Python —
    guards against Spark and the SQL oracle sharing one algebraic
    mistake in the rank-sum identity."""
    import duckdb

    row = QUERIES["llm_eval_auc"](spark, sf_dir).collect()[0]
    import os

    con = duckdb.connect()
    p = f"{sf_dir}/documents.parquet"
    if os.path.isdir(p):
        p = f"{p}/*.parquet"
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')"
    )

    sql = ORACLES["llm_eval_auc"]
    labeled_sql = sql[: sql.index("by_score")].rstrip().rstrip(",")
    pairs = con.execute(
        labeled_sql + " SELECT s, y FROM labeled"
    ).fetchall()
    scores = sorted({s for s, _ in pairs})
    pos = {s: 0 for s in scores}
    neg = {s: 0 for s in scores}
    for s, y in pairs:
        (pos if y else neg)[s] += 1
    p_tot = sum(pos.values())
    n_tot = sum(neg.values())
    num = 0.0
    neg_below = 0
    for s in scores:
        num += pos[s] * (neg_below + neg[s] / 2.0)
        neg_below += neg[s]
    want = num / (p_tot * n_tot)
    assert row["n_pos"] == p_tot and row["n_neg"] == n_tot
    assert abs(row["auc"] - want) < 1e-12
    assert 0.5 < row["auc"] <= 1.0  # the logit tracks the heuristic


def test_eval_bleu_kernel_against_pure_python(spark, tmp_path):
    """Third-implementation check on the short-docs fixture: clipped
    n-gram precisions recomputed with collections.Counter from the
    same candidate/reference definition must equal the key's p1..p4
    exactly, and bleu must equal round(exp(log_bleu), 6)."""
    import math
    from collections import Counter

    short_dir, con = _write_short_docs(spark, tmp_path)
    got = QUERIES["llm_eval_bleu"](spark, short_dir).collect()[0]
    want = con.execute(ORACLES["llm_eval_bleu"]).fetchone()
    assert tuple(got) == want

    docs = [r[0] for r in con.execute("SELECT text FROM documents").fetchall()]
    m = {n: 0 for n in (1, 2, 3, 4)}
    t = {n: 0 for n in (1, 2, 3, 4)}
    cand_len = ref_len = 0
    for text in docs:
        rw = text.split(" ")
        cw = [w for i, w in enumerate(rw) if (i + 1) % 7 != 0]
        ref_len += len(rw)
        cand_len += len(cw)
        for n in (1, 2, 3, 4):
            cg = Counter(
                " ".join(cw[i : i + n]) for i in range(len(cw) - n + 1)
            )
            rg = Counter(
                " ".join(rw[i : i + n]) for i in range(len(rw) - n + 1)
            )
            m[n] += sum(min(c, rg[g]) for g, c in cg.items())
            t[n] += max(len(cw) - n + 1, 0)
    assert got["cand_tokens"] == cand_len and got["ref_tokens"] == ref_len
    assert got["p1"] == m[1] / t[1]
    for n in (2, 3, 4):
        assert got[f"p{n}"] == (m[n] + 1) / (t[n] + 1)
    if got["log_bleu"] is not None:
        assert got["bleu"] == round(math.exp(got["log_bleu"]), 6)


def test_eval_bleu_fixture_sanity(spark, sf_dir):
    """On the real corpus the dropped-word candidate must sit strictly
    inside (0, 1): shorter than the reference (negative brevity term)
    yet with high unigram precision (every kept word appears in the
    reference)."""
    row = QUERIES["llm_eval_bleu"](spark, sf_dir).collect()[0]
    assert row["cand_tokens"] < row["ref_tokens"]
    assert row["p1"] == 1.0  # kept words are a sub-multiset of ref
    assert 0.0 < row["bleu"] < 1.0
    assert row["log_bleu"] < 0.0


def test_graph_index_compaction_prunes_and_preserves_recall(
    spark, sf_dir, tmp_path, topk_ids
):
    """After two insert batches bloat the edge table, compaction must
    (a) cut it back to ~fresh-build size with per-source fan-out <=
    k plus at most the reachability keep-alives, (b) keep every node
    reachable as SOME edge target, and (c) preserve the query path:
    self-recall of inserted nodes and the recall floor vs brute
    force."""
    from osm_airflow_spark.llm.similarity import (
        add_to_graph_index,
        build_graph_index,
        compact_graph_index,
        query_graph_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.where(F.col("vec_id") % 10 < 8)
    d1 = e.where(F.col("vec_id") % 10 == 8)
    d2 = e.where(F.col("vec_id") % 10 == 9)
    index_dir = str(tmp_path / "graph-compact")
    build_graph_index(base, index_dir, k=8, rounds=2, n_buckets=8)
    add_to_graph_index(d1, index_dir, beam_w=8, hops=3, k=8)
    add_to_graph_index(d2, index_dir, beam_w=8, hops=3, k=8)

    before_targets = {
        r["nbr"]
        for r in spark.read.parquet(f"{index_dir}/edges")
        .select("nbr")
        .distinct()
        .collect()
    }
    stats = compact_graph_index(spark, index_dir)
    assert stats["edges_after"] < stats["edges_before"]

    edges = spark.read.parquet(f"{index_dir}/edges")
    # distinct edges only
    assert edges.count() == edges.select("vec_id", "nbr").distinct().count()
    # fan-out: k out-edges plus the best-incoming keep-alives a
    # source happens to anchor (bounded in total by n, loose per
    # node); total edge volume must respect n*(k+1)
    n_nodes = e.count()
    assert edges.count() <= n_nodes * (8 + 1)
    # compaction must not shrink the reachable-target set (a fresh
    # NN-Descent build does not guarantee in-degree >= 1 for every
    # node, so compare against the PRE-compaction target set)
    after_targets = {r["nbr"] for r in edges.select("nbr").distinct().collect()}
    assert after_targets == before_targets
    assert edges.select("vec_id").distinct().count() == n_nodes

    # the compaction serving trade (docstring): pruned volume needs
    # a wider beam — beam ~3k / 6 hops restores inserted-node
    # self-recall that beam 12 / 4 hops loses post-compaction
    probe = d2.orderBy("vec_id").limit(1).collect()[0]
    got = query_graph_index(
        spark, index_dir, probe["embedding"], beam_w=24, hops=6, topk=1
    ).collect()
    assert got[0]["vec_id"] == probe["vec_id"]

    qvec = e.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    rows = query_graph_index(
        spark, index_dir, qvec, beam_w=24, hops=6, topk=10, exclude_ids=(0,)
    ).collect()
    gt = set(topk_ids)
    recall = len({r["vec_id"] for r in rows} & gt) / len(gt)
    assert recall >= _floor_for(ANN_RECALL_FLOORS["llm_sim_ann_graph"], sf_dir), recall


def test_graph_index_compaction_recovers_from_crashes(spark, sf_dir, tmp_path):
    """Both crash windows of the rename dance: (a) stage written,
    live dir renamed aside, crash before the stage lands — next call
    restores the aside copy; (b) compacted, crash before deleting
    the aside copy — next call sweeps it. Either way a subsequent
    compaction succeeds and the index stays queryable."""
    import os
    import shutil

    from osm_airflow_spark.llm.similarity import (
        build_graph_index,
        compact_graph_index,
        query_graph_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index_dir = str(tmp_path / "graph-crash")
    build_graph_index(e, index_dir, k=8, rounds=1, n_buckets=8)
    path = f"{index_dir}/edges"

    # (a) mid-rename crash: live dir missing, _old present
    os.rename(path, f"{path}_compact_old")
    stats = compact_graph_index(spark, index_dir)
    assert stats["edges_after"] > 0
    assert os.path.exists(path) and not os.path.exists(f"{path}_compact_old")

    # (b) pre-delete crash: stale _old left behind
    shutil.copytree(path, f"{path}_compact_old")
    stats = compact_graph_index(spark, index_dir)
    assert os.path.exists(path) and not os.path.exists(f"{path}_compact_old")

    qvec = e.where(F.col("vec_id") == 1).collect()[0]["embedding"]
    got = query_graph_index(spark, index_dir, qvec, beam_w=8, hops=3, topk=1)
    assert got.collect()[0]["vec_id"] == 1


def test_source_profile_planted_duplicates(spark, tmp_path):
    """A source stuffed with copy-pasted docs must show the low
    distinct ratio; the clean source stays at 1.0; token accounting
    is exact."""
    rows = [
        (1, "the same doc again and again", "en", "dupsrc", 28),
        (2, "the same doc again and again", "en", "dupsrc", 28),
        (3, "the same doc again and again", "en", "dupsrc", 28),
        (4, "a different document entirely", "en", "dupsrc", 29),
        (5, "first clean document here", "en", "cleansrc", 25),
        (6, "second clean document there", "en", "cleansrc", 27),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["source"]: r
        for r in QUERIES["llm_source_profile"](spark, str(tmp_path)).collect()
    }
    assert got["dupsrc"]["n_docs"] == 4
    assert got["dupsrc"]["distinct_ratio"] == 2 / 4
    assert got["cleansrc"]["distinct_ratio"] == 1.0
    assert got["dupsrc"]["total_tokens"] == 6 * 3 + 4
    assert got["cleansrc"]["mean_doc_len"] == 4.0


def test_eval_rank_metrics_empty_corpus_matches_oracle(spark, tmp_path):
    """r9 self-review: the IDCG spine must not feed Spark's
    descending sequence(1, 0) on an empty corpus — both engines must
    agree row-for-row (NULL metrics, zero counts)."""
    import duckdb

    df = spark.createDataFrame([], "doc_id long, text string")
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    got = QUERIES["llm_eval_rank_metrics"](spark, str(tmp_path)).collect()
    want = con.execute(ORACLES["llm_eval_rank_metrics"]).fetchall()
    assert len(got) == len(want) == 1
    assert tuple(got[0]) == want[0]
    assert got[0]["n_retrieved"] == 0 and got[0]["ndcg_at_k"] is None


def test_eval_rouge_matches_pure_python(spark, tmp_path):
    """Counter recompute of ROUGE-1/2 P/R/F on the short-docs
    fixture, plus the precision identity with BLEU's p1 on the same
    pairing (same clipped unigram counts over the same candidates)."""
    from collections import Counter

    short_dir, con = _write_short_docs(spark, tmp_path)
    got = QUERIES["llm_eval_rouge"](spark, short_dir).collect()[0]
    want = con.execute(ORACLES["llm_eval_rouge"]).fetchone()
    assert tuple(got) == want

    docs = [r[0] for r in con.execute("SELECT text FROM documents").fetchall()]
    m = {1: 0, 2: 0}
    t = {1: 0, 2: 0}
    rr = {1: 0, 2: 0}
    for text in docs:
        rw = text.split(" ")
        cw = [w for i, w in enumerate(rw) if (i + 1) % 7 != 0]
        for n in (1, 2):
            cg = Counter(" ".join(cw[i:i + n]) for i in range(len(cw) - n + 1))
            rg = Counter(" ".join(rw[i:i + n]) for i in range(len(rw) - n + 1))
            m[n] += sum(min(c, rg[g]) for g, c in cg.items())
            t[n] += max(len(cw) - n + 1, 0)
            rr[n] += max(len(rw) - n + 1, 0)
    assert got["m1"] == m[1] and got["m2"] == m[2]
    assert got["rouge1_p"] == m[1] / t[1]
    assert got["rouge1_r"] == m[1] / rr[1]
    assert got["rouge2_r"] == (m[2] / rr[2] if rr[2] else None)

    bleu = QUERIES["llm_eval_bleu"](spark, short_dir).collect()[0]
    assert got["rouge1_p"] == bleu["p1"]  # identical clipped unigrams


def test_mm_image_ahash_planted_near_dups(spark, tmp_path):
    """Hand-built hash algebra: a uniform raster hashes to all-ones
    (64g >= sum ties -> 1); one darkened sampled pixel flips exactly
    its own bit (the mean drop keeps every other bit at 1); an
    half-split raster band-collides but fails the Hamming cut.
    Non-ASCII docs are fenced out by the byte-vs-char guard."""
    rows = [
        (1, "m" * 300),           # all bits 1
        (2, "m" * 300),           # exact dup -> hamming 0
        (3, "a" + "m" * 299),     # one sampled pixel darker -> hamming 1
        # half-dark/half-bright raster: its all-ones bottom band DOES
        # collide with the uniform docs (candidate generated), but
        # Hamming 40 >> 3, so the exact filter must drop it
        (4, "a" * 150 + "z" * 150),
        (5, "mé" + "m" * 298),    # non-ASCII: excluded by the guard
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["media_id_1"], r["media_id_2"]): r["hamming"]
        for r in QUERIES["mm_image_ahash"](spark, str(tmp_path)).collect()
    }
    assert got == {(1, 2): 0, (1, 3): 1, (2, 3): 1}


def test_mixture_plan_temperature_properties(spark, tmp_path):
    """Planted skewed sources (head 6400 tokens, tail 100): sqrt
    temperature must LIFT the tail's share above proportional and
    CUT the head's below, shares must sum to 1, and budgeted rates
    must conserve the half-corpus token budget."""
    rows = []
    did = 0
    for i in range(64):  # head: 64 docs x 100 tokens
        rows.append((did, " ".join(["w"] * 100), "head"))
        did += 1
    rows.append((did, " ".join(["w"] * 100), "tail"))  # tail: 1 doc
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["source"]: r
        for r in QUERIES["llm_mixture_plan"](spark, str(tmp_path)).collect()
    }
    head, tail = got["head"], got["tail"]
    assert head["tokens_available"] == 6400 and tail["tokens_available"] == 100
    # sqrt temperature: 80 vs 10 -> shares 8/9 and 1/9
    assert abs(head["target_share"] - 8 / 9) < 1e-12
    assert abs(tail["target_share"] - 1 / 9) < 1e-12
    assert head["target_share"] < head["raw_share"]
    assert tail["target_share"] > tail["raw_share"]
    # budget conservation: sum(rate * avail) == 0.5 * total
    spent = sum(r["sampling_rate"] * r["tokens_available"] for r in got.values())
    assert abs(spent - 0.5 * 6500) < 1e-9
    # the tiny tail must be oversampled under this plan
    assert tail["oversampled"] and tail["sampling_rate"] > 1
    assert not head["oversampled"]


def test_mm_dedup_cluster_planted_chain(spark, tmp_path):
    """Planted transitive chain: docs 1,2 identical, doc 3 one sampled
    pixel off both -> one cluster {1,2,3}; the longest-text member
    must survive (doc 3 padded longer), others drop; an unrelated doc
    and a non-ASCII doc pass through as singletons."""
    rows = [
        (1, "m" * 300),
        (2, "m" * 300),
        (3, "a" + "m" * 305),     # hamming 1 to both, longer text
        (4, "a" * 150 + "z" * 150),  # band collision, hamming 40: no pair
        (5, "mé" + "m" * 298),    # non-ASCII: never hashed
    ]
    spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", "text", F.length("text").cast("long").alias("n_chars")
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["media_id"]: (r["cluster_id"], r["n_chars"])
        for r in QUERIES["mm_dedup_cluster"](spark, str(tmp_path)).collect()
    }
    # cluster {1,2,3} -> survivor 3 (306 chars) under label 1
    assert got == {3: (1, 306), 4: (4, 300), 5: (5, 300)}


def test_split_leakage_planted_cross_split_near_dup(spark, tmp_path):
    """Engineer a near-dup pair straddling splits: brute-force one
    word variant until the md5 prefixes land train vs val; the pair
    must surface with high Jaccard. An exact duplicate of the train
    doc must NOT surface (same hash, same split — the content-hash
    guarantee)."""
    import hashlib

    words = [f"tok{i}" for i in range(30)]
    base = " ".join(words)

    def pfx(t):
        return hashlib.md5(t.encode()).hexdigest()[:2]

    # base variant in train
    i = 0
    while not pfx(base) >= "1a":
        i += 1
        base = " ".join(words[:-1] + [f"tok29v{i}"])
    # near-dup (one word changed) in val
    j = 0
    near = None
    while near is None:
        j += 1
        cand = base.replace("tok5", f"alt{j}")
        if "0a" <= pfx(cand) < "1a":
            near = cand
    rows = [
        (1, base),
        (2, near),
        (3, base),  # exact dup of 1: same split, never a leak
        (4, " ".join(f"other{i}" for i in range(30))),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in QUERIES["llm_split_leakage"](spark, str(tmp_path)).collect()
    }
    assert set(got) == {(1, 2), (2, 3)}  # doc 3 == doc 1, so both leak vs 2
    r = got[(1, 2)]
    assert {r["split_a"], r["split_b"]} == {"train", "val"}
    assert r["jaccard"] == 29 / 31


def test_graph_index_batch_query_parity_and_recall(spark, sf_dir, tmp_path):
    """r10 — batched graph serving (the VERDICT r9 weak spot): N
    queries beam-search the persisted graph in hops-many joins, no
    per-query jobs. For a single query the batch path's beam dynamics
    are IDENTICAL to query_graph_index (same entry/beam/tie-break/hop
    budget) -> exact row parity; across 8 held-out-as-self queries
    the mean recall@10 vs brute force clears the graph floor."""
    from osm_airflow_spark.io import load_table
    from osm_airflow_spark.llm.similarity import (
        build_graph_index,
        cosine_expr,
        query_graph_index,
        query_graph_index_batch,
    )

    e = load_table(spark, sf_dir, "embeddings")
    index_dir = str(tmp_path / "graph")
    build_graph_index(e, index_dir, k=8, rounds=2, n_buckets=8)

    # single-query parity: same beam parameters -> same rows
    qvec = e.where(F.col("vec_id") == 0).first()["embedding"]
    single = query_graph_index(
        spark, index_dir, qvec, beam_w=24, hops=6, topk=10, exclude_ids=(0,)
    ).collect()
    one = e.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch_one = query_graph_index_batch(
        spark, index_dir, one, beam_w=24, hops=6, topk=10, exclude_self=True
    ).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in single] == [
        (r["vec_id"], r["cos_sim"]) for r in batch_one
    ]

    # batch recall: 8 indexed vectors as queries (self excluded)
    qs = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got_rows = query_graph_index_batch(
        spark, index_dir, qs, beam_w=24, hops=6, topk=10, exclude_self=True
    ).collect()
    got: dict[int, set] = {}
    for r in got_rows:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert set(got) == set(range(8))
    assert all(len(v) == 10 and q not in v for q, v in got.items())

    wk = PWindow.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    exact = (
        e.crossJoin(
            F.broadcast(
                qs.select("query_id", F.col("embedding").alias("qvec"))
            )
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id", cosine_expr("embedding", "qvec").alias("cos_sim")
        )
        .withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= 10)
    )
    gt: dict[int, set] = {}
    for r in exact.collect():
        gt.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(got[q] & gt[q]) / len(gt[q]) for q in gt]
    mean_recall = sum(recalls) / len(recalls)
    floor = _floor_for(ANN_RECALL_FLOORS["llm_sim_ann_graph"], sf_dir)
    assert mean_recall >= floor, f"mean recall@10 {mean_recall:.3f} < {floor}"


def test_eval_perplexity_matches_pure_python(spark, sf_dir, tmp_path):
    """llm_eval_perplexity: a third implementation (pure-Python
    Counter add-one bigram LM over the same content-hash splits)
    must reproduce vocab size, unseen count and avg_nll; smoothing
    sanity on a planted corpus where val bigrams are all unseen."""
    import collections
    import hashlib
    import math

    from osm_airflow_spark.io import load_table

    d = [
        (r["doc_id"], r["text"])
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    ]
    train_bg: collections.Counter = collections.Counter()
    ctx: collections.Counter = collections.Counter()
    vocab: set = set()
    val_bgs = []
    for _, text in d:
        pfx = hashlib.md5(text.encode()).hexdigest()[:2]
        w = text.split(" ")
        bgs = [f"{w[i]} {w[i+1]}" for i in range(len(w) - 1)]
        if pfx >= "1a":
            vocab.update(w)
            for bg in bgs:
                train_bg[bg] += 1
                ctx[bg.split(" ")[0]] += 1
        elif pfx >= "0a":
            val_bgs.extend(bgs)
    v = len(vocab)
    nlls = []
    unseen = 0
    for bg in val_bgs:
        c = train_bg.get(bg, 0)
        if c == 0:
            unseen += 1
        nlls.append(round(-math.log((c + 1) / (ctx.get(bg.split(" ")[0], 0) + v)), 6))
    # decimal-sum twin: 6dp terms sum exactly in float? no — use int micros
    total = sum(int(round(x * 1e6)) for x in nlls)
    want_avg = (total / 1e6) / len(val_bgs)

    got = QUERIES["llm_eval_perplexity"](spark, sf_dir).first()
    assert got["vocab_size"] == v
    assert got["n_val_instances"] == len(val_bgs)
    assert got["n_unseen"] == unseen
    assert abs(got["avg_nll"] - want_avg) < 1e-9
    assert got["perplexity"] == round(math.exp(got["avg_nll"]), 6)
    assert got["n_unseen"] > 0  # held-out eval genuinely meets unseen mass


def test_ivf_index_batch_query_consistency_and_recall(spark, sf_dir, tmp_path):
    """r10 — query_ivf_index_batch: N queries probe the persisted IVF
    in ONE plan. For each query the batch result must equal the
    single-probe query_ivf_index result at the same nprobe (same
    centroids, same tie-breaks), and the batch mean recall@10 vs
    brute force must clear the conservative floor."""
    from osm_airflow_spark.io import load_table
    from osm_airflow_spark.llm.similarity import (
        build_ivf_index,
        cosine_expr,
        query_ivf_index,
        query_ivf_index_batch,
    )

    e = load_table(spark, sf_dir, "embeddings")
    index_dir = str(tmp_path / "ivf")
    build_ivf_index(e, index_dir, k=8, iters=3)

    qs = e.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = {}
    for r in query_ivf_index_batch(spark, index_dir, qs, nprobe=3).collect():
        batch.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cos_sim"]))
    assert set(batch) == set(range(6))

    # single-probe parity per query (same nprobe): identical rows
    for r in qs.collect():
        single = [
            (i + 1, row["vec_id"], row["cos_sim"])
            for i, row in enumerate(
                query_ivf_index(
                    spark, index_dir, r["embedding"], nprobe=3, topk=10
                ).collect()
            )
        ]
        assert sorted(batch[r["query_id"]]) == single, r["query_id"]

    # recall floor vs brute force (queries are indexed vectors, so
    # the self-match is expected at rank 1 — exclude it both sides)
    wk = PWindow.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    exact = (
        e.crossJoin(
            F.broadcast(qs.select("query_id", F.col("embedding").alias("qv")))
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cosine_expr("embedding", "qv").alias("cos_sim"))
        .withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= 10)
    )
    gt: dict[int, set] = {}
    for r in exact.collect():
        gt.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len({v for (_, v, _) in batch[q] if v != q} & gt[q]) / len(gt[q])
        for q in gt
    ]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_template_detect_planted_clusters_vs_oracle(spark, tmp_path):
    """llm_template_detect returns ZERO rows on the fixtures (their
    31-word shared vocabulary has min df 25 — no rare slots exist),
    so the driver's hash check is trivially green there. This test
    supplies the non-trivial evidence: a planted corpus with two
    template families (shared scaffold, distinct rare fill-ins),
    exact-dup copies (must NOT count as a template), and unique docs
    — Spark's result must match BOTH the closed-form expectation AND
    DuckDB running the registered oracle SQL on the same parquet."""
    import duckdb

    from osm_airflow_spark.registry import all_oracles

    docs = []
    # template family A: 6 docs, scaffold shared, one rare word each
    for i in range(6):
        docs.append((i, f"dear customer your order uniqA{i} has shipped today"))
    # template family B: 3 docs
    for i in range(3):
        docs.append((10 + i, f"invoice total due uniqB{i} please pay promptly now"))
    # exact dups: same text twice -> one distinct text -> NOT a template
    docs.append((20, "identical boilerplate notice applies here always ok fine"))
    docs.append((21, "identical boilerplate notice applies here always ok fine"))
    # unique one-off docs (no shared scaffold)
    docs.append((30, "completely different content with various words inside it"))
    docs.append((31, "another unrelated document that shares nothing structural"))
    df = spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("src0").alias("source"), F.length("text").alias("n_chars"),
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    rows = QUERIES["llm_template_detect"](spark, str(tmp_path)).collect()
    assert len(rows) == 2
    assert rows[0]["n_docs"] == 6 and rows[0]["n_distinct_texts"] == 6
    assert rows[0]["example_doc"] == 0
    assert rows[1]["n_docs"] == 3 and rows[1]["n_distinct_texts"] == 3
    assert rows[1]["example_doc"] == 10

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    want = con.execute(all_oracles()["llm_template_detect"]).fetchall()
    got = [(r["skeleton"], r["n_docs"], r["n_distinct_texts"], r["example_doc"])
           for r in rows]
    assert got == [tuple(w) for w in want]


def test_graph_index_batch_single_vector_exclude_self_raises(spark, tmp_path):
    """r10 ADVICE: an index holding ONLY the entry vector has no
    candidate to seed the excluded-entry query from — that must be a
    loud ValueError, not a NULL seed silently returning zero rows."""
    from osm_airflow_spark.llm.similarity import query_graph_index_batch

    index_dir = str(tmp_path / "solo")
    spark.createDataFrame(
        [(7, [1.0, 0.0], 7 % 8)], "vec_id long, vec array<double>, bucket int"
    ).write.partitionBy("bucket").parquet(f"{index_dir}/vectors")
    # one self-loop edge: an all-empty parquet dir has no footer to
    # infer schema from; the guard must fire before any beam hop
    spark.createDataFrame(
        [(7, 7, 1.0, 7 % 8)], "vec_id long, nbr long, cos double, bucket int"
    ).write.partitionBy("bucket").parquet(f"{index_dir}/edges")
    spark.createDataFrame(
        [(7, 8, 8)], "entry_id long, n_buckets int, k int"
    ).coalesce(1).write.parquet(f"{index_dir}/meta")

    qs = spark.createDataFrame(
        [(7, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="non-entry vector"):
        query_graph_index_batch(spark, index_dir, qs, exclude_self=True)


def test_kneser_ney_matches_pure_python_and_continuation_effect(spark, tmp_path):
    """r11 — plant a corpus with the canonical 'Francisco' shape:
    'francisco' is frequent but only ever follows 'san', while 'the'
    follows many distinct words. Replicate interpolated KN (D=0.75)
    exactly in pure python, assert per-bigram equality, the per-
    context mass bound, and the continuation effect (for a fresh
    context with equal raw counts, 'the' outranks 'francisco')."""
    from collections import Counter

    texts = (
        ["san francisco"] * 4
        + ["in the", "on the", "at the"]
        + ["zq the zq francisco"]
    )
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    rows = QUERIES["llm_kneser_ney"](spark, str(tmp_path)).collect()
    got = {(r["w1"], r["w2"]): r for r in rows}

    bc: Counter = Counter()
    for t in texts:
        ws = t.split(" ")
        for i in range(len(ws) - 1):
            bc[(ws[i], ws[i + 1])] += 1
    c1: Counter = Counter()
    succ: Counter = Counter()
    pred: Counter = Counter()
    for (a, b), c in bc.items():
        c1[a] += c
        succ[a] += 1
        pred[b] += 1
    n_types = len(bc)

    def kn(a: str, b: str) -> float:
        return max(bc[(a, b)] - 0.75, 0.0) / c1[a] + (
            0.75 * succ[a] / c1[a]
        ) * (pred[b] / n_types)

    assert set(got) == set(bc)
    for (a, b), r in got.items():
        assert r["n_bigram"] == bc[(a, b)]
        assert r["n_context"] == c1[a]
        assert (r["n_succ"], r["n_pred"]) == (succ[a], pred[b])
        assert abs(r["kn_prob"] - kn(a, b)) < 1e-12
        assert 0.0 < r["kn_prob"] < 1.0
    # observed-successor mass never exceeds 1 (the unseen-w2 reserve)
    per_ctx: Counter = Counter()
    for (a, _b), r in got.items():
        per_ctx[a] += r["kn_prob"]
    assert all(s < 1.0 + 1e-9 for s in per_ctx.values())
    # continuation effect: same context, same raw count (zq->the and
    # zq->francisco both occur once), but 'the' follows 4 distinct
    # words vs francisco's 2 -> KN ranks it higher; raw MLE ties
    assert got[("zq", "the")]["n_bigram"] == got[("zq", "francisco")]["n_bigram"]
    assert got[("zq", "the")]["kn_prob"] > got[("zq", "francisco")]["kn_prob"]


def test_eval_agreement_matches_pure_python_2x2(spark, tmp_path):
    """r11 — plant documents hitting all four cells of the 2x2 rater
    table with asymmetric disagreements, replicate both raters and
    kappa/McNemar exactly in pure python, and compare."""
    STOPS = ("the", "a", "of", "and", "in", "to", "is")
    cell_texts = {
        "a": "the horses gallop across the meadow",  # both keep
        "b": "the a of and in to is the a of",       # A only
        "c": "horses gallop across green meadows quickly",  # B only
        "d": "zz qq",                                 # both drop
    }
    reps = {"a": 10, "b": 7, "c": 2, "d": 5}

    def rate(text):
        ws = text.split(" ")
        nw, sh = len(ws), sum(w in STOPS for w in ws)
        nc = len(text.replace(" ", ""))
        ka = nw >= 5 and sh * 10 >= nw
        kb = 3 * nw <= nc <= 8 * nw and len(text) >= 20
        return ka, kb

    want_cell = {"a": (True, True), "b": (True, False),
                 "c": (False, True), "d": (False, False)}
    for cell, t in cell_texts.items():
        assert rate(t) == want_cell[cell], (cell, rate(t))

    rows, did = [], 0
    for cell, t in cell_texts.items():
        for _ in range(reps[cell]):
            rows.append((did, t, len(t)))
            did += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = QUERIES["llm_eval_agreement"](spark, str(tmp_path)).first()
    a, b, c, d = reps["a"], reps["b"], reps["c"], reps["d"]
    n = a + b + c + d
    assert (got["n_docs"], got["both_keep"], got["only_a"],
            got["only_b"], got["both_drop"]) == (n, a, b, c, d)
    chance = (a + b) * (a + c) + (c + d) * (b + d)
    kappa = (n * (a + d) - chance) / (n * n - chance)
    mcnemar = (b - c) ** 2 / (b + c)
    assert abs(got["kappa"] - kappa) < 1e-9
    assert abs(got["mcnemar_stat"] - mcnemar) < 1e-9
    assert bool(got["mcnemar_significant"]) == (mcnemar > 3.841)


def test_udf_table_matches_jvm_shingle_explode(spark, sf_dir, tmp_path):
    """r11 — the J6 UDTF surface key must agree row-for-row with the
    production JVM-side shingle explode on the real fixture, and a
    sub-n-word document must produce zero rows (not crash)."""
    from osm_airflow_spark.io import load_table
    from osm_airflow_spark.llm.dedup import shingle_array

    got = {
        (r["doc_id"], r["pos"], r["gram"])
        for r in QUERIES["udf_table"](spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("words")
    )
    # shingle_array's short-doc fallback emits the whole doc as one
    # shingle; the UDTF emits nothing below n words — compare on the
    # >= 3-word docs where the two contracts coincide
    jvm = d.where(F.size("words") >= 3).select(
        "doc_id",
        F.posexplode(shingle_array("words", 3)).alias("pos", "gram"),
    )
    want = {(r["doc_id"], r["pos"], r["gram"]) for r in jvm.collect()}
    assert got == want and got

    spark.createDataFrame(
        [(1, "only two"), (2, "one two three four")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    short = QUERIES["udf_table"](spark, str(tmp_path)).collect()
    assert {r["doc_id"] for r in short} == {2}  # 2-word doc emits nothing
    assert [(r["pos"], r["gram"]) for r in sorted(short, key=lambda r: r["pos"])] == [
        (0, "one two three"), (1, "two three four")
    ]


def test_dedup_substring_planted_maximal_spans(spark, tmp_path):
    """r11 exact-substring dedup: a 60-char passage shared by two
    docs is recovered as one MAXIMAL span at the exact offsets in
    each (not 21 fragment grams); a 45-char self-repetition inside
    one doc yields both sites; unique docs and sub-K docs emit
    nothing. Fillers are sha256 streams, so no accidental 40-gram
    ever repeats."""
    import hashlib

    def filler(seed: str, n: int) -> str:
        out = []
        i = 0
        while sum(len(s) for s in out) < n:
            out.append(hashlib.sha256(f"{seed}:{i}".encode()).hexdigest())
            i += 1
        return "".join(out)[:n]

    shared = filler("shared-passage", 60)
    rep = filler("self-repeat", 45)
    doc_a = filler("a", 100) + shared + filler("a2", 80)
    doc_b = filler("b", 37) + shared + filler("b2", 20)
    doc_c = filler("c", 150)  # unique -> no spans
    doc_d = filler("d", 50) + rep + filler("d2", 60) + rep + filler("d3", 30)
    doc_e = filler("e", 30)  # shorter than K=40 -> skipped
    rows = [
        (0, doc_a), (1, doc_b), (2, doc_c), (3, doc_d), (4, doc_e),
    ]
    spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in QUERIES["llm_dedup_substring"](spark, str(tmp_path)).collect()
    }
    assert got == {
        (0, 100, 60),
        (1, 37, 60),
        (3, 50, 45),
        (3, 50 + 45 + 60, 45),
    }


def test_dedup_substring_cut_planted(spark, tmp_path):
    """r11 span-cut: byte-exact cleaned texts — shared passage cut
    from BOTH docs, untouched docs pass through, two disjoint anchor
    islands whose spans overlap are interval-merged before cutting,
    and a doc that is entirely one duplicated span collapses to ''."""
    import hashlib

    def filler(seed: str, n: int) -> str:
        out = []
        i = 0
        while sum(len(s) for s in out) < n:
            out.append(hashlib.sha256(f"{seed}:{i}".encode()).hexdigest())
            i += 1
        return "".join(out)[:n]

    shared = filler("shared", 60)
    a1, a2 = filler("a", 100), filler("a2", 80)
    b1, b2 = filler("b", 37), filler("b2", 20)
    c0 = filler("c", 150)
    # overlap case: Y[0:40] shared with G, Y[20:60] shared with H ->
    # two non-adjacent anchors in F (100 and 120), two islands, two
    # overlapping spans [100,140) + [120,160) -> merged [100,160)
    y = filler("y", 60)
    f1 = filler("f", 100)
    g1, g2 = filler("g", 30), filler("g2", 30)
    h1, h2 = filler("h", 10), filler("h2", 10)
    z = filler("z", 45)
    u1, u2 = filler("u", 25), filler("u2", 25)
    docs = {
        0: a1 + shared + a2,
        1: b1 + shared + b2,
        2: c0,
        3: f1 + y,
        4: g1 + y[0:40] + g2,
        5: h1 + y[20:60] + h2,
        6: z,
        7: u1 + z + u2,
        8: filler("short", 30),
    }
    spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_cut"])
        for r in QUERIES["llm_dedup_substring_cut"](spark, str(tmp_path)).collect()
    }
    assert got[0] == (a1 + a2, 60)
    assert got[1] == (b1 + b2, 60)
    assert got[2] == (c0, 0)
    assert got[3] == (f1, 60)  # merged overlapping spans cut all of y
    assert got[4] == (g1 + g2, 40)
    assert got[5] == (h1 + h2, 40)
    assert got[6] == ("", 45)  # total cut
    assert got[7] == (u1 + u2, 45)
    assert got[8] == (docs[8], 0)  # sub-K doc untouched


def test_dedup_substring_digest_form_equivalent(spark, sf_dir):
    """r11: the 128-bit-digest anchor form (the 100 TB shuffle-bytes
    variant) finds the IDENTICAL span set as the exact-string form on
    the bundled fixture — the documented-collision-negligible claim,
    demonstrated rather than asserted."""
    from osm_airflow_spark.llm.dedup import _duplicated_spans

    exact = {
        (r["doc_id"], r["s"], r["e"])
        for r in _duplicated_spans(spark, sf_dir).collect()
    }
    digest = {
        (r["doc_id"], r["s"], r["e"])
        for r in _duplicated_spans(spark, sf_dir, use_digest=True).collect()
    }
    assert exact and digest == exact


def test_dedup_substring_degenerate_identical_corpus(spark, tmp_path):
    """r11 skew probe: 200 IDENTICAL documents — every anchor gram is
    duplicated 200x (maximally hot groupBy keys, the boilerplate-gram
    skew case). The plan must complete promptly (partial aggregation
    absorbs hot counts map-side; AQE splits the skewed semi-join) and
    the semantics collapse cleanly: one full-document span per doc,
    and the cut key reduces every doc to ''."""
    text = ("the quick brown fox jumps over the lazy dog " * 7)[:300]
    spark.createDataFrame(
        [(i, text, "en", "src", len(text)) for i in range(200)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    spans = QUERIES["llm_dedup_substring"](spark, str(tmp_path)).collect()
    assert len(spans) == 200
    assert all((r["span_start"], r["span_len"]) == (0, 300) for r in spans)
    cut = QUERIES["llm_dedup_substring_cut"](spark, str(tmp_path)).collect()
    assert len(cut) == 200
    assert all(r["cleaned_text"] == "" and r["n_cut"] == 300 for r in cut)


def test_readability_known_texts(spark, tmp_path):
    """r12: hand-counted Flesch ingredients — vowel-group syllables
    with the 1-per-word floor, [.!?] sentence count with floor 1,
    and the exact score tree."""
    docs = [
        (1, "the cat sat"),              # 3 words, 1 sent, 3 syllables
        (2, "tsk tsk hmm"),              # vowel-less: floor -> 3 syllables
        (3, "go now. stop! why?"),       # 4 words, 3 sentences
        (4, "realization obviously"),    # vowel groups: 4 + 3
    ]
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r
        for r in QUERIES["llm_readability"](spark, str(tmp_path)).collect()
    }
    r1 = got[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (3, 1, 3)
    assert abs(r1["flesch"] - (206.835 - 1.015 * 3 - 84.6 * 1)) < 1e-12
    assert r1["readability_band"] == "easy"
    assert got[2]["n_syllables"] == 3  # floor applies per word
    r3 = got[3]
    assert (r3["n_words"], r3["n_sentences"]) == (4, 3)
    r4 = got[4]
    assert r4["n_words"] == 2 and r4["n_sentences"] == 1
    # realization -> ea,i,a,io (4 groups); obviously -> o,iou,y (3)
    assert r4["n_syllables"] == 7
    # more syllables per word pushes the score DOWN
    assert r4["flesch"] < r1["flesch"]


def test_chrf_matches_pure_python(spark, tmp_path):
    """Third implementation: recompute corpus chrF2 driver-side with
    Counter char n-grams and the same every-7th-word candidate rule;
    agree to 1e-12 (no transcendental anywhere in the metric)."""
    from collections import Counter

    docs = [
        (1, "the quick brown fox jumps over the lazy dog again today"),
        (2, "pack my box with five dozen liquor jugs for the trip"),
        (3, "sphinx of black quartz judge my vow and more words here"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    row = QUERIES["llm_eval_chrf"](spark, str(tmp_path)).collect()[0]

    def grams(s, n):
        return Counter(s[i : i + n] for i in range(len(s) - n + 1))

    mtot = {n: 0 for n in range(1, 7)}
    ct = {n: 0 for n in range(1, 7)}
    rt = {n: 0 for n in range(1, 7)}
    for _, text in docs:
        w = text.split(" ")
        cand = "".join(x for i, x in enumerate(w) if (i + 1) % 7 != 0)
        ref = text.replace(" ", "")
        for n in range(1, 7):
            cg, rg = grams(cand, n), grams(ref, n)
            mtot[n] += sum(min(c, rg[g]) for g, c in cg.items())
            ct[n] += max(len(cand) - n + 1, 0)
            rt[n] += max(len(ref) - n + 1, 0)
    p = sum(mtot[n] / ct[n] for n in range(1, 7)) / 6.0
    r = sum(mtot[n] / rt[n] for n in range(1, 7)) / 6.0
    chrf = 5.0 * p * r / (4.0 * p + r)
    assert row["n_docs"] == 3
    assert abs(row["macro_p"] - p) < 1e-12
    assert abs(row["macro_r"] - r) < 1e-12
    assert abs(row["chrf2"] - chrf) < 1e-12
    assert 0.0 < row["chrf2"] < 1.0


def test_eval_brier_matches_pure_python_replica(spark, sf_dir):
    """Third implementation (the llm_eval_auc/bleu convention): a
    pure-Python walk over the documents fixture reproduces the Brier
    score and all three Murphy components; and the decomposition's
    internal identities hold (0 ≤ reliability; 0 ≤ resolution ≤
    uncertainty ≤ 0.25)."""
    import math

    import duckdb

    from osm_airflow_spark.llm.text import _EN_STOP
    from osm_airflow_spark.registry import all_queries

    row = all_queries()["llm_eval_brier"](spark, sf_dir).collect()[0]

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    stops = set(_EN_STOP)
    ps, ys = [], []
    for _, text in docs:
        words = text.split(" ")
        n_words = len(words)
        stop_ratio = sum(1 for w in words if w in stops) / n_words
        mean_word_len = len(text.replace(" ", "")) / n_words
        logit = (
            -1.0
            + 2.5 * (min(n_words, 200) / 200.0)
            + 1.5 * stop_ratio
            + 0.8 * (1.0 if 3 <= mean_word_len <= 8 else 0.0)
        )
        ps.append(round(1.0 / (1.0 + math.exp(-logit)), 6))
        quality = (
            min(n_words, 200) / 200.0 * 0.4
            + min(stop_ratio * 4, 1.0) * 0.3
            + (0.3 if 3 <= mean_word_len <= 8 else 0.0)
        )
        ys.append(1 if quality >= 0.5 else 0)

    n = len(ps)
    brier = sum((p - y) ** 2 for p, y in zip(ps, ys)) / n
    ybar = sum(ys) / n
    unc = ybar * (1 - ybar)
    bins: dict[int, list[int]] = {}
    for i, p in enumerate(ps):
        bins.setdefault(min(int(p * 10), 9), []).append(i)
    rel = sum(
        len(ix) * (sum(ps[i] for i in ix) / len(ix)
                   - sum(ys[i] for i in ix) / len(ix)) ** 2
        for ix in bins.values()
    ) / n
    res = sum(
        len(ix) * (sum(ys[i] for i in ix) / len(ix) - ybar) ** 2
        for ix in bins.values()
    ) / n

    assert row["n_docs"] == n
    assert abs(row["brier"] - brier) < 1e-8
    assert abs(row["reliability"] - rel) < 1e-9
    assert abs(row["resolution"] - res) < 1e-9
    assert abs(row["uncertainty"] - unc) < 1e-9
    assert 0 <= row["resolution"] <= row["uncertainty"] <= 0.25
    assert row["reliability"] >= 0


def test_audio_mcr_kernel_signs_and_known_pattern(spark):
    """Hand-packed PCM16 fixtures for the mean-crossing kernel (the
    audio_rms negative-sample convention): an alternating ±1000 wave
    crosses its (zero) mean at every step (63 crossings), a constant
    window never crosses, a single step-function crosses once, and
    negative int16 parsing is exercised directly."""
    import struct as st

    from osm_airflow_spark.llm.multimodal import audio_mcr

    def pcm(samples):
        return st.pack(f"<{len(samples)}h", *samples)

    alternating = [1000 if i % 2 == 0 else -1000 for i in range(64)]
    constant = [123] * 64
    step = [-500] * 32 + [500] * 32
    media = spark.createDataFrame(
        [
            (1, pcm(alternating)),
            (2, pcm(constant)),
            (3, pcm(step)),
        ],
        "media_id long, payload binary",
    )
    got = {
        r["media_id"]: (r["n_crossings"], r["mcr"])
        for r in audio_mcr(media, window=64).collect()
    }
    assert got[1] == (63, 1.0)
    assert got[2] == (0, 0.0)
    assert got[3] == (1, 1 / 63)


def test_cluster_silhouette_separated_vs_mixed(spark, tmp_path):
    """Planted geometry: two tight, well-separated blobs whose seed
    vectors sit in different blobs must score near-perfect silhouette
    (≈1); the same blobs with all scores re-assigned to ONE cluster
    shape (seeds inside a single blob) degrade. Uses a tiny synthetic
    embeddings table through the registered key end to end."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    # vec_id 0..7 are the seeds — one per blob (blob k centered at
    # 20·e_k), so each seed cluster captures exactly one tight blob
    for i in range(40):
        blob = i % 8
        center = np.zeros(64)
        center[blob] = 20.0
        v = center + rng.normal(0, 0.01, 64)
        rows.append((i, [float(x) for x in v], blob))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    got = QUERIES["llm_cluster_silhouette"](spark, str(tmp_path)).collect()
    assert sum(r["n_vectors"] for r in got) == 40
    # every cluster's mean silhouette is high: tight blobs, far seeds
    for r in got:
        assert r["silhouette"] > 0.8, (r["cluster"], r["silhouette"])


def test_eval_ece_matches_pure_python_replica(spark, sf_dir):
    """ECE/MCE third implementation, same replica walk as the Brier
    test; plus the bound ECE ≤ MCE (a weighted mean of per-bin gaps
    can't exceed the max gap)."""
    import math

    import duckdb

    from osm_airflow_spark.llm.text import _EN_STOP
    from osm_airflow_spark.registry import all_queries

    row = all_queries()["llm_eval_ece"](spark, sf_dir).collect()[0]
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    stops = set(_EN_STOP)
    bins: dict[int, list[tuple[float, int]]] = {}
    for (text,) in docs:
        words = text.split(" ")
        n_words = len(words)
        stop_ratio = sum(1 for w in words if w in stops) / n_words
        mean_word_len = len(text.replace(" ", "")) / n_words
        logit = (
            -1.0
            + 2.5 * (min(n_words, 200) / 200.0)
            + 1.5 * stop_ratio
            + 0.8 * (1.0 if 3 <= mean_word_len <= 8 else 0.0)
        )
        p = round(1.0 / (1.0 + math.exp(-logit)), 6)
        quality = (
            min(n_words, 200) / 200.0 * 0.4
            + min(stop_ratio * 4, 1.0) * 0.3
            + (0.3 if 3 <= mean_word_len <= 8 else 0.0)
        )
        bins.setdefault(min(int(p * 10), 9), []).append(
            (p, 1 if quality >= 0.5 else 0)
        )
    n = sum(len(v) for v in bins.values())
    ece = (
        sum(
            abs(sum(round(p * 1e6) for p, _ in v) - 1_000_000 * sum(y for _, y in v))
            for v in bins.values()
        )
        / 1e6
        / n
    )
    mce = max(
        abs(sum(round(p * 1e6) for p, _ in v) - 1_000_000 * sum(y for _, y in v))
        / (1e6 * len(v))
        for v in bins.values()
    )
    assert row["n_docs"] == n
    assert abs(row["ece"] - ece) < 1e-12
    assert abs(row["mce"] - mce) < 1e-12
    assert row["ece"] <= row["mce"] + 1e-12


def test_edit_distance_known_answers_and_symmetry(spark, tmp_path):
    """Levenshtein ground truths through the registered key: planted
    docs at the sampled grid (0, 97, 194, 291) with hand-counted
    distances — substitution+insertion (kitten→sitting = 3), pure
    append, identical (0, similarity 1.0), and the empty-string
    guard; plus oracle replay."""
    import duckdb

    docs = [
        (0, "kitten"),
        (97, "sitting"),
        (194, "sitting here"),
        (291, "sitting here"),
        (388, ""),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["doc_a"], r["doc_b"]): (r["edit_distance"], r["edit_similarity"])
        for r in QUERIES["llm_edit_distance"](spark, str(tmp_path)).collect()
    }
    assert got[(0, 97)] == (3, 1.0 - 3.0 / 7.0)
    assert got[(97, 194)] == (5, 1.0 - 5.0 / 12.0)
    assert got[(194, 291)] == (0, 1.0)
    assert got[(291, 388)] == (12, 1.0 - 12.0 / 12.0)  # vs empty
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path}/documents.parquet/*.parquet')"
    )
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(ORACLES["llm_edit_distance"]).fetchall()
    }
    assert got == want


def test_eval_mcc_hand_confusion_and_degenerate(spark, tmp_path):
    """Plant documents hitting all four en-vs-rest confusion cells
    with known counts; MCC must equal the textbook formula computed
    in pure python (same IEEE ops), accuracy is exact. A second
    all-en/all-predicted-en corpus has two empty marginals -> MCC is
    NULL, accuracy 1.0."""
    import math

    texts = {
        "tp": ("en", "the cat of the house is in the garden"),  # en hits win
        "fn": ("en", "der hund und die katze ist ein tier"),    # de wins
        "fp": ("de", "the a of and in to is"),                  # en wins
        "tn": ("de", "der die das und ist ein der die"),        # de wins
    }
    reps = {"tp": 9, "fn": 3, "fp": 2, "tn": 6}
    rows, did = [], 0
    for cell, (lang, t) in texts.items():
        for _ in range(reps[cell]):
            rows.append((did, t, lang))
            did += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = QUERIES["llm_eval_mcc"](spark, str(tmp_path)).first()
    tp, fn, fp, tn = reps["tp"], reps["fn"], reps["fp"], reps["tn"]
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (tp, fp, fn, tn)
    n = tp + fp + fn + tn
    assert got["accuracy"] == (tp + tn) / n
    want = (float(tp) * tn - float(fp) * fn) / math.sqrt(
        float(tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    assert got["mcc"] == want

    base2 = tmp_path / "degen"
    base2.mkdir()
    spark.createDataFrame(
        [(i, "the a of and in to is", "en") for i in range(5)],
        "doc_id long, text string, lang string",
    ).coalesce(1).write.parquet(str(base2 / "documents.parquet"))
    g2 = QUERIES["llm_eval_mcc"](spark, str(base2)).first()
    assert g2["mcc"] is None and g2["accuracy"] == 1.0


def test_dup_size_histogram_planted_multiplicities(spark, tmp_path):
    """Plant clusters of sizes 1,1,1,2,2,5 (12 docs): histogram rows
    (1,3),(2,2),(5,1); doc shares 3/12, 4/12, 5/12; removable shares
    0, 2/12, 4/12 — total removable 6/12 matches dedup keeping 6
    survivors. Oracle replayed."""
    import duckdb

    rows, did = [], 0
    for size, copies in ((1, 3), (2, 2), (5, 1)):
        for c in range(copies):
            text = f"cluster size {size} copy-set {c}"
            for _ in range(size):
                rows.append((did, text))
                did += 1
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["cluster_size"]: r
        for r in QUERIES["llm_dup_size_histogram"](
            spark, str(tmp_path)
        ).collect()
    }
    assert {(k, v["n_clusters"]) for k, v in got.items()} == {
        (1, 3), (2, 2), (5, 1)
    }
    assert got[1]["doc_share"] == 3 / 12 and got[1]["removable_share"] == 0.0
    assert got[2]["doc_share"] == 4 / 12
    assert got[2]["removable_share"] == 2 / 12
    assert got[5]["removable_share"] == 4 / 12
    assert sum(r["removable_share"] for r in got.values()) == 6 / 12
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path}/documents.parquet/*.parquet')"
    )
    want = con.execute(ORACLES["llm_dup_size_histogram"]).fetchall()
    assert sorted(tuple(r) for r in got.values()) == sorted(
        tuple(w) for w in want
    )


def test_heaps_law_closed_forms(spark, tmp_path):
    """Closed forms: 20 docs of 'base w{i}' grow one new type per doc
    — types(m) = m+1, tokens(m) = 2m at every decile; an identical-
    doc corpus has constant vocabulary so beta == 0.0 exactly; a
    corpus under 10 docs has no decile 1 and beta is NULL in both
    engines. Oracle replayed on all three."""
    import duckdb

    def run(texts, sub):
        base = tmp_path / sub
        base.mkdir()
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        ).coalesce(1).write.parquet(str(base / "documents.parquet"))
        got = QUERIES["llm_heaps_law"](spark, str(base)).collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{base}/documents.parquet/*.parquet')"
        )
        want = con.execute(ORACLES["llm_heaps_law"]).fetchall()
        assert sorted(tuple(r) for r in got) == sorted(tuple(w) for w in want)
        return {r["decile"]: r for r in got}

    grow = run([f"base w{i}" for i in range(20)], "grow")
    assert len(grow) == 10
    for k in range(1, 11):
        m = 2 * k
        assert grow[k]["n_docs"] == m
        assert grow[k]["tokens"] == 2 * m
        assert grow[k]["types"] == m + 1
    assert grow[10]["heaps_beta"] is not None

    flat = run(["same text here"] * 20, "flat")
    assert all(r["types"] == 3 for r in flat.values())
    assert flat[10]["heaps_beta"] == 0.0

    tiny = run([f"w{i}" for i in range(5)], "tiny")
    assert all(r["heaps_beta"] is None for r in tiny.values())


def test_audio_peaks_kernel_known_patterns(spark):
    """Hand PCM through the peaks kernel: a period-4 sawtooth
    0,1000,0,-1000 has exactly one strict local maximum per period
    (the 1000s), a monotone ramp has none, a constant window has
    none (strict inequality), and negative samples decode correctly
    (max of an all-negative window is the least-negative value)."""
    import struct

    from osm_airflow_spark.llm.multimodal import audio_peaks

    def pcm(vals):
        return struct.pack(f"<{len(vals)}h", *vals)

    saw = [0, 1000, 0, -1000] * 4      # window 16: peaks at j=1,5,9,13
    ramp = list(range(-8, 8))          # monotone: 0 peaks
    flat = [5] * 16                    # constant: 0 peaks
    neg = [-100, -50, -200, -50] * 4   # peaks at the -50 after -200? j where s> both nbrs
    media = spark.createDataFrame(
        [(1, bytearray(pcm(saw))), (2, bytearray(pcm(ramp))),
         (3, bytearray(pcm(flat))), (4, bytearray(pcm(neg)))],
        "media_id long, payload binary",
    )
    got = {
        (r["media_id"], r["window_idx"]): r
        for r in audio_peaks(media, window=16).collect()
    }
    assert got[(1, 0)]["n_peaks"] == 4
    assert got[(1, 0)]["max_sample"] == 1000
    assert got[(1, 0)]["peak_density"] == 4 / 14
    assert got[(2, 0)]["n_peaks"] == 0
    assert got[(3, 0)]["n_peaks"] == 0
    assert got[(4, 0)]["max_sample"] == -50
    # -50 at j=1 beats 0? neighbors -100,-200 -> peak; j=3 (-50) vs
    # -200,-100 -> peak; j=5.. pattern: interior -50s are peaks
    assert got[(4, 0)]["n_peaks"] == 7


def test_pmi_collocations_hand_counts_and_floor(spark, tmp_path):
    """Hand PMI: bigram counts a-b=8, a-c=2, c-b=2, d-d=5 (N=17,
    positional marginals first(a)=10, second(b)=10, first(d)=
    second(d)=5). Floor 5 keeps only (a,b) and (d,d);
    PMI(d,d) = ln(5·17/25) = ln(3.4) outranks
    PMI(a,b) = ln(8·17/100) = ln(1.36). Oracle replayed."""
    import math

    import duckdb

    rows, did = [], 0
    for text, n in (("a b", 8), ("a c", 2), ("c b", 2), ("d d", 5)):
        for _ in range(n):
            rows.append((did, text)); did += 1
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = QUERIES["llm_pmi_collocations"](spark, str(tmp_path)).collect()
    assert [(r["w1"], r["w2"]) for r in got] == [("d", "d"), ("a", "b")]
    dd, ab = got
    assert (dd["n_pair"], dd["n_first"], dd["n_second"]) == (5, 5, 5)
    assert (ab["n_pair"], ab["n_first"], ab["n_second"]) == (8, 10, 10)
    assert abs(dd["pmi"] - math.log(3.4)) < 1.1e-6
    assert abs(ab["pmi"] - math.log(1.36)) < 1.1e-6
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path}/documents.parquet/*.parquet')"
    )
    want = con.execute(ORACLES["llm_pmi_collocations"]).fetchall()
    assert [tuple(r) for r in got] == [tuple(w) for w in want]


def test_rake_keywords_hand_scores_and_cap(spark, tmp_path):
    """Hand RAKE: corpus 'deep learning of deep learning' + 'fast
    data and deep learning is fast' + an uncapped 5-word run.
    Word scores deg/freq: deep = learning = 6/3 = 2, fast = 3/2,
    data = 2/1 ⇒ phrases score 'deep learning' 4.0 (3 occurrences),
    'fast data' 3.5, 'fast' 1.5; the 5-word run is discarded by the
    length cap. Oracle replayed."""
    import duckdb

    rows = [
        (1, "deep learning of deep learning"),
        (2, "fast data and deep learning is fast"),
        (3, "w1 w2 w3 w4 w5"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = QUERIES["llm_rake_keywords"](spark, str(tmp_path)).collect()
    assert [(r["phrase"], r["n_words"], r["n_occ"], r["score"])
            for r in got] == [
        ("deep learning", 2, 3, 4.0),
        ("fast data", 2, 1, 3.5),
        ("fast", 1, 1, 1.5),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path}/documents.parquet/*.parquet')"
    )
    want = con.execute(ORACLES["llm_rake_keywords"]).fetchall()
    assert [tuple(r) for r in got] == [tuple(w) for w in want]
