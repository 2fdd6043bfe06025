"""OSM domain-layer tests on hand-written micro-fixtures
(FIXTURES.md §2): tag promotion, reference-resolution joins, ordered
geometry assembly, WKB encoding — the reference's delegated semantics
(/root/reference/README.md:80-93) verified row by row."""

import os
import struct

import pytest
from pyspark.sql import functions as F

from osm_airflow_spark.plans.osm import (
    assemble_way_lines,
    build_highway_layer,
    geohash_cell,
    lines_to_wkb,
    promote_tags,
    resolve_relation_members,
    route_layer,
)
from osm_airflow_spark.sources.pbf import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA


@pytest.fixture(scope="module")
def nodes(spark):
    return spark.createDataFrame(
        [
            (1, 10.0, 20.0, {"name": "a"}),
            (2, 11.0, 21.0, {}),
            (3, 12.0, 22.0, {"amenity": "café"}),  # unicode tag value
            (4, 13.0, 23.0, {}),
        ],
        NODE_SCHEMA,
    )


@pytest.fixture(scope="module")
def ways(spark):
    return spark.createDataFrame(
        [
            # deliberately non-sorted refs: order must come from array position
            (100, [3, 1, 2], {"highway": "primary", "name": "Main St", "maxspeed": "50"}),
            (101, [2, 99], {"highway": "service"}),  # ref 99 missing from extract
            (102, [], {"highway": "path"}),  # empty refs → no geometry
            (103, [1, 2], {"building": "yes"}),  # not a highway
        ],
        WAY_SCHEMA,
    )


@pytest.fixture(scope="module")
def relations(spark):
    return spark.createDataFrame(
        [
            (
                200,
                [
                    {"mtype": "way", "ref": 100, "role": "outer"},
                    {"mtype": "node", "ref": 3, "role": "admin_centre"},
                    {"mtype": "way", "ref": 999, "role": "outer"},  # missing way
                ],
                {"type": "multipolygon"},
            )
        ],
        RELATION_SCHEMA,
    )


def test_route_layer_filters_by_tag(ways):
    assert route_layer(ways, "highway").count() == 3
    assert route_layer(ways, "building").count() == 1


def test_promote_tags_types_and_residual(ways):
    out = promote_tags(
        route_layer(ways, "highway"), {"highway": "string", "maxspeed": "int"}
    )
    row = {r["way_id"]: r for r in out.collect()}
    assert row[100]["highway"] == "primary"
    assert row[100]["maxspeed"] == 50  # cast to int
    assert row[100]["residual_tags"] == {"name": "Main St"}
    assert row[101]["maxspeed"] is None


def test_assemble_preserves_node_refs_order(nodes, ways):
    out = {r["way_id"]: r for r in assemble_way_lines(ways, nodes).collect()}
    # way 100 refs [3,1,2] → lons must follow that order, not node id order
    assert [p["lon"] for p in out[100]["line"]] == [22.0, 20.0, 21.0]
    assert out[100]["bbox_west"] == 20.0 and out[100]["bbox_east"] == 22.0
    # way 101: missing ref 99 resolved partially
    assert [p["lon"] for p in out[101]["line"]] == [21.0]
    # way 102: empty refs → no assembled row
    assert 102 not in out


def test_relation_two_hop_resolution(relations, ways, nodes):
    out = resolve_relation_members(relations, ways, nodes).collect()
    by_pos = {r["pos"]: r for r in out}
    assert len(out) == 2  # missing way 999 drops
    assert by_pos[0]["mtype"] == "way" and len(by_pos[0]["way_line"]) == 3
    assert by_pos[1]["mtype"] == "node" and by_pos[1]["pt_lon"] == 22.0


def test_wkb_linestring_bytes(nodes, ways):
    assembled = assemble_way_lines(ways, nodes)
    wkb = {r["way_id"]: bytes(r["wkb"]) for r in lines_to_wkb(assembled).collect()}
    buf = wkb[100]
    order, gtype, n = struct.unpack_from("<BII", buf, 0)
    assert (order, gtype, n) == (1, 2, 3)
    x0, y0 = struct.unpack_from("<dd", buf, 9)
    assert (x0, y0) == (22.0, 12.0)  # first ref = node 3
    assert len(buf) == 9 + 16 * 3


def test_build_highway_layer_end_to_end(nodes, ways):
    layer = build_highway_layer(nodes, ways)
    rows = {r["way_id"]: r for r in layer.collect()}
    assert set(rows) == {100, 101}  # path way has no resolvable geometry
    assert rows[100]["highway"] == "primary"
    assert "geohash" in layer.columns


def _layer_via_lines(nodes, ways):
    """The highway layer built the long way: assemble every way's
    ordered line, take its bbox with array_min/array_max, join the
    promoted attributes back and drop the line."""
    promoted = promote_tags(
        route_layer(ways, "highway"),
        {"highway": "string", "name": "string", "maxspeed": "int"},
    )
    assembled = assemble_way_lines(
        promoted.select("way_id", "node_refs", "tags"), nodes
    )
    keep = promoted.drop("node_refs", "tags", "residual_tags")
    return (
        assembled.join(keep, "way_id")
        .withColumn(
            "geohash",
            geohash_cell((F.col("bbox_west") + F.col("bbox_east")) / 2,
                         (F.col("bbox_south") + F.col("bbox_north")) / 2),
        )
        .drop("line")
    )


def test_highway_layer_bbox_matches_assembled_lines(spark, nodes, ways, tmp_path):
    """build_highway_layer's aggregated bbox equals the array_min /
    array_max bbox of the assembled lines, row for row and column for
    column, on the micro-fixture, the golden file and the adversarial
    file (coordinate corners). Each runs twice, the second time with
    every third node missing, so partially resolved and unresolvable
    ways are covered."""
    import tools.make_adversarial_pbf as adv

    from osm_airflow_spark.sources.pbf import read_pbf

    def decoded(path):
        # checkpointed: each case below runs several actions, and the
        # adversarial file's >16 MB blob should be decoded once
        tables = read_pbf(spark, path)
        return {k: tables[k].localCheckpoint() for k in ("nodes", "ways")}

    golden = decoded(
        os.path.join(os.path.dirname(__file__), "fixtures", "golden_1000.osm.pbf")
    )
    adv_path = str(tmp_path / "adversarial.osm.pbf")
    adv.build(adv_path)
    hostile = decoded(adv_path)
    cases = [
        (nodes, ways),
        (golden["nodes"], golden["ways"]),
        # the adversarial file tags only one way, whose refs are all
        # absent: tag every way so the resolvable one is routed too
        (hostile["nodes"], hostile["ways"].withColumn(
            "tags", F.create_map(F.lit("highway"), F.lit("track")))),
    ]
    columns = ["way_id", "tags", "bbox_west", "bbox_south", "bbox_east",
               "bbox_north", "highway", "name", "maxspeed", "geohash"]
    for n, w in cases:
        for node_set in (n, n.where(F.col("node_id") % 3 != 0)):
            got = build_highway_layer(node_set, w)
            want = _layer_via_lines(node_set, w)
            assert got.columns == want.columns == columns
            rows = sorted(got.collect(), key=lambda r: r["way_id"])
            assert rows == sorted(want.collect(), key=lambda r: r["way_id"])
    # the thinned micro-fixture: way 100 keeps refs 1 and 2 of [3, 1, 2]
    thin = build_highway_layer(nodes.where(F.col("node_id") % 3 != 0), ways)
    row = {r["way_id"]: r for r in thin.collect()}[100]
    assert (row["bbox_west"], row["bbox_east"]) == (20.0, 21.0)


def test_geohash_cell_bounds(spark):
    df = spark.createDataFrame([(-180.0, -90.0), (179.9, 89.9), (0.0, 0.0)], "lon double, lat double")
    cells = [r["c"] for r in df.select(geohash_cell(F.col("lon"), F.col("lat")).alias("c")).collect()]
    assert all(0 <= c < 4096 for c in cells)
    assert len(set(cells)) == 3


def test_geohash_cell_boundary_points_clamped(spark):
    """lon=180 / lat=90 quantize one past the last cell without the
    clamp — they must land in the last valid cell, not a phantom."""
    df = spark.createDataFrame(
        [(180.0, 90.0), (180.0, -90.0), (-180.0, 90.0), (179.999, 89.999)],
        "lon double, lat double",
    )
    cells = [r["c"] for r in df.select(geohash_cell(F.col("lon"), F.col("lat")).alias("c")).collect()]
    assert all(0 <= c < 4096 for c in cells), cells
    assert cells[0] == 4095  # NE corner → last cell


def test_ring_is_simple_detects_self_intersection(spark):
    """Geometry validity (osm2pgsql 'assembles VALID geometries',
    README.md:80-82): proper crossings flagged, convex/concave simple
    rings pass, sub-ring point counts are invalid by definition."""
    from osm_airflow_spark.plans.osm import ring_is_simple

    rows = [
        ("square", [0.0, 1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0, 0.0], True),
        ("bowtie", [0.0, 1.0, 0.0, 1.0, 0.0], [0.0, 1.0, 1.0, 0.0, 0.0], False),
        ("triangle", [0.0, 1.0, 0.5, 0.0], [0.0, 0.0, 1.0, 0.0], True),
        ("pentagram", [0.0, 2.0, -0.5, 1.0, 2.5, 0.0], [0.0, 1.5, 1.5, 0.0, 2.4, 0.0], False),
        ("two_points", [0.0, 1.0, 0.0], [0.0, 0.0, 0.0], False),
        ("concave_L", [0.0, 2.0, 2.0, 1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0, 2.0, 2.0, 0.0], True),
    ]
    df = spark.createDataFrame(
        [(n, lo, la) for n, lo, la, _ in rows],
        "name string, lons array<double>, lats array<double>",
    )
    got = {
        r["name"]: r["s"]
        for r in df.select(
            "name", ring_is_simple(F.col("lons"), F.col("lats")).alias("s")
        ).collect()
    }
    for name, _, _, expect in rows:
        assert got[name] == expect, name


def test_way_polygons_carry_validity_flag(spark):
    from osm_airflow_spark.plans.osm import assemble_way_polygons

    nodes = spark.createDataFrame(
        [(i, float(la), float(lo), {}) for i, (lo, la) in enumerate(
            [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
        )],
        "node_id long, lat double, lon double, tags map<string,string>",
    )
    ways = spark.createDataFrame(
        [
            (500, [0, 1, 2, 3, 0], {}),   # square: simple
            (501, [0, 2, 1, 3, 0], {}),   # bowtie order: self-crossing
        ],
        "way_id long, node_refs array<long>, tags map<string,string>",
    )
    out = {r["way_id"]: r for r in assemble_way_polygons(ways, nodes).collect()}
    assert out[500]["is_simple"] is True
    assert out[501]["is_simple"] is False


def test_ring_area_antimeridian_crossing(spark):
    """A 2°x2° square straddling ±180° must have the same area and
    winding as the identical square at lon 0 — delta-lon wrapping."""
    from osm_airflow_spark.plans.osm import ring_area, ring_area_km2

    df = spark.createDataFrame(
        [
            ("at_zero", [-1.0, 1.0, 1.0, -1.0, -1.0], [0.0, 0.0, 2.0, 2.0, 0.0]),
            ("at_180", [179.0, -179.0, -179.0, 179.0, 179.0], [0.0, 0.0, 2.0, 2.0, 0.0]),
        ],
        "name string, lons array<double>, lats array<double>",
    )
    out = {
        r["name"]: r
        for r in df.select(
            "name",
            ring_area(F.col("lons"), F.col("lats")).alias("planar"),
            ring_area_km2(F.col("lons"), F.col("lats")).alias("km2"),
        ).collect()
    }
    assert abs(out["at_180"]["planar"] - out["at_zero"]["planar"]) < 1e-9
    assert out["at_180"]["planar"] > 0  # CCW preserved across the seam
    assert abs(out["at_180"]["km2"] - out["at_zero"]["km2"]) < 1e-6


def test_point_in_polygon_ray_cast(spark):
    from osm_airflow_spark.functions.geo import point_in_polygon

    # unit square (0,0)-(1,1) counterclockwise; concave L-shape check too
    rows = [
        (0.5, 0.5, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0], True),
        (1.5, 0.5, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0], False),
        (-0.1, 0.0, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0], False),
        # L-shape: [(0,0),(2,0),(2,1),(1,1),(1,2),(0,2)]; (1.5,1.5) is outside
        (1.5, 1.5, [0.0, 2.0, 2.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0, 2.0, 2.0], False),
        (0.5, 1.5, [0.0, 2.0, 2.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0, 2.0, 2.0], True),
    ]
    df = spark.createDataFrame(
        rows, "px double, py double, lons array<double>, lats array<double>, expect boolean"
    )
    out = df.select(
        "expect",
        point_in_polygon(F.col("px"), F.col("py"), F.col("lons"), F.col("lats")).alias("got"),
    ).collect()
    assert all(r["got"] == r["expect"] for r in out)


def test_sql_api_over_registered_views(spark, sf_dir):
    from osm_airflow_spark.api import register_views, sql

    views = register_views(spark, sf_dir)
    assert "lineitem" in views
    df = sql(
        spark,
        """
        SELECT l_returnflag, COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_returnflag
        """,
    )
    assert df.count() == 3


def test_wkb_roundtrip(nodes, ways):
    from osm_airflow_spark.plans.osm import wkb_to_lines

    assembled = assemble_way_lines(ways, nodes)
    decoded = {r["way_id"]: r["line"] for r in wkb_to_lines(lines_to_wkb(assembled)).collect()}
    original = {r["way_id"]: r["line"] for r in assembled.collect()}
    for wid, line in original.items():
        assert [(p["lon"], p["lat"]) for p in decoded[wid]] == [
            (p["lon"], p["lat"]) for p in line
        ]


def test_polygon_assembly_closed_ways(spark):
    from osm_airflow_spark.plans.osm import assemble_way_polygons, is_closed_way

    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0, {}), (2, 0.0, 2.0, {}), (3, 2.0, 2.0, {}), (4, 2.0, 0.0, {})],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [
            (300, [1, 2, 3, 4, 1], {"building": "yes"}),  # ccw square, area 4
            (301, [1, 4, 3, 2, 1], {"building": "yes"}),  # cw square, area -4
            (302, [1, 2, 3], {"highway": "path"}),  # open — excluded
        ],
        WAY_SCHEMA,
    )
    closed_flags = {
        r["way_id"]: r["c"]
        for r in ways.select("way_id", is_closed_way(F.col("node_refs")).alias("c")).collect()
    }
    assert closed_flags == {300: True, 301: True, 302: False}

    polys = {r["way_id"]: r for r in assemble_way_polygons(ways, nodes).collect()}
    assert set(polys) == {300, 301}
    assert polys[300]["ring_area"] == 4.0 and polys[300]["is_ccw"]
    assert polys[301]["ring_area"] == -4.0 and not polys[301]["is_ccw"]


def test_line_length_km_known_distance(spark):
    from osm_airflow_spark.plans.osm import line_length_km

    # one degree of longitude at the equator ≈ 111.19 km; two-segment
    # path doubles it
    df = spark.createDataFrame(
        [([0.0, 1.0, 2.0], [0.0, 0.0, 0.0]), ([0.0], [0.0])],
        "lons array<double>, lats array<double>",
    )
    out = [r["km"] for r in df.select(line_length_km(F.col("lons"), F.col("lats")).alias("km")).collect()]
    assert abs(out[0] - 2 * 111.19) < 0.5
    assert out[1] == 0.0


def test_multipolygon_with_hole(spark):
    from osm_airflow_spark.plans.osm import assemble_multipolygons

    # outer 4x4 square (area 16), inner 2x2 hole (area 4) → net 12
    nodes = spark.createDataFrame(
        [
            (1, 0.0, 0.0, {}), (2, 0.0, 4.0, {}), (3, 4.0, 4.0, {}), (4, 4.0, 0.0, {}),
            (5, 1.0, 1.0, {}), (6, 1.0, 3.0, {}), (7, 3.0, 3.0, {}), (8, 3.0, 1.0, {}),
        ],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [
            (400, [1, 2, 3, 4, 1], {}),
            (401, [5, 6, 7, 8, 5], {}),
            (402, [1, 2, 3], {}),  # open way — must be ignored
        ],
        WAY_SCHEMA,
    )
    relations = spark.createDataFrame(
        [
            (
                500,
                [
                    {"mtype": "way", "ref": 400, "role": "outer"},
                    {"mtype": "way", "ref": 401, "role": "inner"},
                    {"mtype": "way", "ref": 402, "role": "outer"},
                ],
                {"type": "multipolygon"},
            )
        ],
        RELATION_SCHEMA,
    )
    out = assemble_multipolygons(relations, ways, nodes).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_outer"] == 1 and row["n_inner"] == 1  # open way dropped
    assert row["net_area"] == 12.0
    # geodesic net area: 4°×4° outer minus 2°×2° inner near the
    # equator ≈ (4·111.19)² − (2·111.19)² ≈ 148k km² (small-angle)
    assert 140_000 < row["net_area_km2"] < 160_000


def test_ring_area_km2_known_square(spark):
    from osm_airflow_spark.plans.osm import ring_area_km2

    # 1°x1° closed ring at the equator ≈ 111.19² km² ≈ 12,364 km²
    df = spark.createDataFrame(
        [([0.0, 1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0, 0.0])],
        "lons array<double>, lats array<double>",
    )
    area = df.select(ring_area_km2(F.col("lons"), F.col("lats")).alias("a")).collect()[0]["a"]
    assert abs(area - 12364) < 50


def test_split_ring_at_crossings_bowtie_and_simple():
    """Pure-kernel invariants: a figure-eight splits into exactly two
    simple lobes whose areas conserve the unsigned total; an already
    simple ring passes through unchanged; degenerate slivers drop."""
    from osm_airflow_spark.plans.osm import (
        _shoelace,
        ring_is_simple,  # noqa: F401 (column twin of the invariant)
        split_ring_at_crossings,
    )

    # classic bowtie: (0,0)->(1,1)->(1,0)->(0,1)->close, crossing at (.5,.5)
    bowtie = [(0.0, 0.0), (1.0, 1.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0)]
    parts = split_ring_at_crossings(bowtie)
    assert len(parts) == 2
    for p in parts:
        assert p[0] == p[-1]
        assert (0.5, 0.5) in p  # split happens AT the crossing point
        assert split_ring_at_crossings(p) == [p]  # each lobe is simple
    assert abs(sum(abs(_shoelace(p)) for p in parts) - 0.5) < 1e-12

    square = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]
    assert split_ring_at_crossings(square) == [square]

    collinear = [(0.0, 0.0), (1.0, 0.0), (2.0, 0.0), (0.0, 0.0)]
    assert split_ring_at_crossings(collinear) == []  # zero area drops


def test_repair_rings_dataframe_path(spark):
    """The distributed path: bowtie + simple ring through the
    mapInPandas kernel; parts agree with the column-side simplicity
    test (ring_is_simple over the emitted coordinate arrays)."""
    from osm_airflow_spark.plans.osm import repair_rings, ring_is_simple

    rows = [
        (1, [(0.0, 0.0), (1.0, 1.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0)]),
        (2, [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]),
    ]
    df = spark.createDataFrame(
        [(i, [{"lon": x, "lat": y} for x, y in line]) for i, line in rows],
        "way_id long, line array<struct<lon double, lat double>>",
    )
    out = repair_rings(df)
    got = out.collect()
    by_way = {}
    for r in got:
        by_way.setdefault(r["way_id"], []).append(r)
    assert len(by_way[1]) == 2 and all(r["was_split"] for r in by_way[1])
    assert len(by_way[2]) == 1 and not by_way[2][0]["was_split"]
    assert abs(sum(r["abs_area"] for r in by_way[1]) - 0.5) < 1e-12
    assert abs(by_way[2][0]["abs_area"] - 1.0) < 1e-12
    simple = out.select(
        ring_is_simple(F.col("lons"), F.col("lats")).alias("s")
    ).collect()
    assert all(r["s"] for r in simple)


def test_normalize_ring_repairs_dups_closure_and_winding(spark):
    """normalize_ring: consecutive duplicates dropped, ring re-closed,
    outer rings forced CCW / inner CW by reversal."""
    from osm_airflow_spark.plans.osm import normalize_ring, ring_area

    rows = [
        # CW square with a duplicated vertex and missing closure -> outer
        ([0.0, 0.0, 0.0, 1.0, 1.0], [0.0, 0.0, 1.0, 1.0, 0.0], True),
        # CCW square, already closed -> inner must flip to CW
        ([0.0, 1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0, 0.0], False),
    ]
    df = spark.createDataFrame(rows, "lons array<double>, lats array<double>, outer boolean")
    fixed = df.select(
        normalize_ring(F.col("lons"), F.col("lats"), F.col("outer")).alias("ring"),
        "outer",
    ).collect()
    for r in fixed:
        ring = [(p["lon"], p["lat"]) for p in r["ring"]]
        assert ring[0] == ring[-1], "ring must close"
        assert all(a != b for a, b in zip(ring, ring[1:])), "no zero-length edges"
    # winding: recompute signed area on the repaired rings
    rep = spark.createDataFrame(
        [
            (
                [p["lon"] for p in r["ring"]],
                [p["lat"] for p in r["ring"]],
                r["outer"],
            )
            for r in fixed
        ],
        "lons array<double>, lats array<double>, outer boolean",
    )
    areas = rep.select(
        ring_area(F.col("lons"), F.col("lats")).alias("a"), "outer"
    ).collect()
    for r in areas:
        if r["outer"]:
            assert r["a"] > 0, "outer ring must be CCW"
        else:
            assert r["a"] < 0, "inner ring must be CW"


def test_split_ring_depth_cap_flags_incomplete():
    """A ring that still has a proper crossing when the depth cap is
    reached must come back FLAGGED, never disguised as simple
    (ADVICE r4). Entering at the cap simulates the pathological case
    directly."""
    from osm_airflow_spark.plans.osm import split_ring_with_status

    # asymmetric crossing ring (lobe areas differ, so the net signed
    # area is nonzero and the capped part survives as a flagged row)
    crossed = [(0.0, 0.0), (2.0, 2.0), (2.0, 0.0), (0.0, 1.0), (0.0, 0.0)]
    parts, incomplete = split_ring_with_status(crossed, _depth=12)
    assert incomplete and parts == [crossed]  # best-effort, flagged

    # the symmetric bowtie nets to zero signed area at the cap — it
    # drops rather than masquerading as simple, still flagged
    bowtie = [(0.0, 0.0), (1.0, 1.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0)]
    parts, incomplete = split_ring_with_status(bowtie, _depth=12)
    assert incomplete and parts == []

    square = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]
    parts, incomplete = split_ring_with_status(square, _depth=12)
    assert not incomplete and parts == [square]

    # normal entry: both crossing rings resolve fully, not flagged
    for ring in (bowtie, crossed):
        parts, incomplete = split_ring_with_status(ring)
        assert not incomplete and len(parts) == 2


def test_collinear_overlap_repair():
    """ROADMAP item 7 remainder: zero-width whiskers spike off, and a
    ring traversing the same carrier segment twice (full or partial
    collinear overlap) decomposes into its genuine lobes with the
    zero-area corridor dropped."""
    from osm_airflow_spark.plans.osm import _shoelace, split_ring_with_status

    whisker = [(0.0, 0.0), (2.0, 0.0), (3.0, 0.0), (2.0, 0.0),
               (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]
    parts, inc = split_ring_with_status(whisker)
    assert not inc and parts == [
        [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]
    ]

    # square reached via a zero-width corridor along y=0
    corridor = [(0.0, 0.0), (1.0, 0.0), (1.0, -1.0), (2.0, -1.0),
                (2.0, 0.0), (0.0, 0.0)]
    parts, inc = split_ring_with_status(corridor)
    assert not inc and len(parts) == 1
    assert abs(abs(_shoelace(parts[0])) - 1.0) < 1e-12  # the real square
    assert (0.0, 0.0) not in parts[0]  # corridor vertex gone

    # PARTIAL overlap: two lobes joined by a shared collinear run [1,2]×{0}
    partial = [(0.0, 0.0), (2.0, 0.0), (2.0, 1.0), (3.0, 1.0), (3.0, 0.0),
               (1.0, 0.0), (1.0, 2.0), (0.0, 2.0), (0.0, 0.0)]
    parts, inc = split_ring_with_status(partial)
    assert not inc and len(parts) == 2
    areas = sorted(abs(_shoelace(p)) for p in parts)
    assert areas == [1.0, 2.0]


def test_point_in_polygon_matches_python_ray_cast(spark, sf_dir):
    """The in-plan crossing-number fold agrees with a driver-side
    Python ray caster over the same derived rings and nodes."""
    from pyspark.sql import functions as F

    from osm_airflow_spark.plans.osm import assemble_way_lines
    from osm_airflow_spark.plans.osm_queries import (
        _derived_nodes,
        _derived_ways,
    )
    from osm_airflow_spark.registry import QUERIES

    nodes = _derived_nodes(spark, sf_dir)
    quads = (
        _derived_ways(spark, sf_dir)
        .where(F.col("way_id") % 100 == 0)
        .select(
            "way_id",
            F.slice(F.array_distinct("node_refs"), 1, 4).alias("node_refs"),
            "tags",
        )
        .where(F.size("node_refs") == 4)
    )
    assembled = assemble_way_lines(quads, nodes).where(F.size("line") == 4)
    rings = {
        r.way_id: [(s.lon, s.lat) for s in r.line] for r in assembled.collect()
    }
    pts = [(r.lon, r.lat) for r in nodes.select("lon", "lat").collect()]

    def inside(ring, px, py):
        k = 0
        closed = ring + ring[:1]
        for (x1, y1), (x2, y2) in zip(closed, closed[1:]):
            if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
                k += 1
        return k % 2 == 1

    expected = {}
    for wid, ring in rings.items():
        n = sum(1 for px, py in pts if inside(ring, px, py))
        if n:
            expected[wid] = n
    got = {
        r.way_id: r.n_inside
        for r in QUERIES["osm_point_in_polygon"](spark, sf_dir).collect()
    }
    assert got == expected


def test_simplify_line_kernel_properties():
    """DP invariants on hand-built lines: endpoints always kept; a
    straight line collapses to its endpoints; a spike above eps is
    kept; deviation bound holds for every dropped vertex."""
    from osm_airflow_spark.plans.osm import _perp_dist, simplify_line

    straight = [(float(i), 0.0) for i in range(10)]
    assert simplify_line(straight, 0.01) == [(0.0, 0.0), (9.0, 0.0)]

    spike = [(0.0, 0.0), (1.0, 0.0), (2.0, 5.0), (3.0, 0.0), (4.0, 0.0)]
    simp = simplify_line(spike, 0.5)
    assert (2.0, 5.0) in simp and simp[0] == spike[0] and simp[-1] == spike[-1]

    import random

    rng = random.Random(11)
    line = [(rng.uniform(-10, 10), rng.uniform(-10, 10)) for _ in range(40)]
    eps = 1.5
    simp = simplify_line(line, eps)
    assert simp[0] == line[0] and simp[-1] == line[-1]
    # every dropped vertex lies within eps of the simplified chain's
    # covering chord: re-run check segment-by-segment
    kept_idx = [line.index(p) for p in simp]
    for a, b in zip(kept_idx, kept_idx[1:]):
        for k in range(a + 1, b):
            assert _perp_dist(line[k], line[a], line[b]) <= eps + 1e-12


def test_osm_line_simplify_matches_driver_side_kernel(spark, sf_dir):
    """Distributed output == the same DP kernel run driver-side over
    the same densified lines: proves the mapInPandas plumbing (Arrow
    struct handling, batch iteration, column packing) preserves
    kernel semantics exactly. Count invariants are deliberately NOT
    asserted: repeated node refs make duplicate vertices (dropped at
    zero deviation, correctly), and a midpoint that is the first
    max-deviation split of a high-level chord is kept by
    construction."""
    from pyspark.sql import functions as F

    from osm_airflow_spark.plans.osm import assemble_way_lines, simplify_line_q
    from osm_airflow_spark.plans.osm_queries import (
        _derived_nodes,
        _derived_ways,
    )
    from osm_airflow_spark.registry import all_queries

    nodes = _derived_nodes(spark, sf_dir)
    ways = _derived_ways(spark, sf_dir).where(F.col("way_id") % 20 == 0)
    assembled = assemble_way_lines(ways, nodes).where(F.size("line") >= 2)
    expected = {}
    for r in assembled.collect():
        pts = [(s.lon, s.lat) for s in r.line]
        dens = []
        for a, b in zip(pts, pts[1:]):
            dens.append(a)
            dens.append(((a[0] + b[0]) / 2, (a[1] + b[1]) / 2))
        dens.append(pts[-1])
        sx, sy = simplify_line_q(dens)
        expected[r.way_id] = (
            len(dens),
            len(sx),
            ",".join(str(x) for x in sx),
            ",".join(str(y) for y in sy),
        )
    got = {
        r.way_id: (r.n_in, r.n_out, r.lons, r.lats)
        for r in all_queries()["osm_line_simplify"](spark, sf_dir).collect()
    }
    assert got == expected
    assert any(v[1] < v[0] for v in got.values())  # it does simplify


def test_resolve_relations_transitive_depth_and_cycle(spark):
    """Micro-fixture: a 3-deep chain (10 → 20 → 30 → ways) resolves
    with correct depths; a 2-cycle (40 ↔ 41) dies at the depth cap
    instead of looping, and contributes no leaves."""
    from pyspark.sql import functions as F

    from osm_airflow_spark.plans.osm import resolve_relations_transitive

    def m(mtype, ref, role="r"):
        return (mtype, ref, role)

    rows = [
        (10, [m("relation", 20), m("way", 100, "outer")]),
        (20, [m("relation", 30), m("node", 200)]),
        (30, [m("way", 101, "inner")]),
        (40, [m("relation", 41)]),
        (41, [m("relation", 40), m("way", 102)]),
    ]
    rels = spark.createDataFrame(
        rows,
        "rel_id long, members array<struct<mtype:string,ref:long,role:string>>",
    )
    leaves = resolve_relations_transitive(rels, max_depth=6)
    got = {
        (r.root_id, r.mtype, r.ref): (r.depth, r.role)
        for r in leaves.where(F.col("root_id") == 10).collect()
    }
    assert got == {
        (10, "way", 100): (1, "outer"),
        (10, "node", 200): (2, "r"),
        (10, "way", 101): (3, "inner"),
    }
    # the cycle pair still yields its reachable WAY leaves (each root
    # reaches way 102 repeatedly until the cap) but never hangs; just
    # assert termination + no relation-type rows in the output
    cyc = leaves.where(F.col("root_id").isin(40, 41)).collect()
    assert all(r.mtype != "relation" for r in cyc)


def test_bbox_read_prunes_geohash_partitions(spark, sf_dir, tmp_path):
    """The spatial layout contract, measured: a bbox query against a
    geohash-partitioned layer reads ONLY the covering cells'
    directories (PartitionFilters in the scan, strictly fewer input
    files than the layer holds) and returns exactly the brute-force
    bbox rows."""
    from pyspark.sql import functions as F

    from osm_airflow_spark.plans.osm import cells_for_bbox, geohash_cell, read_bbox
    from osm_airflow_spark.plans.osm_queries import _derived_nodes

    bits = 6  # 8x8 grid: enough partitions to measure pruning
    nodes = _derived_nodes(spark, sf_dir).select("node_id", "lon", "lat")
    layer = nodes.withColumn("geohash", geohash_cell(F.col("lon"), F.col("lat"), bits))
    path = str(tmp_path / "layer")
    layer.write.partitionBy("geohash").parquet(path)

    bbox = (-30.0, -20.0, 60.0, 45.0)
    got = read_bbox(spark, path, *bbox, bits=bits)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "geohash" in plan

    expected = sorted(
        r.node_id
        for r in nodes.where(
            F.col("lon").between(bbox[0], bbox[2])
            & F.col("lat").between(bbox[1], bbox[3])
        ).collect()
    )
    assert sorted(r.node_id for r in got.collect()) == expected

    # files actually READ come from the scan node's runtime metric —
    # DataFrame.inputFiles() reports the pre-pruning FileIndex and
    # would show no pruning at all
    scan = got._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    n_read = scan.metrics().apply("numFiles").value()
    n_total = len(spark.read.parquet(path).inputFiles())
    n_cells = len(cells_for_bbox(*bbox, bits=bits))
    assert n_read < n_total  # pruning actually happened
    assert n_read <= n_cells  # at most one file per covering cell here


def test_convex_hull_matches_gift_wrapping_and_invariants(spark, sf_dir):
    """Independent algorithm cross-check for the rows-only hull key:
    Jarvis gift-wrapping (a different construction from the kernel's
    monotone chain) must produce the same hull size and area per
    way; every input point must lie inside-or-on the hull; hull area
    bounds the way's bbox-triangle from below sanity-wise."""
    from osm_airflow_spark.plans.osm_queries import (
        _derived_nodes,
        _derived_ways,
    )
    from osm_airflow_spark.registry import all_queries

    QUERIES = all_queries()
    got = {
        r["way_id"]: r
        for r in QUERIES["osm_convex_hull"](spark, sf_dir).collect()
    }
    nodes = {
        r["node_id"]: (r["lon"], r["lat"])
        for r in _derived_nodes(spark, sf_dir).collect()
    }
    # sample 40 ways deterministically for the python cross-check
    sample_ids = sorted(got)[:40]
    ways_df = _derived_ways(spark, sf_dir)
    import pyspark.sql.functions as F

    sample = {
        r["way_id"]: r["node_refs"]
        for r in ways_df.where(F.col("way_id").isin(sample_ids)).collect()
    }

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def gift_wrap(pts):
        pts = sorted(set(pts))
        if len(pts) <= 2:
            return pts
        hull = []
        start = min(pts)
        p = start
        while True:
            hull.append(p)
            q = pts[0] if pts[0] != p else pts[1]
            for r in pts:
                if r == p:
                    continue
                c = cross(p, q, r)
                if c < 0 or (
                    c == 0
                    and (r[0] - p[0]) ** 2 + (r[1] - p[1]) ** 2
                    > (q[0] - p[0]) ** 2 + (q[1] - p[1]) ** 2
                ):
                    q = r
            p = q
            if p == start:
                break
        return hull

    def shoelace(h):
        a = 0.0
        for i in range(len(h)):
            x1, y1 = h[i]
            x2, y2 = h[(i + 1) % len(h)]
            a += x1 * y2 - x2 * y1
        return abs(a) / 2.0

    checked = 0
    for wid, refs in sample.items():
        pts = [nodes[n] for n in refs if n in nodes]
        if not pts:
            continue
        h = gift_wrap(pts)
        r = got[wid]
        assert r["n_points"] == len(set(pts)), wid
        assert r["hull_size"] == len(h), (wid, r["hull_size"], len(h))
        assert abs(r["hull_area"] - shoelace(h)) < 1e-9, wid
        # containment: every point inside-or-on the hull
        if len(h) >= 3:
            for p in set(pts):
                assert all(
                    cross(h[i], h[(i + 1) % len(h)], p) >= -1e-9
                    for i in range(len(h))
                ), (wid, p)
        checked += 1
    assert checked >= 30


def test_bearing_rose_planted_replica(spark, tmp_path):
    """Two planted ways over the derived-coordinate node space: an
    equator west-to-east pair (node 90 at (0,-85.5), node 270 at
    (0, 85.5) -> initial bearing exactly 90 deg, bin 4 = E) and a
    zero-length repeated-ref segment (atan2(0,0) = 0 -> bin 0 with
    0 km). A pure-Python replica of bearing/haversine/binning
    confirms every emitted bin."""
    import math

    from osm_airflow_spark.registry import all_queries

    spark.createDataFrame(
        [(90,), (270,)], "p_partkey long"
    ).coalesce(1).write.parquet(str(tmp_path / "part.parquet"))
    li = [(1, 1, 90), (1, 2, 270), (2, 1, 90), (2, 2, 90)]
    spark.createDataFrame(
        li, "l_orderkey long, l_linenumber int, l_partkey long"
    ).coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
    rows = {
        r["bin_idx"]: r
        for r in all_queries()["osm_bearing_rose"](
            spark, str(tmp_path)
        ).collect()
    }

    def coords(pk):
        return (
            ((pk * 7) % 180 - 90.0) * 0.95,
            ((pk * 13) % 360 - 180.0) * 0.95,
        )

    lat1, lon1 = coords(90)
    lat2, lon2 = coords(270)
    assert (lat1, lat2) == (0.0, 0.0)
    dlon = math.radians(lon2 - lon1)
    y = math.sin(dlon) * math.cos(math.radians(lat2))
    x = math.cos(math.radians(lat1)) * math.sin(math.radians(lat2)) - (
        math.sin(math.radians(lat1))
        * math.cos(math.radians(lat2))
        * math.cos(dlon)
    )
    bearing = round((math.degrees(math.atan2(y, x)) + 360.0) % 360.0, 6)
    assert bearing == 90.0
    km = round(
        2
        * 6371.0
        * math.asin(
            math.sqrt(
                math.sin(math.radians(lat2 - lat1) / 2) ** 2
                + math.cos(math.radians(lat1))
                * math.cos(math.radians(lat2))
                * math.sin(math.radians(lon2 - lon1) / 2) ** 2
            )
        ),
        6,
    )
    assert set(rows) == {0, 4}
    assert rows[4]["n_segments"] == 1
    assert rows[4]["length_km"] == km
    assert rows[0]["n_segments"] == 1 and rows[0]["length_km"] == 0.0
    assert rows[4]["km_share"] == 1.0 and rows[0]["km_share"] == 0.0


def test_clip_ring_convex_known_answers():
    from fractions import Fraction

    from osm_airflow_spark.plans.osm import clip_ring_convex

    rect = [(-60, -30), (60, -30), (60, 30), (-60, 30)]  # CCW window

    def area2(closed):
        s = Fraction(0)
        for i in range(len(closed) - 1):
            s += closed[i][0] * closed[i + 1][1] - closed[i + 1][0] * closed[i][1]
        return s

    # straddles the west edge: clipped to x ∈ [-60, 0]
    sq = [(-70, -10), (0, -10), (0, 10), (-70, 10), (-70, -10)]
    c = clip_ring_convex(sq, rect)
    assert area2(c) / 2 == Fraction(60 * 20)
    assert all(p[0] >= -60 for p in c)
    # fully inside: identity (same vertex cycle)
    inside = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]
    ci = clip_ring_convex(inside, rect)
    assert area2(ci) / 2 == Fraction(100)
    assert set(ci) == {(0, 0), (10, 0), (10, 10), (0, 10)}
    # fully outside: empty
    far = [(100, 50), (120, 50), (120, 70), (100, 70), (100, 50)]
    assert clip_ring_convex(far, rect) == []
    # corner cut: right triangle over the NE corner of the window —
    # the kept piece is the similar triangle (50,20)-(60,20)-(60,30)
    tri = [(50, 20), (70, 20), (70, 40), (50, 20)]
    ct = clip_ring_convex(tri, rect)
    assert area2(ct) / 2 == Fraction(50)


def _convex_intersection_reference(subject, window):
    """Independent convex ∩ convex: candidate vertices = subject
    vertices inside window + window vertices inside subject + all
    pairwise proper edge intersections, then exact monotone-chain
    hull. Valid only when BOTH polygons are convex."""
    from fractions import Fraction

    def cr(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def inside(p, poly):  # CCW convex, boundary counts
        n = len(poly)
        return all(cr(poly[i], poly[(i + 1) % n], p) >= 0 for i in range(n))

    def seg_int(p1, p2, p3, p4):
        d = (p2[0] - p1[0]) * (p4[1] - p3[1]) - (p2[1] - p1[1]) * (p4[0] - p3[0])
        if d == 0:
            return None
        t = ((p3[0] - p1[0]) * (p4[1] - p3[1]) - (p3[1] - p1[1]) * (p4[0] - p3[0])) / d
        u = ((p3[0] - p1[0]) * (p2[1] - p1[1]) - (p3[1] - p1[1]) * (p2[0] - p1[0])) / d
        if 0 <= t <= 1 and 0 <= u <= 1:
            return (p1[0] + t * (p2[0] - p1[0]), p1[1] + t * (p2[1] - p1[1]))
        return None

    S = [(Fraction(x), Fraction(y)) for x, y in subject]
    W = [(Fraction(x), Fraction(y)) for x, y in window]
    cand = [p for p in S if inside(p, W)] + [p for p in W if inside(p, S)]
    for i in range(len(S)):
        for j in range(len(W)):
            p = seg_int(S[i], S[(i + 1) % len(S)], W[j], W[(j + 1) % len(W)])
            if p is not None:
                cand.append(p)
    pts = sorted(set(cand))
    if len(pts) < 3:
        return []
    def half(ps):
        h = []
        for p in ps:
            while len(h) >= 2 and cr(h[-2], h[-1], p) <= 0:
                h.pop()
            h.append(p)
        return h
    lower, upper = half(pts), half(pts[::-1])
    hull = lower[:-1] + upper[:-1]
    return hull + [hull[0]] if len(hull) >= 3 else []


def test_clip_ring_convex_matches_independent_reference_and_green():
    """Three implementations agree exactly on random convex subjects:
    (1) exact-rational Sutherland–Hodgman (the engine kernel),
    (2) candidate-vertex + hull convex intersection (independent),
    (3) the 4-corner quadrant Green decomposition used by the
        osm_polygon_clip_area oracle (rectangle windows only)."""
    import random
    from fractions import Fraction

    from osm_airflow_spark.plans.osm import clip_ring_convex

    def area2(closed):
        s = Fraction(0)
        for i in range(len(closed) - 1):
            s += closed[i][0] * closed[i + 1][1] - closed[i + 1][0] * closed[i][1]
        return s

    def cr(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def quad_term(px, py, qx, qy, a, b):
        dx, dy = qx - px, qy - py
        if dx == 0:
            return Fraction(0)
        tx = (a - px) / dx
        lox, hix = (Fraction(0), tx) if dx > 0 else (tx, Fraction(1))
        if dy == 0:
            if py > b:
                return Fraction(0)
            loy, hiy = Fraction(0), Fraction(1)
        else:
            ty = (b - py) / dy
            loy, hiy = (Fraction(0), ty) if dy > 0 else (ty, Fraction(1))
        lo, hi = max(Fraction(0), lox, loy), min(Fraction(1), hix, hiy)
        if hi <= lo:
            return Fraction(0)
        return dx * ((py - b) * (hi - lo) + dy * (hi * hi - lo * lo) / 2)

    def rect_green(closed, x0, x1, y0, y1):
        tot = Fraction(0)
        for i in range(len(closed) - 1):
            px, py = closed[i]
            qx, qy = closed[i + 1]
            tot += (
                quad_term(px, py, qx, qy, x1, y1)
                - quad_term(px, py, qx, qy, x0, y1)
                - quad_term(px, py, qx, qy, x1, y0)
                + quad_term(px, py, qx, qy, x0, y0)
            )
        return -tot

    rect = [(-60, -30), (60, -30), (60, 30), (-60, 30)]
    hexa = [(45, 0), (22, 39), (-22, 39), (-45, 0), (-22, -39), (22, -39)]
    rng = random.Random(20260816)
    checked = 0
    for _ in range(400):
        raw = sorted(
            set(
                (rng.randint(-170, 170), rng.randint(-85, 85))
                for _ in range(rng.randint(3, 9))
            )
        )
        if len(raw) < 3:
            continue
        def half(ps):
            h = []
            for p in ps:
                while len(h) >= 2 and cr(h[-2], h[-1], p) <= 0:
                    h.pop()
                h.append(p)
            return h
        hull = half(raw)[:-1] + half(raw[::-1])[:-1]
        if len(hull) < 3:
            continue
        ring = [(Fraction(x), Fraction(y)) for x, y in hull]
        ring = ring + [ring[0]]
        for window in (rect, hexa):
            c = clip_ring_convex(ring, window)
            ref = _convex_intersection_reference(
                [p for p in ring[:-1]], window
            )
            a_sh = area2(c) / 2 if c else Fraction(0)
            a_ref = area2(ref) / 2 if ref else Fraction(0)
            assert a_sh == a_ref
            # idempotence + containment + monotonicity, all exact
            if c:
                assert clip_ring_convex(c, window) is not None
                c2 = clip_ring_convex(c, window)
                assert area2(c2) / 2 == a_sh
                n = len(window)
                for p in c[:-1]:
                    for i in range(n):
                        a, b = window[i], window[(i + 1) % n]
                        assert cr(
                            (Fraction(a[0]), Fraction(a[1])),
                            (Fraction(b[0]), Fraction(b[1])),
                            p,
                        ) >= 0
            assert abs(a_sh) <= abs(area2(ring) / 2)
        # Green decomposition (rectangle only) == S-H, exactly
        a_green = rect_green(ring, Fraction(-60), Fraction(60), Fraction(-30), Fraction(30))
        c = clip_ring_convex(ring, rect)
        assert a_green == (area2(c) / 2 if c else Fraction(0))
        checked += 1
    assert checked >= 300


def test_clip_ring_hom_matches_fraction_kernel():
    """The r14 homogeneous-integer production kernel produces the
    IDENTICAL exact rationals as the Fraction reference kernel — every
    clipped vertex, the emptiness decision, and the signed area — on
    random float rings (convex, concave, and self-crossing) against
    integer- and float-vertex windows."""
    import random
    from fractions import Fraction

    from osm_airflow_spark.plans.osm import (
        _area2_hom,
        _clip_ring_hom,
        _hom,
        _hom_edges,
        clip_ring_convex,
    )

    def area2(closed):
        s = Fraction(0)
        for i in range(len(closed) - 1):
            s += closed[i][0] * closed[i + 1][1] - closed[i + 1][0] * closed[i][1]
        return s

    rect = [(-60, -30), (60, -30), (60, 30), (-60, 30)]
    hexa = [(45, 0), (22, 39), (-22, 39), (-45, 0), (-22, -39), (22, -39)]
    # float vertices exercise _hom_edges' denominator clearing
    fwin = [(-50.25, -20.5), (50.75, -20.5), (50.75, 20.125), (-50.25, 20.125)]
    rng = random.Random(20260817)
    checked = 0
    for _ in range(300):
        n = rng.randint(3, 8)
        ring = [
            (rng.uniform(-170.0, 170.0), rng.uniform(-85.0, 85.0))
            for _ in range(n)
        ]
        ring = ring + [ring[0]]
        for window in (rect, hexa, fwin):
            fring = [(Fraction(x), Fraction(y)) for x, y in ring]
            c_old = clip_ring_convex(fring, window)
            ph = [_hom(x, y) for x, y in ring[:-1]]
            c_new = _clip_ring_hom(ph, _hom_edges(window))
            assert bool(c_old) == bool(c_new)
            if not c_old:
                continue
            assert len(c_old) == len(c_new)
            for (fx, fy), (X, Y, W) in zip(c_old, c_new):
                assert W > 0
                assert fx == Fraction(X, W) and fy == Fraction(Y, W)
            num, den = _area2_hom(c_new)
            assert den > 0 and area2(c_old) == Fraction(num, den)
            checked += 1
    assert checked >= 400


def test_osm_polygon_clip_key_invariants(spark, sf_dir):
    """The registered rows-only key: every emitted part is inside the
    hexagon window, areas are monotone, flags consistent; and the
    oracled rectangle key agrees with shoelace for fully-inside
    rings (clip == ring there)."""
    from osm_airflow_spark.plans.osm_queries import _HEX_WINDOW
    from osm_airflow_spark.registry import QUERIES

    rows = QUERIES["osm_polygon_clip"](spark, sf_dir).collect()
    assert rows
    clipped_n = 0
    for r in rows:
        assert r.n_vertices >= 3
        assert 0 < r.clip_area <= r.orig_area + 1e-9
        assert r.was_clipped == (r.clip_area != r.orig_area)
        clipped_n += int(r.was_clipped)
    assert clipped_n > 0  # the window genuinely cuts some rings

    area_rows = QUERIES["osm_polygon_clip_area"](spark, sf_dir).collect()
    assert area_rows
    inside_exact = partial = 0
    for r in area_rows:
        if r.clip_area == r.ring_area and r.ring_area != 0:
            inside_exact += 1
        elif abs(r.clip_area) < abs(r.ring_area):
            partial += 1
    # fixture quads span the globe: both regimes must be populated
    assert partial > 0
    # full coverage: the window clips SOMETHING to zero or partial —
    # and no row may have |clip| > |ring| by more than lobe-winding
    # allows for a bowtie (signed cancellation); simple CCW rings obey
    # the inequality, bowties are the only exception


def test_tile_overlay_conserves_ring_area(spark, sf_dir):
    """The 8 tiles exactly partition [-180,180]×[-90,90], so each
    ring's signed tile-clip areas must sum to its full signed
    shoelace area (osm_polygon_clip_area's ring_area column) — the
    conservation law that caught the r13 draft whose latitude bands
    covered [-180,0] and silently dropped the northern hemisphere
    (both engines shared the bug, so the oracle alone couldn't see
    it). Tolerance 1e-9: the per-tile doubles are exact shared trees
    but the cross-tile sum here is a test-side float fold."""
    from collections import defaultdict

    from osm_airflow_spark.registry import all_queries

    q = all_queries()
    per_tile = defaultdict(float)
    tiles_hit = set()
    for r in q["osm_tile_overlay"](spark, sf_dir).collect():
        per_tile[r.way_id] += r.clip_area
        tiles_hit.add((r.tile_x, r.tile_y))
    ring = {
        r.way_id: r.ring_area
        for r in q["osm_polygon_clip_area"](spark, sf_dir).collect()
    }
    assert per_tile  # overlay produced rows
    # every (gx, gy) cell of the 4×2 grid sees at least one ring at
    # this SF — the northern-hemisphere regression would empty half
    assert tiles_hit == {(gx, gy) for gx in range(-1, 3) for gy in range(0, 2)}
    checked = 0
    for wid, total in per_tile.items():
        assert abs(total - ring[wid]) < 1e-9, (wid, total, ring[wid])
        checked += 1
    assert checked > 50


def test_tile_pyramid_conservation_and_grid(spark, sf_dir):
    """Pyramid conservation: every zoom level carries the SAME rings
    and the SAME 6-dp areas, so per-zoom ring counts are equal and
    per-zoom area totals are exactly equal as decimals (the sums are
    decimal folds of 6-dp terms). Tile indices must lie inside each
    zoom's 2^z grid."""
    from decimal import Decimal

    from osm_airflow_spark.registry import all_queries

    rows = all_queries()["osm_tile_pyramid"](spark, sf_dir).collect()
    assert rows
    per_zoom_n: dict = {}
    per_zoom_area: dict = {}
    for r in rows:
        z = r["zoom"]
        assert 0 <= r["tile_x"] < 2 ** z
        assert 0 <= r["tile_y"] < 2 ** z
        per_zoom_n[z] = per_zoom_n.get(z, 0) + r["n_rings"]
        per_zoom_area[z] = per_zoom_area.get(z, Decimal(0)) + Decimal(
            repr(r["total_area"])
        ).quantize(Decimal("0.000001"))
    assert set(per_zoom_n) == {0, 1, 2, 3}
    assert len(set(per_zoom_n.values())) == 1
    # zoom 0 is one tile: its total is the whole-corpus sum; coarse/fine
    # totals may differ only by the double emission of per-tile sums,
    # bounded by a half-ulp per tile at 6 dp
    tol = Decimal("0.000001") * len(rows)
    base = per_zoom_area[0]
    for z in (1, 2, 3):
        assert abs(per_zoom_area[z] - base) <= tol


def test_way_intersections_matches_brute_force_replica(spark):
    """Third implementation: brute-force ALL-PAIRS exact-integer
    orientation tests over the same derived segments must find
    exactly the same crossing pairs and the same intersection points
    (t = d3/(d3-d4) replayed with the same IEEE ops) — proving the
    grid-bucketing loses no pair (pitch >= max extent) and
    double-counts none. Runs at sf0.001 where all-pairs is trivial;
    also pins a hand crossing and a sharing-endpoint NON-crossing."""
    from osm_airflow_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    okeys = [
        r[0]
        for r in spark.read.parquet(f"{sf}/orders.parquet")
        .select("o_orderkey")
        .collect()
    ]
    segs = {}
    for k in okeys:
        if k % 4 != 0:
            continue
        dx, dy = (k * 11) % 2001 - 1000, (k * 17) % 2001 - 1000
        if dx == 0 and dy == 0:
            continue
        x1, y1 = (k * 13) % 100000, (k * 7) % 100000
        segs[k] = (x1, y1, x1 + dx, y1 + dy)

    def cross(a, b):
        ax1, ay1, ax2, ay2 = a
        bx1, by1, bx2, by2 = b
        d1 = (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)
        d2 = (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)
        d3 = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
        d4 = (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)
        if ((d1 > 0) != (d2 > 0) and d1 != 0 and d2 != 0
                and (d3 > 0) != (d4 > 0) and d3 != 0 and d4 != 0):
            t = float(d3) / (d3 - d4)
            return (float(ax1) + t * (ax2 - ax1),
                    float(ay1) + t * (ay2 - ay1))
        return None

    want = {}
    ks = sorted(segs)
    for i, ka in enumerate(ks):
        for kb in ks[i + 1:]:
            pt = cross(segs[ka], segs[kb])
            if pt is not None:
                want[(ka, kb)] = pt

    got = {
        (r["way_a"], r["way_b"]): (r["ix"], r["iy"])
        for r in all_queries()["osm_way_intersections"](spark, sf).collect()
    }
    assert got == want

    # hand pins on the pure test: a plus-sign crossing at (5, 5)...
    assert cross((0, 5, 10, 5), (5, 0, 5, 10)) == (5.0, 5.0)
    # ...and segments sharing an endpoint do NOT properly cross
    assert cross((0, 0, 10, 0), (10, 0, 10, 10)) is None


def test_osm_junctions_planted_topology(spark, tmp_path):
    """Planted way->node references: node 10 on two ways (crossing),
    node 20 on three (tee), node 30 on four (major), node 40 on one
    way only (not a junction); a repeated reference within ONE way
    must not inflate its count (DISTINCT guard)."""
    from osm_airflow_spark.registry import QUERIES

    rows = []
    # way 1 references node 40 twice -> still only one way for 40
    refs = {
        1: [10, 20, 30, 40, 40],
        2: [10, 20, 30],
        3: [20, 30],
        4: [30],
    }
    for way, nodes in refs.items():
        for n in nodes:
            rows.append((way, n))
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").coalesce(
        1
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r["node_id"]: r
        for r in QUERIES["osm_junctions"](spark, str(tmp_path)).collect()
    }
    assert set(got) == {10, 20, 30}
    assert got[10]["n_ways"] == 2 and got[10]["junction_class"] == "crossing"
    assert got[20]["n_ways"] == 3 and got[20]["junction_class"] == "tee"
    assert got[30]["n_ways"] == 4 and got[30]["junction_class"] == "major"
