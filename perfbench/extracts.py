"""Seeded OSM ``.osm.pbf`` extract generator for the ``osm_etl`` workload.

Encodes with the independent wire primitives of
``tools/make_golden_pbf.py`` (no code shared with the decoder under
test) and writes, beside each extract, the facts the published highway
layer must reproduce. The facts are computed from the generator's own
integers, never by decoding.

Each region is a cloud of DenseNodes plus ways at about ten nodes per
way: most ways carry a ``highway`` tag (some with ``name`` and
``maxspeed``), the rest are buildings that the highway layer must
drop, and a few route relations reference ways. Coordinates are raw
integers at the default granularity (1e-7 degrees), so a decoded
coordinate times 1e7 rounds back to its raw value exactly.
"""

from __future__ import annotations

import json
import os

import numpy as np

from tools.make_golden_pbf import (
    deltas,
    fileblock,
    ld,
    packed,
    string_table,
    vi,
    zz,
)

NODES_PER_BLOCK = 8_000
WAYS_PER_BLOCK = 2_000
HIGHWAY_CLASSES = ["residential", "service", "tertiary", "secondary", "primary"]
MAXSPEEDS = ["30", "50", "70", "90"]

# Two regions of different size, so the fan-out is skewed: the big
# region's chain sets the iteration's wall time.
REGIONS = (
    {"region": "bench", "subregion": "big", "ways": 12_000, "lon": -105.5, "lat": 39.0},
    {"region": "bench", "subregion": "small", "ways": 4_000, "lon": -122.5, "lat": 44.0},
)
NODES_PER_WAY = 10


def _strings() -> tuple[list[str], dict[str, int]]:
    table = ["", "highway", "name", "maxspeed", "building", "yes", "amenity",
             "cafe", "type", "route", "road", "outer"]
    table += HIGHWAY_CLASSES + MAXSPEEDS
    table += [f"Street {i}" for i in range(64)]
    return table, {s: i for i, s in enumerate(table)}


def _dense_block(ids, lats, lons, tagged, idx) -> bytes:
    kvs: list[int] = []
    for t in tagged:
        if t:
            kvs += [idx["amenity"], idx["cafe"]]
        kvs.append(0)
    dense = (
        packed(1, [zz(d) for d in deltas(ids)])
        + packed(8, [zz(d) for d in deltas(lats)])
        + packed(9, [zz(d) for d in deltas(lons)])
        + packed(10, kvs)
    )
    return ld(2, ld(2, dense))


def _way_msg(way_id: int, refs: list[int], tags: dict[str, str], idx) -> bytes:
    msg = vi(1, way_id) + packed(8, [zz(d) for d in deltas(refs)])
    if tags:
        msg += packed(2, [idx[k] for k in tags]) + packed(3, [idx[v] for v in tags.values()])
    return ld(3, msg)


def _relation_msg(rel_id: int, way_ids: list[int], idx) -> bytes:
    return ld(
        4,
        vi(1, rel_id)
        + packed(2, [idx["type"]])
        + packed(3, [idx["route"]])
        + packed(8, [idx["outer"]] * len(way_ids))
        + packed(9, [zz(d) for d in deltas(way_ids)])
        + packed(10, [1] * len(way_ids)),
    )


def make_region(
    rng: np.random.Generator, n_ways: int, lon0: float, lat0: float, id_base: int
) -> tuple[bytes, dict]:
    """One region's PBF bytes and its expected highway-layer facts."""
    strings, idx = _strings()
    n_nodes = n_ways * NODES_PER_WAY
    node_ids = id_base + np.arange(n_nodes, dtype=np.int64)
    # raw coordinates in 1e-7 degree units, a ~1 degree box
    lats = (round(lat0 * 1e7) + rng.integers(-5_000_000, 5_000_000, n_nodes)).tolist()
    lons = (round(lon0 * 1e7) + rng.integers(-5_000_000, 5_000_000, n_nodes)).tolist()
    tagged = (rng.random(n_nodes) < 0.05).tolist()

    blocks = [fileblock("OSMHeader", ld(4, b"OsmSchema-V0.6") + ld(4, b"DenseNodes"), True)]
    st = ld(1, string_table(strings))
    ids = node_ids.tolist()
    for lo in range(0, n_nodes, NODES_PER_BLOCK):
        hi = min(lo + NODES_PER_BLOCK, n_nodes)
        block = st + _dense_block(ids[lo:hi], lats[lo:hi], lons[lo:hi], tagged[lo:hi], idx)
        blocks.append(fileblock("OSMData", block, True))

    facts: dict[str, list[int]] = {}
    way_msgs = []
    way_ids = []
    for j in range(n_ways):
        way_id = id_base + j
        length = int(rng.integers(2, 2 * NODES_PER_WAY - 1))
        picks = rng.choice(n_nodes, length, replace=False)
        refs = [ids[p] for p in picks]
        if rng.random() < 0.8:
            tags = {"highway": HIGHWAY_CLASSES[int(rng.integers(0, len(HIGHWAY_CLASSES)))]}
            if rng.random() < 0.5:
                tags["name"] = f"Street {int(rng.integers(0, 64))}"
            if rng.random() < 0.3:
                tags["maxspeed"] = MAXSPEEDS[int(rng.integers(0, len(MAXSPEEDS)))]
            ws = [lons[p] for p in picks]
            ss = [lats[p] for p in picks]
            facts[str(way_id)] = [min(ws), min(ss), max(ws), max(ss)]
        else:
            tags = {"building": "yes"}
        way_msgs.append(_way_msg(way_id, refs, tags, idx))
        way_ids.append(way_id)
    for lo in range(0, n_ways, WAYS_PER_BLOCK):
        block = st + ld(2, b"".join(way_msgs[lo:lo + WAYS_PER_BLOCK]))
        blocks.append(fileblock("OSMData", block, True))
    rels = b"".join(
        _relation_msg(id_base + k, sorted(rng.choice(way_ids, 5, replace=False).tolist()), idx)
        for k in range(max(1, n_ways // 500))
    )
    blocks.append(fileblock("OSMData", st + ld(2, rels), True))

    expected = {
        "nodes": n_nodes,
        "ways": n_ways,
        "highway_ways": len(facts),
        "coord_checksum": coord_checksum(facts),
        "bbox_e7": facts,
    }
    return b"".join(blocks), expected


def coord_checksum(bbox_e7: dict[str, list[int]]) -> int:
    """Order-independent checksum of every way's bbox (1e-7 degrees)."""
    total = 0
    for way_id, (w, s, e, n) in bbox_e7.items():
        total += int(way_id) * 1_000_003 + w * 3 + s * 5 + e * 7 + n * 11
    return total % (1 << 61)


def write_extracts(out_dir: str, seed: int) -> dict[str, dict]:
    """Write ``<subregion>.osm.pbf`` and ``<subregion>.expected.json``
    for every region; returns the expected facts by subregion."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    facts = {}
    for k, spec in enumerate(REGIONS):
        data, expected = make_region(
            rng, spec["ways"], spec["lon"], spec["lat"], id_base=(k + 1) * 10**9
        )
        sub = spec["subregion"]
        with open(os.path.join(out_dir, f"{sub}.osm.pbf"), "wb") as fh:
            fh.write(data)
        with open(os.path.join(out_dir, f"{sub}.expected.json"), "w") as fh:
            json.dump(expected, fh, separators=(",", ":"))
        facts[sub] = expected
    return facts
