"""Minimal pure-Python protobuf wire codec + OSM PBF block decoder.

No protobuf wheel exists in this image, but the wire format is a
small public spec (varints, zigzag, length-delimited fields), and the
OSM PBF fileformat/osmformat messages are published on the OSM wiki —
so the decoder the reference delegates to osm2pgsql
(/root/reference/osm_etl.py:54-56, README.md:97) can be re-expressed
here without any dependency. Executors run this per blob; a planet
file is ~80k independent blobs, so the unit of parallelism is the
blob, never the file.

Wire types used by OSM PBF: 0 = varint, 2 = length-delimited. The
codec is symmetric (encode + decode) — encode exists for the PBF
*sink* and for building test fixtures; decode is the ingest path.
One function walks a PrimitiveBlock (``decode_blob_columnar``, via
``_decode_block``); ingest, the ``osm_pbf`` Data Source and the
row-dict ``decode_blob`` all run it, so the golden, fuzz and
malformed-input tests pin the code ingest runs. Corrupt input raises
ValueError (zlib.error only from a corrupt zlib stream).

OSM PBF message numbers (osmformat.proto / fileformat.proto, public):

  BlobHeader:  type=1 (string), datasize=3 (int32)
  Blob:        raw=1 (bytes), raw_size=2, zlib_data=3
  PrimitiveBlock: stringtable=1, primitivegroup=2 (rep),
                  granularity=17 (def 100), date_granularity=18,
                  lat_offset=19, lon_offset=20 (def 0)
  StringTable: s=1 (repeated bytes)
  PrimitiveGroup: nodes=1, dense=2, ways=3, relations=4
  Node:      id=1 sint64, keys=2 packed, vals=3 packed,
             lat=8 sint64, lon=9 sint64
  DenseNodes: id=1 packed sint64 DELTA, lat=8 / lon=9 packed sint64
              DELTA, keys_vals=10 packed int32 (k,v,... 0 ends a node)
  Way:       id=1 int64, keys=2 / vals=3 packed uint32,
             refs=8 packed sint64 DELTA
  Relation:  id=1 int64, keys=2 / vals=3 packed, roles_sid=8 packed,
             memids=9 packed sint64 DELTA, types=10 packed enum
             (0=NODE, 1=WAY, 2=RELATION)
"""

from __future__ import annotations

import struct
import zlib

# --- varint / zigzag primitives -------------------------------------


def encode_varint(n: int) -> bytes:
    if n < 0:
        n += 1 << 64  # two's-complement 64-bit, per the spec
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


# --- message-level helpers ------------------------------------------


def parse_message(buf: bytes) -> dict[int, list]:
    """Parse one protobuf message into {field_no: [values...]}.
    Varint fields decode to int, length-delimited to bytes; fixed64/
    fixed32 (unused by OSM PBF) are skipped structurally."""
    fields: dict[int, list] = {}
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = decode_varint(buf, pos)
        field_no, wire_type = key >> 3, key & 7
        if wire_type == 0:
            val, pos = decode_varint(buf, pos)
        elif wire_type == 2:
            length, pos = decode_varint(buf, pos)
            if pos + length > n:
                raise ValueError(
                    f"truncated length-delimited field {field_no}: "
                    f"need {length} bytes at offset {pos}, have {n - pos}"
                )
            val = buf[pos : pos + length]
            pos += length
        elif wire_type == 1:
            val = buf[pos : pos + 8]
            pos += 8
        elif wire_type == 5:
            val = buf[pos : pos + 4]
            pos += 4
        else:  # groups (3/4) don't occur in OSM PBF
            raise ValueError(f"unsupported wire type {wire_type}")
        fields.setdefault(field_no, []).append(val)
    return fields


def first(fields: dict[int, list], no: int, default=None):
    vals = fields.get(no)
    return vals[0] if vals else default


_INT64_MIN, _INT64_MAX = -(1 << 63), (1 << 63) - 1


def _decode_packed_scalar(buf: bytes, signed: bool, delta: bool) -> list[int]:
    out: list[int] = []
    pos = 0
    acc = 0
    while pos < len(buf):
        v, pos = decode_varint(buf, pos)
        if signed:
            v = zigzag_decode(v)
        if delta:
            acc += v
            out.append(acc)
        else:
            out.append(v)
    if delta and out and not _INT64_MIN <= min(out) <= max(out) <= _INT64_MAX:
        raise ValueError("delta-coded packed field leaves the int64 range")
    return out


def decode_packed(buf: bytes, signed: bool = False, delta: bool = False) -> list[int]:
    """Decode a packed repeated varint field; optionally zigzag and/or
    delta-decode (OSM PBF delta-codes ids, coords, and way refs).

    Vectorized (r14, after the volume probe showed per-varint Python
    loops dominating blob decode at planet blob sizes): the byte run
    is split at MSB-clear terminators, each varint reassembled as a
    segment sum of 7-bit groups shifted by in-group position
    (``np.add.reduceat``), then zigzag / delta applied array-wide.
    uint64 shift-and-add wraps mod 2^64 exactly like protobuf's
    64-bit accumulator; zigzag and delta run in int64 two's
    complement, matching ``_signed64`` reinterpretation. Guards fall
    back to the scalar loop for anything outside those bounds: a
    varint of 10 or more bytes (would need a >63-bit shift), a
    truncated trailing varint (the scalar loop raises IndexError,
    which the block decoder reports as ValueError), or a delta stream
    whose running sum could leave int64 (n values of up to w bytes,
    n * 2^(7w) >= 2^63; real extracts stay far below it). One
    int64 rule for both paths: a delta sum outside int64 raises
    ValueError instead of wrapping (numpy) or growing past what the
    Long columns hold (Python ints). Measured ~6x on a 50k-node
    DenseNodes blob; ``_decode_packed_np`` equals
    ``_decode_packed_scalar`` wherever it answers (property test in
    tests/test_properties.py)."""
    arr = _decode_packed_np(buf, signed, delta)
    if arr is None:
        return _decode_packed_scalar(buf, signed, delta)
    return arr.tolist()


def _decode_packed_np(buf: bytes, signed: bool, delta: bool):
    """The vectorized core of decode_packed; returns a numpy array,
    or None when the stream needs the scalar loop (short buffers,
    truncated trailing varint, >9-byte varints, delta sums that could
    leave int64)."""
    if len(buf) < 64:
        return None
    import numpy as np  # noqa: PLC0415

    b = np.frombuffer(buf, dtype=np.uint8)
    term = (b & 0x80) == 0
    if not term[-1]:
        return None
    ends = np.flatnonzero(term)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    width = int((ends - starts).max()) + 1  # longest varint, in bytes
    if width > 9:
        # 10-byte varints can carry bits past 2^63 (full sint64
        # zigzag range / non-canonical encodings) where uint64
        # shift-wrap and python-int accumulation diverge — scalar
        return None
    # every value is below 2^(7 * width), so no running sum of n of
    # them can leave int64 while n * 2^(7 * width) < 2^63; past that
    # the scalar loop decides
    if delta and len(ends) << (7 * width) > _INT64_MAX:
        return None
    gid = np.zeros(len(b), dtype=np.int64)
    gid[1:] = np.cumsum(term[:-1])
    pos_in_group = (np.arange(len(b), dtype=np.int64) - starts[gid]).astype(
        np.uint64
    )
    contrib = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos_in_group)
    sums = np.add.reduceat(contrib, starts)
    if signed:
        vals = ((sums >> np.uint64(1)).astype(np.int64)) ^ (
            -((sums & np.uint64(1)).astype(np.int64))
        )
    else:
        vals = sums
    if delta:
        vals = np.cumsum(vals.astype(np.int64))
    return vals


def encode_field(field_no: int, wire_type: int, payload: bytes | int) -> bytes:
    key = encode_varint((field_no << 3) | wire_type)
    if wire_type == 0:
        return key + encode_varint(payload)  # type: ignore[arg-type]
    return key + encode_varint(len(payload)) + payload  # type: ignore[arg-type]


def encode_packed(
    field_no: int, values: list[int], signed: bool = False, delta: bool = False
) -> bytes:
    body = bytearray()
    prev = 0
    for v in values:
        d = v - prev if delta else v
        if delta:
            prev = v
        body += encode_varint(zigzag_encode(d) if signed else d)
    return encode_field(field_no, 2, bytes(body))


# --- OSM PBF block decode -------------------------------------------

NANO = 1e-9
_MEMBER_TYPES = ("node", "way", "relation")

# fileformat.proto limits: uncompressed blob SHOULD be < 16MB, MUST be
# < 32MB; BlobHeader MUST be < 64KB. Enforcing them bounds executor
# memory against decompression bombs in untrusted .pbf input.
MAX_BLOB_RAW = 32 * 1024 * 1024
MAX_HEADER_LEN = 64 * 1024


def _signed64(v: int) -> int:
    """Reinterpret an unsigned varint decode as two's-complement
    int64 (protobuf int64 wire encoding for negatives)."""
    return v - (1 << 64) if v >= (1 << 63) else v


def decode_blob(blob_bytes: bytes) -> dict:
    """One OSMData Blob → {"nodes": [...], "ways": [...],
    "relations": [...]} row dicts matching pbf.NODE/WAY/RELATION
    schemas: a flatten of ``decode_blob_columnar``'s chunks, for
    callers that want plain rows (tests, the perfbench extract check).
    Raises what the columnar decoder raises."""
    out: dict[str, list] = {"nodes": [], "ways": [], "relations": []}
    for kind, payload in decode_blob_columnar(blob_bytes):
        if kind == "dense":
            out["nodes"] += (
                {"node_id": i, "lat": lat, "lon": lon, "tags": t}
                for i, lat, lon, t in zip(
                    payload["node_id"].tolist(),
                    payload["lat"].tolist(),
                    payload["lon"].tolist(),
                    payload["tags"],
                )
            )
        else:
            out[kind] += payload
    return out


def inflate_blob(blob_bytes: bytes) -> bytes:
    """Blob envelope → uncompressed payload bytes, with the
    untrusted-input bounds (raw_size cap, bomb guard, truncation
    check). Shared by OSMData decode and OSMHeader decode."""
    blob = parse_message(blob_bytes)
    raw_size = first(blob, 2)
    if raw_size is not None and raw_size > MAX_BLOB_RAW:
        raise ValueError(
            f"Blob declares raw_size={raw_size} > {MAX_BLOB_RAW} spec cap"
        )
    cap = MAX_BLOB_RAW if raw_size is None else raw_size
    if 3 in blob:
        d = zlib.decompressobj()
        # ask for one byte beyond the cap: any surplus proves overrun
        data = d.decompress(blob[3][0], cap + 1)
        if len(data) > cap:
            raise ValueError(
                f"Blob inflates past its cap ({cap} bytes) — "
                "corrupt raw_size or decompression bomb"
            )
        if raw_size is not None and len(data) != raw_size:
            raise ValueError(
                f"Blob raw_size={raw_size} but inflated to {len(data)} bytes"
            )
        if not d.eof:
            # Without this, a truncated stream in a raw_size-less blob
            # returns PARTIAL data silently (decompressobj doesn't
            # raise on truncation) and failure surfaces as a confusing
            # downstream protobuf parse error instead of here.
            raise ValueError(
                "truncated zlib stream in Blob (no end-of-stream marker)"
            )
    elif 1 in blob:
        data = blob[1][0]
        if len(data) > MAX_BLOB_RAW:
            raise ValueError(
                f"raw Blob of {len(data)} bytes exceeds {MAX_BLOB_RAW} spec cap"
            )
    else:
        raise ValueError("Blob carries neither raw (1) nor zlib_data (3)")
    return data


# HeaderBlock features this decoder implements (osmformat.proto:
# required_features is the file's declaration of what a reader MUST
# understand to interpret it correctly — e.g. "HistoricalInformation"
# marks full-history files whose deleted elements would silently read
# as live here).
SUPPORTED_FEATURES = {"OsmSchema-V0.6", "DenseNodes"}


def decode_header(blob_bytes: bytes) -> dict:
    """One OSMHeader Blob → {"required_features": [...],
    "optional_features": [...], "writingprogram": str|None,
    "source": str|None}. Raises ValueError if the file declares a
    required feature this decoder does not implement — the spec's
    contract is that a reader MUST reject such files rather than
    misread them (first-contact readiness: geofabrik extracts declare
    OsmSchema-V0.6 + DenseNodes; full-history planet dumps add
    HistoricalInformation and must be refused here)."""
    block = parse_message(inflate_blob(blob_bytes))
    required = [b.decode("utf-8") for b in block.get(4, [])]
    optional = [b.decode("utf-8") for b in block.get(5, [])]
    unsupported = [f for f in required if f not in SUPPORTED_FEATURES]
    if unsupported:
        raise ValueError(
            f"PBF file requires unsupported features {unsupported} "
            f"(this decoder implements {sorted(SUPPORTED_FEATURES)})"
        )
    wp = first(block, 16)
    src = first(block, 17)
    return {
        "required_features": required,
        "optional_features": optional,
        "writingprogram": wp.decode("utf-8") if wp is not None else None,
        "source": src.decode("utf-8") if src is not None else None,
    }


def decode_blob_columnar(blob_bytes: bytes) -> list[tuple[str, object]]:
    """One OSMData Blob → ordered chunks ``[("dense", cols), ("nodes",
    rows), ("ways", rows), ("relations", rows), ...]`` in
    PrimitiveGroup order. This is the block decoder: ingest
    (``pbf._decode_union``) and the ``osm_pbf`` Data Source run it on
    executors, and ``decode_blob`` flattens it. ``dense`` chunks carry
    numpy arrays (node_id/lat/lon) plus a tags list, so the dominant
    planet payload crosses into pandas/Arrow without 50k-per-blob
    python dicts; the three minority kinds are row dicts matching
    pbf.NODE/WAY/RELATION schemas.

    Coordinates compute ``NANO * (offset + granularity * raw)`` with
    the integer part exact (|raw·gran + off| < 2^53 for legal
    coordinates) and one int→float round-to-nearest conversion: the
    same IEEE ops on numpy int64 arrays (dense) and on Python ints
    (plain nodes). Pinned bit-exact against the independent golden
    fixtures (tests/test_sources.py).

    Pure function of the bytes. Untrusted-input bounds: decompression
    is capped at the declared ``raw_size`` (itself capped at the
    spec's 32MB blob limit), so a zlib bomb can't OOM an executor;
    size mismatch, truncation and corrupt field shapes surface as
    ValueError, not raw IndexError / TypeError (the varint hot path
    stays branch-free — corruption is caught once here, not per
    byte)."""
    try:
        return _decode_block(inflate_blob(blob_bytes))
    except (IndexError, TypeError) as e:
        raise ValueError(f"truncated or corrupt PBF blob: {e!r}") from e


def _decode_block(data: bytes) -> list[tuple[str, object]]:
    import numpy as np  # noqa: PLC0415

    block = parse_message(data)
    strings = [
        s.decode("utf-8") for s in parse_message(first(block, 1, b"")).get(1, [])
    ]
    granularity = first(block, 17, 100)
    # lat/lon_offset are plain int64 (NOT sint64/zigzag) in
    # osmformat.proto: a negative offset arrives as a 10-byte
    # two's-complement varint, so the raw unsigned decode must be
    # reinterpreted signed. Found by the independent golden fixture
    # (tools/make_golden_pbf.py), whose block B uses lon_offset<0 —
    # the repo's own encoder never emitted negative offsets, so the
    # symmetric round-trip tests could not see this.
    lat_offset = _signed64(first(block, 19, 0))
    lon_offset = _signed64(first(block, 20, 0))

    def to_deg(offset, raw):  # raw: int64 array (dense) or int (plain)
        return NANO * (offset + granularity * raw)

    def delta_column(buf: bytes) -> "np.ndarray":
        arr = _decode_packed_np(buf, True, True)
        if arr is None:  # outside the vectorized bounds: exact scalar decode
            arr = np.array(_decode_packed_scalar(buf, True, True), dtype=np.int64)
        return arr

    def tags(msg: dict) -> dict[str, str]:
        keys = decode_packed(first(msg, 2, b""))
        vals = decode_packed(first(msg, 3, b""))
        return {strings[k]: strings[v] for k, v in zip(keys, vals)}

    def node_row(nd: dict) -> dict:
        return {
            "node_id": zigzag_decode(first(nd, 1, 0)),
            "lat": to_deg(lat_offset, zigzag_decode(first(nd, 8, 0))),
            "lon": to_deg(lon_offset, zigzag_decode(first(nd, 9, 0))),
            "tags": tags(nd),
        }

    def way_row(wy: dict) -> dict:
        return {
            "way_id": first(wy, 1, 0),
            "node_refs": decode_packed(first(wy, 8, b""), signed=True, delta=True),
            "tags": tags(wy),
        }

    def relation_row(rl: dict) -> dict:
        members = zip(
            decode_packed(first(rl, 10, b"")),
            decode_packed(first(rl, 9, b""), signed=True, delta=True),
            decode_packed(first(rl, 8, b"")),
            strict=True,
        )
        return {
            "rel_id": first(rl, 1, 0),
            "members": [
                {"mtype": _MEMBER_TYPES[mtype], "ref": ref, "role": strings[role]}
                for mtype, ref, role in members
            ],
            "tags": tags(rl),
        }

    chunks: list[tuple[str, object]] = []
    for group_buf in block.get(2, []):
        group = parse_message(group_buf)

        dense_buf = first(group, 2)
        if dense_buf is not None:
            dn = parse_message(dense_buf)
            ids, lats, lons = (delta_column(first(dn, no, b"")) for no in (1, 8, 9))
            n = len(ids)
            if len(lats) != n or len(lons) != n:
                raise ValueError(
                    f"DenseNodes carries {n} ids, {len(lats)} lats, {len(lons)} lons"
                )
            kv_buf = first(dn, 10, b"")
            if kv_buf:
                kvs = decode_packed(kv_buf)
                dense_tags: list[dict] = []
                kv_pos = 0
                m = len(kvs)
                for _i in range(n):
                    if kv_pos >= m:
                        dense_tags.append({})
                        continue
                    t: dict[str, str] = {}
                    while kv_pos < m and kvs[kv_pos] != 0:
                        t[strings[kvs[kv_pos]]] = strings[kvs[kv_pos + 1]]
                        kv_pos += 2
                    kv_pos += 1
                    dense_tags.append(t)
            else:
                empty: dict[str, str] = {}
                dense_tags = [empty] * n  # read-only placeholders
            chunks.append(
                (
                    "dense",
                    {
                        "node_id": ids,
                        "lat": to_deg(lat_offset, lats),
                        "lon": to_deg(lon_offset, lons),
                        "tags": dense_tags,
                    },
                )
            )

        for kind, field_no, row in (
            ("nodes", 1, node_row),
            ("ways", 3, way_row),
            ("relations", 4, relation_row),
        ):
            bufs = group.get(field_no)
            if bufs:
                chunks.append((kind, [row(parse_message(b)) for b in bufs]))

    return chunks


def scan_blob_offsets(pbf_path: str) -> list[tuple[int, int, str]]:
    """Fileblock framing: [4-byte BE len][BlobHeader][Blob]. Returns
    (blob_start, blob_len, type) per block — the driver-side pass
    reads only headers (bytes proportional to block COUNT, not file
    size), then executors fetch their blob ranges independently.

    Bounds (untrusted input): BlobHeader capped at the spec's 64KB,
    datasize at the 32MB blob cap, and a truncated header surfaces as
    ValueError carrying the file offset — never a raw IndexError."""
    offsets: list[tuple[int, int, str]] = []
    with open(pbf_path, "rb") as fh:
        while True:
            at = fh.tell()
            raw = fh.read(4)
            if len(raw) == 0:
                break
            if len(raw) < 4:
                raise ValueError(f"truncated fileblock length prefix at {at}")
            header_len = struct.unpack(">I", raw)[0]
            if header_len > MAX_HEADER_LEN:
                raise ValueError(
                    f"BlobHeader of {header_len} bytes at {at} exceeds "
                    f"{MAX_HEADER_LEN} spec cap"
                )
            header_bytes = fh.read(header_len)
            if len(header_bytes) < header_len:
                raise ValueError(f"truncated BlobHeader at {at}")
            try:
                header = parse_message(header_bytes)
            except (IndexError, ValueError) as e:
                raise ValueError(f"corrupt BlobHeader at {at}: {e!r}") from e
            blob_type = first(header, 1, b"").decode("utf-8")
            datasize = first(header, 3, 0)
            if datasize > MAX_BLOB_RAW:
                raise ValueError(
                    f"Blob datasize={datasize} at {at} exceeds "
                    f"{MAX_BLOB_RAW} spec cap"
                )
            start = fh.tell()
            offsets.append((start, datasize, blob_type))
            fh.seek(start + datasize)
    return offsets


def validated_data_offsets(pbf_path: str) -> list[tuple[int, int]]:
    """scan_blob_offsets + OSMHeader validation in one shared planning
    step (r10 review: the validation lived only in read_pbf's path and
    the registered osm_pbf Data Source skipped it — both entry points
    now call THIS). Every OSMHeader blob's required_features are
    checked (decode_header raises on unsupported ones) and the
    OSMData (start, length) list is returned."""
    offsets = scan_blob_offsets(pbf_path)
    # The spec requires the FIRST fileblock to be an OSMHeader; a file
    # with none at all (or data before it) would otherwise skip
    # required_features validation entirely and be silently ingested
    # (ADVICE r10) — refuse it like any unsupported file.
    if not offsets or offsets[0][2] != "OSMHeader":
        got = repr(offsets[0][2]) if offsets else "no blocks"
        raise ValueError(
            f"{pbf_path}: first fileblock must be an OSMHeader "
            f"(got {got}) — refusing unvalidated input"
        )
    with open(pbf_path, "rb") as fh:
        for start, length, blob_type in offsets:
            if blob_type == "OSMHeader":
                fh.seek(start)
                decode_header(fh.read(length))
    return [(s, l) for (s, l, t) in offsets if t == "OSMData"]


# --- OSM PBF encode (sink + test fixtures) --------------------------


def encode_string_table(strings: list[str]) -> bytes:
    body = b"".join(encode_field(1, 2, s.encode("utf-8")) for s in strings)
    return encode_field(1, 2, body)


def encode_dense_nodes(
    node_rows: list[dict], string_index: dict[str, int]
) -> bytes:
    """Rows {node_id, lat, lon, tags} → DenseNodes message bytes
    (granularity 100, offsets 0: raw = round(deg / 1e-7))."""
    ids = [r["node_id"] for r in node_rows]
    lats = [round(r["lat"] / 1e-7) for r in node_rows]
    lons = [round(r["lon"] / 1e-7) for r in node_rows]
    kvs: list[int] = []
    for r in node_rows:
        for k, v in (r.get("tags") or {}).items():
            kvs += [string_index[k], string_index[v]]
        kvs.append(0)
    dense = (
        encode_packed(1, ids, signed=True, delta=True)
        + encode_packed(8, lats, signed=True, delta=True)
        + encode_packed(9, lons, signed=True, delta=True)
        + encode_packed(10, kvs)
    )
    return encode_field(2, 2, dense)


def encode_way(row: dict, string_index: dict[str, int]) -> bytes:
    tags = row.get("tags") or {}
    body = (
        encode_field(1, 0, row["way_id"])
        + encode_packed(2, [string_index[k] for k in tags])
        + encode_packed(3, [string_index[v] for v in tags.values()])
        + encode_packed(8, row["node_refs"], signed=True, delta=True)
    )
    return encode_field(3, 2, body)


def encode_relation(row: dict, string_index: dict[str, int]) -> bytes:
    tags = row.get("tags") or {}
    members = row.get("members") or []
    body = (
        encode_field(1, 0, row["rel_id"])
        + encode_packed(2, [string_index[k] for k in tags])
        + encode_packed(3, [string_index[v] for v in tags.values()])
        + encode_packed(8, [string_index[m["role"]] for m in members])
        + encode_packed(9, [m["ref"] for m in members], signed=True, delta=True)
        + encode_packed(10, [_MEMBER_TYPES.index(m["mtype"]) for m in members])
    )
    return encode_field(4, 2, body)


def encode_primitive_block(
    nodes: list[dict] | None = None,
    ways: list[dict] | None = None,
    relations: list[dict] | None = None,
) -> bytes:
    """Element rows → one PrimitiveBlock (string table built from the
    rows; granularity 100 / offsets 0, i.e. 1e-7° precision)."""
    strings = [""]  # index 0 is reserved (DenseNodes kv terminator)
    index: dict[str, int] = {"": 0}

    def intern(s: str) -> None:
        if s not in index:
            index[s] = len(strings)
            strings.append(s)

    for r in nodes or []:
        for k, v in (r.get("tags") or {}).items():
            intern(k)
            intern(v)
    for r in ways or []:
        for k, v in (r.get("tags") or {}).items():
            intern(k)
            intern(v)
    for r in relations or []:
        for k, v in (r.get("tags") or {}).items():
            intern(k)
            intern(v)
        for m in r.get("members") or []:
            intern(m["role"])

    group = b""
    if nodes:
        group += encode_dense_nodes(nodes, index)
    for r in ways or []:
        group += encode_way(r, index)
    for r in relations or []:
        group += encode_relation(r, index)

    return encode_string_table(strings) + encode_field(2, 2, group)


def encode_fileblock(block_bytes: bytes, blob_type: str = "OSMData") -> bytes:
    """PrimitiveBlock bytes → framed fileblock (zlib Blob +
    BlobHeader + 4-byte BE length prefix)."""
    blob = encode_field(2, 0, len(block_bytes)) + encode_field(
        3, 2, zlib.compress(block_bytes)
    )
    header = encode_field(1, 2, blob_type.encode("utf-8")) + encode_field(
        3, 0, len(blob)
    )
    return struct.pack(">I", len(header)) + header + blob


def write_pbf(
    path: str,
    nodes: list[dict] | None = None,
    ways: list[dict] | None = None,
    relations: list[dict] | None = None,
    nodes_per_block: int = 8000,
) -> None:
    """Write element rows as a valid .osm.pbf (blocked like real
    planet files, ~8k elements per blob) — the PBF sink, and the
    fixture builder for decoder tests."""
    with open(path, "wb") as fh:
        fh.write(encode_fileblock(encode_primitive_block(), "OSMHeader"))
        nodes = nodes or []
        for i in range(0, len(nodes), nodes_per_block) if nodes else []:
            fh.write(
                encode_fileblock(
                    encode_primitive_block(nodes=nodes[i : i + nodes_per_block])
                )
            )
        if ways or relations:
            fh.write(
                encode_fileblock(
                    encode_primitive_block(ways=ways, relations=relations)
                )
            )
