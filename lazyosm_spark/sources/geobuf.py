"""Geobuf binary sink/source (S7 parity, reference top_level.go:113).

The reference streams features through a geobuf protobuf writer; this
module implements the PUBLIC Mapbox geobuf encoding (data.proto,
github.com/mapbox/geobuf) for the engine's feature rows — one ``Data``
message per Spark partition carrying a FeatureCollection:

    Data{keys=1, dimensions=2, precision=3, feature_collection=4}
    Feature{geometry=1, int_id=12, values=13, properties=14}
    Geometry{type=1, lengths=2 packed, coords=3 packed sint64}
    Value{string_value=1}

Encoding rules implemented exactly per spec:
- coordinates quantize to 10^precision and delta-encode per ring/line
  (deltas restart at every ring), zigzag sint64, packed;
- polygon rings drop the duplicated closing point on encode and
  re-close on decode;
- Polygon ``lengths`` omitted for a single ring; MultiPolygon lengths
  are [n_polys, n_rings_1, len r1.., n_rings_2, ...] (omitted for the
  1-poly/1-ring case);
- properties are (key_idx, value_idx) pairs over the Data-level key
  table and per-feature value table.

The engine's fixture coordinates are multiples of 1e-7 deg (granularity
100 nanodeg) and relation rings are rounded to 6 dp, so precision=7 is
a LOSSLESS quantization for them — the round-trip test asserts exact
equality against operators/osm.features_to_geojson content.

Spark-side: geobuf_sink() runs the encoder as mapInPandas (one blob per
Arrow batch — embarrassingly parallel, no shuffle); read helpers decode
blobs back to feature rows for round-trip verification.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — resolves pandas_udf type hints

from lazyosm_spark.sources.pbf import _field, _msg_fields, encode_varints

GEOM_TYPES = {
    "Point": 0,
    "MultiPoint": 1,
    "LineString": 2,
    "MultiLineString": 3,
    "Polygon": 4,
    "MultiPolygon": 5,
}
GEOM_NAMES = {v: k for k, v in GEOM_TYPES.items()}


def _zz(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v >= 0 else ((v << 1) ^ -1) & ((1 << 64) - 1) | 1


def _q(vals, scale: float) -> list[int]:
    return [int(round(v * scale)) for v in vals]


def _encode_line(coords: list[list[float]], scale: float, closed: bool) -> list[int]:
    """One ring/line -> zigzag deltas (restarting at 0); closed rings
    drop the duplicated last point per spec."""
    pts = coords[:-1] if closed and len(coords) > 1 and coords[0] == coords[-1] else coords
    out = []
    px = py = 0
    for pt in pts:
        x, y = _q(pt[:2], scale)
        out.append(_zz(x - px))
        out.append(_zz(y - py))
        px, py = x, y
    return out


def _geometry_msg(geom_type: str, coords, scale: float) -> bytes:
    """coords uses the engine's uniform 4-deep nesting unwrapped per
    type (same dispatch as features_to_geojson)."""
    t = GEOM_TYPES[geom_type]
    lengths: list[int] = []
    flat: list[int] = []
    if geom_type == "Point":
        flat = _encode_line([coords[0][0][0]], scale, closed=False)
    elif geom_type == "LineString":
        flat = _encode_line(coords[0][0], scale, closed=False)
    elif geom_type == "Polygon":
        rings = coords[0]
        for r in rings:
            enc = _encode_line(r, scale, closed=True)
            lengths.append(len(enc) // 2)
            flat += enc
        if len(rings) == 1:
            lengths = []
    elif geom_type == "MultiPolygon":
        polys = coords
        if len(polys) == 1 and len(polys[0]) == 1:
            flat = _encode_line(polys[0][0], scale, closed=True)
        else:
            lengths = [len(polys)]
            for p in polys:
                lengths.append(len(p))
                for r in p:
                    enc = _encode_line(r, scale, closed=True)
                    lengths.append(len(enc) // 2)
                    flat += enc
    else:
        raise ValueError(f"unsupported geometry {geom_type}")
    msg = _field(1, 0, encode_varints([t]))
    if lengths:
        msg += _field(2, 2, encode_varints(lengths))
    msg += _field(3, 2, encode_varints(flat))
    return msg


def encode_feature_collection(
    rows, precision: int = 7
) -> bytes:
    """rows: iterable of (osm_id, geom_type, coords, properties dict)
    -> one geobuf Data message (bytes)."""
    scale = float(10**precision)
    keys: list[str] = []
    key_idx: dict[str, int] = {}

    def kid(k: str) -> int:
        if k not in key_idx:
            key_idx[k] = len(keys)
            keys.append(k)
        return key_idx[k]

    feats = []
    for osm_id, geom_type, coords, props in rows:
        f = _field(1, 2, _geometry_msg(geom_type, coords, scale))
        f += _field(12, 0, encode_varints([_zz(int(osm_id))]))  # sint64 id
        pairs = []
        for vi, (k, v) in enumerate(sorted((props or {}).items())):
            f += _field(13, 2, _field(1, 2, str(v).encode("utf-8")))  # Value
            pairs += [kid(k), vi]
        if pairs:
            f += _field(14, 2, encode_varints(pairs))
        feats.append(_field(1, 2, f))
    data = b"".join(_field(1, 2, k.encode("utf-8")) for k in keys)
    data += _field(2, 0, encode_varints([2]))  # dimensions
    data += _field(3, 0, encode_varints([precision]))
    data += _field(4, 2, b"".join(feats))  # FeatureCollection
    return data


# ------------------------------------------------------------- decode ----


def _unzz(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _decode_varints(buf: bytes) -> list[int]:
    out = []
    v = shift = 0
    for b in buf:
        v |= (b & 0x7F) << shift
        if b & 0x80:
            shift += 7
        else:
            out.append(v)
            v = shift = 0
    return out


def _decode_line(flat, start, n, scale, close: bool):
    pts = []
    x = y = 0
    for i in range(n):
        x += _unzz(flat[start + 2 * i])
        y += _unzz(flat[start + 2 * i + 1])
        pts.append([x / scale, y / scale])
    if close and pts:
        pts.append(list(pts[0]))
    return pts


def _decode_geometry(buf: bytes, scale: float):
    t = 0
    lengths: list[int] = []
    flat: list[int] = []
    for tag, wire, val in _msg_fields(memoryview(buf)):
        if tag == 1 and wire == 0:
            t = val
        elif tag == 2 and wire == 2:
            lengths = _decode_varints(val)
        elif tag == 3 and wire == 2:
            flat = _decode_varints(val)
    name = GEOM_NAMES[t]
    npts = len(flat) // 2
    if name == "Point":
        return name, [[[_decode_line(flat, 0, 1, scale, False)[0]]]]
    if name == "LineString":
        return name, [[_decode_line(flat, 0, npts, scale, False)]]
    if name == "Polygon":
        rings = []
        pos = 0
        for ln in lengths or [npts]:
            rings.append(_decode_line(flat, pos, ln, scale, True))
            pos += 2 * ln
        return name, [rings]
    if name == "MultiPolygon":
        if not lengths:
            return name, [[_decode_line(flat, 0, npts, scale, True)]]
        polys = []
        pos_l, pos_c = 1, 0
        for _ in range(lengths[0]):
            n_rings = lengths[pos_l]
            pos_l += 1
            rings = []
            for _ in range(n_rings):
                ln = lengths[pos_l]
                pos_l += 1
                rings.append(_decode_line(flat, pos_c, ln, scale, True))
                pos_c += 2 * ln
            polys.append(rings)
        return name, polys
    raise ValueError(f"unsupported geometry type {t}")


def decode_feature_collection(data: bytes) -> list[dict]:
    """Geobuf Data bytes -> feature dicts (osm_id, geom_type, coords,
    properties) — the round-trip verification side."""
    keys: list[str] = []
    precision = 6
    feats_buf = []
    for tag, wire, val in _msg_fields(memoryview(data)):
        if tag == 1 and wire == 2:
            keys.append(val.decode("utf-8"))
        elif tag == 3 and wire == 0:
            precision = val
        elif tag == 4 and wire == 2:
            feats_buf.append(val)
    scale = float(10**precision)
    out = []
    for fc in feats_buf:
        for tag, wire, fbuf in _msg_fields(memoryview(fc)):
            if tag != 1 or wire != 2:
                continue
            geom = None
            osm_id = None
            values: list[str] = []
            pairs: list[int] = []
            for t2, w2, v2 in _msg_fields(memoryview(fbuf)):
                if t2 == 1 and w2 == 2:
                    geom = _decode_geometry(v2, scale)
                elif t2 == 12 and w2 == 0:
                    osm_id = _unzz(v2)
                elif t2 == 13 and w2 == 2:
                    for t3, w3, v3 in _msg_fields(memoryview(v2)):
                        if t3 == 1 and w3 == 2:
                            values.append(v3.decode("utf-8"))
                elif t2 == 14 and w2 == 2:
                    pairs = _decode_varints(v2)
            props = {
                keys[pairs[i]]: values[pairs[i + 1]] for i in range(0, len(pairs), 2)
            }
            gt, coords = geom
            out.append(
                dict(osm_id=osm_id, geom_type=gt, coords=coords, properties=props)
            )
    return out


# -------------------------------------------------------------- spark ----

GEOBUF_SCHEMA = "n_features long, geobuf binary"


def geobuf_sink(features, precision: int = 7):
    """Feature rows -> (n_features, geobuf) blobs, one per Arrow batch
    (mapInPandas; embarrassingly parallel, zero shuffle).  Write with
    .write.parquet and ship blobs to any geobuf consumer; decode with
    decode_feature_collection."""

    def enc(it):
        for pdf in it:
            rows = [
                (
                    int(r.osm_id),
                    r.geom_type,
                    [[[list(pt) for pt in ring] for ring in poly] for poly in r.coords],
                    dict(r.properties) if r.properties is not None else {},
                )
                for r in pdf.itertuples(index=False)
            ]
            blob = encode_feature_collection(rows, precision)
            yield pd.DataFrame([(len(rows), blob)], columns=["n_features", "geobuf"])

    return features.select("osm_id", "geom_type", "coords", "properties").mapInPandas(
        enc, GEOBUF_SCHEMA
    )
