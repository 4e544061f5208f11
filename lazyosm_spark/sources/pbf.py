"""OSM PBF wire-format source: distributed block-parallel ingest.

The reference's whole physical layer re-expressed for Spark
(SURVEY.md §2.1 S1-S6):

- S1 fileblock framing ``[4-byte BE len][BlobHeader][Blob]``
  (top_level.go:236-259) -> parsed per file inside mapInPandas over a
  ``binaryFile`` scan; sharded .pbf files give block-level parallelism
  (one task per shard, the cluster layout for a 100 TB ingest).  Each
  shard is one binary value, so it must stay under binaryFile's 2 GiB
  limit.
- S2 blob decompress (zlib raw_size-verified, top_level.go:301-326).
- S5 block classify by primitive-group kind (primitiveblock.go:81-124).
- varint/zigzag decode is numpy-VECTORIZED: one pass builds every
  varint in a packed array simultaneously (np.add.reduceat over 7-bit
  limbs) — no per-byte python loop on the hot path.

Only the protobuf subset OSM uses is implemented (hand-rolled wire
codec — no protobuf library in the sandbox):  BlobHeader{type,datasize},
Blob{raw|zlib_data,raw_size}, PrimitiveBlock{stringtable,
primitivegroup, granularity, lat/lon_offset}, DenseNodes{id,lat,lon,
keys_vals}, Way{id,keys,vals,refs}, Relation{id,keys,vals,roles_sid,
memids,types}.

write_pbf_shard is the engine's one writer of the block format (the
fixtures in sources/fixtures.py are shards it writes), and read_pbf its
one reader: the emitted block rows are what operators/osm.decode_*
consume — the write + read round-trip is tested.  read_pbf is eager: one
job parses each shard once into one checkpointed block frame, and the
per-kind frames it returns are views of that checkpoint.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

# ------------------------------------------------------------ varints ----


def encode_varints(vals) -> bytes:
    """Packed unsigned varints (writer side; python loop is fine — the
    writer is a fixture/export tool, the READER is the hot path)."""
    out = bytearray()
    for v in vals:
        v = int(v)
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def encode_svarints(vals) -> bytes:
    zz = [(int(v) << 1) ^ (int(v) >> 63) for v in vals]
    zz = [z & ((1 << 64) - 1) for z in zz]
    return encode_varints(zz)


def decode_varints_np(buf: bytes | np.ndarray) -> np.ndarray:
    """Vectorized packed-varint decode: all varints in one numpy pass.

    value = Σ (byte & 0x7f) << (7 * position-within-varint); varint
    boundaries are the bytes without the continuation bit."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, memoryview)) else buf
    if b.size == 0:
        return np.array([], dtype=np.int64)
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.concatenate(([0], ends[:-1] + 1))
    pos_in = np.arange(b.size) - np.repeat(starts, ends - starts + 1)
    limbs = (b & 0x7F).astype(np.uint64) << (7 * pos_in).astype(np.uint64)
    return np.add.reduceat(limbs, starts).astype(np.int64)


def zigzag_decode_np(z: np.ndarray) -> np.ndarray:
    u = z.astype(np.uint64)
    return ((u >> np.uint64(1)) ^ (~(u & np.uint64(1)) + np.uint64(1))).astype(np.int64)


def decode_svarints_np(buf) -> np.ndarray:
    return zigzag_decode_np(decode_varints_np(buf))


# ----------------------------------------------------- protobuf fields ----


def _field(tag: int, wire: int, payload: bytes) -> bytes:
    key = encode_varints([(tag << 3) | wire])
    if wire == 2:  # length-delimited
        return key + encode_varints([len(payload)]) + payload
    return key + payload  # wire 0: payload is already a varint


def _msg_fields(buf: memoryview):
    """Iterate (tag, wire, value) over one protobuf message.  value is
    bytes for wire 2, int for wire 0; wires 1/5 skipped."""
    i = 0
    n = len(buf)
    while i < n:
        key = 0
        shift = 0
        while True:
            byte = buf[i]
            i += 1
            key |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        tag, wire = key >> 3, key & 7
        if wire == 0:
            v = 0
            shift = 0
            while True:
                byte = buf[i]
                i += 1
                v |= (byte & 0x7F) << shift
                if not byte & 0x80:
                    break
                shift += 7
            yield tag, 0, v
        elif wire == 2:
            ln = 0
            shift = 0
            while True:
                byte = buf[i]
                i += 1
                ln |= (byte & 0x7F) << shift
                if not byte & 0x80:
                    break
                shift += 7
            yield tag, 2, bytes(buf[i : i + ln])
            i += ln
        elif wire == 5:
            i += 4
        elif wire == 1:
            i += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")


# -------------------------------------------------------------- writer ----


def _blob(payload: bytes, compress: bool = True) -> bytes:
    if compress:
        return _field(2, 0, encode_varints([len(payload)])) + _field(
            3, 2, zlib.compress(payload, 6)
        )
    return _field(1, 2, payload)


def _fileblock(kind: str, payload: bytes) -> bytes:
    blob = _blob(payload)
    header = _field(1, 2, kind.encode()) + _field(3, 0, encode_varints([len(blob)]))
    return struct.pack(">I", len(header)) + header + blob


def _stringtable(strings: list[str]) -> bytes:
    return b"".join(_field(1, 2, s.encode("utf-8")) for s in strings)


def _header_block(
    required_features=("OsmSchema-V0.6", "DenseNodes"),
    optional_features=(),
    bbox: tuple[float, float, float, float] | None = None,
    writing_program: str | None = None,
    source: str | None = None,
    replication_ts: int | None = None,
    replication_seq: int | None = None,
    replication_url: str | None = None,
) -> bytes:
    """HeaderBlock wire encode (osmformat.pb.go:61-74): bbox nanodegree
    zigzag64 (fields 1-4 of HeaderBBox), feature strings, replication
    metadata."""
    out = b""
    if bbox is not None:
        w, s, e, n = bbox  # degrees -> nanodegrees (1e-9 units)
        bb = b"".join(
            _field(tag, 0, encode_svarints([int(round(v * 1e9))]))
            for tag, v in ((1, w), (2, e), (3, n), (4, s))
        )
        out += _field(1, 2, bb)
    for f in required_features:
        out += _field(4, 2, f.encode())
    for f in optional_features:
        out += _field(5, 2, f.encode())
    if writing_program:
        out += _field(16, 2, writing_program.encode())
    if source:
        out += _field(17, 2, source.encode())
    if replication_ts is not None:
        out += _field(32, 0, encode_varints([replication_ts]))
    if replication_seq is not None:
        out += _field(33, 0, encode_varints([replication_seq]))
    if replication_url:
        out += _field(34, 2, replication_url.encode())
    return out


def write_pbf_shard(
    path: str,
    nodes: pd.DataFrame | None = None,
    ways: pd.DataFrame | None = None,
    relations: pd.DataFrame | None = None,
    block_size: int = 8000,
    granularity: int = 100,
    lat_offset: int = 0,
    lon_offset: int = 0,
    plain_nodes: pd.DataFrame | None = None,
    **header_kwargs,
) -> None:
    """Write decoded entities as a real .osm.pbf shard (DenseNodes /
    Ways / Relations, zlib blobs, delta-coded, per-block stringtable).

    nodes:       (id, qlon, qlat, tags dict) [ints in ``granularity``
                 nanodeg units relative to lat/lon_offset — decoded as
                 1e-9*(offset + granularity*q), process.go:136-137]
    plain_nodes: same shape, emitted as a NON-dense ``Nodes`` primitive
                 group (osmformat.pb.go Node, fields 1/2/3/8/9) — rare
                 in the wild but spec-legal
    ways:        (id, refs list, tags dict)
    relations:   (id, memids, roles, member_types, tags)
    header_kwargs: see _header_block (bbox, required_features, ...)
    """
    out = bytearray()
    out += _fileblock("OSMHeader", _header_block(**header_kwargs))

    def _gran_fields() -> bytes:
        g = b""
        if granularity != 100:
            g += _field(17, 0, encode_varints([granularity]))
        if lat_offset != 0:  # int64 varint: mask negatives to 64 bits
            g += _field(19, 0, encode_varints([lat_offset & ((1 << 64) - 1)]))
        if lon_offset != 0:
            g += _field(20, 0, encode_varints([lon_offset & ((1 << 64) - 1)]))
        return g

    def st_builder():
        st = [""]
        idx: dict[str, int] = {}

        def sid(s: str) -> int:
            if s not in idx:
                idx[s] = len(st)
                st.append(s)
            return idx[s]

        return st, sid

    def deltas(values) -> np.ndarray:
        return np.diff(np.asarray(values, dtype=np.int64), prepend=0)

    def tag_fields(tags: dict, sid) -> bytes:
        return _field(2, 2, encode_varints([sid(k) for k in tags])) + _field(
            3, 2, encode_varints([sid(v) for v in tags.values()])
        )

    def dense_group(blk: pd.DataFrame, sid) -> bytes:
        kv: list[int] = []
        for tags in blk["tags"]:
            for k, v in tags.items():
                kv.append(sid(k))
                kv.append(sid(v))
            kv.append(0)
        dense = (
            _field(1, 2, encode_svarints(deltas(blk["id"])))
            + _field(8, 2, encode_svarints(deltas(blk["qlat"])))
            + _field(9, 2, encode_svarints(deltas(blk["qlon"])))
            + _field(10, 2, encode_varints(kv))
        )
        return _field(2, 2, dense)

    def plain_node(row, sid) -> bytes:
        return (
            _field(1, 0, encode_svarints([row.id]))  # id: zigzag64
            + tag_fields(row.tags, sid)
            + _field(8, 0, encode_svarints([row.qlat]))
            + _field(9, 0, encode_svarints([row.qlon]))
        )

    def way(row, sid) -> bytes:
        return (
            _field(1, 0, encode_varints([row.id]))
            + tag_fields(row.tags, sid)
            + _field(8, 2, encode_svarints(deltas(row.refs)))
        )

    def relation(row, sid) -> bytes:
        return (
            _field(1, 0, encode_varints([row.id]))
            + tag_fields(row.tags, sid)
            + _field(8, 2, encode_varints([sid(x) for x in row.roles]))
            + _field(9, 2, encode_svarints(deltas(row.memids)))
            + _field(10, 2, encode_varints(list(row.member_types)))
        )

    def each(tag: int, message):
        """PrimitiveGroup of one field-``tag`` message per entity
        (1 = Nodes, 3 = Ways, 4 = Relations)."""
        return lambda blk, sid: b"".join(
            _field(tag, 2, message(row, sid)) for row in blk.itertuples(index=False)
        )

    # only node blocks carry the coordinate fields
    for entities, group_of, coords in (
        (nodes, dense_group, True),
        (plain_nodes, each(1, plain_node), True),
        (ways, each(3, way), False),
        (relations, each(4, relation), False),
    ):
        if entities is None or not len(entities):
            continue
        entities = entities.sort_values("id")
        for b in range(0, len(entities), block_size):
            st, sid = st_builder()
            group = group_of(entities.iloc[b : b + block_size], sid)
            block = _field(1, 2, _stringtable(st)) + _field(2, 2, group)
            out += _fileblock("OSMData", block + (_gran_fields() if coords else b""))

    with open(path, "wb") as f:
        f.write(bytes(out))


# -------------------------------------------------------------- reader ----

NODE_BLOCK_SCHEMA = (
    "block_id long, ids_delta array<long>, lon_delta array<long>, "
    "lat_delta array<long>, keys_vals array<int>, stringtable array<string>, "
    "min_id long, max_id long, has_tags boolean, "
    "granularity int, lat_offset long, lon_offset long"
)
HEADER_SCHEMA = (
    "path string, bbox_w double, bbox_s double, bbox_e double, bbox_n double, "
    "required_features array<string>, optional_features array<string>, "
    "writing_program string, source string, replication_ts long, "
    "replication_seq long, replication_url string"
)

# the reader's parse capabilities — an OSMHeader whose required_features
# include anything else is REJECTED, mirroring top_level.go:36-41,340-345
PARSE_CAPABILITIES = frozenset(
    {"OsmSchema-V0.6", "DenseNodes", "HistoricalInformation"}
)


def decode_osm_header(raw: bytes, path: str = "") -> dict:
    """HeaderBlock decode (top_level.go:328-373): bbox x1e-9 nanodegree
    (NOT granularity-scaled), required-feature capability check
    (fail-fast on unsupported, :340-345), replication metadata."""
    hdr = dict(
        path=path, bbox_w=None, bbox_s=None, bbox_e=None, bbox_n=None,
        required_features=[], optional_features=[], writing_program=None,
        source=None, replication_ts=None, replication_seq=None,
        replication_url=None,
    )
    for tag, wire, val in _msg_fields(memoryview(raw)):
        if tag == 1 and wire == 2:  # HeaderBBox: left/right/top/bottom zigzag64
            bb = {t: v for t, _w, v in _msg_fields(memoryview(val)) if _w == 0}
            zz = lambda u: (u >> 1) ^ -(u & 1)  # noqa: E731
            if 1 in bb:
                hdr["bbox_w"] = 1e-9 * zz(bb[1])
            if 2 in bb:
                hdr["bbox_e"] = 1e-9 * zz(bb[2])
            if 3 in bb:
                hdr["bbox_n"] = 1e-9 * zz(bb[3])
            if 4 in bb:
                hdr["bbox_s"] = 1e-9 * zz(bb[4])
        elif tag == 4 and wire == 2:
            hdr["required_features"].append(val.decode())
        elif tag == 5 and wire == 2:
            hdr["optional_features"].append(val.decode())
        elif tag == 16 and wire == 2:
            hdr["writing_program"] = val.decode()
        elif tag == 17 and wire == 2:
            hdr["source"] = val.decode()
        elif tag == 32 and wire == 0:
            hdr["replication_ts"] = val
        elif tag == 33 and wire == 0:
            hdr["replication_seq"] = val
        elif tag == 34 and wire == 2:
            hdr["replication_url"] = val.decode()
    unsupported = [f for f in hdr["required_features"] if f not in PARSE_CAPABILITIES]
    if unsupported:
        raise ValueError(
            f"parser does not have {unsupported[0]} capability"  # top_level.go:342
        )
    return hdr
WAY_BLOCK_SCHEMA = (
    "block_id long, id long, refs_delta array<long>, keys array<int>, "
    "vals array<int>, stringtable array<string>"
)
REL_BLOCK_SCHEMA = (
    "id long, memids_delta array<long>, roles array<string>, "
    "member_types array<int>, tags map<string,string>"
)
# read_pbf's frames, in parse_pbf_bytes' output order
BLOCK_FRAMES = (
    ("nodes_encoded", NODE_BLOCK_SCHEMA),
    ("ways_encoded", WAY_BLOCK_SCHEMA),
    ("relations_encoded", REL_BLOCK_SCHEMA),
    ("header", HEADER_SCHEMA),
)


def _iter_fileblocks(content: bytes):
    """S1: walk the [len][BlobHeader][Blob] framing; S2: inflate."""
    mv = memoryview(content)
    i = 0
    while i + 4 <= len(mv):
        (hlen,) = struct.unpack(">I", mv[i : i + 4])
        i += 4
        header = mv[i : i + hlen]
        i += hlen
        kind = ""
        datasize = 0
        for tag, wire, val in _msg_fields(header):
            if tag == 1 and wire == 2:
                kind = val.decode()
            elif tag == 3 and wire == 0:
                datasize = val
        blob = mv[i : i + datasize]
        i += datasize
        raw = None
        raw_size = None
        for tag, wire, val in _msg_fields(blob):
            if tag == 1 and wire == 2:
                raw = val
            elif tag == 2 and wire == 0:
                raw_size = val
            elif tag == 3 and wire == 2:
                raw = zlib.decompress(val)
        if raw_size is not None and raw is not None and len(raw) != raw_size:
            raise ValueError("blob raw_size mismatch")  # top_level.go:318-320
        yield kind, raw


def _parse_primitive_block(raw: bytes):
    """-> (stringtable, groups, granularity, lat_offset, lon_offset)
    where groups is a list of (kind, payload) with kind in
    {'node','dense','way','relation'}.  Group classification mirrors
    primitiveblock.go:95-110 (field 1 = plain Nodes, 2 = DenseNodes,
    3 = Ways, 4 = Relations, 5 = Changesets); Changesets are classified
    and skipped like the reference (it catalogs them but never
    processes, top_level.go:203-214).  granularity/lat/lon offsets are
    per-block fields 17/19/20 with osmformat defaults 100/0/0
    (process.go:121-123)."""
    st: list[str] = []
    groups = []
    granularity, lat_offset, lon_offset = 100, 0, 0
    for tag, wire, val in _msg_fields(memoryview(raw)):
        if tag == 1 and wire == 2:  # stringtable
            st = [
                v.decode("utf-8")
                for t2, w2, v in _msg_fields(memoryview(val))
                if t2 == 1 and w2 == 2
            ]
        elif tag == 2 and wire == 2:  # primitivegroup
            for t2, w2, v in _msg_fields(memoryview(val)):
                if t2 == 1 and w2 == 2:
                    groups.append(("node", v))
                elif t2 == 2 and w2 == 2:
                    groups.append(("dense", v))
                elif t2 == 3 and w2 == 2:
                    groups.append(("way", v))
                elif t2 == 4 and w2 == 2:
                    groups.append(("relation", v))
                elif t2 == 5 and w2 == 2:
                    pass  # Changesets: classified, never decoded
        elif tag == 17 and wire == 0:
            granularity = val
        elif tag == 19 and wire == 0:  # int64 varint (two's complement)
            lat_offset = val - (1 << 64) if val >= 1 << 63 else val
        elif tag == 20 and wire == 0:
            lon_offset = val - (1 << 64) if val >= 1 << 63 else val
    return st, groups, granularity, lat_offset, lon_offset


def parse_pbf_bytes(content: bytes, path: str = "", first_block: int = 0):
    """One shard's bytes -> (node_rows, way_rows, rel_rows, header_rows)
    of block-row dicts (the *_BLOCK_SCHEMA layouts).  The shard's data
    blocks are numbered ``first_block``, ``first_block + 1``, ... in file
    order.  The OSMHeader block is DECODED (not skipped):
    bbox/features/replication become header rows and an unsupported
    required feature raises immediately (top_level.go:340-345)."""
    node_rows, way_rows, rel_rows, header_rows = [], [], [], []
    block_id = first_block

    def _node_row(ids_d, lon_d, lat_d, kv):
        ids = np.cumsum(ids_d)
        return dict(
            block_id=block_id,
            ids_delta=ids_d.tolist(),
            lon_delta=lon_d.tolist(),
            lat_delta=lat_d.tolist(),
            keys_vals=kv.astype(np.int32).tolist(),
            stringtable=st,
            min_id=int(ids.min()) if ids.size else 0,
            max_id=int(ids.max()) if ids.size else 0,
            has_tags=bool((kv != 0).any()),
            granularity=int(gran),
            lat_offset=int(lat_off),
            lon_offset=int(lon_off),
        )

    for kind, raw in _iter_fileblocks(content):
        if raw is None:
            continue
        if kind == "OSMHeader":
            header_rows.append(decode_osm_header(raw, path))
            continue
        if kind != "OSMData":
            continue
        st, groups, gran, lat_off, lon_off = _parse_primitive_block(raw)
        plain: dict | None = None
        for gkind, payload in groups:
            if gkind == "dense":
                ids_d = lat_d = lon_d = np.array([], dtype=np.int64)
                kv = np.array([], dtype=np.int64)
                for tag, wire, val in _msg_fields(memoryview(payload)):
                    if tag == 1:
                        ids_d = decode_svarints_np(val)
                    elif tag == 8:
                        lat_d = decode_svarints_np(val)
                    elif tag == 9:
                        lon_d = decode_svarints_np(val)
                    elif tag == 10:
                        kv = decode_varints_np(val)
                node_rows.append(_node_row(ids_d, lon_d, lat_d, kv))
            elif gkind == "node":
                # plain (non-dense) Nodes group: one Node message per
                # entity (osmformat.pb.go:462-470: id/keys/vals zigzag
                # lat/lon), normalized into the dense block layout so
                # decode_nodes runs unchanged on both
                if plain is None:
                    plain = dict(ids=[], qlats=[], qlons=[], kv=[])
                nid = qlat = qlon = 0
                keys = vals = np.array([], dtype=np.int64)
                for tag, wire, val in _msg_fields(memoryview(payload)):
                    if tag == 1 and wire == 0:
                        nid = (val >> 1) ^ -(val & 1)  # zigzag64
                    elif tag == 2:
                        keys = decode_varints_np(val)
                    elif tag == 3:
                        vals = decode_varints_np(val)
                    elif tag == 8 and wire == 0:
                        qlat = (val >> 1) ^ -(val & 1)
                    elif tag == 9 and wire == 0:
                        qlon = (val >> 1) ^ -(val & 1)
                plain["ids"].append(nid)
                plain["qlats"].append(qlat)
                plain["qlons"].append(qlon)
                for k, v in zip(keys, vals):
                    plain["kv"].append(int(k))
                    plain["kv"].append(int(v))
                plain["kv"].append(0)
            elif gkind == "way":
                wid = 0
                keys = vals = np.array([], dtype=np.int64)
                refs_d = np.array([], dtype=np.int64)
                for tag, wire, val in _msg_fields(memoryview(payload)):
                    if tag == 1:
                        wid = val
                    elif tag == 2:
                        keys = decode_varints_np(val)
                    elif tag == 3:
                        vals = decode_varints_np(val)
                    elif tag == 8:
                        refs_d = decode_svarints_np(val)
                way_rows.append(
                    dict(
                        block_id=block_id,
                        id=int(wid),
                        refs_delta=refs_d.tolist(),
                        keys=keys.astype(np.int32).tolist(),
                        vals=vals.astype(np.int32).tolist(),
                        stringtable=st,
                    )
                )
            else:
                rid = 0
                keys = vals = roles_sid = types = np.array([], dtype=np.int64)
                mem_d = np.array([], dtype=np.int64)
                for tag, wire, val in _msg_fields(memoryview(payload)):
                    if tag == 1:
                        rid = val
                    elif tag == 2:
                        keys = decode_varints_np(val)
                    elif tag == 3:
                        vals = decode_varints_np(val)
                    elif tag == 8:
                        roles_sid = decode_varints_np(val)
                    elif tag == 9:
                        mem_d = decode_svarints_np(val)
                    elif tag == 10:
                        types = decode_varints_np(val)
                rel_rows.append(
                    dict(
                        id=int(rid),
                        memids_delta=mem_d.tolist(),
                        roles=[st[i] for i in roles_sid],
                        member_types=types.astype(np.int32).tolist(),
                        tags={st[k]: st[v] for k, v in zip(keys, vals)},
                    )
                )
        if plain is not None:
            ids = np.asarray(plain["ids"], dtype=np.int64)
            node_rows.append(
                _node_row(
                    np.diff(ids, prepend=0),
                    np.diff(np.asarray(plain["qlons"], dtype=np.int64), prepend=0),
                    np.diff(np.asarray(plain["qlats"], dtype=np.int64), prepend=0),
                    np.asarray(plain["kv"], dtype=np.int64),
                )
            )
        block_id += 1
    return node_rows, way_rows, rel_rows, header_rows


def _shards(spark, path_glob: str) -> list[str]:
    """The sorted files ``path_glob`` matches, as Hadoop path strings
    (the ``binaryFile`` scan's ``path`` values), listed once on the
    driver through Hadoop's own glob."""
    jvm = spark.sparkContext._jvm
    glob = jvm.org.apache.hadoop.fs.Path(path_glob)
    fs = glob.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    statuses = fs.globStatus(glob) or []  # null when a literal path is missing
    shards = sorted(st.getPath().toString() for st in statuses if st.isFile())
    if not shards:
        raise ValueError(f"no .osm.pbf shard matches {path_glob!r}")
    return shards


def read_pbf(spark, path_glob: str) -> dict:
    """Distributed PBF scan, parsed once: one task per shard group
    (``binaryFile`` source over the explicit shard list), wire parse +
    vectorized varint decode in ONE mapInPandas that calls
    parse_pbf_bytes once per shard and emits one block frame — one
    struct column per block schema, exactly one of them set per row.

    EAGER: the call runs one job that materializes that frame with
    ``localCheckpoint`` — the call's one result-backing persistent RDD —
    so a shard whose header requires an unsupported feature raises
    here.  ``nodes_encoded``, ``ways_encoded``, ``relations_encoded``
    and ``header`` are filter+select views of the checkpoint (the
    *_BLOCK_SCHEMA / HEADER_SCHEMA layouts): a plan that uses them in
    many branches parses nothing again.  The checkpoint keeps the scan's
    file-size statistics, which keep the downstream joins broadcast.

    Each shard is one ``binaryFile`` value, so a shard must stay under
    its 2 GiB limit (``spark.sql.sources.binaryFile.maxLength``).
    Compose with operators/osm.decode_* for logical entities and
    feature assembly."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    shards = _shards(spark, path_glob)
    # block ids are unique across shards: shard k of the sorted listing
    # numbers its blocks from k << 32 (a lone shard's ids are 0, 1, ...)
    first_block = {p: k << 32 for k, p in enumerate(shards)}
    schema = StructType(
        [StructField(name, StructType.fromDDL(ddl)) for name, ddl in BLOCK_FRAMES]
    )

    def parse(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            tagged = []  # (frame name, block row), in shard order
            for r in pdf.itertuples(index=False):
                path = str(r.path)
                outputs = parse_pbf_bytes(bytes(r.content), path, first_block[path])
                for (name, _), rows in zip(BLOCK_FRAMES, outputs):
                    tagged += [(name, row) for row in rows]
            yield pd.DataFrame(
                {
                    name: [row if kind == name else None for kind, row in tagged]
                    for name, _ in BLOCK_FRAMES
                }
            )

    blocks = (
        spark.read.format("binaryFile")
        .load(shards)
        .select("path", "content")
        .mapInPandas(parse, schema)
        .localCheckpoint(eager=True)
    )
    return {
        name: blocks.filter(F.col(name).isNotNull()).select(f"{name}.*")
        for name, _ in BLOCK_FRAMES
    }
