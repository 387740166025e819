"""OSM PBF source: distributed blob-parallel Arrow scan (SURVEY §2.1 S1–S7).

A from-scratch reader for the OSM PBF format (the public format spec:
https://wiki.openstreetmap.org/wiki/PBF_Format), structured the Spark way:

- S1/S2: the driver scans ONLY the blob framing (4-byte length + BlobHeader)
  to enumerate (offset, size, type) without touching blob payloads — the
  analog of `OSMPbf.blobs()` (reference `osm-pbf/src/main/java/org/heigit/
  ohsome/osm/pbf/OSMPbf.java:107-114`);
- S3: blobs are the input splits, dealt round-robin onto one wave of
  tasks (`_blob_tasks`); a PBF does not say which entity type a blob holds,
  so every blob is read, but each PrimitiveGroup holds one type and
  `decode_primitive_block` skips the groups of types it was not asked for;
- S4–S7: each task decodes its blobs (zlib + protobuf) straight into Arrow
  record batches: the field walk over the block is Python, but every
  packed field (ids, coordinates, dense info, tag and member string ids,
  way refs) is varint/zigzag/delta-decoded by NumPy over the whole block,
  and strings are C++ `take`s from the block's string table — no per-row
  Python objects, and batches reach the JVM through `mapInArrow`.

`read_osm_pbf` gives one frame per entity type; `write_entity_scratch`
decodes each blob once for all three types and writes them as parquet in
ONE Spark job (the contributions job's entity scratch).

The protobuf wire codec here is minimal and hand-rolled (varint, zigzag,
packed fields) — the format is stable and tiny. The test fixture writer
(`write_osm_pbf`) is an INDEPENDENT encoder, mirroring how the reference
cross-checks its decoder against the `crosby.binary` encoder
(`TransformerTest.java:25-109`).
"""

from __future__ import annotations

import struct
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..functions.geometry_np import segment_ranges

ENTITY_TYPES = ("nodes", "ways", "relations")
# PrimitiveGroup field of each entity type (dense nodes; plain nodes,
# field 1, are not written by any current producer and are skipped)
_GROUP_TYPE = {"nodes": 2, "ways": 3, "relations": 4}
_MEMBER_TYPES = pa.array(["node", "way", "relation"])
_TS = pa.timestamp("us")
_MAP = pa.map_(pa.string(), pa.string())
_ENTITY_FIELDS = [
    ("id", pa.int64()), ("version", pa.int32()), ("ts", _TS),
    ("changeset", pa.int64()), ("user_id", pa.int64()), ("user", pa.string()),
    ("visible", pa.bool_()), ("tags", _MAP),
]
# Arrow twins of the Spark schemas below (timestamp without zone =
# timestamp_ntz)
ARROW_SCHEMAS = {
    "nodes": pa.schema(_ENTITY_FIELDS + [("lon", pa.float64()), ("lat", pa.float64())]),
    "ways": pa.schema(_ENTITY_FIELDS + [("refs", pa.list_(pa.int64()))]),
    "relations": pa.schema(_ENTITY_FIELDS + [("members", pa.list_(pa.struct([
        ("type", pa.string()), ("id", pa.int64()), ("role", pa.string())])))]),
}

# ---------------------------------------------------------------------------
# protobuf wire primitives
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, pos
        shift += 7


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _iter_fields(buf: bytes):
    """Yield (field_number, wire_type, value_or_bytes)."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        field = key >> 3
        wt = key & 7
        if wt == 0:
            val, pos = _read_varint(buf, pos)
            yield field, wt, val
        elif wt == 2:
            ln, pos = _read_varint(buf, pos)
            yield field, wt, buf[pos : pos + ln]
            pos += ln
        elif wt == 5:
            yield field, wt, buf[pos : pos + 4]
            pos += 4
        elif wt == 1:
            yield field, wt, buf[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wt}")


# ---------------------------------------------------------------------------
# encoder primitives (independent fixture writer)
# ---------------------------------------------------------------------------


def _write_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def _field(num: int, wt: int, payload: bytes | int) -> bytes:
    key = _write_varint((num << 3) | wt)
    if wt == 0:
        return key + _write_varint(payload)
    return key + _write_varint(len(payload)) + payload


def _packed_field(num: int, values: list[int], zigzag=False, delta=False) -> bytes:
    body = bytearray()
    prev = 0
    for v in values:
        x = v - prev if delta else v
        if delta:
            prev = v
        body += _write_varint(_zigzag_encode(x) if zigzag else x)
    return _field(num, 2, bytes(body))


# ---------------------------------------------------------------------------
# blob framing
# ---------------------------------------------------------------------------


def scan_blob_headers(path: str | Path) -> list[dict]:
    """S2: (offset, size, type) of every blob — payloads are never read."""
    out = []
    with open(path, "rb") as f:
        while True:
            head = f.read(4)
            if len(head) < 4:
                break
            hlen = struct.unpack(">I", head)[0]
            hdr = f.read(hlen)
            btype = "?"
            dsize = 0
            for field, wt, val in _iter_fields(hdr):
                if field == 1:
                    btype = val.decode()
                elif field == 3:
                    dsize = val
            offset = f.tell()
            out.append({"offset": offset, "size": dsize, "type": btype})
            f.seek(dsize, 1)
    return out


def _read_blob_payload(path: str, offset: int, size: int) -> bytes:
    with open(path, "rb") as f:
        f.seek(offset)
        blob = f.read(size)
    raw = None
    for field, wt, val in _iter_fields(blob):
        if field == 1:  # raw
            raw = val
        elif field == 3:  # zlib_data
            raw = zlib.decompress(val)
    if raw is None:
        raise ValueError("blob has no raw/zlib payload")
    return raw


# ---------------------------------------------------------------------------
# block decode (S4-S7)
# ---------------------------------------------------------------------------


def decode_header_block(data: bytes) -> dict:
    out = {"required_features": [], "optional_features": [], "bbox": None}
    for field, wt, val in _iter_fields(data):
        if field == 1:
            bbox = {}
            names = {1: "left", 2: "right", 3: "top", 4: "bottom"}
            for f2, _, v2 in _iter_fields(val):
                bbox[names.get(f2, f2)] = _zigzag_decode(v2) / 1e9
            out["bbox"] = bbox
        elif field == 4:
            out["required_features"].append(val.decode())
        elif field == 5:
            out["optional_features"].append(val.decode())
        elif field == 32:  # osmosis_replication_timestamp (Header.java:91)
            out["replication_timestamp"] = val
        elif field == 33:  # osmosis_replication_sequence_number (Header.java:92)
            out["replication_sequence_number"] = val
        elif field == 34:  # osmosis_replication_base_url (Header.java:93)
            out["replication_base_url"] = val.decode()
    return out


def decode_primitive_block(
    data: bytes, types: tuple[str, ...] = ENTITY_TYPES
) -> dict[str, pa.Table]:
    """→ {'nodes': table, 'ways': table, 'relations': table}, one Arrow
    table per requested entity type (ARROW_SCHEMAS); groups of the other
    types are skipped undecoded.

    Every packed field (ids, coordinates, dense info, tag and member
    string ids, way refs) is decoded by NumPy over the whole block, and
    strings are C++ `take`s from the block's string table — the only
    per-entity Python left is the field walk over each way/relation
    message and its Info."""
    strings: list[bytes] = []
    groups = []
    granularity = 100
    lat_off = 0
    lon_off = 0
    date_gran = 1000
    for field, wt, val in _iter_fields(data):
        if field == 1:  # stringtable
            strings = [v2 for f2, _, v2 in _iter_fields(val) if f2 == 1]
        elif field == 2:
            groups.append(val)
        elif field == 17:
            granularity = val
        elif field == 18:
            date_gran = val
        elif field == 19:
            lat_off = val
        elif field == 20:
            lon_off = val
    table = pa.array(strings, pa.binary()).cast(pa.string())

    wanted = {_GROUP_TYPE[t]: t for t in types}
    parts: dict[str, list] = {t: [] for t in types}
    for group in groups:
        fields = _iter_fields(group)
        first = next(fields, None)
        if first is None or first[0] not in wanted:
            continue  # one entity type per group: skip it whole
        if first[0] == 2:
            parts["nodes"].append(_decode_dense(
                first[2], table, granularity, lat_off, lon_off, date_gran))
        else:
            msgs = [first[2]] + [v for f, _, v in fields if f == first[0]]
            decode = _decode_ways if first[0] == 3 else _decode_relations
            parts[wanted[first[0]]].append(decode(msgs, table, date_gran))
    return {t: pa.Table.from_batches(parts[t], ARROW_SCHEMAS[t]) for t in types}


def _varints(buf) -> np.ndarray:
    """All varints of a packed field, as uint64."""
    b = np.frombuffer(buf, np.uint8)
    if not b.size:
        return np.zeros(0, np.uint64)
    ends = (b & 0x80) == 0
    starts = np.concatenate([[0], np.flatnonzero(ends)[:-1] + 1])
    group = np.concatenate([[0], np.cumsum(ends[:-1])])
    shift = ((np.arange(b.size) - starts[group]) * 7).astype(np.uint64)
    return np.bitwise_or.reduceat((b & 0x7F).astype(np.uint64) << shift, starts)


def _zigzag(v: np.ndarray) -> np.ndarray:
    return (v >> np.uint64(1)).astype(np.int64) ^ -(v & np.uint64(1)).astype(np.int64)


def _int64(v: np.ndarray) -> np.ndarray:
    """Plain protobuf int64/int32 varints (two's complement)."""
    return v.view(np.int64)


def _segments(bufs: list[bytes], decode) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, values): the packed fields `bufs` decoded in one pass;
    message i's values are values[offsets[i]:offsets[i + 1]]."""
    sizes = np.fromiter((len(b) for b in bufs), np.int64, len(bufs))
    joined = np.frombuffer(b"".join(bufs), np.uint8)
    ends = np.concatenate([[0], np.cumsum((joined & 0x80) == 0)])
    offsets = ends[np.concatenate([[0], np.cumsum(sizes)])]
    return offsets, decode(_varints(joined))


def _delta_segments(offsets: np.ndarray, deltas: np.ndarray) -> np.ndarray:
    """Undo per-message delta coding: a running sum restarted at each
    message start."""
    acc = np.cumsum(deltas)
    before = np.concatenate([[0], acc])[offsets[:-1]]
    return acc - np.repeat(before, np.diff(offsets))


def _dense_tag_ends(kv: np.ndarray, n: int) -> np.ndarray:
    """Index of each node's 0 terminator in a dense keys_vals array. A
    terminator is a 0 in KEY position, so a 0 value (the empty string)
    needs the sequential walk; the vectorized guess — every 0 ends a node
    — is right exactly when every node's run has an even length."""
    zeros = np.flatnonzero(kv == 0)
    if zeros.size == n:
        starts = np.concatenate([[0], zeros[:-1] + 1])
        if not ((zeros - starts) % 2).any():
            return zeros
    ends = []
    pos = 0
    for _ in range(n):
        while pos < kv.size and kv[pos] != 0:
            pos += 2
        ends.append(pos)
        pos += 1
    return np.asarray(ends, np.int64)


def _string_map(key_ids, val_ids, offsets, table: pa.Array) -> pa.MapArray:
    return pa.MapArray.from_arrays(
        pa.array(offsets.astype(np.int32)),
        table.take(pa.array(key_ids)), table.take(pa.array(val_ids)))


def _decode_dense(buf, table, gran, lat_off, lon_off, date_gran) -> pa.RecordBatch:
    empty = np.zeros(0, np.uint64)
    ids = lats = lons = kv = empty
    info: dict[int, np.ndarray] = {}
    for field, wt, val in _iter_fields(buf):
        if field == 1:
            ids = np.cumsum(_zigzag(_varints(val)))
        elif field == 5:  # DenseInfo
            for f2, _, v2 in _iter_fields(val):
                info[f2] = _varints(v2)
        elif field == 8:
            lats = np.cumsum(_zigzag(_varints(val)))
        elif field == 9:
            lons = np.cumsum(_zigzag(_varints(val)))
        elif field == 10:
            kv = _varints(val).astype(np.int64)
    n = ids.size

    def delta(f: int, default: int) -> np.ndarray:
        if f not in info:
            return np.full(n, default, np.int64)
        return np.cumsum(_zigzag(info[f]))

    pairs = np.zeros(n, np.int64)
    first = np.zeros(0, np.int64)
    if n and kv.size:
        term = _dense_tag_ends(kv, n)
        starts = np.concatenate([[0], term[:-1] + 1])
        pairs = (term - starts) // 2
        first = np.repeat(starts, pairs) + 2 * segment_ranges(pairs)
    return pa.record_batch(
        [
            pa.array(ids, pa.int64()),
            pa.array(_int64(info[1]).astype(np.int32) if 1 in info
                     else np.ones(n, np.int32)),
            pa.array(delta(2, 0) * date_gran * 1000, _TS) if 2 in info
            else pa.nulls(n, _TS),
            pa.array(delta(3, -1)),
            pa.array(delta(4, -1)),
            table.take(pa.array(delta(5, 0))) if 5 in info
            else pa.array([""] * n, pa.string()),
            pa.array(info[6] != 0 if 6 in info else np.ones(n, bool)),
            _string_map(kv[first], kv[first + 1],
                        np.concatenate([[0], np.cumsum(pairs)]), table),
            pa.array((lon_off + gran * lons) / 1e9, pa.float64()),
            pa.array((lat_off + gran * lats) / 1e9, pa.float64()),
        ],
        schema=ARROW_SCHEMAS["nodes"],
    )


def _message_columns(msgs: list[bytes], packed: tuple[int, ...], table, date_gran):
    """Field walk over Way/Relation messages → (the id + Info columns of
    the batch, {field: that packed field's bytes per message}). Info
    defaults as in the format: version 1, no timestamp, changeset and uid
    -1, user "", visible."""
    n = len(msgs)
    ids = [0] * n
    bufs = {f: [b""] * n for f in packed}
    version = [1] * n
    ts = [None] * n
    cs = [-1] * n
    uid = [-1] * n
    usid = [None] * n
    vis = [True] * n
    for i, m in enumerate(msgs):
        for field, wt, val in _iter_fields(m):
            if field == 1:
                ids[i] = val
            elif field == 4:  # Info
                for f2, _, v2 in _iter_fields(val):
                    if f2 == 1:
                        version[i] = v2
                    elif f2 == 2:
                        ts[i] = v2 * date_gran * 1000
                    elif f2 == 3:
                        cs[i] = v2
                    elif f2 == 4:
                        uid[i] = v2
                    elif f2 == 5:
                        usid[i] = v2
                    elif f2 == 6:
                        vis[i] = bool(v2)
            elif field in bufs:
                bufs[field][i] = val
    columns = [
        pa.array(_int64(np.asarray(ids, np.uint64))),
        pa.array(_int64(np.asarray(version, np.uint64)).astype(np.int32)),
        pa.array(ts, _TS),
        pa.array(_signed(cs), pa.int64()),
        pa.array(_signed(uid), pa.int64()),
        table.take(pa.array(usid, pa.int64())).fill_null(""),
        pa.array(vis, pa.bool_()),
    ]
    return columns, bufs


def _signed(vals: list) -> list:
    """-1 defaults stay, decoded varints read as two's-complement int64."""
    return [v - (1 << 64) if v >= 1 << 63 else v for v in vals]


def _decode_ways(msgs: list[bytes], table, date_gran) -> pa.RecordBatch:
    columns, bufs = _message_columns(msgs, (2, 3, 8), table, date_gran)
    t_off, k = _segments(bufs[2], _int64)
    _, v = _segments(bufs[3], _int64)
    r_off, r = _segments(bufs[8], _zigzag)
    refs = pa.ListArray.from_arrays(
        pa.array(r_off.astype(np.int32)),
        pa.array(_delta_segments(r_off, r), pa.int64()))
    return pa.record_batch(columns + [_string_map(k, v, t_off, table), refs],
                           schema=ARROW_SCHEMAS["ways"])


def _decode_relations(msgs: list[bytes], table, date_gran) -> pa.RecordBatch:
    columns, bufs = _message_columns(msgs, (2, 3, 8, 9, 10), table, date_gran)
    t_off, k = _segments(bufs[2], _int64)
    _, v = _segments(bufs[3], _int64)
    m_off, roles = _segments(bufs[8], _int64)
    _, mids = _segments(bufs[9], _zigzag)
    _, types = _segments(bufs[10], _int64)
    members = pa.StructArray.from_arrays(
        [
            _MEMBER_TYPES.take(pa.array(types)),
            pa.array(_delta_segments(m_off, mids), pa.int64()),
            table.take(pa.array(roles)),
        ],
        names=["type", "id", "role"],
    )
    return pa.record_batch(
        columns + [
            _string_map(k, v, t_off, table),
            pa.ListArray.from_arrays(pa.array(m_off.astype(np.int32)), members),
        ],
        schema=ARROW_SCHEMAS["relations"],
    )


# ---------------------------------------------------------------------------
# Spark source
# ---------------------------------------------------------------------------

NODE_SCHEMA = (
    "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
    "user string, visible boolean, tags map<string,string>, lon double, lat double"
)
WAY_SCHEMA = (
    "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
    "user string, visible boolean, tags map<string,string>, refs array<long>"
)
REL_SCHEMA = (
    "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
    "user string, visible boolean, tags map<string,string>, "
    "members array<struct<type:string, id:long, role:string>>"
)
SCHEMAS = {"nodes": NODE_SCHEMA, "ways": WAY_SCHEMA, "relations": REL_SCHEMA}


def _data_blobs(path: str | Path) -> tuple[str, dict, list[dict]]:
    """(absolute path, header dict, data blob list): blob headers are
    scanned on the driver (metadata only, S2)."""
    path = str(Path(path).resolve())
    headers = scan_blob_headers(path)
    header_blobs = [h for h in headers if h["type"] == "OSMHeader"]
    header = (
        decode_header_block(_read_blob_payload(path, header_blobs[0]["offset"], header_blobs[0]["size"]))
        if header_blobs
        else {}
    )
    return path, header, [h for h in headers if h["type"] == "OSMData"]


def _blob_tasks(spark: SparkSession, blobs: list[dict]) -> DataFrame:
    """One row (the blob's index) per blob: blobs are the input splits,
    spread over one wave of tasks (`session.kernel_partitions`), each of
    which decodes its blobs one at a time — a task per blob paid a second
    wave of task and worker start-up for a few more blobs than cores."""
    from ..session import kernel_partitions

    return spark.range(0, len(blobs), 1, max(1, min(len(blobs), kernel_partitions(spark))))


def read_osm_pbf(spark: SparkSession, path: str | Path):
    """→ (header dict, nodes_df, ways_df, relations_df).

    Blob payloads decode inside tasks (`_blob_tasks`), so a planet file's
    thousands of blobs parallelize across the cluster. Each frame
    decodes only its own entity type's groups and ships Arrow batches to
    the JVM (`mapInArrow`)."""
    path, header, blobs = _data_blobs(path)

    def frame(kind: str) -> DataFrame:
        def decode(batches):
            for b in batches:
                for i in b.column(0).to_pylist():
                    h = blobs[i]
                    yield from decode_primitive_block(
                        _read_blob_payload(path, h["offset"], h["size"]), (kind,)
                    )[kind].to_batches()

        return _blob_tasks(spark, blobs).mapInArrow(decode, SCHEMAS[kind])

    return header, frame("nodes"), frame("ways"), frame("relations")


def write_entity_scratch(spark: SparkSession, path: str | Path, out_dir: str | Path) -> None:
    """Decode the PBF once into parquet tables <out_dir>/{nodes,ways,
    relations} (the schemas of read_osm_pbf's frames).

    One Spark job: each task decodes each of its blobs once and writes one
    parquet file per entity type the blob holds, so no blob is decoded twice and no row
    is pickled (the Spark analog of the reference's single PBF pass into
    its stores, `Contributions2Parquet.java:98-112`). Existing tables
    under out_dir are replaced."""
    import shutil

    import pyarrow.parquet as pq

    path, _, blobs = _data_blobs(path)
    out = Path(out_dir).resolve()
    for kind in ENTITY_TYPES:
        shutil.rmtree(out / kind, ignore_errors=True)
        (out / kind).mkdir(parents=True)

    def decode(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                h = blobs[i]
                block = decode_primitive_block(
                    _read_blob_payload(path, h["offset"], h["size"]))
                for kind, table in block.items():
                    if table.num_rows:
                        pq.write_table(table, out / kind / f"part-{i:05d}.parquet",
                                       compression="zstd")
        return iter(())  # the tables are the output: the job returns no rows

    _blob_tasks(spark, blobs).mapInArrow(decode, "blob long").collect()


def read_entity_scratch(spark: SparkSession, out_dir: str | Path) -> tuple[DataFrame, ...]:
    """(nodes, ways, relations) frames over write_entity_scratch's tables."""
    out = Path(out_dir).resolve()
    return tuple(
        spark.read.schema(SCHEMAS[k]).parquet(str(out / k)) for k in ENTITY_TYPES)


# ---------------------------------------------------------------------------
# independent fixture encoder
# ---------------------------------------------------------------------------


def write_osm_pbf(
    path: str | Path,
    nodes: list[dict],
    ways: list[dict] | None = None,
    relations: list[dict] | None = None,
    compress: bool = True,
    nodes_per_block: int = 8000,
    replication_timestamp: int | None = None,
    replication_sequence_number: int | None = None,
    replication_base_url: str | None = None,
) -> None:
    """Minimal OSM PBF writer (dense nodes + ways + relations), used as the
    decoder's independent cross-check and fixture generator. The optional
    osmosis_replication_* args emit HeaderBlock fields 32/33/34
    (`Header.java:91-93`) for the fileinfo replication round-trip."""
    ways = ways or []
    relations = relations or []

    def string_table(items):
        strings = [""]
        index = {"": 0}

        def sid(s):
            if s not in index:
                index[s] = len(strings)
                strings.append(s)
            return index[s]

        return strings, sid

    def blob(btype: str, payload: bytes) -> bytes:
        if compress:
            z = zlib.compress(payload)
            body = _field(2, 0, len(payload)) + _field(3, 2, z)
        else:
            body = _field(1, 2, payload)
        hdr = _field(1, 2, btype.encode()) + _field(3, 0, len(body))
        return struct.pack(">I", len(hdr)) + hdr + body

    out = bytearray()
    header_block = _field(4, 2, b"OsmSchema-V0.6") + _field(4, 2, b"DenseNodes") + _field(
        4, 2, b"Sort.Type_then_ID"
    )
    if replication_timestamp is not None:
        header_block += _field(32, 0, replication_timestamp)
    if replication_sequence_number is not None:
        header_block += _field(33, 0, replication_sequence_number)
    if replication_base_url is not None:
        header_block += _field(34, 2, replication_base_url.encode())
    out += blob("OSMHeader", header_block)

    # dense node blocks
    for i in range(0, len(nodes), nodes_per_block):
        chunk = nodes[i : i + nodes_per_block]
        strings, sid = string_table(chunk)
        kv = []
        for n in chunk:
            for k, v in (n.get("tags") or {}).items():
                kv += [sid(k), sid(v)]
            kv.append(0)
        usids = [sid(n.get("user", "")) for n in chunk]
        dense = (
            _packed_field(1, [n["id"] for n in chunk], zigzag=True, delta=True)
            + _field(
                5,
                2,
                _packed_field(1, [n.get("version", 1) for n in chunk])
                + _packed_field(2, [n.get("ts_ms", 0) // 1000 for n in chunk], zigzag=True, delta=True)
                + _packed_field(3, [n.get("changeset", -1) for n in chunk], zigzag=True, delta=True)
                + _packed_field(4, [n.get("uid", -1) for n in chunk], zigzag=True, delta=True)
                + _packed_field(5, usids, zigzag=True, delta=True)
                + _packed_field(6, [1 if n.get("visible", True) else 0 for n in chunk]),
            )
            + _packed_field(8, [round(n["lat"] * 1e7) for n in chunk], zigzag=True, delta=True)
            + _packed_field(9, [round(n["lon"] * 1e7) for n in chunk], zigzag=True, delta=True)
            + _packed_field(10, kv)
        )
        st = b"".join(_field(1, 2, s.encode("utf-8")) for s in strings)
        block = _field(1, 2, st) + _field(2, 2, _field(2, 2, dense))
        out += blob("OSMData", block)

    def info_bytes(e, sid):
        b = _field(1, 0, e.get("version", 1))
        b += _field(2, 0, e.get("ts_ms", 0) // 1000)
        b += _field(3, 0, e.get("changeset", 0))
        b += _field(4, 0, e.get("uid", 0))
        b += _field(5, 0, sid(e.get("user", "")))
        b += _field(6, 0, 1 if e.get("visible", True) else 0)
        return b

    if ways:
        strings, sid = string_table(ways)
        body = b""
        for w in ways:
            keys = [sid(k) for k in (w.get("tags") or {})]
            vals = [sid(v) for v in (w.get("tags") or {}).values()]
            wmsg = (
                _field(1, 0, w["id"])
                + _packed_field(2, keys)
                + _packed_field(3, vals)
                + _field(4, 2, info_bytes(w, sid))
                + _packed_field(8, w["refs"], zigzag=True, delta=True)
            )
            body += _field(3, 2, wmsg)
        st = b"".join(_field(1, 2, s.encode("utf-8")) for s in strings)
        out += blob("OSMData", _field(1, 2, st) + _field(2, 2, body))

    if relations:
        strings, sid = string_table(relations)
        type_code = {"node": 0, "way": 1, "relation": 2}
        body = b""
        for r in relations:
            keys = [sid(k) for k in (r.get("tags") or {})]
            vals = [sid(v) for v in (r.get("tags") or {}).values()]
            rmsg = (
                _field(1, 0, r["id"])
                + _packed_field(2, keys)
                + _packed_field(3, vals)
                + _field(4, 2, info_bytes(r, sid))
                + _packed_field(8, [sid(m[2]) for m in r["members"]])
                + _packed_field(9, [m[1] for m in r["members"]], zigzag=True, delta=True)
                + _packed_field(10, [type_code[m[0]] for m in r["members"]])
            )
            body += _field(4, 2, rmsg)
        st = b"".join(_field(1, 2, s.encode("utf-8")) for s in strings)
        out += blob("OSMData", _field(1, 2, st) + _field(2, 2, body))

    Path(path).write_bytes(bytes(out))
