"""Array-cursor relation merge: the relation twin of history_arrow.

Same semantics as the dict kernel (`history._relation_partition_kernel`,
mirroring `Contributions2Parquet.processRelation:233-266` — member ways
resolve through their own merged contribution streams over shared node
cursors, then the relation merges over (type, id, role) member streams),
with the round-4 way-kernel machinery applied end to end:

* node member feeds run through the VECTORIZED minor-node store filter
  (`history_arrow._minor_node_keep_mask`) — no per-row dicts;
* every inner way merge is a `_merge_walk` emitting integer buffers (the
  way's raw contribution stream is four int arrays, not a list of dicts
  with per-member snapshot lists);
* the relation-level walk runs over ENCODED member positions: a node
  snapshot is its global partition row, a way snapshot is `n + j` where j
  is the partition-wide way-contribution ordinal — one int per member per
  contribution;
* ALL way-snapshot geometries of the partition batch through ONE
  `batch_geometries` + `batch_gc_moment_cols` pass.

Two output paths share the stream-collection phase (`_collect_streams`):

* `relation_partition_table` (PRODUCTION, round 5): Arrow in → Arrow out.
  Run-collapse, window columns, status/contrib codes, the
  GeometryCollection bbox/centroid folds (reduceat over encoded member
  positions — float-identical to `_combine_centroid`'s sequential +=),
  envelope WKB, XZ2 codes, and the per-member geometry list columns are
  all NumPy/Arrow-kernel work, and so is the GeometryCollection country
  join (one `PolygonIndex.join_geoms_codes` call per partition); only
  the MultiPolygon assembly (`mpbuild`, inherently iterative
  ring-joining) and its per-polygon country join remain per-row Python.
  No pandas materialization anywhere.
* `relation_partition_kernel` (pandas in/out): the original round-4 path,
  kept as the cross-check twin feeding the UNCHANGED
  `convert_relation_contributions` converter.

tests/test_relation_arrow.py pins both paths row-for-row against the dict
kernel on adversarial fixtures, and the relation_history /
relation_geom_history / relation_mp_history / contributions_e2e oracles
value-check the Spark path cross-engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from ..functions import geometry_np as gnp
from ..functions.geometry_np import segment_ranges
from ..functions import geodesy as gd
from ..functions.cells import xz2_code
from ..functions.waygeom import is_area
from ..functions.wkb import wkb_dumps
from .history import (
    MEMBERS_THRESHOLD,
    VALID_TO_SENTINEL_NS,
    _KIND_NAME,
    _poly_area_centroid,
    batch_gc_moment_cols,
    batch_gc_moments,
    batch_geometries,
    convert_relation_contributions,
)
from .history_arrow import (
    _AHist,
    _dict_take,
    _merge_walk,
    _minor_node_keep_mask,
    _MAP,
    _TS,
)

REL_OUT_SCHEMA = pa.schema([
    ("osm_type", pa.string()),
    ("osm_id", pa.int64()),
    ("osm_version", pa.int32()),
    ("osm_minor_version", pa.int32()),
    ("osm_edits", pa.int32()),
    ("osm_last_edit", _TS),
    ("valid_from", _TS),
    ("valid_to", _TS),
    ("user_id", pa.int64()),
    ("user", pa.string()),
    ("changeset", pa.int64()),
    ("tags", _MAP),
    ("tags_before", _MAP),
    ("status", pa.string()),
    ("contrib_type", pa.string()),
    ("geometry_type", pa.string()),
    ("geometry", pa.binary()),
    ("xmin", pa.float64()),
    ("ymin", pa.float64()),
    ("xmax", pa.float64()),
    ("ymax", pa.float64()),
    ("centroid_x", pa.float64()),
    ("centroid_y", pa.float64()),
    ("xz_level", pa.int32()),
    ("xz_code", pa.int64()),
    ("countries", pa.list_(pa.string())),
    ("area", pa.float64()),
    ("area_delta", pa.float64()),
    ("length", pa.float64()),
    ("length_delta", pa.float64()),
    ("member_types", pa.list_(pa.string())),
    ("member_ids", pa.list_(pa.int64())),
    ("member_roles", pa.list_(pa.string())),
    ("member_geom_types", pa.list_(pa.string())),
    ("member_geoms", pa.list_(pa.binary())),
])


def _empty_entry() -> dict:
    return {"gc": None, "mg": (None, None), "bbox": None, "mom": None,
            "coords": None}


def _node_entry(g: int, vis_a, lon_a, lat_a) -> dict:
    """`_member_entry` node branch over a global row (history.py)."""
    from .history import _gc_moments

    e = _empty_entry()
    lon = float(lon_a[g])
    lat = float(lat_a[g])
    if (vis_a[g] and not np.isnan(lon) and not np.isnan(lat)
            and -180.0 <= lon <= 180.0 and -90.0 <= lat <= 90.0):
        gpt = ("Point", (lon, lat))
        e["gc"] = gpt
        e["mg"] = ("Point", wkb_dumps(gpt))
        e["bbox"] = gnp.bbox(np.asarray([lon]), np.asarray([lat]))
        e["mom"] = _gc_moments("Point", gpt[1])
    else:
        e["mg"] = ("Point", wkb_dumps(("Point", None)))
    return e


def _collect_streams(rel_a, is_node, is_way, is_rel, mid_a, ver_a, ts_ns,
                     cs_a, vis_a, lon_a, lat_a, refs_of, rml_of) -> dict:
    """Phase 1 (shared by both output paths): minor-filtered node cursors,
    encoded inner way streams, and the relation-level merge buffers.

    Rows must arrive sorted by (rel_id, kind, member_id, version, ts) with
    kind ordered node < rel < way (the packed frame's literal strings sort
    that way). Returns every integer buffer the output phase needs."""
    n = int(rel_a.shape[0])
    ts_l = ts_ns.tolist()
    cs_l = cs_a.tolist()

    # ----- node member feeds: vectorized minor filter + per-segment cursors
    node_rows = np.nonzero(is_node)[0]
    if node_rows.size:
        nv = vis_a[node_rows].astype(bool)
        nlon = lon_a[node_rows]
        nlat = lat_a[node_rows]
        seg_new = np.ones(node_rows.size, bool)
        seg_new[1:] = (
            (np.diff(node_rows) != 1)
            | (mid_a[node_rows[1:]] != mid_a[node_rows[:-1]])
            | (rel_a[node_rows[1:]] != rel_a[node_rows[:-1]])
        )
        keep_mask = _minor_node_keep_mask(node_rows, seg_new, nv, nlon, nlat)
        kept_m = np.nonzero(keep_mask)[0]
        kept_g = node_rows[kept_m]
        seg_ord = np.cumsum(seg_new) - 1
        kept_seg = seg_ord[kept_m]
        kch = np.ones(kept_m.size, bool)
        kch[1:] = kept_seg[1:] != kept_seg[:-1]
        kseg_starts = np.nonzero(kch)[0]
        kseg_ends = np.append(kseg_starts[1:], kept_m.size)
        kseg_nid = mid_a[kept_g[kseg_starts]] if kept_m.size else np.zeros(0)
        kept_g_l = kept_g.tolist()
        kept_keys = list(zip(ts_ns[kept_g].tolist(), cs_a[kept_g].tolist()))
    else:
        kept_g = np.zeros(0, np.int64)
        kseg_starts = kseg_ends = np.zeros(0, np.int64)
        kseg_nid = np.zeros(0)
        kept_g_l = []
        kept_keys = []

    # ----- walk every relation: inner way streams + the relation stream
    cuts = np.nonzero(rel_a[1:] != rel_a[:-1])[0] + 1
    e_starts = np.concatenate([[0], cuts]).tolist()
    e_ends = np.concatenate([cuts, [n]]).tolist()
    way_pfx = np.concatenate([[0], np.cumsum(is_way)])
    rel_pfx = np.concatenate([[0], np.cumsum(is_rel)])
    node_pfx = np.concatenate([[0], np.cumsum(is_node)])

    # partition-wide way-contribution buffers (encoded ids are n + ordinal)
    ws_maj: list[int] = []
    ws_open: list[int] = []
    ws_last: list[int] = []
    ws_mem: list[int] = []
    _scratch_elem: list[int] = []
    # relation-level buffers
    rl_maj: list[int] = []
    rl_open: list[int] = []
    rl_last: list[int] = []
    rl_mem: list[int] = []
    _rl_elem: list[int] = []
    rel_slices: list[tuple] = []  # (rel_id, lo, hi, maj_refs, rords)

    for s, e in zip(e_starts, e_ends):
        n_node = int(node_pfx[e] - node_pfx[s])
        n_rel = int(rel_pfx[e] - rel_pfx[s])
        n_way = int(way_pfx[e] - way_pfx[s])
        if not n_rel:
            continue
        rel_lo = s + n_node
        way_lo = rel_lo + n_rel
        # node cursors of this relation, keyed by node id
        a = int(np.searchsorted(kept_g, s, "left"))
        b = int(np.searchsorted(kept_g, e, "left"))
        node_hists: dict[int, tuple[list, list]] = {}
        if a < b:
            t0 = int(np.searchsorted(kseg_starts, a, "right")) - 1
            t1 = int(np.searchsorted(kseg_starts, b, "left"))
            for t in range(t0, t1):
                ka, kb = int(kseg_starts[t]), int(kseg_ends[t])
                node_hists[int(kseg_nid[t])] = (
                    kept_g_l[ka:kb], kept_keys[ka:kb])

        # inner way merges → encoded streams
        way_streams: dict[int, tuple[list, list]] = {}  # wid -> (enc, keys)
        if n_way:
            wcut = np.nonzero(
                mid_a[way_lo + 1:e] != mid_a[way_lo:e - 1])[0] + 1
            wstarts = np.concatenate([[0], wcut]) + way_lo
            wends = np.append(wstarts[1:], e)
            for ws, we in zip(wstarts.tolist(), wends.tolist()):
                ords = list(range(ws, we))
                ords.sort(key=lambda g: (ver_a[g], ts_l[g]))
                # minor-way store filter (`MinorWay.java:76-91`): invisible
                # always recorded (resets state), visible iff refs changed
                filt: list[int] = []
                last_refs: list = []
                for g in ords:
                    if not vis_a[g]:
                        filt.append(g)
                        last_refs = []
                    elif refs_of(g) != last_refs:
                        filt.append(g)
                        last_refs = refs_of(g)
                if not filt:
                    continue
                fresh = {
                    nid: _AHist(idx, keys)
                    for nid, (idx, keys) in node_hists.items()
                }
                base = len(ws_maj)
                _merge_walk(
                    filt,
                    [ts_l[g] for g in filt],
                    [cs_l[g] for g in filt],
                    [refs_of(g) for g in filt],
                    fresh, 0, _scratch_elem, ws_maj, ws_open, ws_last, ws_mem,
                )
                count = len(ws_maj) - base
                enc = list(range(n + base, n + base + count))
                keys = [
                    (ts_l[ws_last[base + p]], cs_l[ws_open[base + p]])
                    for p in range(count)
                ]
                way_streams[int(mid_a[ws])] = (enc, keys)

        # relation-level walk over (type, id, role) member streams
        rords = list(range(rel_lo, way_lo))
        rords.sort(key=lambda g: (ver_a[g], ts_l[g]))
        maj_refs = [rml_of(g) for g in rords]
        hists: dict = {}
        for mrefs in maj_refs:
            for trip in mrefs:
                if trip in hists:
                    continue
                mtype, mid, _role = trip
                if mtype == "way" and mid in way_streams:
                    enc, keys = way_streams[mid]
                    hists[trip] = _AHist(enc, keys)
                elif mtype == "node" and mid in node_hists:
                    idx, keys = node_hists[mid]
                    hists[trip] = _AHist(idx, keys)
        lo = len(rl_maj)
        _merge_walk(
            rords,
            [ts_l[g] for g in rords],
            [cs_l[g] for g in rords],
            maj_refs, hists, 0, _rl_elem, rl_maj, rl_open, rl_last, rl_mem,
        )
        rel_slices.append((int(rel_a[s]), lo, len(rl_maj), maj_refs, rords))

    return {
        "n": n,
        "ws_maj": ws_maj, "ws_open": ws_open, "ws_last": ws_last,
        "ws_mem": ws_mem,
        "rl_maj": rl_maj, "rl_open": rl_open, "rl_last": rl_last,
        "rl_mem": rl_mem,
        "rel_slices": rel_slices,
    }


def _adjacent_node_dup_mask(rel_a, kind_is_node, mid_a, ver_a, ts_a) -> np.ndarray:
    """True for a node row identical (rel, member, version, ts) to the row
    right above it. Such rows are exact duplicates of the same node-history
    row — the member-resolution plan skips the (rel_id, node_id) dedup
    exchange and lets the sorted kernel drop them here (a node history has
    one row per (id, version), so key-equal rows are payload-equal)."""
    n = rel_a.shape[0]
    dup = np.zeros(n, bool)
    if n > 1:
        dup[1:] = (
            kind_is_node[1:] & kind_is_node[:-1]
            & (rel_a[1:] == rel_a[:-1]) & (mid_a[1:] == mid_a[:-1])
            & (ver_a[1:] == ver_a[:-1]) & (ts_a[1:] == ts_a[:-1])
        )
    return dup


def _drop_adjacent_node_dups(tbl: pa.Table) -> pa.Table:
    """Arrow-side twin of `_adjacent_node_dup_mask` (single-chunk table)."""
    kind_is_node = pc.equal(
        tbl.column("kind").chunk(0), pa.scalar("node")
    ).to_numpy(zero_copy_only=False)
    dup = _adjacent_node_dup_mask(
        tbl.column("rel_id").chunk(0).to_numpy(zero_copy_only=False),
        kind_is_node,
        tbl.column("member_id").chunk(0).to_numpy(zero_copy_only=False),
        tbl.column("version").chunk(0).to_numpy(zero_copy_only=False),
        tbl.column("ts").chunk(0).cast(pa.int64()).to_numpy(zero_copy_only=False),
    )
    if not dup.any():
        return tbl
    return tbl.filter(pa.array(~dup)).combine_chunks()


def relation_partition_kernel(pdf: pd.DataFrame, joiner=None):
    """One partition of the relation merge — pandas array path (cross-check
    twin of `relation_partition_table`, feeding the unchanged dict
    converter)."""
    pdf = pdf.sort_values(
        ["rel_id", "kind", "member_id", "version", "ts"], kind="stable"
    )
    dup = _adjacent_node_dup_mask(
        pdf["rel_id"].to_numpy(),
        (pdf["kind"].to_numpy() == "node"),
        pdf["member_id"].to_numpy(),
        pdf["version"].to_numpy(),
        pdf["ts"].to_numpy().view("i8"),
    )
    if dup.any():
        pdf = pdf.loc[~dup]
    rel_a = pdf["rel_id"].to_numpy()
    kind_a = pdf["kind"].to_numpy()
    mid_a = pdf["member_id"].to_numpy()
    ver_a = pdf["version"].to_numpy()
    ts_ns = pdf["ts"].to_numpy().view("i8")
    cs_a = pdf["changeset"].to_numpy()
    uid_a = pdf["user_id"].to_numpy()
    user_a = pdf["user"].to_numpy()
    vis_a = pdf["visible"].to_numpy()
    tags_a = pdf["tags"].to_numpy()
    refs_a = pdf["refs"].to_numpy()
    lon_a = pdf["lon"].to_numpy().astype(np.float64, copy=False)
    lat_a = pdf["lat"].to_numpy().astype(np.float64, copy=False)
    rml_a = pdf["rel_member_list"].to_numpy()
    n = len(pdf)
    if not n:
        return None

    is_node = kind_a == "node"
    is_way = kind_a == "way"
    is_rel = kind_a == "rel"

    refs_cache: dict[int, list] = {}
    tags_cache: dict[int, dict] = {}

    def refs_of(g: int) -> list:
        r = refs_cache.get(g)
        if r is None:
            raw = refs_a[g]
            r = refs_cache[g] = (
                [int(x) for x in raw] if raw is not None else [])
        return r

    def tags_of(g: int) -> dict:
        t = tags_cache.get(g)
        if t is None:
            raw = tags_a[g]
            t = tags_cache[g] = dict(raw) if raw is not None else {}
        return t

    def rml_of(g: int) -> list:
        rml = rml_a[g]
        return [(m["type"], int(m["id"]), m["role"] or "")
                for m in (rml if rml is not None else [])]

    st = _collect_streams(rel_a, is_node, is_way, is_rel, mid_a, ver_a,
                          ts_ns, cs_a, vis_a, lon_a, lat_a, refs_of, rml_of)
    rl_maj = st["rl_maj"]
    if not rl_maj:
        return None
    ws_maj, ws_open, ws_last, ws_mem = (
        st["ws_maj"], st["ws_open"], st["ws_last"], st["ws_mem"])
    rl_open, rl_last, rl_mem = st["rl_open"], st["rl_last"], st["rl_mem"]
    rel_slices = st["rel_slices"]

    # ----- batch ALL way-snapshot geometry of the partition in one pass
    n_ws = len(ws_maj)
    if n_ws:
        wmaj = np.asarray(ws_maj, np.int64)
        nref = np.asarray([len(refs_of(int(g))) for g in wmaj], np.int64)
        mem = np.asarray(ws_mem, np.int64)
        okm = mem >= 0
        gsafe = np.where(okm, mem, 0)
        ml = np.where(okm, lon_a[gsafe], np.nan)
        mt = np.where(okm, lat_a[gsafe], np.nan)
        mvv = okm & vis_a[gsafe].astype(bool)
        isarea_w = np.asarray([
            is_area(tags_of(int(g)), refs_of(int(g))[0] if refs_of(int(g)) else -1,
                    refs_of(int(g))[-1] if refs_of(int(g)) else -2,
                    len(refs_of(int(g))))
            for g in wmaj], bool)
        geo = batch_geometries(nref, isarea_w, ml, mt, mvv)
        moments = batch_gc_moments(geo)
        xs, ys, voff = geo["xs"], geo["ys"], geo["voff"]
        way_entries: list[dict] = []
        for j in range(n_ws):
            kname = _KIND_NAME[geo["kind"][j]]
            s0, e0 = int(voff[j]), int(voff[j + 1])
            coords = np.column_stack([xs[s0:e0], ys[s0:e0]])
            entry = {"gc": None, "mg": (kname, geo["wkb"][j]),
                     "bbox": None, "mom": None, "coords": coords}
            if not geo["empty"][j]:
                if kname == "Point":
                    data = (float(xs[s0]), float(ys[s0]))
                elif kname == "Polygon":
                    data = [coords]
                else:
                    data = coords
                entry["gc"] = (kname, data)
                entry["bbox"] = (float(geo["xmin"][j]), float(geo["ymin"][j]),
                                 float(geo["xmax"][j]), float(geo["ymax"][j]))
                entry["mom"] = moments[j]
            way_entries.append(entry)
    else:
        way_entries = []

    node_entries: dict[int, dict] = {}

    def entry_of(enc: int):
        if enc < 0:
            return None
        if enc >= n:
            return way_entries[enc - n]
        e = node_entries.get(enc)
        if e is None:
            e = node_entries[enc] = _node_entry(enc, vis_a, lon_a, lat_a)
        return e

    # ----- decode the relation buffers and convert (unchanged converter)
    enc_open = np.concatenate(
        [np.arange(n, dtype=np.int64),
         np.asarray(ws_open, np.int64)]) if n_ws else np.arange(n, dtype=np.int64)
    enc_last = np.concatenate(
        [np.arange(n, dtype=np.int64),
         np.asarray(ws_last, np.int64)]) if n_ws else np.arange(n, dtype=np.int64)
    r_open = enc_open[np.asarray(rl_open, np.int64)]
    r_last = enc_last[np.asarray(rl_last, np.int64)]
    r_ts = ts_ns[r_last]
    r_cs = cs_a[r_open]
    r_uid = uid_a[r_open]

    # partition-wide flat offsets of rl_mem: contribution k carries
    # len(refs-of-its-major) encoded member positions, in walk order
    n_rl = len(rl_maj)
    rl_cnt = np.empty(n_rl, np.int64)
    for _rel_id, lo, hi, maj_refs, rords in rel_slices:
        pos = {g: i for i, g in enumerate(rords)}
        for k in range(lo, hi):
            rl_cnt[k] = len(maj_refs[pos[rl_maj[k]]])
    rl_off = np.concatenate([[0], np.cumsum(rl_cnt)])

    out_rows: list[dict] = []
    for rel_id, lo, hi, maj_refs, rords in rel_slices:
        pos = {g: i for i, g in enumerate(rords)}
        raw: list[dict] = []
        for k in range(lo, hi):
            g = rl_maj[k]
            mrefs = maj_refs[pos[g]]
            o0 = int(rl_off[k])
            raw.append({
                "ts": int(r_ts[k]),
                "changeset": int(r_cs[k]),
                "user_id": int(r_uid[k]),
                "user": user_a[r_open[k]],
                "version": int(ver_a[g]),
                "visible": bool(vis_a[g]),
                "tags": tags_of(int(g)),
                "refs": mrefs,
                "rel_members": [
                    {
                        "type": trip[0],
                        "id": trip[1],
                        "role": trip[2],
                        "entry": entry_of(rl_mem[o0 + t]),
                    }
                    for t, trip in enumerate(mrefs)
                ],
            })
        out_rows.extend(convert_relation_contributions(
            rel_id, raw, country_join=joiner,
            valid_to_sentinel=VALID_TO_SENTINEL_NS,
        ))
    return _finalize_rows(out_rows)


def _finalize_rows(out_rows: list[dict]):
    """dict rows → pandas with exact int64-ns → datetime64 conversion (the
    int/None mix must never pass through float64 — see the dict kernel)."""
    if not out_rows:
        return None
    nat = np.iinfo(np.int64).min
    n_out = len(out_rows)
    vf = np.fromiter((r["valid_from"] for r in out_rows),
                     np.int64, n_out).view("M8[ns]")
    vt = np.fromiter((r["valid_to"] for r in out_rows),
                     np.int64, n_out).view("M8[ns]")
    le = np.fromiter(
        (r["osm_last_edit"] if r["osm_last_edit"] is not None else nat
         for r in out_rows), np.int64, n_out).view("M8[ns]")
    pdf_out = pd.DataFrame(out_rows)
    pdf_out["valid_from"] = vf
    pdf_out["valid_to"] = vt
    pdf_out["osm_last_edit"] = le
    return pdf_out


def relation_partition_table(tbl: pa.Table, index=None) -> pa.RecordBatch | None:
    """One partition of the relation merge, Arrow in → Arrow out.

    tbl must be sorted by (rel_id, kind, member_id, version, ts) — the plan
    does this JVM-side with sortWithinPartitions (kind literals sort
    node < rel < way, the order the stream collector expects).
    index: optional broadcast `PolygonIndex` for the countries column —
    the GeometryCollection rows of the partition share one
    `join_geoms_codes` call, MultiPolygon rows call `join_geom` per
    polygon.

    Semantics are `convert_relation_contributions` verbatim, re-expressed
    as whole-partition array work (see the module docstring); the only
    per-row Python left is MultiPolygon ring assembly and its country
    join. Float doctrine: the GeometryCollection centroid folds run
    np.add.reduceat over per-member moment columns in member order —
    reduceat is a sequential left fold, so every sum associates exactly
    like the dict twin's `_combine_centroid` += chain.
    """
    n = tbl.num_rows
    if not n:
        return None
    # the plan ships (rel_id, node_id) node feeds WITHOUT a dedup shuffle
    # (a node shared by several member ways of one relation arrives once
    # per way) — identical rows are adjacent after the partition sort, so
    # one vectorized mask replaces a whole exchange
    tbl = _drop_adjacent_node_dups(tbl.combine_chunks())
    n = tbl.num_rows

    def chunk(name: str) -> pa.Array:
        return tbl.column(name).chunk(0)

    rel_np = chunk("rel_id").to_numpy(zero_copy_only=False)
    kind_arr = chunk("kind")
    is_node = pc.equal(kind_arr, pa.scalar("node")).to_numpy(zero_copy_only=False)
    is_way = pc.equal(kind_arr, pa.scalar("way")).to_numpy(zero_copy_only=False)
    is_rel = pc.equal(kind_arr, pa.scalar("rel")).to_numpy(zero_copy_only=False)
    mid_np = chunk("member_id").to_numpy(zero_copy_only=False)
    ver_np = chunk("version").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    ts_np = chunk("ts").cast(pa.int64()).to_numpy(zero_copy_only=False) * 1000
    cs_np = chunk("changeset").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    uid_np = chunk("user_id").to_numpy(zero_copy_only=False)
    vis_np = chunk("visible").to_numpy(zero_copy_only=False)
    lon_np = chunk("lon").to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    lat_np = chunk("lat").to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    user_arr = chunk("user")
    tags_arr = chunk("tags")
    refs_arr = chunk("refs")
    rml_arr = chunk("rel_member_list")

    # python-side values only for the few major rows (ways: refs+tags for
    # the walk/geometry; rels: tags + member triples)
    way_rows = np.nonzero(is_way)[0]
    way_pfx = np.concatenate([[0], np.cumsum(is_way)])
    refs_py = refs_arr.take(pa.array(way_rows)).to_pylist()
    refs_py = [[int(x) for x in r] if r else [] for r in refs_py]
    wtags_py = [dict(x) if x else {}
                for x in tags_arr.take(pa.array(way_rows)).to_pylist()]
    rel_rows = np.nonzero(is_rel)[0]
    rel_pfx = np.concatenate([[0], np.cumsum(is_rel)])
    rtags_py = [dict(x) if x else {}
                for x in tags_arr.take(pa.array(rel_rows)).to_pylist()]
    rml_py = rml_arr.take(pa.array(rel_rows)).to_pylist()
    rml_py = [
        [(m["type"], int(m["id"]), m["role"] or "") for m in (lst or [])]
        for lst in rml_py
    ]

    def refs_of(g: int) -> list:
        return refs_py[int(way_pfx[g])]

    def tags_of(g: int) -> dict:
        return rtags_py[int(rel_pfx[g])]

    def rml_of(g: int) -> list:
        return rml_py[int(rel_pfx[g])]

    st = _collect_streams(rel_np, is_node, is_way, is_rel, mid_np, ver_np,
                          ts_np, cs_np, vis_np, lon_np, lat_np,
                          refs_of, rml_of)
    rl_maj = st["rl_maj"]
    if not rl_maj:
        return None
    ws_maj, ws_open, ws_last, ws_mem = (
        st["ws_maj"], st["ws_open"], st["ws_last"], st["ws_mem"])
    rel_slices = st["rel_slices"]

    # ----- way-snapshot geometry: ONE batched pass for the partition
    n_ws = len(ws_maj)
    if n_ws:
        wmaj = np.asarray(ws_maj, np.int64)
        nref = np.asarray([len(refs_of(int(g))) for g in wmaj], np.int64)
        mem = np.asarray(ws_mem, np.int64)
        okm = mem >= 0
        gsafe = np.where(okm, mem, 0)
        ml = np.where(okm, lon_np[gsafe], np.nan)
        mt = np.where(okm, lat_np[gsafe], np.nan)
        mvv = okm & vis_np[gsafe].astype(bool)
        isarea_w = np.asarray([
            is_area(wtags_py[int(way_pfx[g])],
                    refs_of(int(g))[0] if refs_of(int(g)) else -1,
                    refs_of(int(g))[-1] if refs_of(int(g)) else -2,
                    len(refs_of(int(g))))
            for g in wmaj], bool)
        geo = batch_geometries(nref, isarea_w, ml, mt, mvv, with_bytes=False)
        mom = batch_gc_moment_cols(geo)
        way_kind = geo["kind"].astype(np.int64)
        way_empty = geo["empty"]
        way_xmin, way_ymin = geo["xmin"], geo["ymin"]
        way_xmax, way_ymax = geo["xmax"], geo["ymax"]
        way_wkb_off = geo["wkb_off"].astype(np.int64)
        way_wkb_buf = geo["wkb_buf"]
        gxs, gys, gvoff = geo["xs"], geo["ys"], geo["voff"]
    else:
        way_kind = np.zeros(0, np.int64)
        way_empty = np.zeros(0, bool)
        way_xmin = way_ymin = way_xmax = way_ymax = np.zeros(0)
        way_wkb_off = np.zeros(1, np.int64)
        way_wkb_buf = np.zeros(0, np.uint8)
        gxs = gys = np.zeros(0)
        gvoff = np.zeros(1, np.int64)
        mom = {k: np.zeros(0) for k in
               ("aw", "gx", "gy", "tl", "lx", "ly", "npt", "px", "py")}
        mom["valid"] = np.zeros(0, bool)

    # ----- per-position arrays over the encoded member space [0, n + n_ws)
    # (a node snapshot is its global row; a way snapshot is n + ordinal)
    node_ok = (is_node & vis_np & ~np.isnan(lon_np) & ~np.isnan(lat_np)
               & (lon_np >= -180.0) & (lon_np <= 180.0)
               & (lat_np >= -90.0) & (lat_np <= 90.0))
    pos_valid = np.concatenate([node_ok, ~way_empty])
    pos_kind = np.concatenate([np.ones(n, np.int64), way_kind])
    pos_x0 = np.concatenate([lon_np, way_xmin])
    pos_y0 = np.concatenate([lat_np, way_ymin])
    pos_x1 = np.concatenate([lon_np, way_xmax])
    pos_y1 = np.concatenate([lat_np, way_ymax])
    zn = np.zeros(n)
    pos_mom = {
        "aw": np.concatenate([zn, mom["aw"]]),
        "gx": np.concatenate([zn, mom["gx"]]),
        "gy": np.concatenate([zn, mom["gy"]]),
        "tl": np.concatenate([zn, mom["tl"]]),
        "lx": np.concatenate([zn, mom["lx"]]),
        "ly": np.concatenate([zn, mom["ly"]]),
        "npt": np.concatenate([np.ones(n), mom["npt"]]),
        "px": np.concatenate([lon_np, mom["px"]]),
        "py": np.concatenate([lat_np, mom["py"]]),
    }

    # member-geometry WKB per position: nodes are fixed 21-byte points
    # (NaN coords encode the JTS empty point), ways ride the zero-copy
    # partition buffer from batch_geometries
    node_lon_w = np.where(node_ok, lon_np, np.nan)
    node_lat_w = np.where(node_ok, lat_np, np.nan)
    node_mat = np.zeros((n, 21), np.uint8)
    node_mat[:, 4] = 1  # big-endian u32 Point code, bytes 1-3 stay 0
    node_mat[:, 5:13] = node_lon_w.astype(">f8").view(np.uint8).reshape(n, 8)
    node_mat[:, 13:21] = node_lat_w.astype(">f8").view(np.uint8).reshape(n, 8)
    node_buf = node_mat.reshape(-1)
    total_bytes = int(node_buf.size) + int(way_wkb_off[-1])
    if total_bytes > np.iinfo(np.int32).max:
        raise ValueError(
            "partition WKB exceeds 2GB (arrow binary offsets are int32): "
            "raise spark.sql.shuffle.partitions so relation partitions shrink")
    pos_off = np.concatenate([
        np.arange(0, 21 * n, 21, dtype=np.int64),
        21 * n + way_wkb_off,
    ]).astype(np.int32)
    pos_buf = np.concatenate([node_buf, way_wkb_buf])
    pos_bin = pa.Array.from_buffers(
        pa.binary(), n + n_ws,
        [None, pa.py_buffer(pos_off), pa.py_buffer(pos_buf)])

    # ----- decode relation buffers to flat raw-contribution arrays
    rl_maj_a = np.asarray(rl_maj, np.int64)
    enc_open = np.concatenate([np.arange(n, dtype=np.int64),
                               np.asarray(ws_open, np.int64)])
    enc_last = np.concatenate([np.arange(n, dtype=np.int64),
                               np.asarray(ws_last, np.int64)])
    r_open = enc_open[np.asarray(st["rl_open"], np.int64)]
    r_last = enc_last[np.asarray(st["rl_last"], np.int64)]
    rts = ts_np[r_last]
    rcs = cs_np[r_open]
    n_raw = rl_maj_a.size
    rl_mem_a = np.asarray(st["rl_mem"], np.int64)
    rel_of = rel_np[rl_maj_a]
    rver = ver_np[rl_maj_a]
    rvis = vis_np[rl_maj_a]
    rml_len = np.asarray([len(rml_of(int(g))) for g in rl_maj_a], np.int64)
    rl_off = np.concatenate([[0], np.cumsum(rml_len)])
    new_rel = np.zeros(n_raw, bool)
    for _rid, lo, _hi, _mr, _ro in rel_slices:
        new_rel[lo] = True

    # ----- run collapse (same-changeset dedup, keep LAST of each run)
    same_run = np.zeros(n_raw, bool)
    same_run[1:] = (~new_rel[1:]) & (rver[1:] == rver[:-1]) & (rcs[1:] == rcs[:-1])
    keep = np.ones(n_raw, bool)
    keep[:-1] = ~same_run[1:]
    K = np.nonzero(keep)[0]
    nk = K.size

    Km1 = np.maximum(K - 1, 0)
    Kp1 = np.minimum(K + 1, n_raw - 1)
    has_before = ~new_rel[K]
    has_next = (K + 1 < n_raw) & ~new_rel[Kp1]
    valid_from = rts[K]
    valid_to = np.where(has_next, rts[Kp1], VALID_TO_SENTINEL_NS)
    last_edit = rts[Km1]  # masked by has_before at emission
    krel = rel_of[K]
    visK = rvis[K].astype(bool)
    is_del = ~visK

    # minor_version / edits (same element-scoped formulas as the way path)
    reset = ~has_before | (rver[Km1] != rver[K])
    j = np.arange(nk)
    rfirst = np.ones(nk, bool)
    if nk > 1:
        rfirst[1:] = krel[1:] != krel[:-1]
    mv_base = np.maximum.accumulate(
        np.where(reset, j, np.where(rfirst, j - 1, -1)))
    mv_col = j - mv_base
    edits = j - np.maximum.accumulate(np.where(rfirst, j, 0)) + 1

    bmaj = rl_maj_a[Km1]
    cmaj = rl_maj_a[K]
    bvis = rvis[Km1].astype(bool)
    is_cre = visK & (~has_before | ~bvis)
    # reference quirk: TAG set when tags are UNCHANGED
    tag_eq = (bmaj == cmaj)
    need = np.nonzero(~is_del & ~is_cre & ~tag_eq)[0]
    for t in need.tolist():
        tag_eq[t] = tags_of(int(bmaj[t])) == tags_of(int(cmaj[t]))
    tag_un = ~is_del & ~is_cre & tag_eq

    # ----- member slices of the EMITTED rows
    counts_k = rml_len[K]
    moffs = np.concatenate([[0], np.cumsum(counts_k)])
    flat_idx = (np.repeat(rl_off[K], counts_k) + segment_ranges(counts_k)
                if moffs[-1] else np.zeros(0, np.int64))
    enc = rl_mem_a[flat_idx] if flat_idx.size else np.zeros(0, np.int64)
    enc_ok = enc >= 0
    enc_c = np.where(enc_ok, enc, 0)
    row_of = np.repeat(np.arange(nk), counts_k)

    # ----- own GeometryCollection folds (bbox + centroid over valid
    # member entries, member order — used for GC infos AND the
    # invalid-branch bbox/centroid of empty rows)
    vmask = enc_ok & pos_valid[enc_c]
    comp = np.nonzero(vmask)[0]
    own_has = np.zeros(nk, bool)
    own_xmin = np.full(nk, np.nan)
    own_ymin = np.full(nk, np.nan)
    own_xmax = np.full(nk, np.nan)
    own_ymax = np.full(nk, np.nan)
    own_cx = np.full(nk, np.nan)
    own_cy = np.full(nk, np.nan)
    if comp.size:
        crow = row_of[comp]
        cpos = enc[comp]
        gstart = np.ones(comp.size, bool)
        gstart[1:] = crow[1:] != crow[:-1]
        gs = np.nonzero(gstart)[0]
        rw = crow[gs]
        own_has[rw] = True
        own_xmin[rw] = np.minimum.reduceat(pos_x0[cpos], gs)
        own_ymin[rw] = np.minimum.reduceat(pos_y0[cpos], gs)
        own_xmax[rw] = np.maximum.reduceat(pos_x1[cpos], gs)
        own_ymax[rw] = np.maximum.reduceat(pos_y1[cpos], gs)
        # moment sums must be SEQUENTIAL left folds in member order
        # (np.add.reduceat is pairwise from n>=3 and would diverge from
        # _combine_centroid's += chain, which the DuckDB oracles replay):
        # ladder fold — one vectorized += pass per member ordinal.
        # BOUNDED (r6, r5-advice item 3): GeometryCollection rows are not
        # capped by MEMBERS_THRESHOLD, so one planet-scale relation with
        # tens of thousands of members would otherwise make every ladder
        # rung pay an O(n_groups) mask over ALL groups — groups above
        # _LADDER_MAX instead take a per-group plain-Python sequential
        # fold (same 0.0-init left fold in member order, so bit-identical;
        # ~9 float adds per member, no per-rung NumPy dispatch overhead).
        ng = gs.size
        cnt_g = np.append(gs[1:], comp.size) - gs
        keys = ("aw", "gx", "gy", "tl", "lx", "ly", "npt", "px", "py")
        accs = {k: np.zeros(ng) for k in keys}
        _LADDER_MAX = 64
        small = np.nonzero(cnt_g <= _LADDER_MAX)[0]
        if small.size:
            cnt_s = cnt_g[small]
            for t in range(int(cnt_s.max())):
                sel = small[cnt_s > t]
                p = cpos[gs[sel] + t]
                for k in keys:
                    accs[k][sel] += pos_mom[k][p]
        for j in np.nonzero(cnt_g > _LADDER_MAX)[0].tolist():
            s, n = int(gs[j]), int(cnt_g[j])
            idx = cpos[s:s + n]
            for k in keys:
                acc = 0.0
                for v in pos_mom[k][idx].tolist():
                    acc += v
                accs[k][j] = acc
        aw, gx, gy = accs["aw"], accs["gx"], accs["gy"]
        tl, lx, ly = accs["tl"], accs["lx"], accs["ly"]
        npt, px, py = accs["npt"], accs["px"], accs["py"]
        # JTS dimension priority: area -> length -> points
        with np.errstate(invalid="ignore", divide="ignore"):
            cx = np.where(np.abs(aw) > 0.0, gx / aw,
                          np.where(tl > 0.0, lx / tl,
                                   np.where(npt > 0, px / npt, np.nan)))
            cy = np.where(np.abs(aw) > 0.0, gy / aw,
                          np.where(tl > 0.0, ly / tl,
                                   np.where(npt > 0, py / npt, np.nan)))
        own_cx[rw] = cx
        own_cy[rw] = cy

    # ----- per-visible-row geometry info (MultiPolygon loop + GC arrays)
    is_mp_row = np.zeros(nk, bool)
    for i in np.nonzero(visK)[0].tolist():
        t = tags_of(int(cmaj[i]))
        if (counts_k[i] <= MEMBERS_THRESHOLD
                and (t.get("type") or "").lower() in ("multipolygon", "boundary")):
            is_mp_row[i] = True

    info_kind = np.where(is_mp_row, 0, 1)  # 0=MultiPolygon, 1=GeometryCollection
    info_ne = np.zeros(nk, bool)
    info_xmin = np.full(nk, np.nan)
    info_ymin = np.full(nk, np.nan)
    info_xmax = np.full(nk, np.nan)
    info_ymax = np.full(nk, np.nan)
    info_cx = np.full(nk, np.nan)
    info_cy = np.full(nk, np.nan)
    info_area = np.zeros(nk)
    info_wkb: list = [None] * nk
    info_countries: list = [None] * nk

    gc_rows = np.nonzero(visK & ~is_mp_row)[0]
    _EMPTY_GC_WKB = wkb_dumps(("GeometryCollection", None))
    for i in gc_rows.tolist():
        if not own_has[i]:
            info_wkb[i] = _EMPTY_GC_WKB
            continue
        info_ne[i] = True
        info_xmin[i] = own_xmin[i]
        info_ymin[i] = own_ymin[i]
        info_xmax[i] = own_xmax[i]
        info_ymax[i] = own_ymax[i]
        info_cx[i] = own_cx[i]
        info_cy[i] = own_cy[i]
        from .history import _envelope_geom
        info_wkb[i] = wkb_dumps(_envelope_geom(
            (own_xmin[i], own_ymin[i], own_xmax[i], own_ymax[i])))
    gc_has = gc_rows[own_has[gc_rows]]
    if index is not None and gc_has.size:
        # a GeometryCollection's countries are those of its valid members'
        # vertices: one point set per row, one batched join for all rows
        in_gc = np.zeros(nk, bool)
        in_gc[gc_has] = True
        members = comp[in_gc[row_of[comp]]]
        ec = enc[members]
        way = ec >= n
        start = ec.copy()  # into the node coords ++ way vertex coords
        cnt = np.ones(ec.size, np.int64)
        jj = ec[way] - n
        start[way] = n + gvoff[jj]
        cnt[way] = gvoff[jj + 1] - gvoff[jj]
        vert = np.repeat(start, cnt) + segment_ranges(cnt)
        per_row = np.bincount(np.repeat(row_of[members], cnt), minlength=nk)
        off, codes, ids = index.join_geoms_codes(
            np.ones(gc_has.size, np.int64),
            np.concatenate([[0], np.cumsum(per_row[gc_has])]),
            np.concatenate([lon_np, gxs])[vert],
            np.concatenate([lat_np, gys])[vert])
        names = [ids[c] for c in codes.tolist()]
        for k, i in enumerate(gc_has.tolist()):
            info_countries[i] = names[off[k]:off[k + 1]]

    mp_rows = np.nonzero(is_mp_row)[0]
    if mp_rows.size:
        from ..functions.mpbuild import MultiPolygonBuildError, build_multipolygon
        _EMPTY_MP_WKB = wkb_dumps(("MultiPolygon", None))
        for i in mp_rows.tolist():
            mrefs = rml_of(int(cmaj[i]))
            s0 = int(moffs[i])
            outers: list = []
            inners: list = []
            for t, trip in enumerate(mrefs):
                ec = int(enc[s0 + t])
                if trip[0] != "way" or ec < n:
                    continue
                jj = ec - n
                a0, b0 = int(gvoff[jj]), int(gvoff[jj + 1])
                if b0 == a0:
                    continue
                coords = np.column_stack([gxs[a0:b0], gys[a0:b0]])
                role = trip[2].strip()
                if role == "inner":
                    inners.append([tuple(p) for p in coords])
                elif role in ("", "outer"):
                    outers.append([tuple(p) for p in coords])
            data = None
            try:
                geom = build_multipolygon(outers, inners)
                if geom[1]:
                    data = geom[1]
            except MultiPolygonBuildError:
                data = None
            if data is None:
                info_wkb[i] = _EMPTY_MP_WKB
                continue
            info_ne[i] = True
            info_wkb[i] = wkb_dumps(("MultiPolygon", data))
            coords = np.vstack([np.vstack(rings) for rings in data])
            bx = gnp.bbox(coords[:, 0], coords[:, 1])
            info_xmin[i], info_ymin[i], info_xmax[i], info_ymax[i] = bx
            ccx = ccy = 0.0
            a_sum = 0.0
            for rings in data:
                pa_, (px_, py_) = _poly_area_centroid(rings)
                ccx += px_ * pa_
                ccy += py_ * pa_
                a_sum += pa_
            if a_sum:
                info_cx[i], info_cy[i] = ccx / a_sum, ccy / a_sum
            else:
                info_cx[i], info_cy[i] = gnp.centroid_points(
                    coords[:, 0], coords[:, 1])
            info_area[i] = sum(
                gd.geodesic_polygon_area(
                    (rings[0][:, 0], rings[0][:, 1]),
                    [(r[:, 0], r[:, 1]) for r in rings[1:]],
                )
                for rings in data
            )
            if index is not None:
                hits = set()
                for rings in data:
                    hits.update(index.join_geom("Polygon", list(rings)))
                info_countries[i] = sorted(hits)

    # ----- carry-forward chain (deleted rows reuse the previous info)
    rowpos = np.arange(nk)
    acc = np.maximum.accumulate(np.where(visK, rowpos, -1))
    acc_c = np.maximum(acc, 0)
    has_info = (acc >= 0) & (krel[acc_c] == krel)
    eff = np.where(has_info, acc_c, 0)
    info_ok = has_info & info_ne[eff]

    final_xmin = np.where(info_ok, info_xmin[eff],
                          np.where(own_has, own_xmin, np.nan))
    final_ymin = np.where(info_ok, info_ymin[eff],
                          np.where(own_has, own_ymin, np.nan))
    final_xmax = np.where(info_ok, info_xmax[eff],
                          np.where(own_has, own_xmax, np.nan))
    final_ymax = np.where(info_ok, info_ymax[eff],
                          np.where(own_has, own_ymax, np.nan))
    final_cx = np.where(info_ok, info_cx[eff],
                        np.where(own_has, own_cx, np.nan))
    final_cy = np.where(info_ok, info_cy[eff],
                        np.where(own_has, own_cy, np.nan))

    area_row = np.where(info_ok, info_area[eff], 0.0)
    area_prev = np.empty(nk)
    area_prev[0] = 0.0
    area_prev[1:] = area_row[:-1]
    area_prev[rfirst] = 0.0
    zeros = np.zeros(nk)

    # GEOMETRY flag: compare the stored info WKB along the emitted chain
    info_id = np.where(has_info, acc_c, -1)
    prev_id = np.empty(nk, np.int64)
    prev_id[0] = -1
    prev_id[1:] = info_id[:-1]
    prev_id[rfirst] = -1
    cand = ~is_del & ~is_cre
    geom_changed = cand & ((prev_id < 0) != (info_id < 0))
    both = np.nonzero(cand & (prev_id >= 0) & (info_id >= 0)
                      & (prev_id != info_id))[0]
    for t in both.tolist():
        geom_changed[t] = info_wkb[prev_id[t]] != info_wkb[info_id[t]]
    contrib_code = np.select(
        [is_del, is_cre, tag_un & geom_changed, tag_un, geom_changed],
        [0, 1, 2, 3, 4], default=5)
    contrib_col = _dict_take(
        ["DELETION", "CREATION", "TAG_GEOMETRY", "TAG", "GEOMETRY", ""],
        contrib_code)

    status_code = np.where(
        ~info_ok, 3, np.where(is_del, 0, np.where(has_next, 1, 2)))
    status_col = _dict_take(["deleted", "history", "latest", "invalid"],
                            status_code)
    geometry_type_col = _dict_take(
        ["MultiPolygon", "GeometryCollection"], info_kind[eff],
        mask=~has_info)
    geometry_col = pa.array(
        [info_wkb[int(eff[i])] if info_ok[i] else None for i in range(nk)],
        type=pa.binary())
    if index is None:
        countries_col = pa.ListArray.from_arrays(
            np.zeros(nk + 1, np.int32), pa.array([], type=pa.string()))
    else:
        countries_col = pa.array(
            [(info_countries[int(eff[i])] or []) if info_ok[i] else []
             for i in range(nk)],
            type=pa.list_(pa.string()))

    # XZ2 from the FINAL bbox (invalid rows carry their member bbox too)
    xz_lvl = np.full(nk, -1, np.int32)
    xz_cod = np.zeros(nk, np.int64)
    bbok = ~np.isnan(final_xmin)
    if bbok.any():
        lv, cd = xz2_code(final_xmin[bbok], final_ymin[bbok],
                          final_xmax[bbok], final_ymax[bbok])
        xz_lvl[bbok] = lv.astype(np.int32)
        xz_cod[bbok] = cd

    # ----- map/list/string columns: C++ takes from the INPUT arrays
    empty_map = pa.array([[]], type=tags_arr.type)
    ext_tags = pa.concat_arrays([tags_arr, empty_map])
    tagnull = pc.is_null(tags_arr).to_numpy(zero_copy_only=False)
    t_idx = np.where(tagnull[cmaj], n, cmaj)
    tb_idx = np.where(has_before & ~tagnull[bmaj], bmaj, n)
    tags_col = ext_tags.take(pa.array(t_idx)).cast(_MAP)
    tags_before_col = ext_tags.take(pa.array(tb_idx)).cast(_MAP)
    user_col = user_arr.take(pa.array(r_open[K])).cast(pa.string())

    empty_rml = pa.array([[]], type=rml_arr.type)
    ext_rml = pa.concat_arrays([rml_arr, empty_rml])
    rmlnull = pc.is_null(rml_arr).to_numpy(zero_copy_only=False)
    m_idx = np.where(rmlnull[cmaj], n, cmaj)
    mlists = ext_rml.take(pa.array(m_idx))
    mstruct = pc.list_flatten(mlists)
    l_off = moffs.astype(np.int32)
    member_types_col = pa.ListArray.from_arrays(
        l_off, mstruct.field("type").cast(pa.string()))
    member_ids_col = pa.ListArray.from_arrays(
        l_off, mstruct.field("id").cast(pa.int64()))
    member_roles_col = pa.ListArray.from_arrays(
        l_off, pc.fill_null(mstruct.field("role").cast(pa.string()), ""))

    mg_kind = pos_kind[enc_c]
    member_geom_types_col = pa.ListArray.from_arrays(
        l_off, _dict_take(["Point", "LineString", "Polygon"],
                          mg_kind - 1, mask=~enc_ok))
    member_geoms_col = pa.ListArray.from_arrays(
        l_off, pos_bin.take(pa.array(enc_c, mask=~enc_ok)))

    def f64(vals: np.ndarray) -> pa.Array:
        return pa.array(vals, mask=np.isnan(vals))

    batch = pa.record_batch(
        [
            _dict_take(["relation"], np.zeros(nk, np.int64)),
            pa.array(krel.astype(np.int64)),
            pa.array(rver[K].astype(np.int32)),
            pa.array(mv_col.astype(np.int32)),
            pa.array(edits.astype(np.int32)),
            pa.array(last_edit // 1000, type=_TS, mask=~has_before),
            pa.array(valid_from // 1000, type=_TS),
            pa.array(valid_to // 1000, type=_TS),
            pa.array(uid_np[r_open[K]].astype(np.int64)),
            user_col,
            pa.array(rcs[K]),
            tags_col,
            tags_before_col,
            status_col,
            contrib_col,
            geometry_type_col,
            geometry_col,
            f64(final_xmin),
            f64(final_ymin),
            f64(final_xmax),
            f64(final_ymax),
            f64(final_cx),
            f64(final_cy),
            pa.array(xz_lvl),
            pa.array(xz_cod),
            countries_col,
            pa.array(area_row),
            pa.array(area_row - area_prev),
            pa.array(zeros),
            pa.array(zeros),
            member_types_col,
            member_ids_col,
            member_roles_col,
            member_geom_types_col,
            member_geoms_col,
        ],
        schema=REL_OUT_SCHEMA,
    )
    return batch
