"""Arrow-native way-history merge: zero-dict, zero-pandas kernel.

Same semantics as the dict kernel in history.py (`merge_contributions` /
`collect_element_columnar` / `finalize_columnar`, which mirror the
reference's `ContributionsEntity.computeNext`
`ContributionsEntity.java:82-150` and `ContributionsAvroConverter.java:
57-176`) — re-engineered for 100×-scale throughput:

* the partition arrives as Arrow record batches (`mapInArrow`), never
  materialized as pandas: numeric columns are zero-copy NumPy views, the
  map/list/string columns stay Arrow and are only ever touched by C++
  `take` kernels;
* member histories are ARRAY CURSORS (`_AHist`): a list of global row
  indices + precomputed (ts, changeset) key tuples; the priority-queue walk
  compares plain int tuples and emits four integer buffers per
  contribution (major row, changeset-stamp row, ts-stamp row, flat member
  rows) — no per-row Python dicts anywhere;
* the minor-node store filter (`MinorNode.java:55-63`) runs vectorized
  over the whole partition, with an exact per-segment Python fallback only
  for segments where a coordinate-revert drop cascades (rare in real data);
* the run-collapse + window-column phase (`ContributionsAvroConverter`)
  is pure NumPy over the emitted integer buffers;
* output columns are built directly as Arrow arrays: WKB geometry is a
  zero-copy BinaryArray over the partition-wide buffer + C++ `take`,
  tags/tags_before/refs/user are `take`s from the INPUT columns, the small
  categorical columns (status, contrib_type, geometry_type) are dictionary
  `take`s. XZ2 codes are computed in-kernel from the request bboxes, so
  the separate post-pass Arrow round-trip disappears;
* the countries column is one `PolygonIndex.join_geoms_codes` call over
  every geometry request of the partition, gathered per row from its CSR
  output (`countries_column`) — no per-geometry join calls.

The dict kernel stays as the cross-check twin; tests/test_history_arrow.py
asserts row equality between the two on adversarial fixtures.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..functions.cells import xz2_code
from ..functions.geometry_np import segment_ranges
from ..functions.waygeom import is_area
from .history import (
    CONTRIB_SCHEMA,
    MAX_TS_NS,
    VALID_TO_SENTINEL_NS,
    _CS_MAX,
    _MinQueue,
    batch_geometries,
)

_TS = pa.timestamp("us")
_MAP = pa.map_(pa.string(), pa.string())

OUT_SCHEMA = pa.schema([
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
    ("refs", pa.list_(pa.int64())),
])

_SENTINEL_KEY = (MAX_TS_NS, _CS_MAX)


class _AHist:
    """Array-cursor member history (`Contributions` iterator analog).

    idx:  global row indices of the (minor-filtered) member versions;
    keys: matching (ts_ns, changeset) tuples, precomputed once.
    Interface-compatible with `_MinQueue` (head_key / has_next duck type).
    """

    __slots__ = ("idx", "keys", "pos", "n", "sentinel")

    def __init__(self, idx, keys, sentinel=_SENTINEL_KEY):
        self.idx = idx
        self.keys = keys
        self.pos = -1
        self.n = len(idx)
        self.sentinel = sentinel

    def has_next(self) -> bool:
        return self.pos + 1 < self.n

    def head_key(self):
        p = self.pos + 1
        return self.keys[p] if p < self.n else self.sentinel


def _merge_walk(maj_rows, maj_ts, maj_cs, maj_refs, member_hists,
                elem_ord, o_elem, o_maj, o_open, o_last, o_mem) -> None:
    """Queue walk of ONE element emitting integer buffers.

    Exact twin of `merge_contributions` (history.py:233; reference
    `ContributionsEntity.computeNext:107-150`): as-of consumption at each
    major (ts ≤ major.ts OR changeset == major.changeset), same-changeset
    minor grouping stamped with the LAST consumed edit's ts and the FIRST
    (opener) edit's changeset/user, persistent member cursors. Instead of
    dict rows it appends, per contribution: the major's global row, the
    opener row (changeset/user_id/user source), the last-consumed row (ts
    source), and the current member row per ref into the flat o_mem buffer
    (-1 = no snapshot yet / missing member).
    """
    max_ts, cs_max = _SENTINEL_KEY
    empty = _AHist((), ())
    mem_append = o_mem.append
    nmaj = len(maj_rows)
    i = 0
    while i < nmaj:
        g = maj_rows[i]
        ts = maj_ts[i]
        cs = maj_cs[i]
        open_row = last_row = g
        refs = maj_refs[i]
        active = {}
        for ref in refs:
            h = active.get(ref)
            if h is None:
                h = member_hists.get(ref, empty)
                active[ref] = h
            while h.pos + 1 < h.n:
                kt, kc = h.keys[h.pos + 1]
                if kt <= ts or kc == cs:
                    h.pos += 1
                else:
                    break
        queue = _MinQueue(list({id(h): h for h in active.values()}.values()))
        next_major_ts = maj_ts[i + 1] if i + 1 < nmaj else max_ts

        while True:
            o_elem.append(elem_ord)
            o_maj.append(g)
            o_open.append(open_row)
            o_last.append(last_row)
            for r in refs:
                h = active[r]
                mem_append(h.idx[h.pos] if h.pos >= 0 else -1)
            head = queue.min() if queue else None
            if head is not None and head.pos + 1 < head.n:
                p = head.pos + 1
                ts, cs = head.keys[p]
                open_row = last_row = head.idx[p]
            else:
                ts, cs = max_ts, cs_max
                open_row = last_row = -1
            # consume all member edits of this changeset before the next major
            while queue:
                head = queue.min()
                p = head.pos + 1
                if p >= head.n:
                    break
                kt, kc = head.keys[p]
                if kc != cs or not (kt < next_major_ts):
                    break
                ts = kt
                last_row = head.idx[p]
                head.pos = p
            if ts < next_major_ts:
                # minor version: refresh member snapshots as-of (ts, cs)
                for r in refs:
                    h = active[r]
                    while h.pos + 1 < h.n:
                        kt, kc = h.keys[h.pos + 1]
                        if kt <= ts and kc == cs:
                            h.pos += 1
                        else:
                            break
            else:
                i += 1
                break


def _minor_node_keep_mask(node_rows, seg_new, nv, nlon, nlat) -> np.ndarray:
    """Vectorized minor-node store filter (`MinorNode.java:55-63`; dict twin
    `minor_node_filter`, history.py:172) over ALL node rows of a partition.

    Per segment (one member node's version feed): leading/consecutive
    invisible rows are skipped; visibility flips always keep; visible →
    visible keeps only when BOTH lon and lat differ from the last KEPT row.

    The only loop-carried state is "last kept coords", and it only matters
    when a visible row is DROPPED (revert to the last-kept position on one
    axis). The vectorized pass assumes last-kept == previous processed row;
    any segment where that assumption could differ (i.e. containing a
    dropped row) is re-run with the exact sequential rule — rare in real
    feeds (a drop needs a lone-axis move or exact revert).
    """
    m = node_rows.size
    keep_mask = np.zeros(m, bool)
    if not m:
        return keep_mask
    # processed (enters the filter's state machine) = visible, or previous
    # raw row of the segment is visible (the flip-marker rule)
    pv = np.zeros(m, bool)
    pv[1:] = nv[:-1]
    prev_ok = ~seg_new
    processed = nv | (prev_ok & pv)
    proc_idx = np.nonzero(processed)[0]
    if not proc_idx.size:
        return keep_mask
    seg_ord = np.cumsum(seg_new) - 1
    p_seg = seg_ord[proc_idx]
    first_p = np.ones(proc_idx.size, bool)
    first_p[1:] = p_seg[1:] != p_seg[:-1]
    ppv = np.zeros(proc_idx.size, bool)
    ppv[1:] = nv[proc_idx[:-1]]
    cur_v = nv[proc_idx]
    plon = np.full(proc_idx.size, np.nan)
    plat = np.full(proc_idx.size, np.nan)
    plon[1:] = nlon[proc_idx[:-1]]
    plat[1:] = nlat[proc_idx[:-1]]
    keep0 = (first_p | ~cur_v | ~ppv
             | ((nlon[proc_idx] != plon) & (nlat[proc_idx] != plat)))
    keep_mask[proc_idx[keep0]] = True
    bad = ~keep0
    if bad.any():
        # exact sequential re-run of every segment containing a drop
        seg_starts = np.nonzero(seg_new)[0]
        seg_ends = np.append(seg_starts[1:], m)
        for sg in np.unique(p_seg[bad]):
            a, b = int(seg_starts[sg]), int(seg_ends[sg])
            keep_mask[a:b] = False
            vis_state = False
            llon = llat = np.nan
            for j in range(a, b):
                vj = bool(nv[j])
                if vj or vis_state:
                    lj = float(nlon[j])
                    tj = float(nlat[j])
                    if (not vj) or (not vis_state) or (lj != llon and tj != llat):
                        keep_mask[j] = True
                        llon = lj
                        llat = tj
                    vis_state = vj
    return keep_mask


def _dict_take(values: list[str], codes: np.ndarray,
               mask: np.ndarray | None = None) -> pa.Array:
    """Small-dictionary string column: C++ take of per-row codes."""
    idx = pa.array(codes.astype(np.int32), mask=mask)
    return pa.array(values, type=pa.string()).take(idx)


def countries_column(index, kinds, voff, xs, ys, which: np.ndarray) -> pa.ListArray:
    """Row i's countries: the ids `index.join_geoms_codes` finds for
    geometry which[i] (kinds/voff/xs/ys as that method takes them), or []
    where which[i] < 0. One batched join for all geometries, then one
    CSR gather — no per-row or per-geometry Python."""
    offsets, codes, ids = index.join_geoms_codes(kinds, voff, xs, ys)
    has = which >= 0
    lens = np.zeros(which.size, np.int64)
    lens[has] = offsets[which[has] + 1] - offsets[which[has]]
    starts = np.zeros(which.size, np.int64)
    starts[has] = offsets[which[has]]
    values = codes[np.repeat(starts, lens) + segment_ranges(lens)]
    row_off = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    return pa.ListArray.from_arrays(
        pa.array(row_off), pa.array(ids, pa.string()).take(pa.array(values)))


def way_partition_table(tbl: pa.Table, index=None) -> pa.RecordBatch | None:
    """One partition of the way merge, Arrow in → Arrow out.

    tbl must be sorted by (way_id, kind, node_id, version, ts) — the plan
    does this JVM-side with sortWithinPartitions. index: optional
    broadcast `PolygonIndex`; every geometry of the partition goes through
    one `join_geoms_codes` call for the countries column.
    """
    n = tbl.num_rows
    if not n:
        return None
    tbl = tbl.combine_chunks()

    def chunk(name: str) -> pa.Array:
        return tbl.column(name).chunk(0)

    way_np = chunk("way_id").to_numpy(zero_copy_only=False)
    is_way = pc.equal(chunk("kind"), pa.scalar("w")).to_numpy(zero_copy_only=False)
    node_id_np = chunk("node_id").fill_null(-1).to_numpy(zero_copy_only=False)
    ver_np = chunk("version").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    # int64-ns time domain (exact µs→ns; python-int tuple compares in the walk)
    ts_np = chunk("ts").cast(pa.int64()).to_numpy(zero_copy_only=False) * 1000
    cs_np = chunk("changeset").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    uid_np = chunk("user_id").to_numpy(zero_copy_only=False)
    vis_np = chunk("visible").to_numpy(zero_copy_only=False)
    lon_np = chunk("lon").to_numpy(zero_copy_only=False)
    lat_np = chunk("lat").to_numpy(zero_copy_only=False)
    user_arr = chunk("user")
    tags_arr = chunk("tags")
    refs_arr = chunk("refs")

    # ----- member ingestion: vectorized minor-node filter + array cursors
    node_rows = np.nonzero(~is_way)[0]
    if node_rows.size:
        nv = vis_np[node_rows]
        nlon = lon_np[node_rows]
        nlat = lat_np[node_rows]
        seg_new = np.ones(node_rows.size, bool)
        seg_new[1:] = (
            (np.diff(node_rows) != 1)
            | (node_id_np[node_rows[1:]] != node_id_np[node_rows[:-1]])
            | (way_np[node_rows[1:]] != way_np[node_rows[:-1]])
        )
        keep_mask = _minor_node_keep_mask(node_rows, seg_new, nv, nlon, nlat)
        kept_m = np.nonzero(keep_mask)[0]
        kept_g = node_rows[kept_m]
        seg_ord = np.cumsum(seg_new) - 1
        kept_seg = seg_ord[kept_m]
        # per-kept-segment boundaries (a filtered-to-empty node simply has
        # no segment here and resolves to the shared empty history)
        kch = np.ones(kept_m.size, bool)
        kch[1:] = kept_seg[1:] != kept_seg[:-1]
        kseg_starts = np.nonzero(kch)[0]
        kseg_ends = np.append(kseg_starts[1:], kept_m.size)
        kseg_way = way_np[kept_g[kseg_starts]] if kept_m.size else np.zeros(0, np.int64)
        kseg_nid = node_id_np[kept_g[kseg_starts]] if kept_m.size else np.zeros(0, np.int64)
        kept_g_l = kept_g.tolist()
        kept_keys = list(zip(ts_np[kept_g].tolist(), cs_np[kept_g].tolist()))
    else:
        kept_g = np.zeros(0, np.int64)
        kseg_starts = kseg_ends = np.zeros(0, np.int64)
        kseg_way = kseg_nid = np.zeros(0, np.int64)
        kept_g_l = []
        kept_keys = []

    # ----- per-major python values (few rows: tags dicts, refs lists)
    way_rows = np.nonzero(is_way)[0]
    way_prefix = np.concatenate([[0], np.cumsum(is_way)])  # row -> way ordinal
    w_take = pa.array(way_rows)
    refs_py = refs_arr.take(w_take).to_pylist()
    tags_py = [dict(x) if x else {} for x in tags_arr.take(w_take).to_pylist()]
    refs_py = [r if r is not None else [] for r in refs_py]
    way_ts_l = ts_np[way_rows].tolist()
    way_cs_l = cs_np[way_rows].tolist()
    way_ver = ver_np[way_rows]

    # ----- element walk
    cuts = np.nonzero(way_np[1:] != way_np[:-1])[0] + 1
    e_starts = np.concatenate([[0], cuts])
    e_ends = np.concatenate([cuts, [n]])
    o_elem: list[int] = []
    o_maj: list[int] = []
    o_open: list[int] = []
    o_last: list[int] = []
    o_mem: list[int] = []
    elem_ord = 0
    for s, e in zip(e_starts.tolist(), e_ends.tolist()):
        w0 = int(e - (way_prefix[e] - way_prefix[s]))  # first major row
        if w0 == e:
            continue  # member rows without a parent way (filtered ways)
        a = int(np.searchsorted(kept_g, s, "left"))
        b = int(np.searchsorted(kept_g, e, "left"))
        hists: dict[int, _AHist] = {}
        if a < b:
            t0 = int(np.searchsorted(kseg_starts, a, "right")) - 1
            t1 = int(np.searchsorted(kseg_starts, b, "left"))
            for t in range(t0, t1):
                ka, kb = int(kseg_starts[t]), int(kseg_ends[t])
                hists[int(kseg_nid[t])] = _AHist(
                    kept_g_l[ka:kb], kept_keys[ka:kb])
        ords = list(range(int(way_prefix[w0]), int(way_prefix[w0]) + (e - w0)))
        # defensive (version, ts) order — the JVM sort already guarantees it
        ords.sort(key=lambda t: (way_ver[t], way_ts_l[t]))
        maj_rows = [int(way_rows[t]) for t in ords]
        maj_ts = [way_ts_l[t] for t in ords]
        maj_cs = [way_cs_l[t] for t in ords]
        maj_refs = [refs_py[t] for t in ords]
        _merge_walk(maj_rows, maj_ts, maj_cs, maj_refs, hists,
                    elem_ord, o_elem, o_maj, o_open, o_last, o_mem)
        elem_ord += 1

    n_raw = len(o_maj)
    if not n_raw:
        return None

    # ----- run collapse + window columns: pure NumPy over the int buffers
    elem = np.asarray(o_elem, np.int64)
    majr = np.asarray(o_maj, np.int64)
    opnr = np.asarray(o_open, np.int64)
    lastr = np.asarray(o_last, np.int64)
    mem = np.asarray(o_mem, np.int64)
    rver = ver_np[majr]
    rcs = cs_np[opnr]
    rts = ts_np[lastr]
    rvis = vis_np[majr]
    new_elem = np.ones(n_raw, bool)
    new_elem[1:] = elem[1:] != elem[:-1]
    same_run = np.zeros(n_raw, bool)
    same_run[1:] = (~new_elem[1:]) & (rver[1:] == rver[:-1]) & (rcs[1:] == rcs[:-1])
    keep = np.ones(n_raw, bool)
    keep[:-1] = ~same_run[1:]
    K = np.nonzero(keep)[0]
    nk = K.size

    Km1 = np.maximum(K - 1, 0)
    Kp1 = np.minimum(K + 1, n_raw - 1)
    has_before = ~new_elem[K]
    has_next = (K + 1 < n_raw) & ~new_elem[Kp1]
    valid_from = rts[K]
    valid_to = np.where(has_next, rts[Kp1], VALID_TO_SENTINEL_NS)
    last_edit = rts[Km1]  # masked by has_before at emission
    # minorVersion resets when the RAW predecessor has a different version,
    # else increments from the previous EMITTED value (converter :85-90).
    # The accumulate baseline must ALSO restart at each element: an element
    # whose first emitted row is non-reset (its first raw rows collapsed a
    # same-(version,changeset) run) counts from 1, never from the previous
    # element's last reset position — hence the efirst -> j-1 floor.
    reset = ~has_before | (rver[Km1] != rver[K])
    j = np.arange(nk)
    ke = elem[K]
    efirst = np.ones(nk, bool)
    if nk > 1:
        efirst[1:] = ke[1:] != ke[:-1]
    mv_base = np.maximum.accumulate(
        np.where(reset, j, np.where(efirst, j - 1, -1)))
    mv_col = j - mv_base
    edits = j - np.maximum.accumulate(np.where(efirst, j, 0)) + 1

    bmaj = majr[Km1]
    cmaj = majr[K]
    is_del = ~rvis[K]
    bvis = rvis[Km1]
    is_cre = rvis[K] & (~has_before | ~bvis)
    # reference quirk (`:156-158`): TAG set when tags are UNCHANGED
    tag_eq = (bmaj == cmaj)
    need = np.nonzero(~is_del & ~is_cre & ~tag_eq)[0]
    for t in need.tolist():  # one per major transition — few
        tag_eq[t] = (tags_py[int(way_prefix[bmaj[t]])]
                     == tags_py[int(way_prefix[cmaj[t]])])
    tag_un = ~is_del & ~is_cre & tag_eq

    # ----- geometry requests (visible kept rows) + one batched pass
    nref_all = pc.list_value_length(refs_arr).fill_null(0).to_numpy(
        zero_copy_only=False).astype(np.int64)
    rnref = nref_all[majr]
    moff = np.concatenate([[0], np.cumsum(rnref)])
    req_rows = np.nonzero(rvis[K])[0]
    rk = K[req_rows]
    counts = rnref[rk]
    flat_idx = np.repeat(moff[rk], counts) + segment_ranges(counts)
    gmem = mem[flat_idx] if flat_idx.size else np.zeros(0, np.int64)
    okm = gmem >= 0
    gsafe = np.where(okm, gmem, 0)
    ml = np.where(okm, lon_np[gsafe], np.nan)
    mt = np.where(okm, lat_np[gsafe], np.nan)
    mvv = okm & vis_np[gsafe]
    isarea_by_word = np.fromiter(
        (is_area(tags_py[t], refs_py[t][0] if refs_py[t] else -1,
                 refs_py[t][-1] if refs_py[t] else -2, len(refs_py[t]))
         for t in range(len(way_rows))),
        bool, len(way_rows)) if len(way_rows) else np.zeros(0, bool)
    isarea_req = isarea_by_word[way_prefix[majr[rk]]]
    geo = batch_geometries(counts, isarea_req, ml, mt, mvv, with_bytes=False)
    R = counts.size

    # carry-forward (converter's geometry_before chain) as array ops
    req_of = np.full(nk, -1, np.int64)
    req_of[req_rows] = np.arange(R)
    rowpos = np.arange(nk)
    acc = np.maximum.accumulate(np.where(rvis[K], rowpos, -1))
    acc_c = np.maximum(acc, 0)
    eff_ok = (acc >= 0) & (ke[acc_c] == ke)
    eff_req = np.where(eff_ok, req_of[acc_c], -1)
    eff_c = np.maximum(eff_req, 0)
    prev_req = np.empty(nk, np.int64)
    prev_req[0] = -1
    prev_req[1:] = eff_req[:-1]
    prev_req[efirst] = -1
    nonempty = eff_ok & ~geo["empty"][eff_c]

    # zero-copy WKB BinaryArray over the partition buffer
    if geo["wkb_off"][-1] > np.iinfo(np.int32).max:
        raise ValueError(
            "partition WKB exceeds 2GB (arrow binary offsets are int32): "
            "raise spark.sql.shuffle.partitions so way partitions shrink")
    ooff = geo["wkb_off"].astype(np.int32)
    req_bin = pa.Array.from_buffers(
        pa.binary(), R,
        [None, pa.py_buffer(ooff), pa.py_buffer(geo["wkb_buf"])])
    geometry_col = req_bin.take(pa.array(eff_c, mask=~nonempty))

    # GEOMETRY flag: WKB equality via C++ take + equal (converter `:156-163`)
    cand = ~is_del & ~is_cre & (prev_req != eff_req)
    geom_changed = cand & ((prev_req < 0) | (eff_req < 0))
    both = np.nonzero(cand & (prev_req >= 0) & (eff_req >= 0))[0]
    if both.size:
        eqs = pc.equal(req_bin.take(pa.array(prev_req[both])),
                       req_bin.take(pa.array(eff_req[both])))
        geom_changed[both] = np.invert(eqs.to_numpy(zero_copy_only=False))
    contrib_code = np.select(
        [is_del, is_cre, tag_un & geom_changed, tag_un, geom_changed],
        [0, 1, 2, 3, 4], default=5)
    contrib_col = _dict_take(
        ["DELETION", "CREATION", "TAG_GEOMETRY", "TAG", "GEOMETRY", ""],
        contrib_code)

    status_code = np.where(
        ~nonempty, 3, np.where(is_del, 0, np.where(has_next, 1, 2)))
    status_col = _dict_take(["deleted", "history", "latest", "invalid"],
                            status_code)
    gt_code = geo["kind"][eff_c].astype(np.int64) - 1
    geometry_type_col = _dict_take(["Point", "LineString", "Polygon"],
                                   gt_code, mask=eff_req < 0)

    area_row = np.where(nonempty, geo["area"][eff_c], 0.0)
    length_row = np.where(nonempty, geo["length"][eff_c], 0.0)
    area_prev = np.empty(nk)
    area_prev[0] = 0.0
    area_prev[1:] = area_row[:-1]
    area_prev[efirst] = 0.0
    length_prev = np.empty(nk)
    length_prev[0] = 0.0
    length_prev[1:] = length_row[:-1]
    length_prev[efirst] = 0.0

    # XZ2 from request bboxes (folded in: no separate post-pass round trip)
    xz_lvl = np.full(nk, -1, np.int32)
    xz_cod = np.zeros(nk, np.int64)
    valid_req = np.nonzero(~geo["empty"])[0]
    if valid_req.size:
        lv, cd = xz2_code(geo["xmin"][valid_req], geo["ymin"][valid_req],
                          geo["xmax"][valid_req], geo["ymax"][valid_req])
        lv_all = np.full(R, -1, np.int64)
        cd_all = np.zeros(R, np.int64)
        lv_all[valid_req] = lv
        cd_all[valid_req] = cd
        xz_lvl = np.where(nonempty, lv_all[eff_c], -1).astype(np.int32)
        xz_cod = np.where(nonempty, cd_all[eff_c], 0)

    if index is None:
        countries_col = pa.ListArray.from_arrays(
            np.zeros(nk + 1, np.int32), pa.array([], type=pa.string()))
    else:
        countries_col = countries_column(
            index, geo["kind"], geo["voff"], geo["xs"], geo["ys"],
            np.where(nonempty, eff_req, -1))

    # map/list/string columns: C++ takes from the INPUT arrays; the
    # appended sentinel row supplies the {} fill for null/absent maps
    empty_map = pa.array([[]], type=tags_arr.type)
    ext_tags = pa.concat_arrays([tags_arr, empty_map])
    tagnull = pc.is_null(tags_arr).to_numpy(zero_copy_only=False)
    t_idx = np.where(tagnull[cmaj], n, cmaj)
    tb_idx = np.where(has_before & ~tagnull[bmaj], bmaj, n)
    tags_col = ext_tags.take(pa.array(t_idx)).cast(_MAP)
    tags_before_col = ext_tags.take(pa.array(tb_idx)).cast(_MAP)
    refs_col = refs_arr.take(pa.array(cmaj)).cast(pa.list_(pa.int64()))
    user_col = user_arr.take(pa.array(opnr[K])).cast(pa.string())

    def f64(vals: np.ndarray) -> pa.Array:
        return pa.array(np.where(nonempty, vals, np.nan), mask=~nonempty)

    batch = pa.record_batch(
        [
            _dict_take(["way"], np.zeros(nk, np.int64)),
            pa.array(way_np[cmaj]),
            pa.array(rver[K].astype(np.int32)),
            pa.array(mv_col.astype(np.int32)),
            pa.array(edits.astype(np.int32)),
            pa.array(last_edit // 1000, type=_TS, mask=~has_before),
            pa.array(valid_from // 1000, type=_TS),
            pa.array(valid_to // 1000, type=_TS),
            pa.array(uid_np[opnr[K]].astype(np.int64)),
            user_col,
            pa.array(rcs[K]),
            tags_col,
            tags_before_col,
            status_col,
            contrib_col,
            geometry_type_col,
            geometry_col,
            f64(geo["xmin"][eff_c]),
            f64(geo["ymin"][eff_c]),
            f64(geo["xmax"][eff_c]),
            f64(geo["ymax"][eff_c]),
            f64(geo["cx"][eff_c]),
            f64(geo["cy"][eff_c]),
            pa.array(xz_lvl),
            pa.array(xz_cod),
            countries_col,
            pa.array(area_row),
            pa.array(area_row - area_prev),
            pa.array(length_row),
            pa.array(length_row - length_prev),
            refs_col,
        ],
        schema=OUT_SCHEMA,
    )
    return batch


def way_contributions_arrow(ways, nodes, country_index=None):
    """Distributed temporal merge + conversion — Arrow-native plan.

    Same logical plan as the dict twin (explode refs → member join → union
    → one hash exchange on way_id) but the partition sort happens JVM-side
    (sortWithinPartitions) and the kernel is `way_partition_table`:
    Arrow in, Arrow out, no pandas materialization, no post-pass XZ2
    round trip, and the broadcast country index handed to the kernel.
    """
    spark = ways.sparkSession
    bc = (spark.sparkContext.broadcast(country_index)
          if country_index is not None else None)
    packed = way_packed(ways, nodes)

    def partition_fn(batches):
        batch_list = list(batches)
        if not batch_list:
            return
        out = way_partition_table(
            pa.Table.from_batches(batch_list),
            bc.value if bc is not None else None)
        if out is None:
            return
        # bounded batch sizes for the downstream consumers
        step = 1 << 16
        for off in range(0, out.num_rows, step):
            yield out.slice(off, step)

    return packed.mapInArrow(partition_fn, CONTRIB_SCHEMA)


def way_packed(ways, nodes):
    """The way kernel's input: ways ∪ their member node histories, one
    hash exchange on way_id, each partition sorted for
    `way_partition_table`."""
    from pyspark.sql import functions as F

    spark = ways.sparkSession
    refs_pairs = ways.select(
        F.col("id").alias("way_id"), F.explode("refs").alias("node_id")
    ).distinct()
    member_hist = refs_pairs.join(
        nodes.withColumnRenamed("id", "node_id"), "node_id"
    ).select(
        "way_id", "node_id", "version", "ts", "changeset", "user_id", "user",
        "visible", "lon", "lat",
    )
    ways_packed = ways.select(
        F.col("id").alias("way_id"),
        F.lit("w").alias("kind"),
        "version", "ts", "changeset", "user_id", "user", "visible",
        "tags", "refs",
        F.lit(None).cast("long").alias("node_id"),
        F.lit(None).cast("double").alias("lon"),
        F.lit(None).cast("double").alias("lat"),
    )
    nodes_packed = member_hist.select(
        "way_id",
        F.lit("n").alias("kind"),
        "version", "ts", "changeset", "user_id", "user", "visible",
        F.lit(None).cast("map<string,string>").alias("tags"),
        F.lit(None).cast("array<long>").alias("refs"),
        "node_id", "lon", "lat",
    )
    # explicit partition count ON PURPOSE (same call as the relation op):
    # AQE post-shuffle coalescing targets shuffle BYTES, so a byte-small
    # packed table feeding a compute-bound Python kernel gets coalesced to
    # 1-2 partitions and the kernel serializes — wide elements (48-node
    # ways, boundary relations) are exactly the rows where that hurts.
    # (r4 had chosen bare repartition here because per-partition worker
    # startup looked dominant on small inputs; r5 traced that cost to
    # first-touch page faults in the VM, not to worker startup — with warm
    # workers the explicit count wins on every fixture and is the only
    # choice that survives a skewed 100 TB run. Count rationale:
    # session.kernel_partitions.)
    from ohsome_planet_spark.session import kernel_partitions

    return (
        ways_packed.unionByName(nodes_packed)
        .repartition(kernel_partitions(spark), "way_id")
        .sortWithinPartitions("way_id", "kind", "node_id", "version", "ts")
    )
