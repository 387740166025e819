"""Relation array-kernel parity: the encoded-cursor path must equal the
dict twin row for row (the dict kernel carries the ported reference
scenarios + oracles; these tests pin the rewrite against it)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ohsome_planet_spark.operators.history import _relation_partition_kernel
from ohsome_planet_spark.operators.relation_arrow import relation_partition_kernel


def _compare(pdf):
    old = _relation_partition_kernel(pdf.copy(), None)
    new = relation_partition_kernel(pdf.copy(), None)
    assert (old is None) == (new is None)
    if old is None:
        return 0
    key = ["osm_id", "osm_version", "valid_from", "changeset"]
    old = old.sort_values(key).reset_index(drop=True)
    new = new.sort_values(key).reset_index(drop=True)
    assert list(old.columns) == list(new.columns)
    assert len(old) == len(new)

    def eq(x, y):
        if isinstance(x, (list, tuple, np.ndarray)) or isinstance(
                y, (list, tuple, np.ndarray)):
            if x is None or y is None:
                return x is None and y is None
            return list(x) == list(y)
        if x is None or y is None:
            return x is None and y is None
        try:
            if pd.isna(x) and pd.isna(y):
                return True
        except (TypeError, ValueError):
            pass
        return x == y

    for col in old.columns:
        a, b = old[col], new[col]
        if str(a.dtype).startswith("float"):
            aa, bb = a.to_numpy(float), b.to_numpy(float)
            assert ((np.isnan(aa) & np.isnan(bb)) | (aa == bb)).all(), col
        else:
            neq = [i for i in range(len(a)) if not eq(a.iloc[i], b.iloc[i])]
            assert not neq, (col, neq[:3], a.iloc[neq[0]] if neq else None,
                             b.iloc[neq[0]] if neq else None)
    return len(old)


def _ts(day: int) -> pd.Timestamp:
    return pd.Timestamp("2020-01-01") + pd.Timedelta(days=day)


def _node(rel, nid, ver, day, cs, vis=True, lon=0.0, lat=0.0):
    return dict(rel_id=rel, kind="node", member_id=nid, version=ver,
                ts=_ts(day), changeset=cs, user_id=9, user="n", visible=vis,
                tags=None, refs=None, lon=lon, lat=lat, rel_member_list=None)


def _way(rel, wid, ver, day, cs, refs, vis=True, tags=None):
    return dict(rel_id=rel, kind="way", member_id=wid, version=ver,
                ts=_ts(day), changeset=cs, user_id=8, user="w", visible=vis,
                tags=tags or {}, refs=refs, lon=np.nan, lat=np.nan,
                rel_member_list=None)


def _rel(rel, ver, day, cs, members, vis=True, tags=None):
    return dict(rel_id=rel, kind="rel", member_id=rel, version=ver,
                ts=_ts(day), changeset=cs, user_id=7, user="r", visible=vis,
                tags=tags or {"type": "multipolygon"}, refs=None,
                lon=np.nan, lat=np.nan, rel_member_list=members)


def m(t, i, role=""):
    return {"type": t, "id": i, "role": role}


def _adversarial_pdf():
    rows = []
    # relation 1: multipolygon, outer square + inner triangle, node edits
    # between rel versions, a tag-only way edit (minor-way filtered), a
    # deleted+revived way version, a lone-axis node move (minor-node
    # filtered), missing member way 99 and a nested relation member
    for nid, (lon, lat) in enumerate(
            [(0, 0), (10, 0), (10, 10), (0, 10)], start=100):
        rows.append(_node(1, nid, 1, 0, 1, lon=float(lon), lat=float(lat)))
    rows.append(_node(1, 100, 2, 40, 60, lon=1.0, lat=0.0))   # lone-axis: filtered
    rows.append(_node(1, 101, 2, 45, 61, lon=11.0, lat=-1.0))  # real move
    for nid, (lon, lat) in enumerate([(2, 2), (5, 2), (3, 5)], start=200):
        rows.append(_node(1, nid, 1, 0, 2, lon=float(lon), lat=float(lat)))
    rows.append(_way(1, 10, 1, 1, 3, [100, 101, 102, 103, 100]))
    rows.append(_way(1, 10, 2, 50, 62, [100, 101, 102, 103, 100],
                     tags={"touched": "yes"}))  # tag-only: refs unchanged -> filtered
    rows.append(_way(1, 11, 1, 1, 4, [200, 201, 202, 200]))
    rows.append(_way(1, 11, 2, 55, 63, [], vis=False))          # deletion
    rows.append(_way(1, 11, 3, 58, 64, [200, 202, 201, 200]))   # revive, reordered
    rows.append(_rel(1, 1, 2, 5, [m("way", 10, "outer"), m("way", 11, "inner"),
                                  m("way", 99), m("relation", 5, "sub"),
                                  m("node", 100, "admin_centre")]))
    rows.append(_rel(1, 2, 60, 65, [m("way", 10, "outer"),
                                    m("way", 11, "inner")]))

    # relation 2: route (non-MP), direct node members only, deleted rel
    # version carrying geometry forward, duplicate member entries
    rows.append(_node(2, 300, 1, 0, 11, lon=1.5, lat=2.5))
    rows.append(_node(2, 300, 2, 20, 12, lon=2.5, lat=3.5))
    rows.append(_node(2, 301, 1, 0, 11, lon=-4.0, lat=0.5, vis=False))
    rows.append(_node(2, 301, 2, 25, 13, lon=-4.5, lat=1.0))
    rows.append(_rel(2, 1, 1, 14, [m("node", 300), m("node", 301),
                                   m("node", 300)], tags={"type": "route"}))
    rows.append(_rel(2, 2, 30, 15, [], vis=False, tags={}))
    rows.append(_rel(2, 3, 40, 16, [m("node", 300)], tags={"type": "route"}))

    # relation 3: same-changeset rel+member edits (run collapse)
    rows.append(_node(3, 400, 1, 0, 21, lon=0.0, lat=0.0))
    rows.append(_node(3, 400, 2, 10, 22, lon=1.0, lat=1.0))
    rows.append(_way(3, 30, 1, 0, 21, [400]))
    rows.append(_rel(3, 1, 10, 22, [m("way", 30)], tags={"type": "x"}))

    return pd.DataFrame(rows)


def test_relation_arrow_parity_adversarial():
    assert _compare(_adversarial_pdf()) > 10


def test_relation_arrow_parity_giant_gc():
    """r6 (r5-advice item 3): GeometryCollection rows above the bounded
    centroid-ladder threshold (_LADDER_MAX=64 members) take the per-group
    sequential fold — values must stay bit-identical to the dict twin,
    alongside small GC rows folded by the ladder in the same batch."""
    rows = []
    big, small = 80, 5
    for i in range(big):
        rows.append(_node(9, 1000 + i, 1, 0, 1,
                          lon=(i % 13) * 1.7, lat=float(i % 7) - 3.0))
    rows.append(_rel(9, 1, 2, 5, [m("node", 1000 + i) for i in range(big)],
                     tags={"type": "site"}))
    for i in range(small):
        rows.append(_node(10, 2000 + i, 1, 0, 1,
                          lon=float(i) * 0.3, lat=1.0 - i * 0.1))
    rows.append(_rel(10, 1, 2, 6, [m("node", 2000 + i) for i in range(small)],
                     tags={"type": "site"}))
    assert _compare(pd.DataFrame(rows)) >= 2


def test_relation_arrow_parity_bench_shape(sf_dir):
    from tools.profile_rel_kernel import build_rel_packed

    pdf = build_rel_packed(sf_dir, 40)
    assert _compare(pdf) > 100


def _randomized_pdf():
    import random

    rng = random.Random(7)
    rows = []
    nid = 1000
    for rel in range(1, 25):
        n_nodes = rng.randint(0, 6)
        node_ids = list(range(nid, nid + n_nodes))
        nid += n_nodes
        for node in node_ids:
            lon, lat = rng.uniform(-5, 5), rng.uniform(-5, 5)
            for v in range(1, rng.randint(1, 5)):
                kind = rng.random()
                vis = kind > 0.15
                if kind > 0.7:
                    lon += rng.uniform(0.1, 1)
                    lat += rng.uniform(0.1, 1)
                elif kind > 0.5:
                    lon += rng.uniform(0.1, 1)  # lone axis
                rows.append(_node(rel, node, v, v * 7 + rng.randint(0, 30),
                                  rng.choice([3, 4, rel * 10]), vis=vis,
                                  lon=lon, lat=lat))
        wids = list(range(rel * 100, rel * 100 + rng.randint(0, 3)))
        for wid in wids:
            for v in range(1, rng.randint(1, 4)):
                vis = rng.random() > 0.2
                refs = (rng.sample(node_ids, min(len(node_ids),
                                                 rng.randint(1, 4)))
                        if node_ids and vis else [])
                rows.append(_way(rel, wid, v, v * 11 + rng.randint(0, 20),
                                 rng.choice([5, 6, rel * 10]), refs, vis=vis,
                                 tags={"t": str(v)} if rng.random() > 0.5 else {}))
        for v in range(1, rng.randint(2, 4)):
            members = []
            for wid in wids:
                if rng.random() > 0.3:
                    members.append(m("way", wid,
                                     rng.choice(["outer", "inner", ""])))
            for node in node_ids[:2]:
                if rng.random() > 0.5:
                    members.append(m("node", node))
            if rng.random() > 0.8:
                members.append(m("way", 99999))  # missing
            rows.append(_rel(rel, v, v * 13 + rng.randint(0, 10),
                             rng.choice([8, rel * 10]), members,
                             vis=rng.random() > 0.15,
                             tags=rng.choice([{"type": "multipolygon"},
                                              {"type": "route"}, {}])))
    return pd.DataFrame(rows)


def test_relation_arrow_parity_randomized():
    assert _compare(_randomized_pdf()) > 40


# ---------------------------------------------------------------------------
# round 5: the Arrow-table kernel (production path) vs the dict twin

_PACKED_PA_SCHEMA = None


def _packed_schema():
    import pyarrow as pa

    global _PACKED_PA_SCHEMA
    if _PACKED_PA_SCHEMA is None:
        _PACKED_PA_SCHEMA = pa.schema([
            ("rel_id", pa.int64()),
            ("kind", pa.string()),
            ("member_id", pa.int64()),
            ("version", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("changeset", pa.int64()),
            ("user_id", pa.int64()),
            ("user", pa.string()),
            ("visible", pa.bool_()),
            ("tags", pa.map_(pa.string(), pa.string())),
            ("refs", pa.list_(pa.int64())),
            ("lon", pa.float64()),
            ("lat", pa.float64()),
            ("rel_member_list", pa.list_(pa.struct([
                ("type", pa.string()), ("id", pa.int64()),
                ("role", pa.string())]))),
        ])
    return _PACKED_PA_SCHEMA


def _norm_cell(x):
    if isinstance(x, dict):
        return sorted([list(kv) for kv in x.items()])
    if isinstance(x, (list, tuple, np.ndarray)):
        return [_norm_cell(v) for v in list(x)]
    return x


def _compare_table(pdf):
    """relation_partition_table (arrow) vs the dict twin, all columns."""
    import pyarrow as pa

    from ohsome_planet_spark.functions.cells import xz2_code
    from ohsome_planet_spark.operators.relation_arrow import (
        relation_partition_table,
    )

    old = _relation_partition_kernel(pdf.copy(), None)
    spdf = pdf.sort_values(
        ["rel_id", "kind", "member_id", "version", "ts"], kind="stable"
    ).reset_index(drop=True)
    spdf["tags"] = spdf["tags"].map(
        lambda d: None if d is None else list(d.items()))
    tbl = pa.Table.from_pandas(spdf, schema=_packed_schema(),
                               preserve_index=False)
    batch = relation_partition_table(tbl, None)
    assert (old is None) == (batch is None)
    if old is None:
        return 0
    new = batch.to_pandas()

    # the dict kernel leaves xz placeholders for the post-pass; replay it
    bx = old[["xmin", "ymin", "xmax", "ymax"]].to_numpy(float)
    ok = ~np.isnan(bx[:, 0])
    lvl = np.full(len(old), -1, np.int64)
    cod = np.zeros(len(old), np.int64)
    if ok.any():
        l, c = xz2_code(bx[ok, 0], bx[ok, 1], bx[ok, 2], bx[ok, 3])
        lvl[ok] = l
        cod[ok] = c
    old = old.assign(xz_level=lvl, xz_code=cod)

    key = ["osm_id", "osm_version", "valid_from", "changeset"]
    for f in ("valid_from", "valid_to", "osm_last_edit"):
        new[f] = pd.to_datetime(new[f]).astype("datetime64[ns]")
    old = old.sort_values(key).reset_index(drop=True)
    new = new.sort_values(key).reset_index(drop=True)
    assert sorted(old.columns) == sorted(new.columns)
    assert len(old) == len(new)

    for col in old.columns:
        a, b = old[col], new[col]
        if str(a.dtype).startswith("float") and str(b.dtype).startswith("float"):
            aa, bb = a.to_numpy(float), b.to_numpy(float)
            assert ((np.isnan(aa) & np.isnan(bb)) | (aa == bb)).all(), col
            continue
        for i in range(len(a)):
            x, y = _norm_cell(a.iloc[i]), _norm_cell(b.iloc[i])
            if x is None or y is None or (
                    not isinstance(x, list) and not isinstance(y, list)
                    and pd.isna(x) is True and pd.isna(y) is True):
                xna = x is None or (not isinstance(x, list) and pd.isna(x))
                yna = y is None or (not isinstance(y, list) and pd.isna(y))
                assert xna == yna, (col, i, x, y)
                if xna:
                    continue
            assert x == y, (col, i, x, y)
    return len(old)




# ---------------------------------------------------------------------------
# round 5: the Arrow-table kernel (production path) vs the dict twin

import pyarrow as pa

_PACKED_PA_SCHEMA = pa.schema([
    ("rel_id", pa.int64()),
    ("kind", pa.string()),
    ("member_id", pa.int64()),
    ("version", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("changeset", pa.int64()),
    ("user_id", pa.int64()),
    ("user", pa.string()),
    ("visible", pa.bool_()),
    ("tags", pa.map_(pa.string(), pa.string())),
    ("refs", pa.list_(pa.int64())),
    ("lon", pa.float64()),
    ("lat", pa.float64()),
    ("rel_member_list", pa.list_(pa.struct([
        ("type", pa.string()), ("id", pa.int64()), ("role", pa.string())]))),
])


def _packed_table(pdf):
    spdf = pdf.sort_values(
        ["rel_id", "kind", "member_id", "version", "ts"], kind="stable"
    ).reset_index(drop=True)
    spdf = spdf.assign(tags=spdf["tags"].map(
        lambda d: None if d is None else list(d.items())))
    return pa.Table.from_pandas(spdf, schema=_PACKED_PA_SCHEMA,
                                preserve_index=False)


def _norm_cell(x):
    if isinstance(x, dict):
        return sorted([list(kv) for kv in x.items()])
    if isinstance(x, (list, tuple, np.ndarray)):
        return [_norm_cell(v) for v in list(x)]
    return x


def _compare_table(pdf, index=None):
    """relation_partition_table (arrow production path) vs the dict twin,
    every output column (the dict kernel's xz post-pass is replayed). With
    an index, the twin joins countries per geometry through `join_geom`
    while the production kernel batches them."""
    from ohsome_planet_spark.functions.cells import xz2_code
    from ohsome_planet_spark.operators.relation_arrow import (
        relation_partition_table,
    )

    joiner = (lambda g: index.join_geom(g[0], g[1])) if index else None
    old = _relation_partition_kernel(pdf.copy(), joiner)
    batch = relation_partition_table(_packed_table(pdf), index)
    assert (old is None) == (batch is None)
    if old is None:
        return 0
    new = batch.to_pandas()

    bx = old[["xmin", "ymin", "xmax", "ymax"]].to_numpy(float)
    ok = ~np.isnan(bx[:, 0])
    lvl = np.full(len(old), -1, np.int64)
    cod = np.zeros(len(old), np.int64)
    if ok.any():
        lv, cd = xz2_code(bx[ok, 0], bx[ok, 1], bx[ok, 2], bx[ok, 3])
        lvl[ok] = lv
        cod[ok] = cd
    old = old.assign(xz_level=lvl, xz_code=cod)

    key = ["osm_id", "osm_version", "valid_from", "changeset"]
    for f in ("valid_from", "valid_to", "osm_last_edit"):
        new[f] = pd.to_datetime(new[f]).astype("datetime64[ns]")
    old = old.sort_values(key).reset_index(drop=True)
    new = new.sort_values(key).reset_index(drop=True)
    assert sorted(old.columns) == sorted(new.columns)
    assert len(old) == len(new)

    def isna(v):
        if v is None:
            return True
        if isinstance(v, (list, tuple, np.ndarray, dict, bytes, str)):
            return False
        try:
            return bool(pd.isna(v))
        except (TypeError, ValueError):
            return False

    for col in old.columns:
        a, b = old[col], new[col]
        if str(a.dtype).startswith("float") and str(b.dtype).startswith("float"):
            aa, bb = a.to_numpy(float), b.to_numpy(float)
            assert ((np.isnan(aa) & np.isnan(bb)) | (aa == bb)).all(), col
            continue
        for i in range(len(a)):
            x, y = a.iloc[i], b.iloc[i]
            if isna(x) or isna(y):
                assert isna(x) and isna(y), (col, i, x, y)
                continue
            assert _norm_cell(x) == _norm_cell(y), (col, i, x, y)
    return len(old)


def test_relation_table_parity_adversarial():
    assert _compare_table(_adversarial_pdf()) > 10


def test_relation_table_parity_randomized():
    assert _compare_table(_randomized_pdf()) > 40


def test_relation_table_parity_bench_shape(sf_dir):
    from tools.profile_rel_kernel import build_rel_packed

    pdf = build_rel_packed(sf_dir, 40)
    assert _compare_table(pdf) > 100


def test_node_dup_rows_collapse():
    """The plan may ship a (rel_id, node_id) feed with duplicate node rows
    (shared members across ways; see relation_contributions' dedup note) —
    both array kernels must produce output identical to the clean feed."""
    base = _adversarial_pdf()
    dups = base[base["kind"] == "node"].iloc[::2]
    doubled = pd.concat([base, dups, dups.iloc[::3]], ignore_index=True)

    clean_pd = relation_partition_kernel(base.copy(), None)
    dup_pd = relation_partition_kernel(doubled.copy(), None)
    key = ["osm_id", "osm_version", "valid_from", "changeset"]
    a = clean_pd.sort_values(key).reset_index(drop=True)
    b = dup_pd.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a["contrib_type"] == b["contrib_type"]).all()
    assert (a["geometry"].isna() == b["geometry"].isna()).all()
    ga, gb = a["geometry"].dropna(), b["geometry"].dropna()
    assert list(ga) == list(gb)

    assert _compare_table(doubled) == len(a)


@pytest.mark.parametrize("grid_zoom", [None, 8])
def test_relation_table_countries_batched_vs_joiner(grid_zoom):
    """The batched country join (one join_geoms_codes call for the
    partition's GeometryCollections) equals the per-geometry joiner of the
    dict twin on every column, countries included."""
    from ohsome_planet_spark.functions.pip_index import PolygonIndex
    from ohsome_planet_spark.sources.countries import fixture_features

    index = PolygonIndex(fixture_features(), grid_zoom=grid_zoom)
    pdf = _adversarial_pdf()
    assert _compare_table(pdf, index) > 10
    assert _compare_table(_randomized_pdf(), index) > 40
    from ohsome_planet_spark.operators.relation_arrow import (
        relation_partition_table,
    )

    countries = relation_partition_table(_packed_table(pdf), index).column(
        "countries").to_pylist()
    assert any(c for c in countries)
