"""PolygonIndex: PIP join parity, covered-cell shortcut equivalence."""

import numpy as np
import pytest

from ohsome_planet_spark.functions.pip_index import PolygonIndex
from ohsome_planet_spark.sources.countries import fixture_features, parse_countries_csv
from ohsome_planet_spark.sources.gazetteer import GAZETTEER


@pytest.fixture(scope="module")
def index():
    return PolygonIndex(fixture_features(), grid_zoom=8)


@pytest.fixture(scope="module")
def index_nogrid():
    return PolygonIndex(fixture_features(), grid_zoom=None)


GOLDEN = {
    # entity → expected sorted country set (hand-checked against the fixture)
    "Alpha_City": ["AAA"],  # (12.3, 7.6)
    "Delta_Town": ["DDD"],  # (21.5, 14.2) in DDD only (EEE starts at lon 15? no: lon 14.2 < 15)
    "Epsilon_Village": ["AAA"],  # (3.3, 3.9)
    "Zeta_Port": ["DDD"],  # (28.7, 33.1) in DDD part 2 (30..36 × 25..31)? lon=33.1 lat=28.7 → yes
    "Eta_Springs": ["DDD"],  # (35.5, 5.5) lon=5.5 lat=35.5 → DDD part1 (0..18 × 20..40)
    "Theta_Falls": ["BBB"],  # (8.8, 26.5)
    "Iota_Ridge": ["BBB", "EEE"],  # (17.0, 28.0): BBB (10..30 × 0..20)? lat 17 → yes; EEE (15..30 × 10..32) → yes
    "Kappa_Bay": ["BBB", "EEE"],  # (5.0, 15.0)? lat=5: BBB yes; EEE lat≥10 no → ["BBB"]
    "Pi_Junction": ["AAA", "BBB"],  # on shared border lon=10
    "Rho_Corner": ["BBB", "EEE", "FFF"],  # (lat 20, lon 20): BBB top edge, EEE interior, FFF bottom edge
    "Sigma_Edge": ["BBB"],  # (0.0, 22.5) on lat=0 bottom edge of BBB
    "Tau_Meridian": ["AAA"],  # (15.0, 0.0) on lon=0 west edge of AAA
    "Upsilon_Isle": [],
    "Phi_Outpost": [],
    "Omega_Anchor": ["AAA"],  # inside CCC's hole → AAA only
}


def test_golden_assignments(index):
    gaz = {name: (lat, lon) for name, lat, lon in GAZETTEER}
    # fix the two golden entries computed inline above
    golden = dict(GOLDEN)
    golden["Kappa_Bay"] = ["BBB"]
    for entity, expected in golden.items():
        lat, lon = gaz[entity]
        got = index.join_points(np.array([lon]), np.array([lat]))[0]
        assert got == expected, (entity, got, expected)


def test_grid_equals_exact(index, index_nogrid):
    rng = np.random.default_rng(42)
    lon = rng.uniform(-5, 45, 3000)
    lat = rng.uniform(-5, 45, 3000)
    exact = index_nogrid.join_points(lon, lat)
    grid = index.join_points_grid(lon, lat)
    assert exact == grid


def test_grid_has_covered_cells(index):
    covered = [c for c, (cov, cand) in index.grid.items() if cov]
    assert len(covered) > 0, "fixture polygons should fully cover interior cells"


def test_overlap_emits_set(index):
    # EEE overlaps BBB in (15..30 × 10..20)
    got = index.join_points(np.array([20.0]), np.array([15.0]))[0]
    assert got == ["BBB", "EEE"]


def test_hole_boundary_is_inside_inner_country(index):
    # point on CCC's hole edge: boundary of hole belongs to CCC (JTS intersects)
    got = index.join_points(np.array([6.0]), np.array([6.5]))[0]
    assert "CCC" in got and "AAA" in got


def test_multipolygon_exploded():
    feats = parse_countries_csv("id;wkt\nMM;MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))\n")
    assert len(feats) == 2
    assert all(fid == "MM" for fid, _ in feats)


def test_csv_header_sniffing():
    feats = parse_countries_csv("ISO_A3;Geometry\nXYZ;POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))\n")
    assert feats[0][0] == "XYZ"
    with pytest.raises(ValueError):
        parse_countries_csv("foo;bar\nX;POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))\n")


def test_empty_index():
    idx = PolygonIndex([], grid_zoom=8)
    assert idx.join_points(np.array([1.0]), np.array([1.0])) == [[]]


def _code_lists(idx, lon, lat):
    offsets, codes, ids = idx.join_points_codes(lon, lat)
    return [[ids[c] for c in codes[offsets[i]:offsets[i + 1]]]
            for i in range(len(offsets) - 1)]


@pytest.mark.parametrize("grid_zoom", [None, 4, 8, 10])
def test_join_points_codes_equals_exact(index_nogrid, grid_zoom):
    """CSR codes → lists equal the exact path: random points, gazetteer
    points (shared borders, corners, edges) and the hole boundary."""
    idx = PolygonIndex(fixture_features(), grid_zoom=grid_zoom)
    rng = np.random.default_rng(7)
    lon = rng.uniform(-5, 45, 4000)
    lat = rng.uniform(-5, 45, 4000)
    lon[:400] = np.round(lon[:400] * 2) / 2  # on cell and polygon edges
    lat[:400] = np.round(lat[:400] * 2) / 2
    lon = np.concatenate([lon, [g[2] for g in GAZETTEER], [6.0, 20.0]])
    lat = np.concatenate([lat, [g[1] for g in GAZETTEER], [6.5, 15.0]])
    got = _code_lists(idx, lon, lat)
    assert got == index_nogrid.join_points(lon, lat)
    assert got[-2] == ["AAA", "CCC"]  # hole boundary belongs to CCC
    assert got[-1] == ["BBB", "EEE"]  # overlap: both ids
    assert idx.join_points_grid(lon, lat) == got


def test_join_points_codes_exploded_multipolygon():
    """Two parts of one id: one code, hits from either part, no repeats."""
    feats = parse_countries_csv(
        "id;wkt\n"
        "MM;MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((1 1, 3 1, 3 3, 1 3, 1 1)))\n"
        "ZZ;POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))\n")
    lon = np.array([0.5, 1.5, 2.5, 5.0, 1.0])
    lat = np.array([0.5, 1.5, 2.5, 5.0, 1.0])
    exact = PolygonIndex(feats, grid_zoom=None).join_points(lon, lat)
    assert exact == [["MM", "ZZ"], ["MM"], ["MM"], [], ["MM", "ZZ"]]
    for zoom in (None, 8):
        assert _code_lists(PolygonIndex(feats, grid_zoom=zoom), lon, lat) == exact


def test_join_points_codes_empty():
    offsets, codes, ids = PolygonIndex([], grid_zoom=8).join_points_codes(
        np.array([1.0]), np.array([1.0]))
    assert offsets.tolist() == [0, 0] and codes.size == 0 and ids == []
    idx = PolygonIndex(fixture_features(), grid_zoom=8)
    assert idx.join_points_codes(np.array([]), np.array([]))[0].tolist() == [0]


def _ring(pts):
    return np.asarray(list(pts) + [pts[0]], np.float64)


def _batch_geoms():
    """(kind code, coords) cases for join_geoms_codes vs join_geom."""
    rng = np.random.default_rng(11)
    geoms = [
        (2, np.array([[-2.0, 10.0], [12.0, 10.0]])),  # crosses AAA, no vertex in it
        (2, np.array([[4.5, 6.5], [8.5, 6.5]])),  # crosses CCC and its hole
        (3, _ring([(4.0, 4.0), (9.0, 4.0), (9.0, 9.0), (4.0, 9.0)])),  # encloses CCC
        (3, _ring([(29.0, 24.0), (37.0, 24.0), (37.0, 32.0), (29.0, 32.0)])),  # encloses DDD part 2
        (3, _ring([(-5.0, -5.0), (50.0, -5.0), (50.0, 50.0), (-5.0, 50.0)])),  # encloses all
        (2, np.array([[-1.0, 1.0], [1.0, -1.0]])),  # touches AAA's corner only
        (2, np.array([[-2.0, 20.0], [12.0, 20.0]])),  # runs along AAA's top edge
        (2, np.array([[-3.0, 0.0], [0.0, 0.0]])),  # ends on AAA's corner
        (3, _ring([(-1.0, -1.0), (0.0, -1.0), (0.0, 0.0), (-1.0, 0.0)])),  # corner-touching square
        (2, np.array([[6.2, 6.2], [6.8, 6.8]])),  # vertices in CCC's hole
        (3, _ring([(6.2, 6.2), (6.8, 6.2), (6.8, 6.8), (6.2, 6.8)])),  # inside the hole
        (3, _ring([(5.5, 5.5), (7.5, 5.5), (7.5, 7.5), (5.5, 7.5)])),  # around the hole
        (1, np.array([[6.5, 6.5]])),  # point in the hole
        (1, np.array([[20.0, 15.0]])),  # point in an overlap
        (1, np.zeros((0, 2))),  # empty geometries
        (2, np.zeros((0, 2))),
        (3, np.zeros((0, 2))),
        (2, np.array([[100.0, 80.0], [101.0, 81.0]])),  # far from every part
    ]
    for _ in range(60):  # 48-80 vertex lines and rings around the fixture
        n = int(rng.integers(48, 81))
        cx, cy = rng.uniform(-5.0, 40.0, 2)
        r = rng.uniform(0.5, 15.0)
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
        pts = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
        if rng.random() < 0.5:
            pts = np.round(pts)  # vertices on part edges and corners
        geoms.append((3, _ring([tuple(p) for p in pts])) if rng.random() < 0.5
                     else (2, pts))
    return geoms


@pytest.mark.parametrize("grid_zoom", [None, 8])
def test_join_geoms_codes_equals_join_geom(grid_zoom):
    """The batched country join returns, per geometry, exactly join_geom's
    sorted id set: edge crossings without a vertex inside, a part enclosed
    by a polygon (shell-vertex test), exact edge touches, CCC's hole, empty
    and Point geometries, long lines and rings."""
    idx = PolygonIndex(fixture_features(), grid_zoom=grid_zoom)
    geoms = _batch_geoms()
    names = {1: "Point", 2: "LineString", 3: "Polygon"}
    expect = []
    for kind, c in geoms:
        if not len(c):
            expect.append(idx.join_geom(names[kind], None))
        elif kind == 1:
            expect.append(idx.join_geom("Point", (c[0, 0], c[0, 1])))
        elif kind == 2:
            expect.append(idx.join_geom("LineString", c))
        else:
            expect.append(idx.join_geom("Polygon", [c]))
    offsets, codes, ids = idx.join_geoms_codes(
        np.array([k for k, _ in geoms]),
        np.concatenate([[0], np.cumsum([len(c) for _, c in geoms])]),
        np.concatenate([c[:, 0] for _, c in geoms]),
        np.concatenate([c[:, 1] for _, c in geoms]))
    got = [[ids[c] for c in codes[offsets[i]:offsets[i + 1]]]
           for i in range(len(geoms))]
    assert got == expect
    assert got[0] == ["AAA", "BBB"] and got[1] == ["AAA", "CCC"]
    assert got[2] == ["AAA", "CCC"]  # CCC only through its shell vertices
    assert got[5] == ["AAA"] and got[8] == ["AAA"]
    assert got[6] == ["AAA", "BBB", "DDD"]  # AAA only through the exact touch
    assert got[9] == ["AAA"] and got[10] == ["AAA"] and got[12] == ["AAA"]
    assert got[14:17] == [[], [], []]


def test_join_geoms_codes_point_set_is_union():
    """A Point with several vertices (a GeometryCollection's vertex set)
    gets the union of its vertices' ids."""
    idx = PolygonIndex(fixture_features(), grid_zoom=8)
    offsets, codes, ids = idx.join_geoms_codes(
        np.array([1, 1]), np.array([0, 3, 3]),
        np.array([1.0, 20.0, 6.5]), np.array([1.0, 15.0, 6.5]))
    assert [ids[c] for c in codes[offsets[0]:offsets[1]]] == ["AAA", "BBB", "EEE"]
    assert offsets[2] == offsets[1]
