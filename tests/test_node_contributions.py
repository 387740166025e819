"""Node contribution view + changeset metadata enrichment (J3)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.functions.pip_index import PolygonIndex
from ohsome_planet_spark.functions.wkb import wkb_loads
from ohsome_planet_spark.operators.history import (
    node_contributions,
    with_changeset_metadata,
)
from ohsome_planet_spark.sources.countries import fixture_features

NODE_SCHEMA = (
    "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
    "user string, visible boolean, tags map<string,string>, lon double, lat double"
)


def ts(s):
    return pd.Timestamp(s, unit="s").to_pydatetime()


@pytest.fixture(scope="module")
def nodes(spark):
    return spark.createDataFrame(
        [
            # node 1: created, moved, deleted
            (1, 1, ts(10), 1, 1, "a", True, {"amenity": "cafe"}, 7.0, 12.0),
            (1, 2, ts(20), 5, 2, "b", True, {"amenity": "cafe"}, 7.1, 12.1),
            (1, 3, ts(30), 9, 3, "c", False, {}, 7.1, 12.1),
            # node 2: out-of-range coords → invalid
            (2, 1, ts(10), 1, 1, "a", True, {}, 999.0, 12.0),
            # node 3: same version edited twice in one changeset → collapse
            (3, 1, ts(10), 2, 1, "a", True, {}, 20.0, 15.0),
            (3, 2, ts(11), 2, 1, "a", True, {}, 20.5, 15.5),
        ],
        NODE_SCHEMA,
    )


def test_node_contribution_semantics(spark, nodes):
    idx = PolygonIndex(fixture_features(), grid_zoom=None)
    got = {
        (r["osm_id"], r["osm_edits"]): r
        for r in node_contributions(nodes, country_index=idx).collect()
    }
    n1v1 = got[(1, 1)]
    assert n1v1["geometry_type"] == "Point"
    assert n1v1["contrib_type"] == "CREATION"
    assert n1v1["status"] == "history"
    assert wkb_loads(bytes(n1v1["geometry"]))[1] == (7.0, 12.0)
    assert n1v1["countries"] == ["AAA"]
    n1v2 = got[(1, 2)]
    assert n1v2["contrib_type"] == "TAG_GEOMETRY"  # tags unchanged quirk + move
    n1v3 = got[(1, 3)]
    assert n1v3["status"] == "deleted"
    assert n1v3["contrib_type"] == "DELETION"
    assert bytes(n1v3["geometry"]) == bytes(n1v2["geometry"])  # carried

    n2 = got[(2, 1)]
    assert n2["status"] == "invalid"
    assert n2["geometry_type"] == "Point" and n2["geometry"] is None
    assert n2["xz_level"] == -1

    # F6 collapses only same-(version, changeset) runs — node edits bump the
    # version, so both rows emit even within one changeset
    # (`ContributionsAvroConverter.java:67-74`)
    n3a, n3b = got[(3, 1)], got[(3, 2)]
    assert (n3a["osm_version"], n3b["osm_version"]) == (1, 2)
    assert n3a["osm_minor_version"] == 0 and n3b["osm_minor_version"] == 0
    assert pd.Timestamp(n3a["valid_to"]) == pd.Timestamp(n3b["valid_from"])
    assert wkb_loads(bytes(n3b["geometry"]))[1] == (20.5, 15.5)


def test_changeset_metadata_join_defaults(spark, nodes):
    contribs = node_contributions(nodes)
    changesets = spark.createDataFrame(
        [
            (1, ts(9), ts(12), 4, {"created_by": "EditorX 2.0", "comment": "fix #roads near http://x/#y"}),
            (5, ts(19), None, 1, {"comment": "#Adding_Buildings"}),
        ],
        "id long, created_at timestamp_ntz, closed_at timestamp_ntz, "
        "num_changes int, tags map<string,string>",
    )
    out = {
        (r["osm_id"], r["changeset"]): r
        for r in with_changeset_metadata(contribs, changesets).collect()
    }
    hit = out[(1, 1)]
    assert hit["changeset_editor"] == "EditorX 2.0"
    assert hit["changeset_hashtags"] == ["roads"]
    assert hit["changeset_num_changes"] == 4
    hit5 = out[(1, 5)]
    assert hit5["changeset_hashtags"] == ["Adding_Buildings"]
    # miss → default record (epoch 0, -1)
    miss = out[(1, 9)]
    assert miss["changeset_num_changes"] == -1
    assert pd.Timestamp(miss["changeset_created_at"]) == pd.Timestamp(0, unit="s")
    assert miss["changeset_editor"] is None
    assert miss["changeset_hashtags"] == []


def test_declarative_matches_kernel_adversarial(spark):
    """node_contributions (window ops) must be row-identical to the original
    imperative kernel on adversarial histories: collapsed runs, deleted-first
    versions, invalid coords, carries across multiple deletions."""
    import pandas as pd

    from ohsome_planet_spark.operators.history import (
        node_contributions,
        node_contributions_kernel,
    )

    def t(s):
        return pd.Timestamp(s, unit="s").to_pydatetime()

    rows = []
    # node 1: plain 3-version history with a move and a tag change
    rows += [
        (1, 1, t(10), 5, 1, "a", True, {"k": "v"}, 1.0, 1.0),
        (1, 2, t(20), 6, 2, "b", True, {"k": "v"}, 2.0, 1.0),   # GEOMETRY+TAG
        (1, 3, t(30), 7, 2, "b", True, {"k": "w"}, 2.0, 1.0),   # tag change only
    ]
    # node 2: run collapse — two rows same (version, changeset)
    rows += [
        (2, 1, t(10), 5, 1, "a", True, {}, 0.0, 0.0),
        (2, 1, t(15), 5, 1, "a", True, {}, 0.5, 0.0),  # collapses into this
        (2, 2, t(25), 9, 1, "a", True, {}, 1.0, 0.0),
    ]
    # node 3: deleted-first (no geometry to carry → invalid), then recreated
    rows += [
        (3, 1, t(10), 5, 1, "a", False, {}, None, None),
        (3, 2, t(20), 6, 1, "a", True, {}, 3.0, 3.0),
        (3, 3, t(30), 7, 1, "a", False, {}, None, None),  # deleted w/ carry
        (3, 4, t(40), 8, 1, "a", False, {}, None, None),  # still carrying
    ]
    # node 4: visible with INVALID coords (empty geometry → invalid), then
    # a deleted row carrying the invalid state
    rows += [
        (4, 1, t(10), 5, 1, "a", True, {}, 999.0, 0.0),
        (4, 2, t(20), 6, 1, "a", False, {}, None, None),
        (4, 3, t(30), 7, 1, "a", True, {}, 4.0, 4.0),  # valid again
    ]
    # node 5: single deleted version only
    rows += [(5, 1, t(10), 5, 1, "a", False, {}, None, None)]
    nodes = spark.createDataFrame(
        rows,
        "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
        "user string, visible boolean, tags map<string,string>, lon double, lat double",
    )
    cols = None
    a = node_contributions(nodes)
    b = node_contributions_kernel(nodes)
    assert a.columns == b.columns
    key = ["osm_id", "osm_edits"]
    pa = a.orderBy(*key).toPandas()
    pb = b.orderBy(*key).toPandas()
    assert len(pa) == len(pb)
    for col in a.columns:
        va, vb = pa[col].tolist(), pb[col].tolist()
        for i, (x, y) in enumerate(zip(va, vb)):
            if isinstance(x, bytes) or isinstance(y, bytes):
                assert (bytes(x) if x is not None else None) == (
                    bytes(y) if y is not None else None
                ), (col, i)
            elif x is pd.NaT or (isinstance(x, float) and x != x):  # NaT/NaN
                assert y is pd.NaT or (isinstance(y, float) and y != y), (col, i)
            elif hasattr(x, "__len__") and not isinstance(x, (str, bytes, dict)):
                assert list(x) == list(y), (col, i, x, y)
            else:
                assert x == y, (col, i, x, y)


def test_declarative_matches_kernel_with_countries(spark):
    from ohsome_planet_spark.operators.history import (
        node_contributions,
        node_contributions_kernel,
    )
    from ohsome_planet_spark.operators.spatial_join import build_index
    from ohsome_planet_spark.sources.countries import fixture_features

    import pandas as pd

    idx = build_index(fixture_features())
    rows = [
        (i, v, pd.Timestamp(10 * i + v, unit="s").to_pydatetime(), v, 1, "a",
         True, {}, float((i * 13) % 50 - 10), float((i * 7) % 30 - 5))
        for i in range(40) for v in (1, 2)
    ]
    nodes = spark.createDataFrame(
        rows,
        "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
        "user string, visible boolean, tags map<string,string>, lon double, lat double",
    )
    a = node_contributions(nodes, idx).select("osm_id", "osm_edits", "countries")
    b = node_contributions_kernel(nodes, idx).select("osm_id", "osm_edits", "countries")
    pa = {(r["osm_id"], r["osm_edits"]): list(r["countries"]) for r in a.collect()}
    pb = {(r["osm_id"], r["osm_edits"]): list(r["countries"]) for r in b.collect()}
    assert pa == pb


def test_declarative_matches_kernel_randomized(spark):
    """Bulk randomized parity: 200 nodes with random version repeats,
    changeset runs, deletions and invalid coords — declarative == kernel
    on every column of every row."""
    import numpy as np
    import pandas as pd

    from ohsome_planet_spark.operators.history import (
        node_contributions,
        node_contributions_kernel,
    )

    rng = np.random.default_rng(42)
    rows = []
    t = 0
    for nid in range(200):
        n_rows = int(rng.integers(1, 9))
        version = 0
        for k in range(n_rows):
            t += 1
            if k == 0 or rng.random() < 0.6:
                version += 1  # 40% chance of same-version repeat rows
            visible = rng.random() > 0.25
            invalid = rng.random() < 0.2
            lon = float(rng.uniform(-179, 179)) if not invalid else 250.0
            lat = float(rng.uniform(-89, 89))
            rows.append(
                (nid, version, pd.Timestamp(t, unit="s").to_pydatetime(),
                 int(rng.integers(0, 4)), 1, "u", bool(visible),
                 {"k": str(int(rng.integers(0, 3)))},
                 lon if visible else None, lat if visible else None)
            )
    nodes = spark.createDataFrame(
        rows,
        "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
        "user string, visible boolean, tags map<string,string>, lon double, lat double",
    )
    key = ["osm_id", "osm_edits"]
    pa = node_contributions(nodes).orderBy(*key).toPandas()
    pb = node_contributions_kernel(nodes).orderBy(*key).toPandas()
    assert len(pa) == len(pb) and len(pa) > 400
    for col in pa.columns:
        for i, (x, y) in enumerate(zip(pa[col].tolist(), pb[col].tolist())):
            if isinstance(x, bytes) or isinstance(y, bytes):
                assert (bytes(x) if x is not None else None) == (
                    bytes(y) if y is not None else None
                ), (col, i)
            elif x is pd.NaT or (isinstance(x, float) and x != x):
                assert y is pd.NaT or (isinstance(y, float) and y != y), (col, i)
            elif hasattr(x, "__len__") and not isinstance(x, (str, bytes, dict)):
                assert list(x) == list(y), (col, i, x, y)
            else:
                assert x == y, (col, i, x, y)


def test_node_declarative_plan_shape(spark):
    """Plan guard: the declarative node path must stay window-ops + Arrow
    kernels — no BatchEvalPython (row-at-a-time Python) anywhere."""
    import pandas as pd

    from ohsome_planet_spark.operators.history import node_contributions

    nodes = spark.createDataFrame(
        [(1, 1, pd.Timestamp(1, unit="s").to_pydatetime(), 1, 1, "u", True, {}, 1.0, 2.0)],
        "id long, version int, ts timestamp_ntz, changeset long, user_id long, "
        "user string, visible boolean, tags map<string,string>, lon double, lat double",
    )
    plan = node_contributions(nodes)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # only ArrowEvalPython kernels
    assert "Window" in plan
    assert "mapInPandas" not in plan and "MapInPandas" not in plan


def test_node_plan_one_python_eval(spark, nodes):
    """The node pipeline evaluates Python once per row: one ArrowEvalPython
    node running the fused point kernel (WKB, countries and XZ2 together),
    after the windows, which all share one exchange on id."""
    import re

    idx = PolygonIndex(fixture_features(), grid_zoom=8)
    plan = node_contributions(nodes, country_index=idx)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("point_kernel(") == 1, plan
    assert "point_wkb_udf" not in plan and "pip_countries" not in plan
    exchanges = re.findall(r"Exchange (\w+)\((\w+)#\d+L?, \d+\), (\w+)", plan)
    assert exchanges == [("hashpartitioning", "id", "ENSURE_REQUIREMENTS")], plan
