"""End-to-end contributions plan: fixture PBF → node/way/relation merge →
changeset join → country join → status-partitioned GeoParquet, one call
(`Contributions2Parquet.call` parity, VERDICT r1 item 8)."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.plans.contributions import (
    contributions,
    contributions_to_parquet,
)
from ohsome_planet_spark.sources.pbf import write_osm_pbf


def ms(s):
    return s * 1000


@pytest.fixture(scope="module")
def fixture_pbf(tmp_path_factory):
    """20k nodes + 200 ways + 20 relations, deterministic.

    Node i: v1 @t=i (cs i%13); every 10th node gets a v2 move @t=100000+i;
    every 97th node v2 is a deletion instead. Ways reference 100-node
    stripes; relations pair consecutive ways as type=multipolygon (closed
    squares) or type=route.
    """
    n_nodes = 20000
    nodes = []
    for i in range(n_nodes):
        lon = (i % 3600) / 10.0 - 180.0
        lat = (i % 1700) / 10.0 - 85.0
        nodes.append(
            {"id": i, "version": 1, "ts_ms": ms(i + 1), "changeset": i % 13,
             "uid": i % 50, "user": f"u{i % 50}", "visible": True,
             "tags": {"name": f"n{i}"} if i % 5 == 0 else {},
             "lon": lon, "lat": lat}
        )
        if i % 10 == 0:
            nodes.append(
                {"id": i, "version": 2, "ts_ms": ms(100000 + i), "changeset": 7000 + i % 11,
                 "uid": i % 50, "user": f"u{i % 50}", "visible": i % 97 != 0,
                 "tags": {}, "lon": lon + 0.01, "lat": lat + 0.01}
            )
    ways = []
    for w in range(200):
        refs = [w * 100 + j for j in range(5)]
        ways.append(
            {"id": w, "version": 1, "ts_ms": ms(50000 + w), "changeset": 5000 + w % 7,
             "uid": w % 50, "user": f"u{w % 50}", "visible": True,
             "tags": {"highway": "path"}, "refs": refs}
        )
    relations = [
        {"id": r, "version": 1, "ts_ms": ms(60000 + r), "changeset": 6000 + r % 5,
         "uid": r % 50, "user": f"u{r % 50}", "visible": True,
         "tags": {"type": "route"},
         "members": [("way", 2 * r, ""), ("way", 2 * r + 1, "")]}
        for r in range(20)
    ]
    p = tmp_path_factory.mktemp("pbf") / "fixture_20k.osm.pbf"
    write_osm_pbf(p, nodes, ways, relations, nodes_per_block=4096)
    return p


def test_contributions_end_to_end(spark, fixture_pbf, tmp_path):
    changesets = spark.createDataFrame(
        [(c, pd.Timestamp(c * 1000, unit="s").to_pydatetime(), None, c * 2,
          {"created_by": "editorX", "comment": f"#fix{c % 3}"})
         for c in range(0, 13)],
        "id long, created_at timestamp_ntz, closed_at timestamp_ntz, "
        "num_changes int, tags map<string,string>",
    )
    out = tmp_path / "contributions"
    counts = contributions_to_parquet(
        spark, fixture_pbf, out, changesets=changesets
    )
    # reference-default hasNoTags drop (history granularity): only nodes
    # ever-tagged survive — i%5==0 → 4000 ids. All v2 movers (i%10==0) are
    # a subset of those, and crucially their UNTAGGED v2 rows are kept too
    # (the element was tagged in v1 — history-level, not per-row).
    # v2 deletions: i%10==0 and i%97==0 → i%970==0 → 21 (970 ≡ 0 mod 5 ✓)
    n_del = len([i for i in range(0, 20000, 10) if i % 97 == 0])
    assert n_del == 21
    # ways (all tagged): 200 elements; relations: 20
    assert counts["deleted"] == n_del
    assert counts["latest"] + counts["history"] + counts["deleted"] + counts["invalid"] == (
        spark.read.parquet(str(out)).count()
    )
    back = spark.read.parquet(str(out))
    assert back.where(F.col("osm_type") == "node").select("osm_id").distinct().count() == 4000
    # untagged v2 versions of tagged elements present (history-level filter)
    assert back.where(
        (F.col("osm_type") == "node") & (F.col("osm_version") == 2)
    ).count() == 2000
    assert back.where(F.col("osm_type") == "way").select("osm_id").distinct().count() == 200
    assert back.where(F.col("osm_type") == "relation").select("osm_id").distinct().count() == 20
    # manifest parity
    assert json.loads((out / "_counts.json").read_text()) == counts
    # changeset join landed (J3): kept node v1 changesets all covered
    ed = back.where((F.col("osm_type") == "node") & (F.col("osm_version") == 1))
    assert ed.where(F.col("changeset_editor") == "editorX").count() == 4000
    # sample hash-match: a specific node's full history
    sample = back.where((F.col("osm_type") == "node") & (F.col("osm_id") == 970)).orderBy(
        "osm_edits"
    ).collect()
    assert [r["osm_version"] for r in sample] == [1, 2]
    assert sample[0]["status"] == "history" and sample[1]["status"] == "deleted"
    assert sample[1]["contrib_type"] == "DELETION"
    # deleted row carries the v1 geometry forward (W9)
    assert sample[1]["geometry"] == sample[0]["geometry"]


def test_contributions_tag_filter_and_countries(spark, fixture_pbf):
    from ohsome_planet_spark.sources.countries import fixture_features

    contribs = contributions(
        spark,
        fixture_pbf,
        country_features=fixture_features(),
        include_tag_keys=["highway"],
        keep_untagged=False,
        entity_types=("node", "way"),
    )
    rows = contribs.select("osm_type", "countries").groupBy("osm_type").count().collect()
    got = {r["osm_type"]: r["count"] for r in rows}
    # include-tags applies to RELATIONS ONLY (Contributions2Parquet:142) —
    # nodes/ways see only the hasNoTags drop: ever-tagged nodes keep their
    # full histories (4000 v1 + 2000 v2), all 200 tagged ways kept
    assert got["node"] == 6000
    assert got["way"] >= 200
    # PIP join produced sorted country arrays on at least some ways
    hit = contribs.where(F.size("countries") > 0).count()
    assert hit > 0


def test_include_tags_filters_relations_only(spark, fixture_pbf):
    """--include-tags semantics (`Contributions2Parquet:114-117,142`): the
    key filter selects which RELATIONS are built; a non-matching key drops
    every relation while nodes/ways are untouched."""
    kept = contributions(
        spark, fixture_pbf, include_tag_keys=["type"],
        entity_types=("relation",),
    )
    assert kept.select("osm_id").distinct().count() == 20
    dropped = contributions(
        spark, fixture_pbf, include_tag_keys=["no_such_key"],
        entity_types=("relation",),
    )
    assert dropped.count() == 0


def test_avsc_view_shape(spark, fixture_pbf):
    """Output-shape parity with contrib.avsc (nested structs + build_time)."""
    from ohsome_planet_spark.plans.export import avsc_view

    contribs = contributions(spark, fixture_pbf, entity_types=("node", "way", "relation"))
    v = avsc_view(contribs, build_time_ms=1234)
    assert v.columns == [
        "status", "valid_from", "valid_to", "osm_type", "osm_id", "osm_version",
        "osm_minor_version", "osm_edits", "osm_last_edit", "user", "tags",
        "tags_before", "changeset", "bbox", "centroid", "xzcode",
        "geometry_type", "geometry", "area", "area_delta", "length",
        "length_delta", "contrib_type", "refs", "members", "countries",
        "build_time",
    ]
    d = dict(v.dtypes)
    assert d["user"] == "struct<id:int,name:string>"
    assert d["bbox"] == "struct<xmin:double,ymin:double,xmax:double,ymax:double>"
    assert d["centroid"] == "struct<x:double,y:double>"
    assert d["xzcode"] == "struct<level:int,code:bigint>"
    assert "numChanges:int" in d["changeset"]
    assert d["members"].startswith("array<struct<type:string,id:bigint,role:string")
    row = v.where((F.col("osm_type") == "relation") & (F.col("osm_id") == 0)).first()
    assert row["members"][0]["type"] == "way" and row["members"][0]["id"] == 0
    assert row["build_time"] == 1234
    assert row["xzcode"]["level"] >= 0


def test_bucketed_entity_scratch_same_rows_fewer_shuffles(spark, fixture_pbf, tmp_path):
    """bucket_entities: id-bucketed scratch tables feed the member joins
    pre-clustered — on the way branch the nodes side of refs_pairs ⋈ nodes
    reads without an exchange (strictly fewer shuffles than plain parquet).
    Output rows must be identical across both the way AND relation
    branches (the relation branch's union plan shifts exchanges around, so
    the strict count assert stays on the isolated way branch)."""
    w_plain = contributions(
        spark, fixture_pbf, entity_types=("way",),
        entity_scratch=tmp_path / "wplain",
    )
    w_bucketed = contributions(
        spark, fixture_pbf, entity_types=("way",),
        entity_scratch=tmp_path / "wbucketed", bucket_entities=4,
    )
    n_plain = w_plain._jdf.queryExecution().executedPlan().toString().count(
        "Exchange hashpartitioning")
    n_bucketed = w_bucketed._jdf.queryExecution().executedPlan().toString().count(
        "Exchange hashpartitioning")
    assert n_bucketed < n_plain
    cols = ["osm_type", "osm_id", "osm_version", "osm_minor_version",
            "osm_edits", "changeset", "valid_from", "valid_to", "status"]
    plain = contributions(
        spark, fixture_pbf, entity_types=("way", "relation"),
        entity_scratch=tmp_path / "plain",
    )
    bucketed = contributions(
        spark, fixture_pbf, entity_types=("way", "relation"),
        entity_scratch=tmp_path / "bucketed", bucket_entities=4,
    )
    a = sorted(map(tuple, plain.select(cols).collect()))
    b = sorted(map(tuple, bucketed.select(cols).collect()))
    assert a == b


def _sorted_rows(df):
    """Rows with tags as sorted map entries (map order is not a value)."""
    cols = [F.array_sort(F.map_entries(c)).alias(c) if c == "tags" else F.col(c)
            for c in df.columns]
    return sorted(map(repr, df.select(cols).collect()))


def test_entity_scratch_equals_source_frames(spark, fixture_pbf, tmp_path):
    """The scratch tables hold exactly read_osm_pbf's frames — same schema,
    same rows — and the scratch phase is ONE decode job (it was one job per
    table, each decoding every blob)."""
    from ohsome_planet_spark.sources.pbf import read_osm_pbf

    sc = spark.sparkContext
    sc.setJobGroup("entity-scratch", "scratch phase of contributions()")
    try:
        contributions(spark, fixture_pbf, entity_scratch=tmp_path)
        jobs = sc.statusTracker().getJobIdsForGroup("entity-scratch")
    finally:
        sc._jsc.clearJobGroup()
    assert len(jobs) == 1, jobs
    _, *frames = read_osm_pbf(spark, fixture_pbf)
    for name, src in zip(("nodes", "ways", "relations"), frames):
        scratch = spark.read.parquet(str(tmp_path / name))
        assert scratch.schema == src.schema, name
        assert _sorted_rows(scratch) == _sorted_rows(src), name


def test_node_branch_one_exchange_one_python_eval(spark, fixture_pbf, tmp_path):
    """In the job, the untagged filter's window and the node windows share
    ONE exchange on id, and the branch evaluates Python once (the fused
    point kernel)."""
    import re

    nodes = contributions(spark, fixture_pbf, entity_types=("node",),
                          entity_scratch=tmp_path)
    plan = nodes._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning\(id#\d+L?, \d+\)", plan)) == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("ArrowEvalPython") == 1


def test_kernel_countries_batched_equal_per_geometry(spark, fixture_pbf):
    """On the fixture PBF, the production way and relation kernels (one
    batched join per partition) produce the countries the dict twins
    produce with the per-geometry `join_geom` joiner."""
    from ohsome_planet_spark.operators.history import (
        _relation_partition_kernel,
        _way_partition_kernel,
        relation_packed,
    )
    from ohsome_planet_spark.operators.history_arrow import (
        way_packed,
        way_partition_table,
    )
    from ohsome_planet_spark.operators.relation_arrow import relation_partition_table
    from ohsome_planet_spark.operators.spatial_join import build_index
    from ohsome_planet_spark.sources.countries import fixture_features
    from ohsome_planet_spark.sources.pbf import read_osm_pbf

    index = build_index(fixture_features())
    _, nodes, ways, rels = read_osm_pbf(spark, fixture_pbf)
    key = ["osm_id", "osm_version", "osm_minor_version", "valid_from"]

    def pandas(tbl):  # the dict twins take ns timestamps
        pdf = tbl.to_pandas()
        return pdf.assign(ts=pdf["ts"].astype("datetime64[ns]"))

    def countries(df):
        df = df.assign(valid_from=pd.to_datetime(df["valid_from"]).astype("datetime64[ns]"))
        return {tuple(r[:-1]): list(r[-1]) for r in
                df[key + ["countries"]].itertuples(index=False)}

    tbl = way_packed(ways, nodes).toArrow()
    new = countries(way_partition_table(tbl, index).to_pandas())
    old = countries(_way_partition_kernel(
        pandas(tbl), lambda k, d: index.join_geom(k, d)))
    assert new == old and len(new) > 100
    assert sum(bool(c) for c in new.values()) > 5

    tbl = relation_packed(rels, ways, nodes).toArrow()
    new = countries(relation_partition_table(tbl, index).to_pandas())
    old = countries(_relation_partition_kernel(
        pandas(tbl), lambda g: index.join_geom(g[0], g[1])))
    assert new == old and len(new) >= 20
