"""Gazetteer enrichment kernel: value contract, laziness, plan shape."""

import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.operators.geocode import extract_mentions, geocode_mentions
from ohsome_planet_spark.operators.spatial_join import build_index, with_countries
from ohsome_planet_spark.operators.tiling import with_cells, zxy_cell_col
from ohsome_planet_spark.plans.enrich import (
    _ZXY_NULL_CELL, _assemble_enriched, enrich_pages, point_wkb_udf)
from ohsome_planet_spark.sources.countries import fixture_features
from ohsome_planet_spark.sources.gazetteer import GAZETTEER, gazetteer_df
from ohsome_planet_spark.sources.pages import pages_df

HEX = (7, 8, 9, 10)
# null, one-axis-null and out-of-range rows beside the fixture's own
# border, corner, hole and invalid points
EXTRA = [
    ("Lon_Null", 10.0, None),
    ("Lat_Null", None, 10.0),
    ("Both_Null", None, None),
    ("South_Out", -95.0, 12.0),
    ("West_Out", 12.0, -181.0),
]


@pytest.fixture(scope="module")
def gazetteer(spark):
    return spark.createDataFrame(
        GAZETTEER + EXTRA, "entity string, lat double, lon double")


@pytest.fixture(scope="module")
def pages(spark):
    names = [g[0] for g in GAZETTEER + EXTRA] + ["Not_In_Gazetteer"]
    rows = [(f"http://p/{i}", i, " ".join(f"@@{n}@@" for n in names[i::3]))
            for i in range(3)]
    return spark.createDataFrame(rows, "url string, warc_ts long, text string")


def _rows(df):
    return sorted((r.asDict() for r in df.collect()),
                  key=lambda d: (d["url"], d["mention_idx"]))


def test_kernel_equals_per_column_udfs(spark, pages, gazetteer):
    """enrich_pages over a custom gazetteer == the per-column plan
    (with_countries + with_cells + point_wkb_udf), row for row."""
    index = build_index(fixture_features())
    per_column = with_cells(
        with_countries(gazetteer, index), hex_resolutions=HEX
    ).withColumn("geometry", point_wkb_udf(F.col("lon"), F.col("lat")))
    expected = _assemble_enriched(
        geocode_mentions(extract_mentions(pages), per_column), HEX, True)
    got = enrich_pages(spark, pages, gazetteer=gazetteer, with_geometry=True)
    assert got.columns == expected.columns
    got_rows, exp_rows = _rows(got), _rows(expected)
    assert len(got_rows) == len(GAZETTEER + EXTRA) + 1
    assert got_rows == exp_rows


def test_one_axis_null_zxy_clamps_only_the_null_axis(spark, pages, gazetteer):
    """zxy_cell of a one-axis-null entity is the JVM expression's value:
    the null axis clamps to n-1, the other axis keeps its own index."""
    got = {r["entity"]: r["zxy_cell"] for r in enrich_pages(
        spark, pages, gazetteer=gazetteer).where(
            F.col("entity").isin("Lon_Null", "Lat_Null", "Both_Null")).collect()}
    jvm = {r["entity"]: r["z"] for r in gazetteer.where(
        F.col("entity").isin("Lon_Null", "Lat_Null", "Both_Null")).select(
            "entity", zxy_cell_col(F.col("lon"), F.col("lat"), 12).alias("z")
        ).collect()}
    assert got == jvm
    assert got["Lon_Null"] == (12 << 58) | (4095 << 29) | 1820
    assert got["Lat_Null"] == (12 << 58) | (2161 << 29) | 4095
    assert got["Both_Null"] == _ZXY_NULL_CELL


def test_default_memo_equals_kernel_stage(spark):
    """The driver-side default-gazetteer memo and the distributed kernel
    stage are one implementation: same rows over the same gazetteer."""
    pages = pages_df(spark, 200)
    memo = enrich_pages(spark, pages)
    staged = enrich_pages(spark, pages, gazetteer=gazetteer_df(spark))
    assert _rows(memo) == _rows(staged)


def test_plan_construction_is_lazy_and_one_kernel(spark, pages, gazetteer):
    """Building the plan runs no Spark job, and the gazetteer side is one
    MapInArrow stage with no per-column Arrow eval nodes."""
    sc = spark.sparkContext
    group = "enrich-plan-construction"
    sc.setJobGroup(group, "enrich_pages without an action")
    try:
        enriched = enrich_pages(spark, pages, gazetteer=gazetteer)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
