"""Profile the production way-merge kernel outside Spark.

Runs `history_arrow.way_partition_table` — the kernel each task of the way
plan runs — on one packed Arrow table, with the broadcast country index of
the contributions job (`build_index(fixture_features())`), and reports the
share of kernel time its country join takes.

The packed table is either
- the bench.py way_merge_10k shape: n ways x 3-node refs over ~33-version
  node histories derived from an sf dir's events (`--sf-dir`, default
  $SPARK_GRAFT_SF_DIR), built without Spark; or
- `--pbf FILE`: the `history_arrow.way_packed` input the job builds from
  that PBF, collected through a local Spark session.

Usage: python tools/profile_way_kernel.py [n_ways] [--sf-dir DIR | --pbf FILE]
       [--profile]
"""
from __future__ import annotations

import argparse
import cProfile
import os
import pstats
import sys
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from ohsome_planet_spark.operators.history_arrow import way_partition_table
from ohsome_planet_spark.operators.spatial_join import build_index
from ohsome_planet_spark.sources.countries import fixture_features

_MAP = pa.map_(pa.string(), pa.string())
WAY_PACKED_SCHEMA = pa.schema([
    ("way_id", pa.int64()), ("kind", pa.string()), ("version", pa.int64()),
    ("ts", pa.timestamp("us")), ("changeset", pa.int64()),
    ("user_id", pa.int64()), ("user", pa.string()), ("visible", pa.bool_()),
    ("tags", _MAP), ("refs", pa.list_(pa.int64())),
    ("node_id", pa.int64()), ("lon", pa.float64()), ("lat", pa.float64()),
])
# the join entry points whose calls and time the report counts
JOIN_FUNCS = ("join_geoms_codes", "join_points_codes", "join_geom")


def build_packed(sf_dir: str, n_ways: int) -> pd.DataFrame:
    ev = duckdb.sql(
        f"select event_id, ts, user_id from '{sf_dir}/events.parquet'"
    ).df()
    nid = (ev.event_id % 30000).to_numpy()
    keep = nid < n_ways * 3
    ev = ev[keep].reset_index(drop=True)
    nid = nid[keep]
    ev["nid"] = nid
    ev = ev.sort_values(["nid", "ts", "event_id"], kind="stable").reset_index(drop=True)
    ev["version"] = ev.groupby("nid").cumcount() + 1
    nodes = pd.DataFrame(
        {
            "way_id": (ev.nid // 3).astype(np.int64),
            "kind": "n",
            "version": ev.version.astype(np.int64),
            "ts": ev.ts,
            "changeset": (ev.event_id % 17).astype(np.int64),
            "user_id": ev.user_id.astype(np.int64),
            "user": "u",
            "visible": True,
            "tags": None,
            "refs": None,
            "node_id": ev.nid.astype(np.float64),
            "lon": ((ev.event_id * 7 % 360) - 180.0).astype(np.float64),
            "lat": ((ev.event_id * 11 % 180) - 90.0).astype(np.float64),
        }
    )
    wid = np.arange(n_ways, dtype=np.int64)
    refs = np.empty(n_ways, object)
    for i in range(n_ways):
        refs[i] = [int(3 * i % 30000), int((3 * i + 1) % 30000), int((3 * i + 2) % 30000)]
    tags = np.empty(n_ways, object)
    tags[:] = [{} for _ in range(n_ways)]
    ways = pd.DataFrame(
        {
            "way_id": wid,
            "kind": "w",
            "version": np.int64(1),
            "ts": pd.Timestamp("2020-01-01 00:00:00"),
            "changeset": np.int64(1),
            "user_id": np.int64(1),
            "user": "u",
            "visible": True,
            "tags": tags,
            "refs": refs,
            "node_id": np.nan,
            "lon": np.nan,
            "lat": np.nan,
        }
    )
    return pd.concat([nodes, ways], ignore_index=True)


def arrow_packed(pdf: pd.DataFrame, schema: pa.Schema, sort_keys: list[str]) -> pa.Table:
    """A packed pandas frame as the Arrow table the plan hands its kernel:
    schema-typed, each partition sorted by the plan's sort keys."""
    pdf = pdf.sort_values(sort_keys, kind="stable").reset_index(drop=True)
    cols = {
        "ts": pdf["ts"].astype("datetime64[us]"),
        "tags": pdf["tags"].map(lambda d: list(d.items()) if isinstance(d, dict) else None),
    }
    if "node_id" in pdf:
        cols["node_id"] = pdf["node_id"].astype("Int64")
    return pa.Table.from_pandas(pdf.assign(**cols), schema=schema, preserve_index=False)


def spark_packed(pbf: str, kind: str) -> pa.Table:
    """The job's packed kernel input for `kind` ('way' | 'relation') from a
    PBF, collected through a local Spark session."""
    from ohsome_planet_spark.session import get_spark
    from ohsome_planet_spark.sources.pbf import read_osm_pbf

    spark = get_spark(master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    _, nodes, ways, rels = read_osm_pbf(spark, pbf)
    if kind == "way":
        from ohsome_planet_spark.operators.history_arrow import way_packed

        return way_packed(ways, nodes).toArrow()
    from ohsome_planet_spark.operators.history import relation_packed

    return relation_packed(rels, ways, nodes).toArrow()


def join_report(kernel, tbl: pa.Table, label: str, top: int = 0) -> None:
    """Time `kernel(tbl, index)` against `kernel(tbl, None)` (best of 3,
    after a warm-up run), then run it under cProfile and print the calls
    and cumulative time of each join entry point (JOIN_FUNCS) with its
    share of the kernel."""
    index = build_index(fixture_features())
    out = kernel(tbl, index)  # warm caches and lazy imports

    def best(idx) -> float:
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            kernel(tbl, idx)
            runs.append(time.perf_counter() - t0)
        return min(runs)

    with_join, without = best(index), best(None)
    rows = out.num_rows if out is not None else 0
    print(f"{label}: {tbl.num_rows} packed rows -> {rows} contributions")
    print(f"kernel {with_join:.3f} s with countries, {without:.3f} s without")

    pr = cProfile.Profile()
    pr.enable()
    kernel(tbl, index)
    pr.disable()
    stats = pstats.Stats(pr)
    total = max(
        ct for (_, _, name), (_, _, _, ct, _) in stats.stats.items()
        if name == kernel.__name__)
    for fn in JOIN_FUNCS:
        calls = cum = 0.0
        for (path, _, name), (_, nc, _, ct, _) in stats.stats.items():
            if name == fn and path.endswith("pip_index.py"):
                calls += nc
                cum += ct
        print(f"  {fn}: {int(calls)} calls, {cum:.4f} s cumulative "
              f"({100 * cum / total:.1f}% of the kernel's {total:.3f} s)")
    if top:
        stats.sort_stats("cumulative").print_stats(top)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("n_ways", nargs="?", type=int, default=2000)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--pbf")
    ap.add_argument("--profile", action="store_true",
                    help="also print the top of the cumulative profile")
    args = ap.parse_args()
    if args.pbf:
        tbl = spark_packed(args.pbf, "way")
    elif args.sf_dir:
        tbl = arrow_packed(build_packed(args.sf_dir, args.n_ways), WAY_PACKED_SCHEMA,
                           ["way_id", "kind", "node_id", "version", "ts"])
    else:
        ap.error("give --pbf, or --sf-dir (or set SPARK_GRAFT_SF_DIR)")
    join_report(way_partition_table, tbl, "way_partition_table",
                top=30 if args.profile else 0)


if __name__ == "__main__":
    main()
