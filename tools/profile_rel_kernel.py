"""Profile the production relation-merge kernel outside Spark.

Runs `relation_arrow.relation_partition_table` — the kernel each task of
the relation plan runs — on one packed Arrow table with the job's country
index, and reports the share of kernel time its country join takes (see
tools/profile_way_kernel.py). The packed table is the bench.py
relation_merge_1k shape (n relations x 3 member ways x 3-node refs over an
sf dir's event-derived node histories; `--sf-dir`, default
$SPARK_GRAFT_SF_DIR), or with `--pbf FILE` the `history.relation_packed`
input the job builds from that PBF.

Usage: python tools/profile_rel_kernel.py [n_rels] [--sf-dir DIR | --pbf FILE]
       [--profile]
"""
from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from ohsome_planet_spark.operators.relation_arrow import relation_partition_table
from tools.profile_way_kernel import (
    _MAP,
    arrow_packed,
    build_packed,
    join_report,
    spark_packed,
)

REL_PACKED_SCHEMA = pa.schema([
    ("rel_id", pa.int64()), ("kind", pa.string()), ("member_id", pa.int64()),
    ("version", pa.int64()), ("ts", pa.timestamp("us")),
    ("changeset", pa.int64()), ("user_id", pa.int64()), ("user", pa.string()),
    ("visible", pa.bool_()), ("tags", _MAP), ("refs", pa.list_(pa.int64())),
    ("lon", pa.float64()), ("lat", pa.float64()),
    ("rel_member_list", pa.list_(pa.struct([
        ("type", pa.string()), ("id", pa.int64()), ("role", pa.string())]))),
])


def build_rel_packed(sf_dir: str, n_rels: int) -> pd.DataFrame:
    wp = build_packed(sf_dir, n_rels * 3)  # ways 0..3R with their node rows
    wp["ts"] = wp["ts"].astype("datetime64[ns]")
    nodes = wp[wp.kind == "n"]
    ways = wp[wp.kind == "w"]
    rel_of_way = (ways.way_id // 3).astype(np.int64)
    rel_of_node = (nodes.way_id // 3).astype(np.int64)
    nrows = pd.DataFrame({
        "rel_id": rel_of_node, "kind": "node",
        "member_id": nodes.node_id.astype(np.int64),
        "version": nodes.version, "ts": nodes.ts, "changeset": nodes.changeset,
        "user_id": nodes.user_id, "user": nodes.user, "visible": nodes.visible,
        "tags": None, "refs": None, "lon": nodes.lon, "lat": nodes.lat,
        "rel_member_list": None,
    })
    wrows = pd.DataFrame({
        "rel_id": rel_of_way, "kind": "way",
        "member_id": ways.way_id.astype(np.int64),
        "version": ways.version, "ts": ways.ts, "changeset": ways.changeset,
        "user_id": ways.user_id, "user": ways.user, "visible": ways.visible,
        "tags": ways.tags, "refs": ways.refs, "lon": np.nan, "lat": np.nan,
        "rel_member_list": None,
    })
    rml = np.empty(n_rels, object)
    for r in range(n_rels):
        rml[r] = [
            {"type": "way", "id": 3 * r + j, "role": ""} for j in range(3)
        ]
    tags = np.empty(n_rels, object)
    tags[:] = [{"type": "route"} for _ in range(n_rels)]
    rrows = pd.DataFrame({
        "rel_id": np.arange(n_rels, dtype=np.int64), "kind": "rel",
        "member_id": np.arange(n_rels, dtype=np.int64),
        "version": np.int64(1), "ts": pd.Timestamp("2020-01-02"),
        "changeset": np.int64(1), "user_id": np.int64(1), "user": "u",
        "visible": True, "tags": tags, "refs": None,
        "lon": np.nan, "lat": np.nan, "rel_member_list": rml,
    })
    return pd.concat([nrows, wrows, rrows], ignore_index=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("n_rels", nargs="?", type=int, default=200)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--pbf")
    ap.add_argument("--profile", action="store_true",
                    help="also print the top of the cumulative profile")
    args = ap.parse_args()
    if args.pbf:
        tbl = spark_packed(args.pbf, "relation")
    elif args.sf_dir:
        tbl = arrow_packed(build_rel_packed(args.sf_dir, args.n_rels), REL_PACKED_SCHEMA,
                           ["rel_id", "kind", "member_id", "version", "ts"])
    else:
        ap.error("give --pbf, or --sf-dir (or set SPARK_GRAFT_SF_DIR)")
    join_report(relation_partition_table, tbl, "relation_partition_table",
                top=28 if args.profile else 0)


if __name__ == "__main__":
    main()
