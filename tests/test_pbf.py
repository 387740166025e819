"""OSM PBF source: round-trip against the independent encoder, blob-header
metadata scan, and PBF → contributions end-to-end (the reference's primary
flow: .osm.pbf in, enriched GeoParquet out)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.sources.pbf import (
    decode_primitive_block,
    read_osm_pbf,
    scan_blob_headers,
    write_osm_pbf,
)


def ms(sec):
    return sec * 1000


@pytest.fixture(scope="module")
def pbf_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("pbf") / "test.osm.pbf"
    nodes = [
        {"id": 1, "version": 1, "ts_ms": ms(100), "changeset": 5, "uid": 9,
         "user": "alice", "visible": True, "tags": {"amenity": "cafe"},
         "lon": 7.1234567, "lat": 12.7654321},
        {"id": 2, "version": 2, "ts_ms": ms(200), "changeset": 6, "uid": 9,
         "user": "alice", "visible": True, "tags": {}, "lon": 7.2, "lat": 12.8},
        {"id": 3, "version": 1, "ts_ms": ms(150), "changeset": 5, "uid": 10,
         "user": "bob", "visible": False, "tags": {}, "lon": 7.3, "lat": 12.9},
    ]
    ways = [
        {"id": 10, "version": 3, "ts_ms": ms(300), "changeset": 7, "uid": 9,
         "user": "alice", "visible": True, "tags": {"highway": "path"},
         "refs": [1, 2, 3]},
    ]
    relations = [
        {"id": 100, "version": 1, "ts_ms": ms(400), "changeset": 8, "uid": 10,
         "user": "bob", "visible": True, "tags": {"type": "route"},
         "members": [("way", 10, "outer"), ("node", 1, "stop")]},
    ]
    write_osm_pbf(p, nodes, ways, relations)
    return p


def test_blob_header_scan(pbf_file):
    headers = scan_blob_headers(pbf_file)
    assert headers[0]["type"] == "OSMHeader"
    assert all(h["type"] == "OSMData" for h in headers[1:])
    assert len(headers) == 4  # header + nodes + ways + relations blocks


def test_roundtrip_through_spark(spark, pbf_file):
    header, nodes, ways, rels = read_osm_pbf(spark, pbf_file)
    assert "Sort.Type_then_ID" in header["required_features"]
    n = {r["id"]: r for r in nodes.collect()}
    assert len(n) == 3
    assert n[1]["tags"] == {"amenity": "cafe"}
    assert n[1]["lon"] == pytest.approx(7.1234567, abs=1e-7)
    assert n[1]["lat"] == pytest.approx(12.7654321, abs=1e-7)
    assert n[1]["user"] == "alice" and n[1]["changeset"] == 5
    assert pd.Timestamp(n[1]["ts"]) == pd.Timestamp(100, unit="s")
    assert n[3]["visible"] is False
    w = ways.collect()[0]
    assert w["refs"] == [1, 2, 3] and w["tags"] == {"highway": "path"}
    assert w["version"] == 3
    r = rels.collect()[0]
    assert [(m["type"], m["id"], m["role"]) for m in r["members"]] == [
        ("way", 10, "outer"), ("node", 1, "stop"),
    ]


def test_many_nodes_multiple_blocks(spark, tmp_path):
    nodes = [
        {"id": i, "version": 1, "ts_ms": ms(i), "changeset": i % 7, "uid": 1,
         "user": f"u{i % 3}", "visible": True,
         "tags": ({"k": f"v{i}"} if i % 10 == 0 else {}),
         "lon": -180.0 + (i % 3600) * 0.1, "lat": -90.0 + (i % 1800) * 0.1}
        for i in range(20_000)
    ]
    p = tmp_path / "many.osm.pbf"
    write_osm_pbf(p, nodes, nodes_per_block=4096)
    headers = scan_blob_headers(p)
    assert len([h for h in headers if h["type"] == "OSMData"]) == 5  # ceil(20k/4096)
    _, ndf, _, _ = read_osm_pbf(spark, p)
    assert ndf.count() == 20_000
    got = ndf.where(F.col("id") == 12340).collect()[0]
    assert got["lon"] == pytest.approx(-180.0 + (12340 % 3600) * 0.1, abs=1e-7)
    assert got["tags"] == {"k": "v12340"}


def test_pbf_to_contributions_end_to_end(spark, tmp_path):
    """The reference's primary flow: PBF → temporal merge → contributions."""
    from ohsome_planet_spark.operators.history import way_contributions

    nodes = [
        {"id": 1, "version": 1, "ts_ms": ms(10), "changeset": 1, "uid": 1,
         "user": "a", "visible": True, "tags": {}, "lon": 7.0, "lat": 12.0},
        {"id": 1, "version": 2, "ts_ms": ms(50), "changeset": 4, "uid": 2,
         "user": "b", "visible": True, "tags": {}, "lon": 7.5, "lat": 12.5},
        {"id": 2, "version": 1, "ts_ms": ms(10), "changeset": 1, "uid": 1,
         "user": "a", "visible": True, "tags": {}, "lon": 8.0, "lat": 13.0},
    ]
    ways = [
        {"id": 20, "version": 1, "ts_ms": ms(20), "changeset": 2, "uid": 1,
         "user": "a", "visible": True, "tags": {"highway": "path"}, "refs": [1, 2]},
    ]
    p = tmp_path / "flow.osm.pbf"
    write_osm_pbf(p, nodes, ways)
    _, ndf, wdf, _ = read_osm_pbf(spark, p)
    contribs = way_contributions(wdf, ndf).orderBy("osm_edits").collect()
    assert [(c["osm_version"], c["osm_minor_version"]) for c in contribs] == [(1, 0), (1, 1)]
    assert contribs[1]["changeset"] == 4  # node move propagated
    assert contribs[0]["geometry_type"] == "LineString"


def test_replication_header_roundtrip(tmp_path):
    """fileinfo parity for the osmosis replication block (`Header.java:
    57-93`, fields 32/33/34): encode replication timestamp / sequence /
    base-url in the fixture writer, decode through the header scan, and
    assert the fileinfo CLI surfaces all three verbatim."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    from ohsome_planet_spark.sources.pbf import (
        _read_blob_payload, decode_header_block)

    p = tmp_path / "repl.osm.pbf"
    write_osm_pbf(
        p,
        nodes=[{"id": 1, "version": 1, "ts_ms": 1000, "changeset": 1,
                "uid": 1, "user": "u", "visible": True, "tags": {},
                "lon": 1.0, "lat": 2.0}],
        replication_timestamp=1736160000,
        replication_sequence_number=4242,
        replication_base_url="https://planet.osm.org/replication/minute/",
    )
    hdr_blob = next(h for h in scan_blob_headers(p) if h["type"] == "OSMHeader")
    header = decode_header_block(
        _read_blob_payload(str(p), hdr_blob["offset"], hdr_blob["size"]))
    assert header["replication_timestamp"] == 1736160000
    assert header["replication_sequence_number"] == 4242
    assert header["replication_base_url"] == \
        "https://planet.osm.org/replication/minute/"

    out = subprocess.run(
        [sys.executable, str(Path(__file__).resolve().parent.parent
                             / "tools" / "fileinfo.py"), str(p)],
        capture_output=True, text=True, check=True)
    info = json.loads(out.stdout)
    assert info["replication_timestamp"] == 1736160000
    assert info["replication_sequence_number"] == 4242
    assert info["replication_base_url"] == \
        "https://planet.osm.org/replication/minute/"

    # absent block → explicit nulls, never garbage
    p2 = tmp_path / "norepl.osm.pbf"
    write_osm_pbf(p2, nodes=[{"id": 1, "version": 1, "ts_ms": 1000,
                              "changeset": 1, "uid": 1, "user": "u",
                              "visible": True, "tags": {},
                              "lon": 1.0, "lat": 2.0}])
    hdr2 = next(h for h in scan_blob_headers(p2) if h["type"] == "OSMHeader")
    header2 = decode_header_block(
        _read_blob_payload(str(p2), hdr2["offset"], hdr2["size"]))
    assert "replication_timestamp" not in header2


def test_decode_block_empty_tag_values(tmp_path):
    """Dense keys_vals end each node's tags with a 0 in KEY position; a
    value can be string 0 (""), so those blocks take the sequential walk
    and still decode every node's tags exactly."""
    tags = [{"a": "", "b": "x"}, {}, {"c": ""}, {"d": "y"}]
    nodes = [
        {"id": i + 1, "version": 1, "ts_ms": ms(i), "changeset": 1, "uid": 1,
         "user": "", "visible": True, "tags": t, "lon": 1.0, "lat": 2.0}
        for i, t in enumerate(tags)
    ]
    p = tmp_path / "empty_values.osm.pbf"
    write_osm_pbf(p, nodes)
    blob = next(h for h in scan_blob_headers(p) if h["type"] == "OSMData")
    from ohsome_planet_spark.sources.pbf import _read_blob_payload

    block = decode_primitive_block(
        _read_blob_payload(str(p), blob["offset"], blob["size"]), ("nodes",))
    got = block["nodes"].to_pylist()
    assert [dict(r["tags"]) for r in got] == tags
    assert [r["user"] for r in got] == [""] * 4
    assert list(block) == ["nodes"]
