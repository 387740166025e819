"""The reference's main entry, one call: PBF → contributions GeoParquet.

Mirrors `Contributions2Parquet.call` (`/root/reference/ohsome-contributions/
src/main/java/org/heigit/ohsome/contributions/Contributions2Parquet.java:93-146`):
read the PBF, build node + way + relation contribution streams (temporal
merge, minor versions, geometry, XZ2), optionally join changeset metadata
(J3) and country sets (J4/G3), optionally apply the tag filters (F1/F2),
and write the status-partitioned GeoParquet layout (latest / history /
deleted / invalid) with the per-status count manifest — all in ONE pass per
entity pipeline (the writer routes statuses task-side; no per-status scans).

Spark-first shape: the three entity pipelines are independent DataFrame
DAGs unioned by name; the changeset dimension broadcasts; the polygon index
broadcasts into the merge kernels (countries are computed where the
geometry already is — no extra shuffle).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..operators.history import (
    filter_by_tag_keys_history,
    filter_untagged_history,
    node_contributions,
    relation_contributions,
    way_contributions,
    with_changeset_metadata,
)
from .export import write_contribution_export


def contributions(
    spark: SparkSession,
    pbf_path: str | Path,
    changesets: DataFrame | None = None,
    country_features=None,
    include_tag_keys: list[str] | None = None,
    keep_untagged: bool = False,
    entity_types: tuple[str, ...] = ("node", "way", "relation"),
    entity_scratch: str | Path | None = None,
    bucket_entities: int = 0,
) -> DataFrame:
    """PBF → unified contributions DataFrame (all entity types).

    country_features: polygon feature list for the broadcast PIP index
    (sources.countries.fixture_features shape).

    Filter placement mirrors the reference job exactly:
    * never-tagged elements are dropped UNCONDITIONALLY there (`hasNoTags`
      per OSH in `TransformerNodes:118`, `TransformerWays:129`,
      `Contributions2Parquet:184`), hence keep_untagged defaults to False;
      keep_untagged=True is this engine's extension for full-history runs.
    * include_tag_keys (the reference's `--include-tags`) applies to
      RELATIONS ONLY (`Contributions2Parquet.java:114-117,142,184`).
    * both filters act at HISTORY granularity: an element tagged / key-
      matched in ANY version keeps its WHOLE history, untagged versions
      included. Member nodes/ways are never tag-filtered.

    entity_scratch: directory for a one-pass entity materialization. The
    node table feeds THREE pipeline branches (its own, the way member join,
    the relation transitive join) — without materialization each branch
    re-decodes every PBF blob. With a scratch dir the blobs decode exactly
    once, in one Spark job, into columnar parquet
    (`sources.pbf.write_entity_scratch`: the Spark analog of the
    reference's single PBF pass into its RocksDB stores,
    `Contributions2Parquet.java:98-112`) and every downstream branch gets
    pruned, pushdown-friendly scans.
    Recommended for anything bigger than a fixture.

    bucket_entities: when > 0 (and entity_scratch is set), the scratch
    nodes/ways materialize as id-BUCKETED tables (`bucketBy(n, id)` +
    in-bucket sort) instead of plain parquet. The member joins
    (refs_pairs ⋈ nodes, rel members ⋈ ways/nodes) then read the bucketed
    side pre-clustered, so the BIG side of each join skips its exchange —
    at planet scale the nodes table is ~90% of all rows and it feeds two
    member joins, so this removes the two largest shuffles of the job in
    exchange for one bucketed write. Size n to the cluster (e.g. one
    bucket per final task, 2-4× total cores).
    """
    from ..operators.spatial_join import build_index
    from ..sources.pbf import read_entity_scratch, read_osm_pbf, write_entity_scratch

    if entity_scratch is None or bucket_entities > 0:
        _, nodes, ways, rels = read_osm_pbf(spark, pbf_path)
    if entity_scratch is not None:
        scratch = Path(entity_scratch)
        if bucket_entities > 0:
            # table names derive from the scratch path so concurrent jobs
            # (or sequential calls with different scratch dirs) sharing a
            # metastore never clobber each other's bucketed tables
            import hashlib

            suffix = hashlib.sha256(
                str(scratch.resolve()).encode()
            ).hexdigest()[:12]
            tables = {}
            for name, df in (("nodes", nodes), ("ways", ways)):
                tbl = f"graft_scratch_{name}_{suffix}"
                tables[name] = tbl
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")
                (
                    df.write.mode("overwrite")
                    .format("parquet")
                    .option("path", str(scratch / name))
                    .bucketBy(bucket_entities, "id")
                    .sortBy("id", "version")
                    .saveAsTable(tbl)
                )
            nodes = spark.table(tables["nodes"])
            ways = spark.table(tables["ways"])
            rels.write.mode("overwrite").parquet(str(scratch / "relations"))
            rels = spark.read.parquet(str(scratch / "relations"))
        else:
            write_entity_scratch(spark, pbf_path, scratch)
            nodes, ways, rels = read_entity_scratch(spark, scratch)
    index = build_index(country_features) if country_features is not None else None

    def entity_filter(df: DataFrame, relation: bool = False) -> DataFrame:
        if not keep_untagged:
            df = filter_untagged_history(df)
        if relation and include_tag_keys:
            df = filter_by_tag_keys_history(df, include_tag_keys)
        return df

    parts: list[DataFrame] = []
    if "node" in entity_types:
        parts.append(node_contributions(entity_filter(nodes), index))
    if "way" in entity_types:
        # member nodes are NOT tag-filtered — only the way history is
        parts.append(way_contributions(entity_filter(ways), nodes, index))
    if "relation" in entity_types:
        parts.append(
            relation_contributions(entity_filter(rels, relation=True), ways, nodes, index)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    if changesets is not None:
        out = with_changeset_metadata(out, changesets)
    return out


def contributions_to_parquet(
    spark: SparkSession,
    pbf_path: str | Path,
    out_dir: str | Path,
    **kwargs,
) -> dict[str, int]:
    """One-call end-to-end job; returns the per-status row counts manifest.

    Entities materialize once under <out_dir>/_entities (decode-once; see
    `contributions`) unless the caller overrides entity_scratch.
    """
    kwargs.setdefault("entity_scratch", Path(out_dir) / "_entities")
    contribs = contributions(spark, pbf_path, **kwargs)
    return write_contribution_export(contribs, out_dir)
