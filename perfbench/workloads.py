"""The four workloads: how each opens its inputs, runs and checks one unit
of work, and cuts its pipeline into layers for the traced run.

A unit is one full batch job (one pass) for the batch workloads and one
stream run (one pass per micro-batch) for `gi_stream`. Every unit's output
is checked; a failed check counts all of the unit's passes as failed.

Traced passes time noop-sink prefix cuts around the benchmark's calls into
each layer's public functions. A layer's self time is the cut after its
call minus the cut(s) before it. The full job then runs once more inside a
`job` span; whatever of it the named layers do not cover is the residual.
"""

from __future__ import annotations

import functools
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Unit:
    passes: list[float]     # seconds per pass
    ok: bool
    items: int              # input items the unit processed
    wall: float             # seconds from unit start to its last result
    layers: dict = field(default_factory=dict)


def noop(df):
    """Run df to its end into Spark's noop sink; → df."""
    df.write.format("noop").mode("overwrite").save()
    return df


def cut(tracer, cuts: dict, name: str, fn):
    """fn() inside a span named `name`; its seconds go to cuts[name]."""
    with tracer.span(name) as s:
        out = fn()
    cuts[name] = s["end"] - s["start"]
    return out


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class Workload:
    name = ""

    def __init__(self, spark, input_dir: Path, facts: dict, run_dir: Path):
        self.spark = spark
        self.input_dir = input_dir
        self.facts = facts
        self.run_dir = run_dir
        self.ref = None
        self._k = 0
        self.open()

    def rebind(self, spark) -> None:
        """Reopen the inputs on a new session; references survive."""
        self.spark = spark
        self.open()

    @property
    def passes_per_unit(self) -> int:
        return 1

    def fresh_dir(self, tag: str) -> Path:
        self._k += 1
        return self.run_dir / f"{tag}-{self._k}"

    def open(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        self.unit()

    def reference(self) -> None:
        """Build what the output checks compare against (outside timing)."""

    def unit(self) -> Unit:
        raise NotImplementedError

    def traced_unit(self, tracer) -> Unit:
        raise NotImplementedError

    def traced(self, tracer) -> Unit:
        """A traced unit; unless the workload says otherwise, its residual
        is the job's time not covered by the layers' self times."""
        u = self.traced_unit(tracer)
        u.layers.setdefault("trace.residual_s", u.wall - sum(
            v for k, v in u.layers.items() if k.endswith("_s")))
        return u

    def span_layers(self, tracer) -> dict:
        """Layer metrics that need the event log's per-span numbers."""
        return {}


# ---------------------------------------------------------------------------

class WebEnrich(Workload):
    """enrich_pages over a stored pages table with a custom gazetteer above
    the driver-side cutoff → salted tile counts."""

    name = "web_enrich"

    def open(self):
        from ohsome_planet_spark.operators.spatial_join import build_index
        from ohsome_planet_spark.sources.countries import fixture_features

        r = self.spark.read
        self.pages = r.parquet(str(self.input_dir / "pages.parquet"))
        self.gaz = r.parquet(str(self.input_dir / "gazetteer.parquet"))
        self.index = build_index(fixture_features())

    def _counts(self, salted: bool):
        from ohsome_planet_spark.plans.enrich import (
            enrich_pages, tile_counts_from_enriched)

        enriched = enrich_pages(self.spark, self.pages, gazetteer=self.gaz,
                                with_geometry=False)
        return tile_counts_from_enriched(enriched, salted=salted)

    @staticmethod
    def _fingerprint(df) -> tuple:
        """Row count, total count and an order-free hash of every output
        value: one aggregate that needs the whole result."""
        from pyspark.sql import functions as F

        h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
        r = df.agg(F.count("*"), F.sum("n"), F.sum(h)).collect()[0]
        return int(r[0]), int(r[1]), int(r[2])

    def reference(self):
        from pyspark.sql import functions as F

        from ohsome_planet_spark.operators.geocode import (
            extract_mentions, geocode_mentions)

        mentions = extract_mentions(self.pages)
        geo = geocode_mentions(
            mentions, self.gaz.withColumn("_hit", F.lit(True))).agg(
            F.count("*"), F.count("_hit"),
            F.count(F.when(F.col("coord_valid"), 1))).collect()[0]
        self.mentions, self.matched, self.valid = int(geo[0]), int(geo[1]), int(geo[2])
        f = self.facts
        self.ref_ok = (self.mentions, self.matched, self.valid) == (
            f["mentions"], f["matched"], f["valid_mentions"])
        self.ref = self._fingerprint(self._counts(salted=False))

    def unit(self) -> Unit:
        t0 = time.perf_counter()
        fp = self._fingerprint(self._counts(salted=True))
        dt = time.perf_counter() - t0
        ok = self.ref is None or (self.ref_ok and fp == self.ref)
        return Unit([dt], ok, self.facts["pages"], dt)

    def traced_unit(self, tracer) -> Unit:
        from ohsome_planet_spark.operators.geocode import extract_mentions
        from ohsome_planet_spark.operators.spatial_join import with_countries
        from ohsome_planet_spark.operators.tiling import with_cells
        from ohsome_planet_spark.plans.enrich import (
            enrich_pages, tile_counts_from_enriched)

        cuts = {}
        step = functools.partial(cut, tracer, cuts)
        with tracer.span("pass"):
            step("sources.pages.scan",
                 lambda: noop(self.pages.select("url", "warc_ts", "text")))
            step("operators.geocode.extract",
                 lambda: noop(extract_mentions(self.pages)))
            step("sources.gazetteer.scan", lambda: noop(self.gaz))
            step("operators.spatial_join.pip",
                 lambda: noop(with_countries(self.gaz, self.index)))
            step("operators.tiling.cells",
                 lambda: noop(with_cells(with_countries(self.gaz, self.index))))
            # enrich_pages probes the gazetteer size eagerly: call it inside
            # each cut
            def enriched():
                return enrich_pages(self.spark, self.pages, gazetteer=self.gaz,
                                    with_geometry=False)
            step("operators.geocode.join", lambda: noop(enriched()))
            step("operators.skew.agg", lambda: noop(
                tile_counts_from_enriched(enriched(), salted=True)))
            with tracer.span("job"):
                u = self.unit()
        c = cuts
        u.layers = {
            "sources.pages.scan_s": c["sources.pages.scan"],
            "operators.geocode.extract_s":
                c["operators.geocode.extract"] - c["sources.pages.scan"],
            "operators.spatial_join.pip_s":
                c["operators.spatial_join.pip"] - c["sources.gazetteer.scan"],
            "operators.tiling.cells_s":
                c["operators.tiling.cells"] - c["operators.spatial_join.pip"],
            "operators.geocode.join_s": c["operators.geocode.join"]
                - c["operators.geocode.extract"] - c["operators.tiling.cells"],
            "operators.skew.agg_s":
                c["operators.skew.agg"] - c["operators.geocode.join"],
            "operators.geocode.mentions_per_page":
                self.mentions / self.facts["pages"],
            "operators.geocode.match_ratio": self.matched / self.mentions,
            "operators.skew.out_rows": self.ref[0],
        }
        return u


# ---------------------------------------------------------------------------

class OsmHistory(Workload):
    """contributions_to_parquet: history PBF → status-partitioned
    GeoParquet, into a fresh directory per pass."""

    name = "osm_history"

    def open(self):
        from ohsome_planet_spark.sources.countries import fixture_features

        self.pbf = self.input_dir / "history.osm.pbf"
        self.changesets = self.spark.read.parquet(
            str(self.input_dir / "changesets.parquet"))
        self.features = fixture_features()

    def warm(self):
        self.ref = self.unit().layers["manifest"]

    def _job(self, out: Path) -> dict:
        from ohsome_planet_spark.plans.contributions import (
            contributions_to_parquet)

        return contributions_to_parquet(
            self.spark, self.pbf, out, changesets=self.changesets,
            country_features=self.features)

    def unit(self) -> Unit:
        out = self.fresh_dir("contrib")
        t0 = time.perf_counter()
        manifest = self._job(out)
        dt = time.perf_counter() - t0
        shutil.rmtree(out, ignore_errors=True)
        ok = manifest["deleted"] == self.facts["deleted"] and (
            self.ref is None or manifest == self.ref)
        u = Unit([dt], ok, self.facts["entity_versions"], dt,
                 {"manifest": manifest})
        return u

    def traced_unit(self, tracer) -> Unit:
        from ohsome_planet_spark.operators.history import (
            filter_untagged_history, node_contributions,
            relation_contributions, way_contributions)
        from ohsome_planet_spark.operators.spatial_join import build_index
        from ohsome_planet_spark.plans.contributions import contributions
        from ohsome_planet_spark.plans.export import write_contribution_export
        from ohsome_planet_spark.sources.pbf import read_osm_pbf

        cuts = {}
        step = functools.partial(cut, tracer, cuts)

        def decode():
            for df in read_osm_pbf(self.spark, self.pbf)[1:]:
                noop(df)

        scratch = self.fresh_dir("scratch")
        out = self.fresh_dir("contrib")
        with tracer.span("pass"):
            step("sources.pbf.decode", decode)
            contribs = step("plans.contributions.scratch", lambda: contributions(
                self.spark, self.pbf, changesets=self.changesets,
                country_features=self.features, entity_scratch=scratch))
            r = self.spark.read
            nodes = r.parquet(str(scratch / "nodes"))
            ways = r.parquet(str(scratch / "ways"))
            rels = r.parquet(str(scratch / "relations"))
            index = build_index(self.features)
            step("operators.history.node", lambda: noop(node_contributions(
                filter_untagged_history(nodes), index)))
            step("operators.history.way", lambda: noop(way_contributions(
                filter_untagged_history(ways), nodes, index)))
            step("operators.history.relation", lambda: noop(
                relation_contributions(filter_untagged_history(rels), ways,
                                       nodes, index)))
            step("plans.contributions.union", lambda: noop(contribs))
            manifest = step("io.geoparquet.write",
                            lambda: write_contribution_export(contribs, out))
            with tracer.span("job"):
                u = self.unit()
        rows = sum(manifest.values())
        c = cuts
        u.ok = u.ok and manifest == u.layers["manifest"]
        u.layers = {
            "sources.pbf.decode_s": c["sources.pbf.decode"],
            "sources.pbf.entity_versions": self.facts["entity_versions"],
            "plans.contributions.scratch_s":
                c["plans.contributions.scratch"] - c["sources.pbf.decode"],
            "operators.history.node_s": c["operators.history.node"],
            "operators.history.way_s": c["operators.history.way"],
            "operators.history.relation_s": c["operators.history.relation"],
            "operators.history.rows": rows,
            "io.geoparquet.write_s":
                c["io.geoparquet.write"] - c["plans.contributions.union"],
            "io.geoparquet.bytes_per_row": _dir_bytes(out) / max(rows, 1),
        }
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        return u


# ---------------------------------------------------------------------------

MIXTURE = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


class CorpusCurate(Workload):
    """curate_corpus with its per-stage manifest, decontamination and
    mixture sampling → noop write."""

    name = "corpus_curate"

    def open(self):
        r = self.spark.read
        self.docs = r.parquet(str(self.input_dir / "docs.parquet"))
        self.bench = r.parquet(str(self.input_dir / "benchmark.parquet"))

    def warm(self):
        self.ref = self.unit().layers["manifest"]

    def unit(self) -> Unit:
        from ohsome_planet_spark.plans.corpus import curate_corpus

        t0 = time.perf_counter()
        out, counts = curate_corpus(self.docs, with_manifest=True,
                                    benchmark=self.bench,
                                    mixture_weights=MIXTURE)
        noop(out)
        dt = time.perf_counter() - t0
        ok = (counts["input"] - counts["after_exact_dedup"]
              == self.facts["planted_copies"]) and (
            self.ref is None or counts == self.ref)
        return Unit([dt], ok, self.facts["docs"], dt, {"manifest": counts})

    def traced_unit(self, tracer) -> Unit:
        from pyspark.sql import functions as F

        from ohsome_planet_spark.functions.text import (
            line_quality_cols, quality_cols)
        from ohsome_planet_spark.operators.dedup import (
            decontaminate, dedup_clusters, exact_dedup, minhash_lsh_pairs)

        cuts = {}
        step = functools.partial(cut, tracer, cuts)
        docs = self.docs
        with tracer.span("pass"):
            step("sources.docs.scan", lambda: noop(docs))
            d1 = step("operators.dedup.exact", lambda: noop(docs.join(
                exact_dedup(docs).select(F.col("canonical_id").alias("doc_id")),
                "doc_id", "left_semi")))
            pairs = step("operators.dedup.lsh", lambda: noop(minhash_lsh_pairs(
                d1, jaccard_threshold=0.8)))
            # dedup_clusters collects the pairs eagerly (its own prefix is
            # the lsh cut); the anti-join back onto d1 is a second cut
            cl = step("operators.dedup.cc", lambda: dedup_clusters(pairs))
            losers = cl.where(F.col("node") != F.col("cluster_id")) \
                .select(F.col("node").alias("doc_id"))
            d2 = step("operators.dedup.near_join",
                      lambda: noop(d1.join(losers, "doc_id", "left_anti")))
            q, lq = quality_cols(F.col("text")), line_quality_cols(F.col("text"))
            d3 = step("functions.text.quality", lambda: noop(d2.where(
                (q["n_tokens"] >= 5) & (q["punct_ratio"] <= 0.5)
                & (lq["dup_line_fraction"] <= 0.5))))
            step("operators.dedup.decontam",
                 lambda: noop(decontaminate(d3, self.bench)))
            with tracer.span("job") as job:
                u = self.unit()
                job["counts"]["cached_mb"] = _cached_mb(self.spark)
        n_pairs = pairs.count()
        c = cuts
        u.layers = {
            "operators.dedup.exact_s":
                c["operators.dedup.exact"] - c["sources.docs.scan"],
            "operators.dedup.lsh_s":
                c["operators.dedup.lsh"] - c["operators.dedup.exact"],
            "operators.dedup.pairs": n_pairs,
            "operators.dedup.cc_s":
                c["operators.dedup.cc"] - c["operators.dedup.lsh"]
                + c["operators.dedup.near_join"] - c["operators.dedup.exact"],
            "operators.dedup.decontam_s":
                c["operators.dedup.decontam"] - c["functions.text.quality"],
            "functions.text.quality_s":
                c["functions.text.quality"] - c["operators.dedup.near_join"],
            "plans.corpus.stage_rows": sum(u.layers["manifest"].values()),
            "spark.cached_mb": job["counts"]["cached_mb"],
        }
        return u

    def span_layers(self, tracer) -> dict:
        # Spark jobs of the clustering call beyond the pair-set prefix it
        # recomputes (the lsh cut)
        diffs = [cc["spark"]["jobs"] - lsh["spark"]["jobs"] for cc, lsh in zip(
            tracer.named("operators.dedup.cc"), tracer.named("operators.dedup.lsh"))]
        return {"operators.dedup.cc_jobs": statistics.median(diffs)}


# ---------------------------------------------------------------------------

STREAM_SCHEMA = "ts timestamp_ntz, lon double, lat double"
GI_ZOOM = 6


class GiStream(Workload):
    """Parquet slices read with maxFilesPerTrigger=1 into
    run_hotspot_stream; the sink materializes each batch's Gi* rows."""

    name = "gi_stream"

    def open(self):
        self.slices = self.input_dir / "slices"
        self.warm_slices = self.input_dir / "slices_warm"

    @property
    def passes_per_unit(self) -> int:
        return self.facts["slices"]

    def warm(self):
        self._stream(self.warm_slices)

    def reference(self):
        from pyspark.sql import functions as F

        from ohsome_planet_spark.operators.tiling import zxy_cell_col
        from ohsome_planet_spark.streaming.hotspot_stream import (
            hotspots_per_window)

        ev = self.spark.read.schema(STREAM_SCHEMA).parquet(str(self.slices))
        counts = ev.select(
            F.col("ts").cast("timestamp").alias("ts"),
            zxy_cell_col(F.col("lon"), F.col("lat"), GI_ZOOM).alias("cell"),
        ).groupBy(F.window("ts", "1 hour").alias("win"), "cell").agg(
            F.count("*").alias("n")).select(
            F.col("win.start").alias("window_start"), "cell", "n")
        self.ref = {(r["window_start"], r["cell"]): tuple(r[2:])
                    for r in hotspots_per_window(counts, zoom=GI_ZOOM).collect()}

    def _stream(self, src: Path):
        from ohsome_planet_spark.streaming.hotspot_stream import (
            run_hotspot_stream)

        ck = self.fresh_dir("checkpoint")
        last: dict = {}
        ends: list[float] = []
        gi: list[tuple[float, float]] = []

        def sink(df, batch_id):
            t = time.time()
            for r in df.collect():
                last[(r["window_start"], r["cell"])] = tuple(r[2:])
            now = time.time()
            gi.append((t, now))
            ends.append(now)

        stream = (self.spark.readStream.schema(STREAM_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        t0 = time.time()
        q = run_hotspot_stream(self.spark, stream, sink, zoom=GI_ZOOM,
                               checkpoint_dir=str(ck))
        try:
            q.processAllAvailable()
            t1 = time.time()
        finally:
            q.stop()
        progress = q.recentProgress
        state_dir = ck / "_gi_counts_state"
        stats = {"state_dir_bytes": _dir_bytes(state_dir),
                 "progress": progress, "gi": gi}
        shutil.rmtree(ck, ignore_errors=True)
        return t0, t1, ends, last, stats

    def unit(self) -> Unit:
        t0, t1, ends, last, stats = self._stream(self.slices)
        passes = [b - a for a, b in zip([t0] + ends, ends)]
        ok = len(ends) == self.facts["slices"] and (
            self.ref is None or last == self.ref)
        return Unit(passes, ok, self.facts["events"], t1 - t0,
                    {"t0": t0, "ends": ends, "stats": stats})

    def traced_unit(self, tracer) -> Unit:
        with tracer.span("pass"):
            with tracer.span("job") as job:
                u = self.unit()
        st = u.layers["stats"]
        prev = u.layers["t0"]
        for end, (g0, g1) in zip(u.layers["ends"], st["gi"]):
            mb = tracer.add("micro_batch", prev, end, job)
            tracer.add("operators.hotspot.gi", g0, g1, mb)
            prev = end
        # progress of micro-batches that ran (not of idle triggers)
        progress = [p for p in st["progress"] if "addBatch" in p["durationMs"]]
        add_batch = statistics.median(
            p["durationMs"]["addBatch"] / 1000.0 for p in progress)
        gi_s = statistics.median(b - a for a, b in st["gi"])
        ops = progress[-1]["stateOperators"][0] if progress else {}
        u.layers = {
            "streaming.add_batch_s": add_batch,
            "streaming.state_rows": ops.get("numRowsTotal", 0),
            "streaming.state_bytes": ops.get("memoryUsedBytes", 0),
            "operators.hotspot.gi_s": gi_s,
            "streaming.hotspot_stream.merge_s": add_batch - gi_s,
            "streaming.hotspot_stream.state_dir_bytes": st["state_dir_bytes"],
            # micro-batch time outside addBatch (planning, WAL, commits)
            "trace.residual_s": statistics.median(u.passes) - add_batch,
        }
        return u


WORKLOADS = {w.name: w for w in (WebEnrich, OsmHistory, CorpusCurate, GiStream)}
