"""Seeded input generators, one per workload.

Each generator takes the seed as an argument and writes its inputs into a
directory of its own; the same (workload, seed) always yields the same
files. Inputs are cached per (workload, seed) under the benchmark's cache
directory, so a repeated seed skips generation. Generation time counts
toward no metric.

Each generator also returns the facts it knows by construction (mention
totals, planted copies, deleted elements, ...) that the output checks in
`workloads.py` compare against.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from pathlib import Path

import numpy as np

# the few hot entities that receive ~60% of all mentions (mega-cells)
HOT_ENTITIES = 6
SIZES = {
    "web_enrich": {"pages": 500_000, "gazetteer": 100_000},
    "osm_history": {"tagged_nodes": 1_500, "versions_per_node": 6,
                    "way_nodes": 4_500, "ways": 750, "relations": 75},
    "corpus_curate": {"base_docs": 2_500, "copies": 250, "chains": 100,
                      "chain_len": 3, "noisy": 150, "contaminated": 80},
    "gi_stream": {"slices": 6, "warm_slices": 2, "events_per_slice": 4_000,
                  "slice_minutes": 20},
}
KEEP_CACHED = 3  # cached seeds kept per workload (oldest evicted)


def make_inputs(cache_root: Path, workload: str, seed: int,
                spark) -> tuple[Path, dict, float]:
    """The (workload, seed) inputs, generated first unless cached.
    → (input directory, facts, seconds spent generating or loading)."""
    t = time.perf_counter()
    base = cache_root / "inputs"
    # the key carries the sizes, so a changed size never reads stale inputs
    key = hashlib.sha256(json.dumps(SIZES[workload], sort_keys=True)
                         .encode()).hexdigest()[:8]
    out = base / f"{workload}-{seed}-{key}"
    facts_file = out / "facts.json"
    if facts_file.exists():
        os.utime(out)
        return out, json.loads(facts_file.read_text()), time.perf_counter() - t
    if out.exists():
        shutil.rmtree(out)
    tmp = base / f".{out.name}.tmp"
    if tmp.exists():
        shutil.rmtree(tmp)
    tmp.mkdir(parents=True)
    facts = GENERATORS[workload](spark, tmp, seed)
    (tmp / "facts.json").write_text(json.dumps(facts, sort_keys=True))
    tmp.rename(out)
    olds = sorted((p for p in base.glob(f"{workload}-*") if p != out),
                  key=lambda p: p.stat().st_mtime)
    for p in olds[: max(0, len(olds) - (KEEP_CACHED - 1))]:
        shutil.rmtree(p, ignore_errors=True)
    return out, facts, time.perf_counter() - t


# ---------------------------------------------------------------------------
# web_enrich: stored pages table + custom gazetteer
# ---------------------------------------------------------------------------

def _invalid_entity(idx, salt: int):
    """~1% of the cold entities carry null or out-of-range coordinates.
    Works on numpy arrays and on Spark columns alike."""
    return (idx >= HOT_ENTITIES) & ((idx * 7919 + salt) % 100 == 0)


def gen_web_enrich(spark, out: Path, seed: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    n_pages = SIZES["web_enrich"]["pages"]
    n_gaz = SIZES["web_enrich"]["gazetteer"]
    rng = np.random.default_rng(seed % 2**63)
    salt = seed % 100  # non-negative, so numpy and Spark agree on the modulo

    idx = np.arange(n_gaz, dtype=np.int64)
    lon = rng.uniform(-4.0, 44.0, n_gaz)
    lat = rng.uniform(-4.0, 44.0, n_gaz)
    # hot entities sit in one dense urban cluster
    lon[:HOT_ENTITIES] = 7.6 + rng.uniform(-0.02, 0.02, HOT_ENTITIES)
    lat[:HOT_ENTITIES] = 12.3 + rng.uniform(-0.02, 0.02, HOT_ENTITIES)
    bad = _invalid_entity(idx, salt)
    kind = idx % 4  # which way an invalid entity is broken
    lon_null = bad & ((kind == 0) | (kind == 2))
    lat_null = bad & ((kind == 1) | (kind == 2))
    lat = np.where(bad & (kind == 3), 95.0, lat)
    gaz = pa.table({
        "entity": pa.array([f"P{i}" for i in range(n_gaz)]),
        "lat": pa.array(lat, mask=lat_null),
        "lon": pa.array(lon, mask=lon_null),
    })
    pq.write_table(gaz, out / "gazetteer.parquet")

    s = F.lit(seed)

    def h(slot: int):
        return F.abs(F.xxhash64(F.col("id"), s, F.lit(slot)))

    def pick(slot: int):
        u = h(10 * slot) % 100
        hot = h(10 * slot + 1) % HOT_ENTITIES
        cold = HOT_ENTITIES + h(10 * slot + 2) % (n_gaz - HOT_ENTITIES)
        # -1 marks a name that is not in the gazetteer (unmatched mention)
        return F.when(u < 60, hot).when(u < 62, F.lit(-1)).otherwise(cold)

    mentions = F.lit(1) + h(0) % 3
    gen = spark.range(n_pages).select(
        "id", mentions.alias("m"), pick(1).alias("e1"), pick(2).alias("e2"),
        pick(3).alias("e3"))

    def name(c):
        return F.when(F.col(c) < 0, F.concat(F.lit("Q"), F.col("id").cast("string"))) \
            .otherwise(F.concat(F.lit("P"), F.col(c).cast("string")))

    text = F.concat(
        F.lit("report from the district near @@"), name("e1"), F.lit("@@ today"),
        F.when(F.col("m") >= 2, F.concat(F.lit(" then @@"), name("e2"), F.lit("@@")))
        .otherwise(F.lit("")),
        F.when(F.col("m") >= 3, F.concat(F.lit(" and @@"), name("e3"), F.lit("@@")))
        .otherwise(F.lit("")),
        F.lit(" (crawl "), F.col("id").cast("string"), F.lit(")"),
    )
    pages = gen.select(
        F.concat(F.lit("https://site"), (h(7) % 500).cast("string"),
                 F.lit(".example.org/p/"), F.col("id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1_700_000_000) + h(8) % 31_536_000).alias("warc_ts"),
        F.encode(F.concat(F.lit("<p>"), text, F.lit("</p>")), "UTF-8").alias("html"),
        text.alias("text"),
        F.element_at(F.array(*[F.lit(x) for x in ("en", "de", "fr")]),
                     (h(9) % 3 + 1).cast("int")).alias("lang"),
    )
    pages.write.mode("overwrite").parquet(str(out / "pages.parquet"))

    # totals by construction, from the generating expressions
    slots = [(F.col("m") >= k, F.col(f"e{k}")) for k in (1, 2, 3)]
    matched = sum(F.when(on & (e >= 0), 1).otherwise(0) for on, e in slots)
    valid = sum(F.when(on & (e >= 0) & ~_invalid_entity(e, salt), 1).otherwise(0)
                for on, e in slots)
    row = gen.agg(F.sum("m").alias("mentions"), F.sum(matched).alias("matched"),
                  F.sum(valid).alias("valid")).collect()[0]
    return {"pages": n_pages, "gazetteer": n_gaz,
            "invalid_entities": int(bad.sum()),
            "mentions": int(row["mentions"]), "matched": int(row["matched"]),
            "valid_mentions": int(row["valid"])}


# ---------------------------------------------------------------------------
# osm_history: history PBF + changesets
# ---------------------------------------------------------------------------

T0_MS = 1_500_000_000_000


def gen_osm_history(spark, out: Path, seed: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ohsome_planet_spark.sources.pbf import write_osm_pbf

    z = SIZES["osm_history"]
    rng = np.random.default_rng(seed % 2**63)
    n_tag, n_way_nodes = z["tagged_nodes"], z["way_nodes"]
    vmax = z["versions_per_node"]
    changeset_ids = set()
    nodes: list[dict] = []
    deleted = 0

    def cs(t):
        c = 1 + int(t // 3_600_000) % 5_000  # one changeset per hour slot
        changeset_ids.add(c)
        return c

    # tagged POI nodes: 1..2*vmax-1 versions, ~5% end deleted
    for i in range(n_tag):
        nv = int(rng.integers(1, 2 * vmax))
        lon, lat = rng.uniform(1.0, 39.0, 2)
        t = T0_MS + int(rng.integers(0, 10**9))
        dies = nv > 1 and rng.random() < 0.05
        deleted += dies
        for v in range(1, nv + 1):
            t += int(rng.integers(60_000, 10**8))
            last = v == nv
            nodes.append({
                "id": i + 1, "version": v, "ts_ms": t, "changeset": cs(t),
                "uid": int(i % 97), "user": f"u{i % 97}",
                "visible": not (last and dies),
                "tags": {"amenity": ("cafe", "bench", "shop")[v % 3],
                         "name": f"n{i}"},
                "lon": lon + 0.001 * v, "lat": lat,
            })
    # untagged way member nodes on a grid of small blocks; a few move
    wn0 = n_tag + 1
    way_node_pos = {}
    for j in range(n_way_nodes):
        nid = wn0 + j
        bx, by = rng.uniform(1.0, 39.0, 2)
        way_node_pos[nid] = (bx, by)
        nv = 2 if rng.random() < 0.2 else 1
        t = T0_MS + int(rng.integers(0, 10**9))
        for v in range(1, nv + 1):
            t += int(rng.integers(60_000, 10**9))
            nodes.append({
                "id": nid, "version": v, "ts_ms": t, "changeset": cs(t),
                "uid": int(j % 89), "user": f"u{j % 89}", "visible": True,
                "tags": {}, "lon": bx + 0.0005 * v, "lat": by,
            })
    nodes.sort(key=lambda n: (n["id"], n["version"]))

    ways: list[dict] = []
    way_ids = []
    for w in range(z["ways"]):
        wid = w + 1
        r = rng.random()
        if r < 0.03:  # the long tail: >= 48 refs
            k = int(rng.integers(48, 80))
        else:
            k = int(rng.integers(3, 9))
        start = int(rng.integers(0, n_way_nodes - k))
        refs = [wn0 + start + q for q in range(k)]
        area = w % 5 == 0
        if area:
            refs = refs + [refs[0]]
        nv = int(rng.integers(1, 4))
        t = T0_MS + int(rng.integers(0, 10**9))
        for v in range(1, nv + 1):
            t += int(rng.integers(60_000, 10**9))
            ways.append({
                "id": wid, "version": v, "ts_ms": t, "changeset": cs(t),
                "uid": w % 71, "user": f"u{w % 71}", "visible": True,
                "tags": {"building": "yes"} if area else
                        {"highway": ("path", "residential")[v % 2]},
                "refs": refs,
            })
        way_ids.append(wid)

    relations: list[dict] = []
    for q in range(z["relations"]):
        members = [("way", int(x), "outer" if q % 2 else "")
                   for x in rng.choice(way_ids, size=int(rng.integers(2, 6)),
                                       replace=False)]
        if q % 3 == 0:
            members.append(("node", int(rng.integers(1, n_tag + 1)), "stop"))
        t = T0_MS + 2 * 10**9 + int(rng.integers(0, 10**9))
        relations.append({
            "id": q + 1, "version": 1, "ts_ms": t, "changeset": cs(t),
            "uid": q % 13, "user": f"u{q % 13}", "visible": True,
            "tags": {"type": "multipolygon"} if q % 2 else
                    {"type": "route", "route": "bus"},
            "members": members,
        })
    write_osm_pbf(out / "history.osm.pbf", nodes, ways, relations,
                  nodes_per_block=4_000)

    ids = sorted(changeset_ids)
    pq.write_table(pa.table({
        "id": pa.array(ids, pa.int64()),
        "created_at": pa.array([np.datetime64(T0_MS + c * 3_600_000, "ms")
                                for c in ids], pa.timestamp("ms")),
        "closed_at": pa.array([None] * len(ids), pa.timestamp("ms")),
        "num_changes": pa.array([c % 50 + 1 for c in ids], pa.int32()),
        "tags": pa.array([[("created_by", "editorX"),
                           ("comment", f"#task{c % 7} edit")] for c in ids],
                         pa.map_(pa.string(), pa.string())),
    }), out / "changesets.parquet")
    return {"entity_versions": len(nodes) + len(ways) + len(relations),
            "node_versions": len(nodes), "tagged_node_versions":
            sum(1 for n in nodes if n["tags"]),
            "way_versions": len(ways), "relations": len(relations),
            "deleted": int(deleted)}


# ---------------------------------------------------------------------------
# corpus_curate: documents with planted duplicates, noise and leakage
# ---------------------------------------------------------------------------

_VOCAB_SIZE = 3_000


def gen_corpus_curate(spark, out: Path, seed: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    z = SIZES["corpus_curate"]
    rng = np.random.default_rng(seed % 2**63)
    vocab = np.array([f"w{v}x{seed % 97}" for v in range(_VOCAB_SIZE)])

    def words(k):
        return list(vocab[rng.integers(0, _VOCAB_SIZE, k)])

    texts: list[str] = []
    # unique base documents: random prose in 3-6 lines
    for i in range(z["base_docs"]):
        lines = [" ".join(words(int(rng.integers(8, 16))) + [f"d{i}"])
                 for _ in range(int(rng.integers(3, 7)))]
        texts.append(".\n".join(lines) + ".")
    n_base = len(texts)
    # benchmark (eval) passages, and documents that leak one of them
    bench = [" ".join(words(30)) for _ in range(max(1, z["contaminated"] // 4))]
    for c in range(z["contaminated"]):
        texts.append(" ".join(words(20)) + " " + bench[c % len(bench)] + f" c{c}.")
    # near-duplicate chains: each link swaps one word of its predecessor
    for c in range(z["chains"]):
        cur = words(60) + [f"chain{c}"]
        texts.append(" ".join(cur))
        for _ in range(z["chain_len"] - 1):
            cur = list(cur)
            pos = int(rng.integers(0, 60))
            word = cur[pos]
            while word == cur[pos]:  # a swap to the same word is an exact copy
                word = str(vocab[int(rng.integers(0, _VOCAB_SIZE))])
            cur[pos] = word
            texts.append(" ".join(cur))
    # noise the quality filter drops: punctuation runs and repeated lines
    for c in range(z["noisy"]):
        if c % 2:
            texts.append(" ".join(w + "!!??;;" for w in words(12)) + f" n{c}")
        else:
            line = " ".join(words(10))
            texts.append("\n".join([line] * 6 + [f"n{c}"]))
    # exact copies of base documents (the originals stay unique)
    src = rng.choice(n_base, size=z["copies"], replace=False)
    texts.extend(texts[int(k)] for k in src)

    order = rng.permutation(len(texts))
    doc_ids = np.arange(1, len(texts) + 1, dtype=np.int64)
    pq.write_table(pa.table({
        "doc_id": pa.array(doc_ids),
        "text": pa.array([texts[int(k)] for k in order]),
        "source": pa.array([f"src{int(k) % 3}" for k in order]),
    }), out / "docs.parquet")
    pq.write_table(pa.table({"text": pa.array(bench)}), out / "benchmark.parquet")
    return {"docs": len(texts), "planted_copies": int(z["copies"]),
            "chains": int(z["chains"]), "chain_len": int(z["chain_len"])}


# ---------------------------------------------------------------------------
# gi_stream: time-ordered parquet slices of point events
# ---------------------------------------------------------------------------

def gen_gi_stream(spark, out: Path, seed: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    z = SIZES["gi_stream"]
    rng = np.random.default_rng(seed % 2**63)
    slice_s = z["slice_minutes"] * 60
    t0 = 1_700_000_000 - 1_700_000_000 % 3600  # hour-aligned start
    d = out / "slices"
    d.mkdir()
    n = z["events_per_slice"]
    # a few persistent hotspots plus uniform background
    centers = rng.uniform(-60.0, 60.0, (5, 2))
    for k in range(z["slices"]):
        hot = rng.random(n) < 0.4
        c = centers[rng.integers(0, len(centers), n)]
        lon = np.where(hot, c[:, 0] + rng.normal(0, 4.0, n), rng.uniform(-170, 170, n))
        lat = np.where(hot, c[:, 1] + rng.normal(0, 3.0, n), rng.uniform(-80, 80, n))
        ts = np.sort(t0 + k * slice_s + rng.integers(0, slice_s, n))
        pq.write_table(pa.table({
            "ts": pa.array(ts * 1_000_000, pa.timestamp("us")),
            "lon": pa.array(lon), "lat": pa.array(lat),
        }), d / f"part-{k:04d}.parquet")
    # a short stream of the first slices, for warm-up runs
    w = out / "slices_warm"
    w.mkdir()
    for k in range(z["warm_slices"]):
        shutil.copy(d / f"part-{k:04d}.parquet", w / f"part-{k:04d}.parquet")
    return {"events": n * z["slices"], "slices": z["slices"]}


GENERATORS = {
    "web_enrich": gen_web_enrich,
    "osm_history": gen_osm_history,
    "corpus_curate": gen_corpus_curate,
    "gi_stream": gen_gi_stream,
}
