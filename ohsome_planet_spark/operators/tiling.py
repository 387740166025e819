"""Tiling: cell-index assignment columns + per-cell aggregation.

Cell assignment runs as Arrow-batched pandas UDFs over the NumPy kernels in
functions/cells.py (hex/H3 res 7–10, S2, XZ2) — the Spark analog of the
reference's per-contribution XZ2 column (`ContributionsAvroConverter.java:127`).
The zxy quadkey is computed as a **pure JVM column expression** (no UDF at
all) — it is the partition/oracle-friendly cell and the fastest path.

Per-cell counting supports the salted two-level local/global aggregation the
north rule requires for mega-cells (see operators/skew.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions import cells as C


def zxy_cell_col(lon: Column, lat: Column, z: int) -> Column:
    """(z<<58)|(ix<<29)|iy as a JVM expression — whole-stage-codegen path.

    Clamp matches functions.cells.zxy_cell so the UDF and expression agree.
    """
    n = F.lit(1 << z)
    ix = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n)
    iy = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * n)
    ix = F.greatest(F.lit(0), F.least(ix, n - 1)).cast("long")
    iy = F.greatest(F.lit(0), F.least(iy, n - 1)).cast("long")
    return (F.lit(z).cast("long") * F.lit(1 << 58).cast("long") + F.shiftleft(ix, 29) + iy).cast(
        "long"
    )


def _series_udf(fn):
    @F.pandas_udf(LongType())
    def udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        lon_v = lon.to_numpy(dtype=np.float64, na_value=np.nan)
        lat_v = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        ok = ~(np.isnan(lon_v) | np.isnan(lat_v))
        out = np.zeros(len(lon_v), dtype=np.int64)
        if ok.any():
            out[ok] = fn(lat_v[ok], lon_v[ok])
        # nullable Int64: an int64 Series with None assigned would turn
        # float64 and round every id above 2^53
        return pd.Series(pd.arrays.IntegerArray(out, ~ok))

    return udf


def hex_cell_udf(res: int):
    return _series_udf(lambda lat, lon: C.hex_cell(lat, lon, res))


def s2_cell_udf(level: int):
    return _series_udf(lambda lat, lon: C.s2_cell_id(lat, lon, level))


def xz2_point_udf(g: int = 16):
    return _series_udf(lambda lat, lon: C.xz2_point(lon, lat, g))


def xz2_bbox_udf(g: int = 16):
    """(xmin, ymin, xmax, ymax) → struct<level:int, code:long> — the full
    Böhm XZ2 with extent-driven level selection (`util/XZCode.java:34-52`)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(
        [StructField("level", IntegerType()), StructField("code", LongType())]
    )

    @F.pandas_udf(schema)
    def udf(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series) -> pd.DataFrame:
        level, code = C.xz2_code(
            xmin.to_numpy(np.float64),
            ymin.to_numpy(np.float64),
            xmax.to_numpy(np.float64),
            ymax.to_numpy(np.float64),
            g=g,
        )
        return pd.DataFrame({"level": level, "code": code})

    return udf


def with_cells(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    hex_resolutions: tuple[int, ...] = (7, 8, 9, 10),
    s2_level: int | None = 12,
    zxy_zoom: int | None = 12,
    xz2_g: int | None = 16,
    geohash_precision: int | None = None,
) -> DataFrame:
    """Attach cell-index columns: hex_r{R}, s2_cell, zxy_cell, xz2_code
    (+ geohash when a precision is given)."""
    lon = F.col(lon_col)
    lat = F.col(lat_col)
    for r in hex_resolutions:
        df = df.withColumn(f"hex_r{r}", hex_cell_udf(r)(lon, lat))
    if s2_level is not None:
        df = df.withColumn("s2_cell", s2_cell_udf(s2_level)(lon, lat))
    if zxy_zoom is not None:
        df = df.withColumn("zxy_cell", zxy_cell_col(lon, lat, zxy_zoom))
    if xz2_g is not None:
        df = df.withColumn("xz2_code", xz2_point_udf(xz2_g)(lon, lat))
    if geohash_precision is not None:
        df = df.withColumn("geohash", geohash_col(lon, lat, geohash_precision))
    return df


def cell_counts(df: DataFrame, cell_col: str, salted: bool = False, salt_buckets: int = 32) -> DataFrame:
    """count(*) per cell. With salted=True, uses explicit two-level
    local/global aggregation (operators/skew.py) for mega-cell skew."""
    if not salted:
        return df.groupBy(cell_col).agg(F.count("*").alias("n"))
    from .skew import salted_count

    return salted_count(df, [cell_col], out_col="n", salt_buckets=salt_buckets)


def geohash_col(lon: Column, lat: Column, precision: int = 8) -> Column:
    """Base32 geohash as a pure JVM expression (no UDF) — bit-exact twin
    of functions.cells.geohash_cell (same clamp, same interleave; the
    bit loops unroll into one whole-stage-codegen expression)."""
    if not 1 <= precision <= 12:
        raise ValueError("precision must be in 1..12")
    bits = 5 * precision
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    ix = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(1 << lon_bits))
    iy = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(1 << lat_bits))
    ix = F.greatest(F.lit(0), F.least(ix, F.lit((1 << lon_bits) - 1))).cast("long")
    iy = F.greatest(F.lit(0), F.least(iy, F.lit((1 << lat_bits) - 1))).cast("long")
    code = F.lit(0).cast("long")
    for b in range(lon_bits):
        code = code + F.shiftleft(
            F.shiftright(ix, lon_bits - 1 - b).bitwiseAND(F.lit(1)),
            bits - 1 - 2 * b,
        )
    for b in range(lat_bits):
        code = code + F.shiftleft(
            F.shiftright(iy, lat_bits - 1 - b).bitwiseAND(F.lit(1)),
            bits - 2 - 2 * b,
        )
    alphabet = F.array(*[F.lit(ch) for ch in C.GEOHASH_ALPHABET])
    chars = [
        F.element_at(
            alphabet,
            (F.shiftright(code, 5 * (precision - 1 - j))
             .bitwiseAND(F.lit(31)) + F.lit(1)).cast("int"),
        )
        for j in range(precision)
    ]
    return F.concat(*chars)


def zxy_parent_col(cell: Column, child_z: int, parent_z: int) -> Column:
    """Parent cell id at `parent_z` from a packed zxy id at `child_z` —
    pure bit arithmetic, no trig, no re-scan of coordinates.

    Exactness: ix>>d == floor(t·2^(z−d)) for t=(lon+180)/360 because the
    nested-floor identity floor(floor(x·2^z)/2^d) = floor(x·2^(z−d)) holds
    for reals, and multiplying a double by a power of two is exact — so
    rollup-by-shift equals direct assignment at the coarser zoom, bit for
    bit (the tile_pyramid oracle checks exactly this)."""
    d = child_z - parent_z
    if d < 0:
        raise ValueError("parent_z must be <= child_z")
    mask = (1 << 29) - 1
    ix = F.shiftright(cell, 29).bitwiseAND(F.lit(mask))
    iy = cell.bitwiseAND(F.lit(mask))
    return (
        F.lit(parent_z).cast("long") * F.lit(1 << 58).cast("long")
        + F.shiftleft(F.shiftright(ix, d), 29)
        + F.shiftright(iy, d)
    ).cast("long")


def tile_pyramid(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    z_min: int = 8,
    z_max: int = 12,
    measures: dict[str, Column] | None = None,
) -> DataFrame:
    """Counts (+ optional exact measures) per tile for EVERY zoom in
    [z_min, z_max] — the standard map-tile pyramid build.

    Scale shape: points aggregate ONCE at z_max; every coarser level rolls
    up from the level below it via `zxy_parent_col` bit arithmetic, so the
    extra cost beyond the finest aggregate is a geometric series over
    already-aggregated rows (4× fewer per level), never a re-scan of the
    input. Each level is one hash aggregate with map-side combine.

    `measures` maps output name → aggregatable column over the INPUT rows
    (e.g. {"users": F.expr("sum(user_id)")}); use only order-insensitive
    exact types (ints, decimals) — float sums are row-order-dependent.
    Returns (z, cell, n, *measures); `cell` already encodes z in its high
    bits, the explicit z column is for partition pruning in sinks."""
    measures = measures or {}
    fine = df.select(
        zxy_cell_col(F.col(lon_col), F.col(lat_col), z_max).alias("cell"),
        *[c.alias(f"_m_{name}") for name, c in measures.items()],
    )
    aggs = [F.count("*").alias("n")] + [
        F.sum(f"_m_{name}").alias(name) for name in measures
    ]
    level = fine.groupBy("cell").agg(*aggs)

    rollup_aggs = [F.sum("n").alias("n")] + [
        F.sum(name).alias(name) for name in measures
    ]
    out = level.withColumn("z", F.lit(z_max))
    prev = level
    for z in range(z_max - 1, z_min - 1, -1):
        prev = (
            prev.select(
                zxy_parent_col(F.col("cell"), z + 1, z).alias("cell"),
                "n", *measures.keys(),
            )
            .groupBy("cell")
            .agg(*rollup_aggs)
        )
        out = out.unionByName(prev.withColumn("z", F.lit(z)))
    return out.select("z", "cell", "n", *measures.keys())


def binomial_weights(radius: int) -> list[int]:
    """C(2r, r+d) for d ∈ [-r, r] — the integer binomial kernel. Repeated
    box-blur / discrete-Gaussian smoothing weights that stay EXACT: no
    float normalization anywhere (divide by 4^r downstream if a density
    is wanted; the unnormalized integer surface is the oracle-safe one)."""
    from math import comb

    if radius < 1:
        raise ValueError("radius must be >= 1")
    return [comb(2 * radius, radius + d) for d in range(-radius, radius + 1)]


def smooth_tile_counts(
    counts: DataFrame,
    z: int,
    radius: int = 2,
    cell_col: str = "cell",
    n_col: str = "n",
) -> DataFrame:
    """(cell, smooth_n): per-tile counts convolved with the separable 2-D
    binomial kernel w(dx)·w(dy) — the integer-exact heat-map / KDE stage
    of a tile pipeline (what map renderers do before shading density).

    Scale shape: SEPARABLE convolution as two explode→aggregate passes
    (x then y), each shuffling O(cells · (2r+1)) rows with map-side
    combine — never the (2r+1)² cross product, and never the points
    (callers aggregate those once, e.g. via `tile_pyramid`). All weights
    and sums are int64 (counts ≤ ~10¹² stay exact under the ≤ C(2r, r)
    multiplier), so results are engine-replayable bit for bit.

    Edge semantics: x wraps (longitude); y clamps by DROPPING kernel mass
    past the poles (no reflection), matching how the y index itself is
    clamped at assignment."""
    w = binomial_weights(radius)
    n_tiles = 1 << z
    if 2 * radius + 1 > n_tiles:
        # a kernel wider than the grid would wrap two offsets onto the
        # same x cell and double-count its donation
        raise ValueError("kernel span 2*radius+1 must be <= 2^z tiles")
    mask = (1 << 29) - 1
    offs = F.explode(
        F.array(*[
            F.struct(F.lit(d).alias("d"), F.lit(w[d + radius]).alias("w"))
            for d in range(-radius, radius + 1)
        ])
    ).alias("_o")

    base = counts.select(
        F.shiftright(cell_col, 29).bitwiseAND(F.lit(mask)).alias("_x"),
        F.col(cell_col).bitwiseAND(F.lit(mask)).alias("_y"),
        F.col(n_col).cast("long").alias("_n"),
    )
    pass_x = (
        base.select("_x", "_y", "_n", offs)
        .select(
            F.pmod(F.col("_x") + F.col("_o.d"), F.lit(n_tiles)).alias("_x"),
            "_y",
            (F.col("_n") * F.col("_o.w")).alias("_nw"),
        )
        .groupBy("_x", "_y")
        .agg(F.sum("_nw").alias("_n1"))
    )
    pass_y = (
        pass_x.select("_x", "_y", "_n1", offs)
        .select(
            "_x",
            (F.col("_y") + F.col("_o.d")).alias("_y"),
            (F.col("_n1") * F.col("_o.w")).alias("_nw"),
        )
        .where((F.col("_y") >= 0) & (F.col("_y") < n_tiles))
        .groupBy("_x", "_y")
        .agg(F.sum("_nw").alias("smooth_n"))
    )
    return pass_y.select(
        (
            F.lit(z).cast("long") * F.lit(1 << 58).cast("long")
            + F.shiftleft(F.col("_x"), 29) + F.col("_y")
        ).alias("cell"),
        "smooth_n",
    )


def s2_parent_col(cell: Column, level: int) -> Column:
    """S2 parent id at `level` from any finer cell id — the library's
    `(id & -lsb(level)*2+...)` truncation as a JVM expression: clear the
    position bits below the target level, set the new trailing 1. Bitwise
    ops act on the raw two's-complement pattern, so signed int64 columns
    work unchanged (functions.cells.s2_parent is the NumPy twin)."""
    lsb = 1 << (2 * (30 - level))
    mask = ~(2 * lsb - 1) & ((1 << 64) - 1)
    mask_signed = mask - (1 << 64) if mask >= (1 << 63) else mask
    return cell.bitwiseAND(F.lit(mask_signed)).bitwiseOR(F.lit(lsb)) \
        .cast("long")


def tile_top_k(
    df: DataFrame,
    cell_col: str,
    item_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-k items per tile by count — "what dominates each cell" (the
    map-label / tile-summary primitive). (cell, item, n, rank) with a
    deterministic (n desc, item asc) tiebreak.

    Two-level shape: the (cell, item) counts aggregate map-side first, so
    the per-cell window only ranks already-reduced rows — a mega-cell
    costs O(distinct items), not O(points)."""
    from pyspark.sql.window import Window

    counts = df.groupBy(cell_col, item_col).agg(F.count("*").alias("n"))
    w = Window.partitionBy(cell_col).orderBy(
        F.desc("n"), F.asc(item_col))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cover_cells(
    df: DataFrame,
    zoom: int,
    xmin: str = "xmin",
    ymin: str = "ymin",
    xmax: str = "xmax",
    ymax: str = "ymax",
    out_col: str = "cell",
) -> DataFrame:
    """Vector→raster: explode each bbox into every zxy cell it covers.

    The rasterization half of the raster↔vector pair (zonal_stats is the
    other direction): one output row per (input row, covered cell), packed
    like zxy_cell_col ((z<<58)|(ix<<29)|iy). All JVM — two index-range
    sequences and a double explode, so Catalyst keeps it in codegen and the
    fan-out is bounded by the bbox extent (callers pick the zoom so a
    feature covers O(1..100) cells; a planet-sized bbox at z=16 is the
    caller's bug, not a shuffle surprise). Boxes are clamped to world
    bounds; antimeridian-crossing boxes (xmin > xmax) are the caller's
    concern (split first). Degenerate (point) boxes cover exactly 1 cell.
    """
    n = F.lit(1 << zoom)
    nmax = F.lit((1 << zoom) - 1)
    zero = F.lit(0).cast("long")

    def clamp(c):
        return F.greatest(zero, F.least(c.cast("long"), nmax.cast("long")))

    ix0 = clamp(F.floor((F.col(xmin) + F.lit(180.0)) / F.lit(360.0) * n))
    ix1 = clamp(F.floor((F.col(xmax) + F.lit(180.0)) / F.lit(360.0) * n))
    # y flips: ymax (north) → smaller iy
    iy0 = clamp(F.floor((F.lit(90.0) - F.col(ymax)) / F.lit(180.0) * n))
    iy1 = clamp(F.floor((F.lit(90.0) - F.col(ymin)) / F.lit(180.0) * n))
    base = F.lit(zoom).cast("long") * F.lit(1 << 58).cast("long")
    return (
        df.withColumn("_ix", F.explode(F.sequence(ix0, ix1)))
        .withColumn("_iy", F.explode(F.sequence(iy0, iy1)))
        .withColumn(out_col, base + F.shiftleft(F.col("_ix"), 29) + F.col("_iy"))
        .drop("_ix", "_iy")
    )
