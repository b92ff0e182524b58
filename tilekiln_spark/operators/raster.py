"""Raster <-> vector operators (north_rule: "raster<->vector" alongside the
spatial join / kNN / tiling family).

Spark-first framing: a raster is just an aggregation grid —

- ``rasterize``     — points -> per-tile res x res cell counts as ROWS
  (zoom, x, y, bin_x, bin_y, n): one groupBy, fully distributed, no UDF.
- ``raster_grids``  — the storage form: rows -> one uint32 little-endian
  grid blob per tile (res*res*4 bytes), via the same sorted-stream
  mapInPandas shape as the MVT encoder.
- ``vectorize``     — raster rows -> vector cells: bins with n >= threshold
  become axis-aligned polygons (mercator bbox + ring arrays), directly
  consumable by points_in_polygons / the polygon tile builders — closing
  the raster->vector->join loop.

All three are column math + one aggregation; the DuckDB oracle re-derives
rasterize+vectorize end-to-end (driver query ``raster_vectorize``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tilekiln_spark.functions.tileids import (
    HALF_WORLD,
    tile_length_col,
    tile_x,
    tile_y,
)
from tilekiln_spark.operators.local_solve import MAX_LOCAL_ROWS, collect_local, local_frame


def rasterize(
    points: DataFrame, zoom: int, res: int = 256, mx: str = "mx", my: str = "my"
) -> DataFrame:
    """Per-tile res x res histogram: (zoom, x, y, bin_x, bin_y, n)."""
    z = F.lit(zoom)
    pmx, pmy = F.col(mx), F.col(my)
    d = points.withColumn("x", tile_x(z, pmx)).withColumn("y", tile_y(z, pmy))
    # Use tile_length_col directly, not (xmax - xmin): the add-then-subtract
    # round-trip through envelope_cols differs in the last ulp from the
    # oracle's direct 2*HW/2^z, and floor() at a cell boundary amplifies it.
    length = tile_length_col(z.cast("int"))
    xmin = F.lit(-HALF_WORLD) + F.col("x") * length
    ymax = F.lit(HALF_WORLD) - F.col("y") * length
    bx = F.least(F.floor((pmx - xmin) / length * res), F.lit(res - 1)).cast("int")
    by = F.least(F.floor((ymax - pmy) / length * res), F.lit(res - 1)).cast("int")
    return (
        d.withColumn("zoom", z.cast("int"))
        .withColumn("bin_x", F.greatest(bx, F.lit(0)))
        .withColumn("bin_y", F.greatest(by, F.lit(0)))
        .groupBy("zoom", "x", "y", "bin_x", "bin_y")
        .agg(F.count("*").alias("n"))
    )


def raster_grids(raster_rows: DataFrame, res: int = 256) -> DataFrame:
    """Rows -> one uint32-LE grid blob per tile (row-major, y down):
    (zoom, x, y, grid binary, n_points long)."""
    out_schema = "zoom int, x int, y int, grid binary, n_points long"

    def assemble(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            key = (
                (pdf["zoom"].to_numpy().astype(np.int64) << np.int64(58))
                | (pdf["x"].to_numpy().astype(np.int64) << np.int64(29))
                | pdf["y"].to_numpy().astype(np.int64)
            )
            body_end = np.flatnonzero(key != key[-1])
            if len(body_end) == 0:
                carry = pdf
                continue
            cut = int(body_end[-1]) + 1
            carry = pdf.iloc[cut:]
            yield _emit_grids(pdf.iloc[:cut], res)
        if carry is not None and len(carry):
            yield _emit_grids(carry, res)

    return (
        raster_rows.repartition("zoom", "x", "y")
        .sortWithinPartitions("zoom", "x", "y")
        .mapInPandas(assemble, out_schema)
    )


def _emit_grids(pdf: pd.DataFrame, res: int) -> pd.DataFrame:
    z = pdf["zoom"].to_numpy().astype(np.int64)
    x = pdf["x"].to_numpy().astype(np.int64)
    y = pdf["y"].to_numpy().astype(np.int64)
    bx = pdf["bin_x"].to_numpy().astype(np.int64)
    by = pdf["bin_y"].to_numpy().astype(np.int64)
    n = pdf["n"].to_numpy().astype(np.int64)
    key = (z << np.int64(58)) | (x << np.int64(29)) | y
    starts = np.flatnonzero(np.concatenate([[True], key[1:] != key[:-1]]))
    ends = np.concatenate([starts[1:], [len(key)]])
    out = {"zoom": [], "x": [], "y": [], "grid": [], "n_points": []}
    for s, e in zip(starts, ends):
        grid = np.zeros(res * res, dtype=np.uint32)
        grid[by[s:e] * res + bx[s:e]] = n[s:e]
        out["zoom"].append(int(z[s]))
        out["x"].append(int(x[s]))
        out["y"].append(int(y[s]))
        out["grid"].append(grid.tobytes())
        out["n_points"].append(int(n[s:e].sum()))
    return pd.DataFrame(out)


def vectorize(
    raster_rows: DataFrame, res: int = 256, threshold: int = 1
) -> DataFrame:
    """Raster cells with n >= threshold -> axis-aligned vector polygons in
    mercator (bbox + ring arrays) — feedable straight into
    points_in_polygons (polys side) or the polygon tile builders."""
    kept = raster_rows.filter(F.col("n") >= threshold)
    # cell = tile_length/res directly (NOT (txmax-txmin)/res): envelope_cols'
    # xmin+length round-trip is off by one ulp from 2*HW/2^z, and round(x, 3)
    # at a .0005 boundary amplifies that into a visible value mismatch vs the
    # DuckDB oracle.  Each bound is derived from txmin/tymax with the exact
    # arithmetic order the oracle uses: base + (bin[+1]) * cell.
    length = tile_length_col(F.col("zoom"))
    txmin = F.lit(-HALF_WORLD) + F.col("x") * length
    tymax = F.lit(HALF_WORLD) - F.col("y") * length
    cell = length / res
    cxmin = txmin + F.col("bin_x") * cell
    cxmax = txmin + (F.col("bin_x") + 1) * cell
    cymax = tymax - F.col("bin_y") * cell
    cymin = tymax - (F.col("bin_y") + 1) * cell
    return kept.select(
        "zoom", "x", "y", "bin_x", "bin_y", "n",
        cxmin.alias("xmin"), cymin.alias("ymin"),
        cxmax.alias("xmax"), cymax.alias("ymax"),
        F.array(cxmin, cxmax, cxmax, cxmin).alias("ring_xs"),
        F.array(cymin, cymin, cymax, cymax).alias("ring_ys"),
    )


def cell_centers(raster_rows: DataFrame, res: int = 256) -> DataFrame:
    """Raster cells -> their center POINTS (mx, my): the dual of
    ``vectorize`` — instead of a cell polygon, the representative point the
    zonal rule tests (GDAL's default cell-center containment).  Exact
    arithmetic order matches ``vectorize``'s bound derivation: base +
    (bin + 0.5) * (tile_length / res)."""
    length = tile_length_col(F.col("zoom"))
    txmin = F.lit(-HALF_WORLD) + F.col("x") * length
    tymax = F.lit(HALF_WORLD) - F.col("y") * length
    cell = length / res
    return raster_rows.select(
        "zoom", "x", "y", "bin_x", "bin_y", "n",
        (txmin + (F.col("bin_x") + 0.5) * cell).alias("mx"),
        (tymax - (F.col("bin_y") + 0.5) * cell).alias("my"),
    )


def zonal_stats(
    raster_rows: DataFrame,
    polys: DataFrame,
    res: int = 256,
    grid_zoom: int = 4,
    value: str = "n",
    refine: str | None = None,
) -> DataFrame:
    """Zonal statistics: per-polygon aggregates of the raster cells whose
    CENTERS fall inside the zone (the standard GDAL/rasterstats rule).
    PostGIS ``ST_SummaryStats(ST_Clip(rast, geom))``'s distributed
    re-expression.

    Shape: cell centers are just points, so the zone join IS the audited
    grid PIP equi-join (`points_in_polygons` — bounded bbox-cell explode on
    the polygon side, one cell per raster bin, concave-safe refine), and the
    stats are ONE map-side-combinable groupBy over the join output.  The
    raster side arrives pre-aggregated (``rasterize``'s groupBy already
    collapsed raw points to <= res*res rows per tile), so at 100 TB the
    join input is the COMPRESSED raster, not the raw point set — zonal
    stats over a trillion points costs a point-table groupBy plus a join
    over bounded-cardinality cells.

    Returns one row per polygon: n_cells, total, mean_val (rounded 6),
    min_val, max_val.
    """
    from tilekiln_spark.operators.spatial_join import points_in_polygons

    centers = cell_centers(raster_rows, res)
    kwargs = {} if refine is None else {"refine": refine}
    j = points_in_polygons(centers, polys, how="grid", grid_zoom=grid_zoom, **kwargs)
    v = F.col(value)
    return j.groupBy("polygon_id").agg(
        F.count("*").alias("n_cells"),
        F.sum(v).alias("total"),
        (F.round(F.avg(v), 6) + 0.0).alias("mean_val"),
        F.min(v).alias("min_val"),
        F.max(v).alias("max_val"),
    )


def _stencil9(cells: DataFrame, res: int) -> DataFrame:
    """Shared 3x3 window assembly for the Horn-gradient family
    (:func:`hillshade`, :func:`slope_aspect`): global cell coords, 9-way
    tagged neighbor explode, ONE partial-aggregated groupBy per target.
    Returns [tgx, tgy, z0..z8, present] with absent neighbors 0 and
    ``present`` marking targets that are real input cells."""
    src = cells.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
        F.col("n").cast("double").alias("v"),
    )
    structs = []
    k = 0
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            structs.append(
                F.struct(
                    (F.col("gx") - dx).alias("tgx"),
                    (F.col("gy") - dy).alias("tgy"),
                    F.lit(k).alias("k"),
                )
            )
            k += 1
    ex = src.select("v", F.explode(F.array(*structs)).alias("c")).select(
        F.col("c.tgx").alias("tgx"),
        F.col("c.tgy").alias("tgy"),
        F.col("c.k").alias("k"),
        "v",
    )
    zc = [
        F.coalesce(F.sum(F.when(F.col("k") == i, F.col("v"))), F.lit(0.0)).alias(f"z{i}")
        for i in range(9)
    ]
    present = F.max(F.when(F.col("k") == 4, F.lit(1)).otherwise(F.lit(0))).alias(
        "present"
    )
    return ex.groupBy("tgx", "tgy").agg(*zc, present)


def _horn_gradients(z: list, cell_size: float):
    """Horn 3x3 finite-difference gradients shared by hillshade and
    slope/aspect (identical term order on both engines)."""
    c8 = F.lit(8.0 * float(cell_size))
    dzdx = ((z[2] + z[5] * 2.0 + z[8]) - (z[0] + z[3] * 2.0 + z[6])) / c8
    dzdy = ((z[6] + z[7] * 2.0 + z[8]) - (z[0] + z[1] * 2.0 + z[2])) / c8
    return dzdx, dzdy


def hillshade(
    cells: DataFrame,
    res: int = 256,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    cell_size: float = 1.0,
    z_factor: float = 1.0,
) -> DataFrame:
    """Horn-method hillshade over the sparse :func:`rasterize` cells
    (PostGIS ``ST_HillShade`` / GDAL ``gdaldem hillshade`` parity on the
    count raster).  The classic distributed STENCIL shape:

    1. cells get GLOBAL coordinates (gx = x·res + bin_x) so the 3×3 window
       crosses tile borders,
    2. each source cell explodes to its 9 neighbor TARGETS tagged with the
       window position — one map-side pass,
    3. one partial-aggregated groupBy per target assembles the window
       (each (target, position) receives at most one contribution; absent
       neighbors are 0 — the sparse-raster contract), and
    4. Horn gradients + the standard zenith/azimuth shade formula run as
       pure trig expressions.

    Output rows are restricted to cells PRESENT in the input (an absent
    cell has no elevation sample; shading the infinite zero plain would be
    noise).  Returns [gx, gy, shade] with shade in [0, 255].
    At 100 TB: explode factor is exactly 9, the groupBy partial-aggregates
    map-side, and no window function or self-join materializes the dense
    raster."""
    import math

    agg = _stencil9(cells, res)
    z = [F.col(f"z{i}") for i in range(9)]
    dzdx, dzdy = _horn_gradients(z, cell_size)
    slope = F.atan(F.lit(float(z_factor)) * F.sqrt(dzdx * dzdx + dzdy * dzdy))
    aspect = F.atan2(dzdy, -dzdx)
    zen = math.radians(90.0 - float(altitude_deg))
    azm = math.radians((360.0 - float(azimuth_deg) + 90.0) % 360.0)
    shade = F.lit(255.0) * (
        F.lit(math.cos(zen)) * F.cos(slope)
        + F.lit(math.sin(zen)) * F.sin(slope) * F.cos(F.lit(azm) - aspect)
    )
    return agg.where(F.col("present") == 1).select(
        F.col("tgx").alias("gx"),
        F.col("tgy").alias("gy"),
        (F.greatest(F.round(shade, 6), F.lit(0.0)) + F.lit(0.0)).alias("shade"),
    )


def slope_aspect(
    cells: DataFrame,
    res: int = 256,
    cell_size: float = 1.0,
    z_factor: float = 1.0,
) -> DataFrame:
    """GDAL ``gdaldem slope`` + ``gdaldem aspect`` over the sparse count
    raster: the other two faces of the Horn-gradient family, off the SAME
    shared 3x3 stencil as :func:`hillshade` (``_stencil9`` /
    ``_horn_gradients`` — one explode, one partial-agg groupBy, pure trig
    expressions, no dense raster).

    Conventions (documented, twin-mirrored): slope in degrees
    ``atan(z_factor * sqrt(p^2 + q^2))``; aspect in compass degrees
    [0, 360) measured clockwise from grid north via
    ``(degrees(atan2(dzdy, -dzdx)) + 360) % 360``, with FLAT cells (both
    gradients exactly 0) emitting -1.0 instead of GDAL's -9999 nodata.
    Output [gx, gy, slope_deg, aspect_deg] restricted to present cells."""
    agg = _stencil9(cells, res)
    z = [F.col(f"z{i}") for i in range(9)]
    dzdx, dzdy = _horn_gradients(z, cell_size)
    slope_deg = F.degrees(
        F.atan(F.lit(float(z_factor)) * F.sqrt(dzdx * dzdx + dzdy * dzdy))
    )
    aspect_deg = F.when(
        (dzdx == 0.0) & (dzdy == 0.0), F.lit(-1.0)
    ).otherwise(F.pmod(F.degrees(F.atan2(dzdy, -dzdx)) + 360.0, F.lit(360.0)))
    return agg.where(F.col("present") == 1).select(
        F.col("tgx").alias("gx"),
        F.col("tgy").alias("gy"),
        (F.round(slope_deg, 6) + F.lit(0.0)).alias("slope_deg"),
        (F.round(aspect_deg, 6) + F.lit(0.0)).alias("aspect_deg"),
    )


def terrain_measures(cells: DataFrame, res: int = 256) -> DataFrame:
    """GDAL ``gdaldem TRI`` (both algorithms), ``gdaldem TPI`` and
    ``gdaldem roughness`` over the sparse count raster — the remaining
    window-statistic faces of the terrain family, off the SAME shared 3x3
    stencil as hillshade/slope (:func:`_stencil9`): one 9-way tagged
    neighbor explode, ONE partial-aggregated groupBy per target, then pure
    arithmetic expressions (no trig, no Python).

    Definitions (gdaldem parity on the count grid; absent neighbors are 0
    per the sparse-raster contract, like slope/aspect):

    - ``tri_riley``  = sqrt(Σ_{i≠4} (z_i − z_4)²)          (Riley 1999,
      gdaldem TRI default)
    - ``tri_wilson`` = Σ_{i≠4} |z_i − z_4| / 8             (Wilson 2007,
      ``-alg Wilson``)
    - ``tpi``        = z_4 − Σ_{i≠4} z_i / 8               (topographic
      position index)
    - ``roughness``  = max(window) − min(window)            (all 9 cells)

    Neighbor sums run in fixed index order 0,1,2,3,5,6,7,8 (left-assoc)
    so the DuckDB twin is bit-identical.  Output
    [gx, gy, tri_riley, tri_wilson, tpi, roughness] restricted to present
    cells, rounded to 6.  At 100 TB: identical cost profile to hillshade —
    explode factor exactly 9, map-side partial agg, no dense raster."""
    agg = _stencil9(cells, res)
    z = [F.col(f"z{i}") for i in range(9)]
    nbrs = [0, 1, 2, 3, 5, 6, 7, 8]
    sq = None
    ab = None
    sm = None
    for i in nbrs:
        d = z[i] - z[4]
        sq = d * d if sq is None else sq + d * d
        ab = F.abs(d) if ab is None else ab + F.abs(d)
        sm = z[i] if sm is None else sm + z[i]
    tri_riley = F.sqrt(sq)
    tri_wilson = ab / F.lit(8.0)
    tpi = z[4] - sm / F.lit(8.0)
    rough = F.greatest(*z) - F.least(*z)
    return agg.where(F.col("present") == 1).select(
        F.col("tgx").alias("gx"),
        F.col("tgy").alias("gy"),
        (F.round(tri_riley, 6) + F.lit(0.0)).alias("tri_riley"),
        (F.round(tri_wilson, 6) + F.lit(0.0)).alias("tri_wilson"),
        (F.round(tpi, 6) + F.lit(0.0)).alias("tpi"),
        (F.round(rough, 6) + F.lit(0.0)).alias("roughness"),
    )


def hotspot_gistar(cells: DataFrame, res: int = 256) -> DataFrame:
    """Getis-Ord Gi* hotspot z-scores over the sparse count raster — the
    classic GIS hotspot-analysis statistic (ArcGIS "Hot Spot Analysis",
    PySAL ``esda.G_Local(star=True)``), off the SAME shared 3x3 stencil as
    the terrain family:

        Gi*(i) = (S_i − X̄·W) / (S · sqrt((N·W − W²) / (N − 1)))

    with S_i the window sum (:func:`_stencil9` — absent neighbors are
    0-valued cells per the sparse contract), binary 3x3 weights so W = 9
    for every cell, and population moments over the STUDY REGION defined
    as the present-cell bounding box (N = bbox cell count; zero cells
    contribute 0 to Σx and Σx², so both reduce to present-cell sums —
    ONE tiny global aggregate broadcast back).  X̄ = Σx/N and
    S = sqrt(Σx²/N − X̄·X̄), identical term order in the twin.

    Output [gx, gy, gi_z] restricted to present cells, rounded to 6.
    At 100 TB: the stencil explode/groupBy is the only shuffle; the global
    moment row broadcasts.  Degenerate all-equal rasters (S = 0) emit
    NULL z (0/0), same on both engines."""
    agg = _stencil9(cells, res)
    s_i = None
    for i in range(9):
        s_i = F.col(f"z{i}") if s_i is None else s_i + F.col(f"z{i}")
    src = cells.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
        F.col("n").cast("double").alias("v"),
    )
    glob = src.agg(
        F.sum("v").alias("_tot"),
        F.sum(F.col("v") * F.col("v")).alias("_tot2"),
        (
            (F.max("gx") - F.min("gx") + 1) * (F.max("gy") - F.min("gy") + 1)
        ).cast("double").alias("_nn"),
    )
    xbar = F.col("_tot") / F.col("_nn")
    sdev = F.sqrt(F.col("_tot2") / F.col("_nn") - xbar * xbar)
    w = F.lit(9.0)
    denom = sdev * F.sqrt(
        (F.col("_nn") * w - w * w) / (F.col("_nn") - 1.0)
    )
    # nullif guard: S = 0 (all-equal raster) or N = W = 9 (study region
    # exactly one window) zero the denominator; ANSI division would throw,
    # so both engines emit NULL z instead (twin uses the same nullif)
    z = (s_i - xbar * w) / F.nullif(denom, F.lit(0.0))
    return (
        agg.where(F.col("present") == 1)
        .crossJoin(F.broadcast(glob))
        .select(
            F.col("tgx").alias("gx"),
            F.col("tgy").alias("gy"),
            (F.round(z, 6) + F.lit(0.0)).alias("gi_z"),
        )
    )


def morans_i(cells: DataFrame, res: int = 256) -> DataFrame:
    """Global Moran's I spatial autocorrelation over the sparse count
    raster (PySAL ``esda.Moran`` with binary queen/8-neighbor weights) —
    the companion scalar to :func:`hotspot_gistar`, same study-region
    convention (the present-cell bounding box; absent cells are 0-valued).

    Everything reduces to ORDER-INDEPENDENT exact sums, so distributed
    aggregation order cannot perturb the result:

    - cross   = Σ_i x_i · S8_i   (ordered present-present adjacent
      products; pairs touching a zero cell vanish) — S8 from the shared
      :func:`_stencil9` window,
    - sxd     = Σ_i x_i · deg_i  with deg_i the cell's in-bbox neighbor
      count (3/5/8 from its distance to the bbox edges),
    - tot, tot2 = Σx, Σx² over present cells,
    - N = a·b bbox cells; ΣW = 2(a−1)b + 2a(b−1) + 4(a−1)(b−1) ordered
      adjacent pairs in an a×b grid (closed form).

    Every product/sum is an exact small integer in a double; only the
    final scalar assembly divides:

        I = (N/ΣW) · (cross − x̄·2·sxd + x̄²·ΣW) / (tot2 − N·x̄²)

    Returns ONE row [n_present, bbox_n, sw, moran_i] (moran_i NULL when
    the variance denominator is 0 — the all-present-all-equal raster).
    At 100 TB: one stencil shuffle + two tiny global aggregates."""
    src = cells.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
        F.col("n").cast("double").alias("v"),
    )
    glob = src.agg(
        F.min("gx").alias("_bx0"),
        F.max("gx").alias("_bx1"),
        F.min("gy").alias("_by0"),
        F.max("gy").alias("_by1"),
        F.sum("v").alias("_tot"),
        F.sum(F.col("v") * F.col("v")).alias("_tot2"),
        F.count("*").alias("_npres"),
    )
    agg = _stencil9(cells, res).where(F.col("present") == 1)
    s8 = None
    for i in (0, 1, 2, 3, 5, 6, 7, 8):
        s8 = F.col(f"z{i}") if s8 is None else s8 + F.col(f"z{i}")
    j = agg.crossJoin(F.broadcast(glob))
    cntx = (
        F.lit(1)
        + (F.col("tgx") > F.col("_bx0")).cast("int")
        + (F.col("tgx") < F.col("_bx1")).cast("int")
    )
    cnty = (
        F.lit(1)
        + (F.col("tgy") > F.col("_by0")).cast("int")
        + (F.col("tgy") < F.col("_by1")).cast("int")
    )
    deg = (cntx * cnty - 1).cast("double")
    per = j.select(
        (F.col("z4") * s8).alias("_c"),
        (F.col("z4") * deg).alias("_xd"),
        "_bx0", "_bx1", "_by0", "_by1", "_tot", "_tot2", "_npres",
    )
    out = per.groupBy(
        "_bx0", "_bx1", "_by0", "_by1", "_tot", "_tot2", "_npres"
    ).agg(F.sum("_c").alias("_cross"), F.sum("_xd").alias("_sxd"))
    a = (F.col("_bx1") - F.col("_bx0") + 1).cast("double")
    b = (F.col("_by1") - F.col("_by0") + 1).cast("double")
    nn = a * b
    sw = 2.0 * (a - 1.0) * b + 2.0 * a * (b - 1.0) + 4.0 * (a - 1.0) * (b - 1.0)
    xbar = F.col("_tot") / nn
    num = F.col("_cross") - xbar * (2.0 * F.col("_sxd")) + xbar * xbar * sw
    den = F.col("_tot2") - nn * (xbar * xbar)
    mi = (nn / sw) * num / F.nullif(den, F.lit(0.0))
    return out.select(
        F.col("_npres").alias("n_present"),
        nn.cast("long").alias("bbox_n"),
        sw.cast("long").alias("sw"),
        (F.round(mi, 6) + F.lit(0.0)).alias("moran_i"),
    )


def local_morans(cells: DataFrame, res: int = 256) -> DataFrame:
    """Local Moran's I (Anselin 1995 LISA; PySAL ``esda.Moran_Local`` with
    row-standardized queen weights) over the sparse count raster — the
    per-cell companion to :func:`morans_i`, same study-region convention
    (present-cell bounding box; absent cells are 0-valued observations).

    For present cell i with value x_i:

        z_i   = x_i − x̄                       (x̄ = Σx / N over bbox)
        lag_i = (S8_i − deg_i·x̄) / deg_i       (row-standardized queen lag;
                S8 from the shared :func:`_stencil9` window, deg_i the
                in-bbox neighbor count 3/5/8 from bbox-edge distances)
        m2    = (Σx² − N·x̄²) / N               (PySAL's n-denominator)
        I_i   = z_i · lag_i / m2

    plus the Moran-scatterplot quadrant label: HH (z>0, lag>0), LL, HL,
    LH, and 'NA' when either factor is exactly 0 (or m2 = 0).  Every
    factor is the SAME float expression on both engines, so comparisons
    and the final product are bit-identical.

    Output [gx, gy, local_i, quad] restricted to present cells, local_i
    rounded to 6.  At 100 TB: the stencil explode/groupBy is the only
    shuffle; the one-row global moment aggregate broadcasts back."""
    src = cells.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
        F.col("n").cast("double").alias("v"),
    )
    glob = src.agg(
        F.min("gx").alias("_bx0"),
        F.max("gx").alias("_bx1"),
        F.min("gy").alias("_by0"),
        F.max("gy").alias("_by1"),
        F.sum("v").alias("_tot"),
        F.sum(F.col("v") * F.col("v")).alias("_tot2"),
    )
    agg = _stencil9(cells, res).where(F.col("present") == 1)
    s8 = None
    for i in (0, 1, 2, 3, 5, 6, 7, 8):
        s8 = F.col(f"z{i}") if s8 is None else s8 + F.col(f"z{i}")
    j = agg.crossJoin(F.broadcast(glob))
    a = (F.col("_bx1") - F.col("_bx0") + 1).cast("double")
    b = (F.col("_by1") - F.col("_by0") + 1).cast("double")
    nn = a * b
    xbar = F.col("_tot") / nn
    cntx = (
        F.lit(1)
        + (F.col("tgx") > F.col("_bx0")).cast("int")
        + (F.col("tgx") < F.col("_bx1")).cast("int")
    )
    cnty = (
        F.lit(1)
        + (F.col("tgy") > F.col("_by0")).cast("int")
        + (F.col("tgy") < F.col("_by1")).cast("int")
    )
    deg = (cntx * cnty - 1).cast("double")
    zi = F.col("z4") - xbar
    lag = (s8 - deg * xbar) / deg
    m2 = (F.col("_tot2") - nn * (xbar * xbar)) / nn
    li = zi * lag / F.nullif(m2, F.lit(0.0))
    quad = (
        F.when(li.isNull(), F.lit("NA"))
        .when((zi > 0) & (lag > 0), F.lit("HH"))
        .when((zi < 0) & (lag < 0), F.lit("LL"))
        .when((zi > 0) & (lag < 0), F.lit("HL"))
        .when((zi < 0) & (lag > 0), F.lit("LH"))
        .otherwise(F.lit("NA"))
    )
    return j.select(
        F.col("tgx").alias("gx"),
        F.col("tgy").alias("gy"),
        (F.round(li, 6) + F.lit(0.0)).alias("local_i"),
        quad.alias("quad"),
    )


def viewshed(cells: DataFrame, res: int = 256) -> DataFrame:
    """GDAL ``gdal_viewshed`` parity on the sparse count raster: which
    cells are visible from the observer placed on the HIGHEST cell
    (deterministic (v, gx, gy) argmax tiebreak), heights = cell values,
    absent cells = the 0 plain.

    Conventions (documented, twin-mirrored): the sight line O→T is
    sampled at the DDA parameter s/steps, steps = max(|Δx|, |Δy|), each
    sample snapped to its nearest cell by ``floor(x + 0.5)`` (identical
    on both engines — no round-half mode dependence); the sample's
    distance is the PARAMETRIC (s/steps)·d_T, so the tangent comparison
    cross-multiplies to

        blocked(s)  ⇔  (v_s − v_O)·steps ≥ (v_T − v_O)·s

    — pure exact integer arithmetic, no sqrt, no division in the
    predicate.  T is visible iff no strictly-interior sample blocks.

    Plan shape: targets explode to their ≤ steps−1 interior samples
    (bounded by the grid diameter), samples equi-join the cell table on
    the snapped key for elevations (absent → 0), ONE partial-aggregated
    groupBy per target counts blockers, and a final left join marks
    adjacent targets (steps = 1, no samples) visible.  At 100 TB the
    sample join is a key equi-join on the raster's natural cell key and
    the observer row broadcasts.  Returns [gx, gy, n_blockers, visible]
    over present non-observer cells."""
    src = cells.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
        F.col("n").cast("double").alias("v"),
    )
    obs = src.agg(
        F.max(F.struct(F.col("v"), F.col("gx"), F.col("gy"))).alias("b")
    ).select(
        F.col("b.gx").alias("ox"),
        F.col("b.gy").alias("oy"),
        F.col("b.v").alias("ov"),
    )
    t = src.crossJoin(F.broadcast(obs)).where(
        (F.col("gx") != F.col("ox")) | (F.col("gy") != F.col("oy"))
    )
    steps = F.greatest(
        F.abs(F.col("gx") - F.col("ox")), F.abs(F.col("gy") - F.col("oy"))
    )
    t = t.withColumn("steps", steps)
    inner = t.where(F.col("steps") > 1).withColumn(
        "s", F.explode(F.sequence(F.lit(1), F.col("steps") - 1))
    )
    sx = F.col("ox") + (F.col("gx") - F.col("ox")) * F.col("s") / F.col("steps")
    sy = F.col("oy") + (F.col("gy") - F.col("oy")) * F.col("s") / F.col("steps")
    samp = inner.select(
        "gx", "gy", "ov", "v", "steps", "s",
        F.floor(sx + 0.5).cast("long").alias("cx"),
        F.floor(sy + 0.5).cast("long").alias("cy"),
    )
    sv = src.select(
        F.col("gx").alias("cx"), F.col("gy").alias("cy"), F.col("v").alias("vs")
    )
    joined = samp.join(sv, ["cx", "cy"], "left").withColumn(
        "vs", F.coalesce(F.col("vs"), F.lit(0.0))
    )
    blocked = (F.col("vs") - F.col("ov")) * F.col("steps") >= (
        F.col("v") - F.col("ov")
    ) * F.col("s")
    bl = joined.groupBy("gx", "gy").agg(
        F.sum(blocked.cast("long")).alias("n_blockers")
    )
    out = t.join(bl, ["gx", "gy"], "left").withColumn(
        "n_blockers", F.coalesce(F.col("n_blockers"), F.lit(0))
    )
    return out.select(
        "gx", "gy", "n_blockers", (F.col("n_blockers") == 0).alias("visible")
    )


def proximity(cells: DataFrame, res: int = 256, maxdist: int = 4) -> DataFrame:
    """GDAL ``gdal_proximity`` with ``-maxdist``: Euclidean distance (in
    cell units) from every grid cell to the nearest PRESENT cell, bounded
    at ``maxdist`` — beyond that a cell simply emits no row, exactly
    gdal's nodata-beyond-maxdist contract.

    Same bounded-explode + ONE partial-aggregated groupBy shape as
    :func:`kde_density`, with ``min`` in place of the kernel sum: each
    present cell scatters its (2k+1)² neighborhood tagged with the exact
    squared offset; the min over contributions at a target is the true
    squared distance to its nearest source, because any source farther
    than ``maxdist`` could never beat one inside the window.  No dense
    raster, no all-pairs: the explode factor is a compile-time constant
    and the groupBy partial-aggregates map-side.  Distances compare on
    exact INTEGER squares; the lone sqrt happens once at emit.

    Returns [gx, gy, dist] for every cell within ``maxdist`` of a source
    (sources themselves at 0.0)."""
    if maxdist < 1:
        raise ValueError("proximity requires maxdist >= 1")
    src = cells.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
    ).distinct()
    offs = [
        (dx, dy, dx * dx + dy * dy)
        for dx in range(-maxdist, maxdist + 1)
        for dy in range(-maxdist, maxdist + 1)
        if dx * dx + dy * dy <= maxdist * maxdist
    ]
    structs = [
        F.struct(
            (F.col("gx") + dx).alias("tx"),
            (F.col("gy") + dy).alias("ty"),
            F.lit(d2).alias("d2"),
        )
        for dx, dy, d2 in offs
    ]
    ex = src.select(F.explode(F.array(*structs)).alias("c")).select(
        F.col("c.tx").alias("gx"), F.col("c.ty").alias("gy"), F.col("c.d2").alias("d2")
    )
    return ex.groupBy("gx", "gy").agg(
        (F.round(F.sqrt(F.min("d2").cast("double")), 6) + F.lit(0.0)).alias("dist")
    )


def kde_density(
    points: DataFrame,
    cell: float,
    bandwidth: float,
    x_col: str = "mx",
    y_col: str = "my",
) -> DataFrame:
    """Kernel-density heatmap over a grid (the PostGIS/QGIS "heatmap"
    primitive): each point spreads an Epanechnikov kernel
    K(u) = 0.75·(1 − u²) for u < 1 over the grid cells whose CENTER lies
    within ``bandwidth`` of it; the density at a cell is the sum of kernel
    weights there.  Bounded support makes the explode bounded: a point
    touches at most (2k+1)² cells with k = ceil(bandwidth/cell) — the same
    neighbor-explode + ONE partial-aggregated groupBy shape as the
    hillshade stencil and the hexbin rollup (no KDE loop, no dense
    raster).  Epanechnikov (not Gaussian) keeps the arithmetic to
    multiply/subtract — exact cross-engine, no exp().

    Returns [ix, iy, density] for cells with positive density.
    At 100 TB: explode factor is a compile-time constant, the groupBy
    partial-aggregates map-side, and cells are a natural partition key."""
    import math

    if bandwidth <= 0 or cell <= 0:
        raise ValueError("kde_density requires positive cell and bandwidth")
    k = math.ceil(bandwidth / cell)
    px, py = F.col(x_col), F.col(y_col)
    base_x = F.floor(px / F.lit(cell)).cast("long")
    base_y = F.floor(py / F.lit(cell)).cast("long")
    src = points.select(
        px.alias("_px"), py.alias("_py"),
        base_x.alias("_bx"), base_y.alias("_by"),
    )
    off = F.sequence(F.lit(-k), F.lit(k))
    g = (
        src.withColumn("dx", F.explode(off))
        .withColumn("dy", F.explode(off))
        .select(
            (F.col("_bx") + F.col("dx")).alias("ix"),
            (F.col("_by") + F.col("dy")).alias("iy"),
            "_px", "_py",
        )
    )
    cx = (F.col("ix").cast("double") + F.lit(0.5)) * F.lit(cell)
    cy = (F.col("iy").cast("double") + F.lit(0.5)) * F.lit(cell)
    ddx = (F.col("_px") - cx) / F.lit(bandwidth)
    ddy = (F.col("_py") - cy) / F.lit(bandwidth)
    u2 = ddx * ddx + ddy * ddy
    w = F.when(u2 < 1.0, F.lit(0.75) * (F.lit(1.0) - u2)).otherwise(F.lit(0.0))
    return (
        g.select("ix", "iy", w.alias("w"))
        .groupBy("ix", "iy")
        .agg(F.sum("w").alias("density"))
        .filter(F.col("density") > 0)
    )


def pyramid(
    raster_rows: DataFrame, res: int = 256, levels: int = 4
) -> DataFrame:
    """Raster overview pyramid (the GDAL ``BuildOverviews`` face for
    count/density rasters): every level ``l`` in 1..levels aggregates
    2^l x 2^l level-0 cells into one coarser cell by SUM — the correct
    reduction for histogram rasters (``rasterize`` output), where an
    average would lose mass.

    Shape: level-0 cells lift to GLOBAL cell coordinates
    (gx = tile_x * res + bin_x), then ONE explode over the level
    sequence + ONE partial-aggregated groupBy((level, gx >> l, gy >> l))
    builds every level in a single shuffle — explode factor = levels,
    cheaper at scale than chaining `levels` separate halving shuffles,
    and each coarser level is strictly sparser.  Returns
    ``(level, cx, cy, total_n, n_cells)`` with n_cells = contributing
    LEVEL-0 cells (not intermediate nodes)."""
    if levels < 1:
        raise ValueError("levels must be >= 1 (F.sequence(1, 0) would "
                         "emit a bogus descending [1, 0] level explode)")
    gx = (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx")
    gy = (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy")
    lifted = raster_rows.select(gx, gy, "n").withColumn(
        "level", F.explode(F.sequence(F.lit(1), F.lit(int(levels))))
    )
    scale = F.pow(F.lit(2.0), F.col("level").cast("double"))
    return (
        lifted.groupBy(
            "level",
            F.floor(F.col("gx") / scale).cast("long").alias("cx"),
            F.floor(F.col("gy") / scale).cast("long").alias("cy"),
        )
        .agg(F.sum("n").alias("total_n"), F.count("*").alias("n_cells"))
    )


def _stencil4(cells: DataFrame, res: int) -> DataFrame:
    """Shared 2x2 window assembly for the corner-sample family
    (:func:`contours`, :func:`resample_bilinear`): global cell coords,
    4-way corner explode — window origin (wx, wy) = (gx - cx, gy - cy)
    for corner (cx, cy) in {0,1}^2, corner index in CCW case-table order
    k0=(0,0) k1=(1,0) k2=(1,1) k3=(0,1), NOT cx + 2*cy — then ONE
    partial-aggregated groupBy per window.  Returns [wx, wy, z0..z3]
    with absent corners 0; only windows touching >= 1 present cell
    exist."""
    src = cells.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
        F.col("n").cast("double").alias("v"),
    )
    structs = [
        F.struct(
            (F.col("gx") - cx).alias("wx"),
            (F.col("gy") - cy).alias("wy"),
            F.lit(k).alias("k"),
        )
        for k, (cx, cy) in enumerate([(0, 0), (1, 0), (1, 1), (0, 1)])
    ]
    ex = src.select("v", F.explode(F.array(*structs)).alias("c")).select(
        F.col("c.wx").alias("wx"), F.col("c.wy").alias("wy"),
        F.col("c.k").alias("k"), "v",
    )
    zc = [
        F.coalesce(F.sum(F.when(F.col("k") == i, F.col("v"))), F.lit(0.0)).alias(
            f"z{i}"
        )
        for i in range(4)
    ]
    return ex.groupBy("wx", "wy").agg(*zc)


def contours(cells: DataFrame, level, res: int = 256) -> DataFrame:
    """Marching-squares contour extraction over the sparse
    :func:`rasterize` cells (GDAL ``gdal_contour`` / PostGIS raster
    ``ST_Contour`` parity on the count raster): emit the iso-line segments
    of ``value == level`` in GLOBAL GRID coordinates.

    Distributed shape (the same stencil discipline as :func:`hillshade`):

    1. cells get GLOBAL coordinates (gx = x*res + bin_x) so 2x2 windows
       cross tile borders,
    2. each cell explodes to the 4 windows it corners — window origin
       (wx, wy) = (gx - cx, gy - cy) for corner (cx, cy) in {0,1}^2 — one
       map-side pass with explode factor exactly 4,
    3. ONE partial-aggregated groupBy per window assembles the 4 corner
       values (absent neighbors are 0, the sparse-raster contract; only
       windows touching >= 1 present cell are emitted, which is exactly
       the set that can carry a crossing of a positive level), and
    4. the 16-case marching-squares table runs as pure JVM expressions:
       corner bits b = (v >= level), crossing points by linear
       interpolation along the changing edges, 0/1/2 segments per window
       via a literal WHEN chain + posexplode.

    Saddle convention (cases 5 and 10 — opposite corners above) is FIXED,
    not center-disambiguated: case 5 pairs (left,top)+(right,bottom),
    case 10 pairs (left,bottom)+(right,top).  The DuckDB twin mirrors the
    identical table so parity is structural.

    Corner order: b0 = z(wx,wy), b1 = z(wx+1,wy), b2 = z(wx+1,wy+1),
    b3 = z(wx,wy+1); idx = b0 + 2*b1 + 4*b2 + 8*b3.  Output
    [gx, gy, part, x1, y1, x2, y2, level] with coordinates rounded to
    6 dp; mapping grid -> mercator is the caller's per-zoom affine (base +
    g * tile_length/res, see :func:`vectorize`).

    ``level`` is one float or a sequence of floats: ALL levels are cut
    from ONE window aggregation — the level-literal array explodes AFTER
    the groupBy, so a 10-level contour map still scans the raster and
    shuffles the windows exactly once.

    At 100 TB: explode factor 4 (x n_levels only after the shuffle),
    map-side combine on the window groupBy, no dense raster, no window
    function, no Python in the hot path.
    Reference scope: tilekiln renders rasters only through PostGIS SQL
    (tilekiln/definition.py render path); contouring is the canonical
    raster->vector query a user of that path writes."""
    levels = [float(level)] if isinstance(level, (int, float)) else [
        float(v) for v in level
    ]
    lv = F.col("level")
    agg = _stencil4(cells, res).select(
        "*", F.explode(F.array(*[F.lit(v) for v in levels])).alias("level")
    )
    # corner values: z0=(wx,wy) z1=(wx+1,wy) z2=(wx+1,wy+1) z3=(wx,wy+1)
    z0, z1, z2, z3 = (F.col(f"z{i}") for i in range(4))
    wx, wy = F.col("wx").cast("double"), F.col("wy").cast("double")
    b0 = (z0 >= lv).cast("int")
    b1 = (z1 >= lv).cast("int")
    b2 = (z2 >= lv).cast("int")
    b3 = (z3 >= lv).cast("int")
    idx = b0 + b1 * 2 + b2 * 4 + b3 * 8

    def _t(za: Column, zb: Column) -> Column:
        # guarded interpolation: the denominator is nonzero whenever the
        # edge is SELECTED (its corner bits differ); the guard only keeps
        # ANSI division happy on unselected edges
        return F.when(zb != za, (lv - za) / (zb - za)).otherwise(F.lit(0.0))

    p_b = F.struct((wx + _t(z0, z1)).alias("x"), wy.alias("y"))          # bottom
    p_r = F.struct((wx + 1.0).alias("x"), (wy + _t(z1, z2)).alias("y"))  # right
    p_t = F.struct((wx + _t(z3, z2)).alias("x"), (wy + 1.0).alias("y"))  # top
    p_l = F.struct(wx.alias("x"), (wy + _t(z0, z3)).alias("y"))          # left

    def seg(a: Column, b: Column) -> Column:
        return F.struct(
            a["x"].alias("x1"), a["y"].alias("y1"),
            b["x"].alias("x2"), b["y"].alias("y2"),
        )

    empty = F.array().cast(
        "array<struct<x1:double,y1:double,x2:double,y2:double>>"
    )
    segs = (
        F.when(idx == 1, F.array(seg(p_l, p_b)))
        .when(idx == 2, F.array(seg(p_b, p_r)))
        .when(idx == 3, F.array(seg(p_l, p_r)))
        .when(idx == 4, F.array(seg(p_r, p_t)))
        .when(idx == 5, F.array(seg(p_l, p_t), seg(p_r, p_b)))
        .when(idx == 6, F.array(seg(p_b, p_t)))
        .when(idx == 7, F.array(seg(p_l, p_t)))
        .when(idx == 8, F.array(seg(p_t, p_l)))
        .when(idx == 9, F.array(seg(p_b, p_t)))
        .when(idx == 10, F.array(seg(p_l, p_b), seg(p_r, p_t)))
        .when(idx == 11, F.array(seg(p_r, p_t)))
        .when(idx == 12, F.array(seg(p_l, p_r)))
        .when(idx == 13, F.array(seg(p_b, p_r)))
        .when(idx == 14, F.array(seg(p_l, p_b)))
        .otherwise(empty)
    )
    out = agg.select(
        "wx", "wy", "level", F.posexplode(segs).alias("part", "s")
    )
    return out.select(
        F.col("wx").alias("gx"),
        F.col("wy").alias("gy"),
        "part",
        (F.round(F.col("s.x1"), 6) + F.lit(0.0)).alias("x1"),
        (F.round(F.col("s.y1"), 6) + F.lit(0.0)).alias("y1"),
        (F.round(F.col("s.x2"), 6) + F.lit(0.0)).alias("x2"),
        (F.round(F.col("s.y2"), 6) + F.lit(0.0)).alias("y2"),
        "level",
    )


def resample_bilinear(
    cells: DataFrame, factor: int = 2, res: int = 256
) -> DataFrame:
    """GDAL ``gdalwarp -r bilinear`` UPSAMPLE of the sparse count raster
    by integer ``factor`` — the dual of :func:`pyramid` (which goes
    coarser): each output subpixel samples the surface defined by input
    CELL-CENTER values with bilinear interpolation between its 4
    surrounding centers.

    Distributed shape: the SAME shared 2x2 window assembly as
    :func:`contours` (``_stencil4`` — 4-way corner explode + ONE
    partial-agg groupBy), then each window emits the factor x factor
    output subpixels whose sample point lies between its corner centers,
    via a literal offsets posexplode — explode factor exactly factor^2,
    all expression-side, no dense raster.

    An output subpixel (opx, opy) has center ((opx+0.5)/f, (opy+0.5)/f)
    in global grid units; the window with origin (wx, wy) covers sample
    points in [wx+0.5, wx+1.5) x [wy+0.5, wy+1.5) (centers at corner
    cells' +0.5), so opx = f*wx + f/2 + sx for sx in 0..f-1.  Fractional
    offsets u = (sx+0.5)/f, v = (sy+0.5)/f feed the standard weights
    (1-u)(1-v)z0 + u(1-v)z1 + uv z2 + (1-u)v z3.  The absent-corner-is-0
    sparse contract extrapolates the data boundary toward zero, exactly
    like the other stencil operators.  Output [opx, opy, value], value
    rounded to 6 dp."""
    f = int(factor)
    if f < 1:
        raise ValueError("factor must be >= 1")
    agg = _stencil4(cells, res)
    z0, z1, z2, z3 = (F.col(f"z{i}") for i in range(4))
    subs = []
    for sy in range(f):
        for sx in range(f):
            u = (sx + 0.5) / f
            v = (sy + 0.5) / f
            val = (
                z0 * ((1.0 - u) * (1.0 - v))
                + z1 * (u * (1.0 - v))
                + z2 * (u * v)
                + z3 * ((1.0 - u) * v)
            )
            subs.append(
                F.struct(
                    (F.col("wx") * f + (f // 2 + sx)).alias("opx"),
                    (F.col("wy") * f + (f // 2 + sy)).alias("opy"),
                    val.alias("value"),
                )
            )
    out = agg.select(F.explode(F.array(*subs)).alias("s"))
    return out.select(
        F.col("s.opx").alias("opx"),
        F.col("s.opy").alias("opy"),
        (F.round(F.col("s.value"), 6) + F.lit(0.0)).alias("value"),
    )


def focal_majority(cells: DataFrame, res: int = 256) -> DataFrame:
    """Focal MAJORITY filter (ArcGIS Focal Statistics majority / the
    sieve-adjacent GDAL smoothing pass) over the sparse count raster:
    each present cell's value is replaced by the most frequent value in
    its 3x3 window, under the sparse contract (absent in-bbox neighbors
    are 0-valued observations) and the bbox study region the stat family
    shares.  Ties break to the SMALLEST value (deterministic, and 0 wins
    any tie it is part of — the conservative smoothing choice).

    Distributed shape (NOT the pivoted :func:`_stencil9` — mode needs
    per-VALUE counts, so the scatter stays long-form):

    - 9-way tagged neighbor explode, ONE partial-agg
      groupBy((target, value)) — duplicate values in a window collapse
      map-side;
    - ONE groupBy(target): total present contributors, the best
      (count desc, value asc) NON-ZERO candidate via struct-min, and the
      center-present flag;
    - the zero bucket is arithmetic, not data: in-bbox window size
      (3/5/8+1 bbox-edge formula off a broadcast 1-row bbox aggregate)
      minus present contributors = the count of 0-valued window cells;
      the winner is decided by the same (count, value) order.

    Two compact-key shuffles + a broadcast; per-window work is O(distinct
    values), never a 9-column pivot.  Returns [gx, gy, majority] for
    present cells."""
    src = cells.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
        F.col("n").cast("long").alias("v"),
    )
    glob = src.agg(
        F.min("gx").alias("_bx0"),
        F.max("gx").alias("_bx1"),
        F.min("gy").alias("_by0"),
        F.max("gy").alias("_by1"),
    )
    structs = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            structs.append(
                F.struct(
                    (F.col("gx") - dx).alias("tgx"),
                    (F.col("gy") - dy).alias("tgy"),
                    F.lit(1 if dx == 0 and dy == 0 else 0).alias("ctr"),
                )
            )
    ex = src.select("v", F.explode(F.array(*structs)).alias("c")).select(
        F.col("c.tgx").alias("tgx"),
        F.col("c.tgy").alias("tgy"),
        F.col("c.ctr").alias("ctr"),
        "v",
    )
    per_v = ex.groupBy("tgx", "tgy", "v").agg(
        F.count("*").alias("cnt"), F.max("ctr").alias("anyctr")
    )
    per_t = per_v.groupBy("tgx", "tgy").agg(
        F.sum("cnt").alias("n_present"),
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("v").alias("bv"))).alias("b"),
        F.max("anyctr").alias("present"),
    )
    j = per_t.where(F.col("present") == 1).crossJoin(F.broadcast(glob))
    cntx = (
        F.lit(1)
        + (F.col("tgx") > F.col("_bx0")).cast("int")
        + (F.col("tgx") < F.col("_bx1")).cast("int")
    )
    cnty = (
        F.lit(1)
        + (F.col("tgy") > F.col("_by0")).cast("int")
        + (F.col("tgy") < F.col("_by1")).cast("int")
    )
    zeros = (cntx * cnty).cast("long") - F.col("n_present")
    best_cnt = -F.col("b.neg")
    best_v = F.col("b.bv")
    # zero wins when its count is >= the best non-zero count (0 < any v)
    majority = F.when(zeros >= best_cnt, F.lit(0).cast("long")).otherwise(
        best_v
    )
    return j.select(
        F.col("tgx").alias("gx"),
        F.col("tgy").alias("gy"),
        majority.alias("majority"),
    )


def quadrat_dispersion(cells: DataFrame, res: int = 256) -> DataFrame:
    """Quadrat-count dispersion test (the classic CSR screen — R spatstat
    ``quadrat.test``'s statistic): treat every raster cell as a quadrat
    over the bbox study region (absent cells are 0-count quadrats, the
    family's sparse contract) and report the variance-mean ratio

        VMR = s² / x̄,   s² = (Σx² − N·x̄²) / (N − 1)   (sample variance)

    with the chi-square statistic χ² = (N−1)·VMR (df = N−1).  VMR ≈ 1
    under complete spatial randomness; > 1 clustered, < 1 uniform.

    Everything reduces to ONE tiny global aggregate of exact integer
    sums (Σx, Σx², bbox extremes) — order-independent, cross-engine
    bit-identical, no second shuffle at any scale.  Returns one row
    ``[n_present, bbox_n, total_pts, vmr, chi2]`` (NULL VMR/χ² for the
    single-quadrat or empty-mean degenerate)."""
    src = cells.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
        F.col("n").cast("double").alias("v"),
    )
    glob = src.agg(
        F.count("*").alias("n_present"),
        F.sum("v").alias("_tot"),
        F.sum(F.col("v") * F.col("v")).alias("_tot2"),
        (
            (F.max("gx") - F.min("gx") + 1) * (F.max("gy") - F.min("gy") + 1)
        ).cast("double").alias("_nn"),
    )
    nn = F.col("_nn")
    xbar = F.col("_tot") / nn
    var = (F.col("_tot2") - nn * (xbar * xbar)) / F.nullif(
        nn - 1.0, F.lit(0.0)
    )
    vmr = var / F.nullif(xbar, F.lit(0.0))
    return glob.select(
        "n_present",
        nn.cast("long").alias("bbox_n"),
        F.col("_tot").cast("long").alias("total_pts"),
        vmr.alias("vmr"),
        ((nn - 1.0) * vmr).alias("chi2"),
    )


def general_g(cells: DataFrame, res: int = 256) -> DataFrame:
    """Getis-Ord General G (the GLOBAL companion to
    :func:`hotspot_gistar`; ArcGIS "High/Low Clustering") over the
    sparse count raster, binary queen weights, bbox study region:

        G = Σ_i x_i · S8_i  /  (tot² − tot2)

    — numerator: ordered adjacent cross-products (zero cells vanish, so
    the present-cell Σ x·S8 off the shared :func:`_stencil9` window IS
    the full double sum); denominator: Σ_{i≠j} x_i x_j = (Σx)² − Σx²
    over the study region (absent cells contribute 0 to both).  The
    expected value under CSR is E[G] = ΣW / (N(N−1)) with the same
    closed-form ΣW as :func:`morans_i` — reported alongside so the
    clustered/dispersed read is one comparison.

    Every sum is an exact integer in a double; ONE stencil shuffle + one
    tiny aggregate.  Returns one row ``[n_present, bbox_n, g_obs,
    g_exp]`` (NULL G for the degenerate single-value denominator)."""
    src = cells.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
        F.col("n").cast("double").alias("v"),
    )
    glob = src.agg(
        F.count("*").alias("n_present"),
        F.sum("v").alias("_tot"),
        F.sum(F.col("v") * F.col("v")).alias("_tot2"),
        (F.max("gx") - F.min("gx") + 1).cast("double").alias("_a"),
        (F.max("gy") - F.min("gy") + 1).cast("double").alias("_b"),
    )
    agg = _stencil9(cells, res).where(F.col("present") == 1)
    s8 = None
    for i in (0, 1, 2, 3, 5, 6, 7, 8):
        s8 = F.col(f"z{i}") if s8 is None else s8 + F.col(f"z{i}")
    num = agg.agg(F.sum(F.col("z4") * s8).alias("_cross"))
    j = glob.crossJoin(F.broadcast(num))
    a, b = F.col("_a"), F.col("_b")
    nn = a * b
    sw = 2.0 * (a - 1.0) * b + 2.0 * a * (b - 1.0) + 4.0 * (a - 1.0) * (b - 1.0)
    g_obs = F.col("_cross") / F.nullif(
        F.col("_tot") * F.col("_tot") - F.col("_tot2"), F.lit(0.0)
    )
    g_exp = sw / (nn * (nn - 1.0))
    return j.select(
        "n_present",
        nn.cast("long").alias("bbox_n"),
        g_obs.alias("g_obs"),
        g_exp.alias("g_exp"),
    )


def join_counts(cells: DataFrame, threshold: int = 2, res: int = 256) -> DataFrame:
    """Join-count statistics (Cliff & Ord; PySAL ``esda.Join_Counts``) —
    the categorical-autocorrelation companion to Moran's I, over the
    binary classification Black = (count >= ``threshold``), queen
    weights, bbox study region (absent cells are 0-count ⇒ White):

        BB = unordered adjacent Black-Black pairs,
        BW = adjacent Black-White pairs (counted once, from the Black
             endpoint — a BW pair has exactly one),
        WW = SW/2 − BB − BW   (SW/2 = total unordered adjacent pairs,
             closed form in the bbox dims),
        E[BB] = (SW/2) · nB(nB−1) / (N(N−1))   (nonfree sampling).

    Shape: run the SAME shared :func:`_stencil9` over the 0/1 indicator
    instead of the raw count — S8 is then the Black-neighbor count and
    every term is an exact small integer; one stencil shuffle + one
    broadcast moment row, identical to the rest of the family.  Returns
    one row ``[n_black, bbox_n, bb_obs, bw_obs, ww_obs, bb_exp]``."""
    ind = cells.withColumn(
        "n", (F.col("n") >= int(threshold)).cast("long")
    )
    src = ind.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
        F.col("n").cast("double").alias("v"),
    )
    glob = src.agg(
        F.sum("v").alias("_nb"),
        F.min("gx").alias("_bx0"),
        F.max("gx").alias("_bx1"),
        F.min("gy").alias("_by0"),
        F.max("gy").alias("_by1"),
    )
    agg = _stencil9(ind, res).where(F.col("present") == 1)
    s8 = None
    for i in (0, 1, 2, 3, 5, 6, 7, 8):
        s8 = F.col(f"z{i}") if s8 is None else s8 + F.col(f"z{i}")
    j = agg.crossJoin(F.broadcast(glob))
    cntx = (
        F.lit(1)
        + (F.col("tgx") > F.col("_bx0")).cast("int")
        + (F.col("tgx") < F.col("_bx1")).cast("int")
    )
    cnty = (
        F.lit(1)
        + (F.col("tgy") > F.col("_by0")).cast("int")
        + (F.col("tgy") < F.col("_by1")).cast("int")
    )
    deg = (cntx * cnty - 1).cast("double")
    per = j.select(
        (F.col("z4") * s8).alias("_bb2"),
        (F.col("z4") * (deg - s8)).alias("_bw"),
        "_nb", "_bx0", "_bx1", "_by0", "_by1",
    )
    out = per.groupBy("_nb", "_bx0", "_bx1", "_by0", "_by1").agg(
        F.sum("_bb2").alias("_sbb2"), F.sum("_bw").alias("_sbw")
    )
    a = (F.col("_bx1") - F.col("_bx0") + 1).cast("double")
    b = (F.col("_by1") - F.col("_by0") + 1).cast("double")
    nn = a * b
    half_sw = (
        2.0 * (a - 1.0) * b + 2.0 * a * (b - 1.0) + 4.0 * (a - 1.0) * (b - 1.0)
    ) / 2.0
    bb = F.col("_sbb2") / 2.0
    nb = F.col("_nb")
    bb_exp = half_sw * nb * (nb - 1.0) / (nn * (nn - 1.0))
    return out.select(
        nb.cast("long").alias("n_black"),
        nn.cast("long").alias("bbox_n"),
        bb.cast("long").alias("bb_obs"),
        F.col("_sbw").cast("long").alias("bw_obs"),
        (half_sw - bb - F.col("_sbw")).cast("long").alias("ww_obs"),
        bb_exp.alias("bb_exp"),
    )


def geary_c(cells: DataFrame, res: int = 256) -> DataFrame:
    """Global Geary's C spatial autocorrelation (Geary 1954; PySAL
    ``esda.Geary`` with binary queen weights) over the sparse count raster
    — the difference-based companion to :func:`morans_i` (C ≈ 1 random,
    C < 1 positive autocorrelation, C > 1 negative), same study-region
    convention (present-cell bounding box; absent cells are 0-valued).

    The numerator Σ w_ij (x_i − x_j)² over ordered bbox-adjacent pairs
    expands to exact integer sums the shared :func:`_stencil9` already
    yields::

        Σ (x_i − x_j)² = 2·Σ_i deg_i·x_i²  −  2·Σ_i x_i·S8_i

    (pairs with an absent endpoint contribute x_i² via deg_i, which counts
    ALL in-bbox neighbors; the cross term vanishes there since x_j = 0).
    deg_i is bbox-edge arithmetic (3/5/8), S8 the ordered neighbor sum.

        C = (N − 1) · num / (2 · ΣW · (Σx² − N·x̄²))

    with N = a·b bbox cells and ΣW the closed-form ordered adjacent-pair
    count.  Every distributed sum is an exact integer in a double, so
    aggregation order is immaterial and the DuckDB twin is bit-identical.
    Returns ONE row [n_present, bbox_n, sw, geary] (geary NULL when the
    variance denominator is 0).  At 100 TB: one stencil shuffle + one tiny
    global aggregate — identical cost to Moran's I."""
    src = cells.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
        F.col("n").cast("double").alias("v"),
    )
    glob = src.agg(
        F.min("gx").alias("_bx0"),
        F.max("gx").alias("_bx1"),
        F.min("gy").alias("_by0"),
        F.max("gy").alias("_by1"),
        F.sum("v").alias("_tot"),
        F.sum(F.col("v") * F.col("v")).alias("_tot2"),
        F.count("*").alias("_npres"),
    )
    agg = _stencil9(cells, res).where(F.col("present") == 1)
    s8 = None
    for i in (0, 1, 2, 3, 5, 6, 7, 8):
        s8 = F.col(f"z{i}") if s8 is None else s8 + F.col(f"z{i}")
    j = agg.crossJoin(F.broadcast(glob))
    cntx = (
        F.lit(1)
        + (F.col("tgx") > F.col("_bx0")).cast("int")
        + (F.col("tgx") < F.col("_bx1")).cast("int")
    )
    cnty = (
        F.lit(1)
        + (F.col("tgy") > F.col("_by0")).cast("int")
        + (F.col("tgy") < F.col("_by1")).cast("int")
    )
    deg = (cntx * cnty - 1).cast("double")
    per = j.select(
        (F.col("z4") * F.col("z4") * deg).alias("_dq"),
        (F.col("z4") * s8).alias("_c"),
        "_bx0", "_bx1", "_by0", "_by1", "_tot", "_tot2", "_npres",
    )
    out = per.groupBy(
        "_bx0", "_bx1", "_by0", "_by1", "_tot", "_tot2", "_npres"
    ).agg(F.sum("_dq").alias("_sdq"), F.sum("_c").alias("_cross"))
    a = (F.col("_bx1") - F.col("_bx0") + 1).cast("double")
    b = (F.col("_by1") - F.col("_by0") + 1).cast("double")
    nn = a * b
    sw = 2.0 * (a - 1.0) * b + 2.0 * a * (b - 1.0) + 4.0 * (a - 1.0) * (b - 1.0)
    xbar = F.col("_tot") / nn
    num = 2.0 * F.col("_sdq") - 2.0 * F.col("_cross")
    den = F.col("_tot2") - nn * (xbar * xbar)
    c = (nn - 1.0) * num / (2.0 * sw * F.nullif(den, F.lit(0.0)))
    return out.select(
        F.col("_npres").alias("n_present"),
        nn.cast("long").alias("bbox_n"),
        sw.cast("long").alias("sw"),
        (F.round(c, 6) + F.lit(0.0)).alias("geary"),
    )


def curvature_zt(
    cells: DataFrame, res: int = 256, cell_size: float = 1.0
) -> DataFrame:
    """Zevenbergen–Thorne (1987) surface curvature over the sparse count
    raster (ArcGIS ``Curvature`` / GDAL DEM-processing parity on the count
    grid): fit the 9-term partial quartic to the 3x3 window off the SAME
    shared :func:`_stencil9`, then

        D = ((z3 + z5)/2 − z4) / L²          E = ((z1 + z7)/2 − z4) / L²
        Fc = (−z0 + z2 + z6 − z8) / (4L²)
        G = (−z3 + z5) / (2L)                H = (z1 − z7) / (2L)

        general  = −2 (D + E) · 100                       (ArcGIS scaling)
        profile  = −2 (D·G² + E·H² + Fc·G·H) / (G² + H²)
        plan     =  2 (D·H² + E·G² − Fc·G·H) / (G² + H²)

    profile/plan are NULL on flat windows (G² + H² = 0) — ArcGIS emits 0
    there, but NULL keeps the div-by-zero explicit and the twin trivially
    identical.  Every factor is the SAME float expression cross-engine.
    Output [gx, gy, curv_general, curv_profile, curv_plan] restricted to
    present cells, rounded to 6.  At 100 TB: identical cost profile to
    hillshade — explode factor exactly 9, map-side partial agg."""
    ll = float(cell_size)
    agg = _stencil9(cells, res)
    z = [F.col(f"z{i}") for i in range(9)]
    d = ((z[3] + z[5]) / 2.0 - z[4]) / F.lit(ll * ll)
    e = ((z[1] + z[7]) / 2.0 - z[4]) / F.lit(ll * ll)
    fc = (-z[0] + z[2] + z[6] - z[8]) / F.lit(4.0 * ll * ll)
    g = (-z[3] + z[5]) / F.lit(2.0 * ll)
    h = (z[1] - z[7]) / F.lit(2.0 * ll)
    g2h2 = g * g + h * h
    general = -2.0 * (d + e) * 100.0
    profile = -2.0 * (d * g * g + e * h * h + fc * g * h) / F.nullif(
        g2h2, F.lit(0.0)
    )
    plan = 2.0 * (d * h * h + e * g * g - fc * g * h) / F.nullif(
        g2h2, F.lit(0.0)
    )
    return agg.where(F.col("present") == 1).select(
        F.col("tgx").alias("gx"),
        F.col("tgy").alias("gy"),
        (F.round(general, 6) + F.lit(0.0)).alias("curv_general"),
        (F.round(profile, 6) + F.lit(0.0)).alias("curv_profile"),
        (F.round(plan, 6) + F.lit(0.0)).alias("curv_plan"),
    )


# D8 neighbor table: stencil slot k -> (ESRI flow code, dx, dy, cardinal?)
# k = (dy+1)*3 + (dx+1); gy grows southward so dy=+1 is S.
_D8 = {
    0: (32, -1, -1, False),   # NW
    1: (64, 0, -1, True),     # N
    2: (128, 1, -1, False),   # NE
    3: (16, -1, 0, True),     # W
    5: (1, 1, 0, True),       # E
    6: (8, -1, 1, False),     # SW
    7: (4, 0, 1, True),       # S
    8: (2, 1, 1, False),      # SE
}


def d8_flow(cells: DataFrame, res: int = 256) -> DataFrame:
    """D8 flow direction (O'Callaghan & Mark 1984; ESRI/GDAL
    ``FlowDirection`` codes E=1 SE=2 S=4 SW=8 W=16 NW=32 N=64 NE=128)
    over the integer-valued cell raster — steepest downhill of the 8
    neighbors, diagonal distance √2 priced EXACTLY by comparing
    2·drop² (cardinal) vs drop² (diagonal): squares of integer drops,
    so the argmax never touches an irrational and is bit-deterministic
    cross-engine.  Ties break on the smallest flow code; cells with no
    positive drop are sinks (code 0).  Absent neighbors read elevation 0
    (the _stencil9 convention — the raster edge drains off-grid).

    One shared 3x3 stencil (9-way tagged explode + ONE partial-agg
    groupBy — identical cost profile to hillshade) + a map-only HOF
    argmax over the 8-slot struct array.  Returns
    [gx, gy, z, d8, drop, tgt_gx, tgt_gy] for present cells (tgt_* NULL
    for sinks)."""
    agg = _stencil9(cells, res)
    z = [F.col(f"z{i}") for i in range(9)]
    entries = []
    for k, (code, dx, dy, card) in _D8.items():
        drop = z[4] - z[k]
        w = drop * drop * F.lit(2.0 if card else 1.0)
        entries.append(
            F.when(
                drop > 0,
                F.struct(
                    w.alias("w"),
                    F.lit(-code).alias("negcode"),
                    F.lit(dx).alias("dx"),
                    F.lit(dy).alias("dy"),
                    drop.alias("drop"),
                ),
            )
        )
    best = F.array_max(F.filter(F.array(*entries), lambda s: s.isNotNull()))
    out = (
        agg.where(F.col("present") == 1)
        .withColumn("best", best)
        .select(
            F.col("tgx").alias("gx"),
            F.col("tgy").alias("gy"),
            z[4].alias("z"),
            F.coalesce(-F.col("best.negcode"), F.lit(0)).alias("d8"),
            F.coalesce(F.col("best.drop"), F.lit(0.0)).alias("drop"),
            (F.col("tgx") + F.col("best.dx")).alias("tgt_gx"),
            (F.col("tgy") + F.col("best.dy")).alias("tgt_gy"),
        )
    )
    return out


def flow_accumulation(
    cells: DataFrame, res: int = 256, max_iter: int = 30
) -> DataFrame:
    """D8 flow accumulation (ESRI/GDAL ``FlowAccumulation``): for every
    cell, the number of upstream cells whose D8 flow path drains through
    it.  The D8 forest is a DAG, so the fixpoint iteration

        acc'(c) = Σ_{u → c} (1 + acc(u))

    starting from 0 is MONOTONE nondecreasing and converges after
    longest-flow-path rounds — the k-core bounded-unroll argument: the
    Spark side iterates to the detected fixpoint (raising past
    ``max_iter``, never silently truncating) while a twin may unroll any
    fixed round count ≥ convergence and land on the identical result.

    Each round is ONE join of the flow edges against the current
    accumulation + ONE partial-agg groupBy, ``localCheckpoint`` per round
    (the pagerank lineage rule).  Edges into absent cells drain off-grid
    and are dropped.  At 100 TB rounds ≈ the longest flow path — the
    known D8 scaling cost; production systems band the DEM into drainage
    tiles to cap it, which this shape composes with.  Returns
    [gx, gy, z, d8, acc].

    Size-adaptive execution (round 6, the connected_components pattern):
    the grid size res² is known by construction, so at or below
    ``local_solve.MAX_LOCAL_ROWS`` (4M) the accumulation solves as ONE
    vectorized Kahn topological pass on the driver over the collected
    d8 frame and re-enters the plan as a local relation joined back to
    it.  The counts are EXACT integers (Σ upstream cells), a
    property of the flow forest, not the algorithm — bit-identical to the
    fixpoint — and the ``max_iter`` contract is preserved exactly: the
    local pass measures the longest flow path L and raises the same
    named error whenever the distributed loop would (it detects the
    fixpoint at round max(L,1)+1).  Above the cap the proven per-round
    fixpoint runs unchanged — the 100 TB path."""
    d8 = d8_flow(cells, res).localCheckpoint(eager=True)
    spark = cells.sparkSession
    # a sink has no target: coalescing it to the cell itself keeps the
    # solve columns null-free (the kernel follows only d8 > 0 cells)
    arrays = collect_local(
        "flow_accumulation",
        d8.select(
            "gx", "gy", "d8",
            F.coalesce("tgt_gx", "gx").alias("tgt_gx"),
            F.coalesce("tgt_gy", "gy").alias("tgt_gy"),
        ),
        ["gx", "gy", "d8", "tgt_gx", "tgt_gy"],
        n_rows=res * res,
    )
    if arrays is not None:
        accdf = _flow_acc_local(spark, *arrays, max_iter, d8.schema)
        return d8.join(F.broadcast(accdf), ["gx", "gy"]).select(
            "gx", "gy", "z", "d8", "acc"
        )
    nodes = d8.select("gx", "gy")
    edges = (
        d8.where(F.col("d8") > 0)
        .select(
            F.col("gx").alias("ux"),
            F.col("gy").alias("uy"),
            F.col("tgt_gx").alias("gx"),
            F.col("tgt_gy").alias("gy"),
        )
        .join(nodes, ["gx", "gy"], "semi")
        .localCheckpoint(eager=True)
    )
    # r6: per-round checkpoints are lazy and the convergence aggregate is
    # the materializing job — one job per round instead of an eager
    # checkpoint job plus a separate total-sum job (same fixpoint, same
    # integer results; the pagerank/CC job-fusion pattern).  Checkpointed
    # per-round frames carry no stats, so when the grid is provably small
    # (res^2 cells counted by construction) the per-cell frames get
    # explicit broadcast hints — the strategy the stats would have picked
    # (guide §3.1); big DEMs keep the shuffle joins.
    bcast = (res * res) <= MAX_LOCAL_ROWS

    def _h(df):
        return F.broadcast(df) if bcast else df

    acc = nodes.withColumn("acc", F.lit(0).cast("long")).localCheckpoint(eager=False)
    prev_total = -1
    for _ in range(max_iter):
        inflow = (
            edges.join(
                _h(acc.select(
                    F.col("gx").alias("ux"), F.col("gy").alias("uy"), "acc"
                )),
                ["ux", "uy"],
            )
            .groupBy("gx", "gy")
            .agg(F.sum(F.col("acc") + 1).alias("inacc"))
        )
        acc = (
            nodes.join(_h(inflow), ["gx", "gy"], "left")
            .select("gx", "gy", F.coalesce("inacc", F.lit(0)).alias("acc"))
            .localCheckpoint(eager=False)
        )
        total = acc.agg(F.sum("acc")).collect()[0][0] or 0
        if total == prev_total:
            return d8.join(acc, ["gx", "gy"]).select(
                "gx", "gy", "z", "d8", "acc"
            )
        prev_total = total
    raise ValueError(
        f"flow_accumulation: no fixpoint within max_iter={max_iter} rounds"
    )


def _flow_acc_local(spark, ngx, ngy, d8, tgx, tgy, max_iter: int, schema):
    """Bounded-grid accumulation solve: one vectorized Kahn topological
    pass over the collected d8 arrays (O(V+E) work, rounds = longest
    path, all numpy).  Exact integer upstream counts — identical to the
    distributed fixpoint — with the same max_iter named error: the
    distributed loop detects the fixpoint at round max(L,1)+1 for longest
    flow path L, so the local pass raises iff max(L,1)+1 > max_iter.
    Returns (gx, gy, acc) typed like ``schema``'s gx/gy."""
    import numpy as np

    # injective (gx, gy) -> int64 key; grid coords are << 2^31 under the
    # local-cells cap
    nkey = ngx * np.int64(2**32) + ngy
    order = np.argsort(nkey, kind="stable")
    skey = nkey[order]
    n = len(nkey)
    # flow edges: non-sinks whose target is a present cell (the semi join
    # of the distributed path; off-grid targets drain away)
    tkey = tgx * np.int64(2**32) + tgy
    pos = np.minimum(np.searchsorted(skey, tkey), max(n - 1, 0))
    keep = (d8 > 0) & (skey[pos] == tkey)
    ui = np.nonzero(keep)[0]
    ci = order[pos[keep]]
    ptr = np.full(n, -1, dtype=np.int64)
    ptr[ui] = ci  # D8: at most one downstream target per cell
    indeg = np.bincount(ci, minlength=n)
    acc = np.zeros(n, dtype=np.int64)
    frontier = np.nonzero(indeg == 0)[0]
    rounds = 0
    processed = 0
    while len(frontier):
        rounds += 1
        processed += len(frontier)
        t = ptr[frontier]
        valid = t >= 0
        t, f = t[valid], frontier[valid]
        np.add.at(acc, t, acc[f] + 1)
        np.subtract.at(indeg, t, 1)
        nxt = np.unique(t)
        frontier = nxt[indeg[nxt] == 0]
    longest = max(rounds - 1, 0)
    if processed < n or max(longest, 1) + 1 > max_iter:
        # cycle (never converges) or a fixpoint the distributed loop
        # would not reach within max_iter: the identical named error
        raise ValueError(
            f"flow_accumulation: no fixpoint within max_iter={max_iter} rounds"
        )
    gx_t = schema["gx"].dataType.simpleString()
    gy_t = schema["gy"].dataType.simpleString()
    return local_frame(spark, f"gx {gx_t}, gy {gy_t}, acc long", ngx, ngy, acc)


def watershed_basins(
    cells: DataFrame, res: int = 256, max_iter: int = 20
) -> DataFrame:
    """Watershed (drainage-basin) labeling over the D8 flow forest —
    every cell labeled by the basin root its flow path reaches (ESRI
    ``Watershed`` / GRASS ``r.watershed`` basins).  Roots are sinks and
    cells draining off-grid.

    The label spreads by POINTER DOUBLING (ptr' = ptr∘ptr), the classic
    parallel technique: each round one self-join halves every remaining
    path, so convergence takes ⌈log2(longest path)⌉ rounds instead of
    longest-path rounds — the log-round trick that makes basin labeling
    feasible when flow paths run thousands of cells at 100 TB DEM scale
    (flow_accumulation's linear rounds are the contrast case).  The
    doubling sequence from the same start is identical on any engine, and
    past the fixpoint extra rounds are no-ops, so a twin may unroll any
    fixed round count ≥ convergence (k-core argument).  Spark iterates to
    the detected fixpoint and raises past ``max_iter``.

    Each round: ONE self-join of the pointer table keyed on the pointee +
    a localCheckpoint.  Returns [gx, gy, z, d8, basin_gx, basin_gy,
    is_root]."""
    d8 = d8_flow(cells, res).localCheckpoint(eager=True)
    nodes = d8.select("gx", "gy")
    # pointer: follow d8 when the target is a real cell, else self (root)
    tgt = d8.join(
        nodes.select(
            F.col("gx").alias("tgt_gx"), F.col("gy").alias("tgt_gy")
        ).withColumn("tgt_ok", F.lit(1)),
        ["tgt_gx", "tgt_gy"],
        "left",
    )
    ptr = tgt.select(
        "gx",
        "gy",
        F.when((F.col("d8") > 0) & F.col("tgt_ok").isNotNull(), F.col("tgt_gx"))
        .otherwise(F.col("gx"))
        .alias("px"),
        F.when((F.col("d8") > 0) & F.col("tgt_ok").isNotNull(), F.col("tgt_gy"))
        .otherwise(F.col("gy"))
        .alias("py"),
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        nxt = (
            ptr.alias("a")
            .join(
                ptr.select(
                    F.col("gx").alias("px"),
                    F.col("gy").alias("py"),
                    F.col("px").alias("ppx"),
                    F.col("py").alias("ppy"),
                ),
                ["px", "py"],
            )
            .select(
                "gx", "gy", F.col("ppx").alias("px"), F.col("ppy").alias("py")
            )
            .localCheckpoint(eager=True)
        )
        moved = (
            nxt.alias("n")
            .join(ptr.alias("p"), ["gx", "gy"])
            .where(
                (F.col("n.px") != F.col("p.px")) | (F.col("n.py") != F.col("p.py"))
            )
            .count()
        )
        ptr = nxt
        if moved == 0:
            return d8.join(ptr, ["gx", "gy"]).select(
                "gx",
                "gy",
                "z",
                "d8",
                F.col("px").alias("basin_gx"),
                F.col("py").alias("basin_gy"),
                ((F.col("px") == F.col("gx")) & (F.col("py") == F.col("gy"))).alias(
                    "is_root"
                ),
            )
    raise ValueError(
        f"watershed_basins: no fixpoint within max_iter={max_iter} rounds"
    )


def strahler_order(
    cells: DataFrame, res: int = 256, max_iter: int = 30
) -> DataFrame:
    """Strahler stream order (Strahler 1957; GRASS ``r.stream.order``)
    over the D8 flow forest: leaves are order 1; a cell's order is the
    max of its inflowing children's orders, +1 when two or more children
    attain that max — the classic stream-network hierarchy.

    Fixpoint iteration from all-1: orders only ever rise as children's
    orders rise (MONOTONE), so convergence takes tree-depth rounds and a
    twin may unroll any fixed round count ≥ convergence (the k-core /
    flow_accumulation argument).  Each round: ONE join of the inflow
    edges against current orders + ONE groupBy computing
    (max child order, count at that max) — both exact integers, so the
    update is order-independent.  Spark iterates to the detected
    fixpoint, raising past ``max_iter``.  Returns [gx, gy, z, d8,
    strahler]."""
    d8 = d8_flow(cells, res).localCheckpoint(eager=True)
    nodes = d8.select("gx", "gy")
    edges = (
        d8.where(F.col("d8") > 0)
        .select(
            F.col("gx").alias("ux"),
            F.col("gy").alias("uy"),
            F.col("tgt_gx").alias("gx"),
            F.col("tgt_gy").alias("gy"),
        )
        .join(nodes, ["gx", "gy"], "semi")
        .localCheckpoint(eager=True)
    )
    order = nodes.withColumn("ord", F.lit(1)).localCheckpoint(eager=True)
    prev_sum = -1
    for _ in range(max_iter):
        child = edges.join(
            order.select(
                F.col("gx").alias("ux"), F.col("gy").alias("uy"), "ord"
            ),
            ["ux", "uy"],
        )
        # (max, count-at-max): the max aggregates in one pass; the tie
        # count needs the max joined back (still partial-aggregated)
        upd = child.groupBy("gx", "gy").agg(F.max("ord").alias("mx"))
        cnt = (
            child.join(upd, ["gx", "gy"])
            .where(F.col("ord") == F.col("mx"))
            .groupBy("gx", "gy")
            .agg(F.count("*").alias("n_at_mx"), F.max("mx").alias("mx"))
        )
        order = (
            nodes.join(cnt, ["gx", "gy"], "left")
            .select(
                "gx",
                "gy",
                F.coalesce(
                    F.col("mx")
                    + F.when(F.col("n_at_mx") >= 2, 1).otherwise(0),
                    F.lit(1),
                ).alias("ord"),
            )
            .localCheckpoint(eager=True)
        )
        total = order.agg(F.sum("ord")).collect()[0][0] or 0
        if total == prev_sum:
            return d8.join(order, ["gx", "gy"]).select(
                "gx", "gy", "z", "d8", F.col("ord").alias("strahler")
            )
        prev_sum = total
    raise ValueError(
        f"strahler_order: no fixpoint within max_iter={max_iter} rounds"
    )


def fill_sinks(
    cells: DataFrame, res: int = 256, max_iter: int = 60
) -> DataFrame:
    """Depression filling (Planchon & Darboux 2001, eps=0 "fill to
    flat" — ESRI ``Fill`` / GRASS ``r.fill.dir`` semantics): the
    hydrological DEM preprocessing step before D8, raising every sink
    to its SPILL level so downstream flow routing never stalls in a
    pit.  The filled surface is

        W(c) = max(z(c), min over escape paths c -> off-grid of the
                   max elevation along the path)

    computed by the monotone fixpoint

        W0(c)  = +BIG
        W'(c)  = max(z(c), min over the 8 neighbors n of W(n))

    with absent neighbors reading elevation 0 — the raster edge drains
    off-grid, the same _stencil9 convention d8_flow uses.  From the
    +BIG start the iteration is MONOTONE NONINCREASING, so it converges
    in O(longest drain path) rounds and a twin may unroll any fixed
    round count >= convergence onto the identical result (the
    flow_accumulation k-core argument).  Integer elevations stay
    integer throughout — the fixpoint is bit-deterministic cross-engine.

    Each round is ONE 8-way neighbor explode + ONE partial-aggregated
    groupBy (min + count) + a broadcast-free equi-join back on the cell
    key, ``localCheckpoint`` per round (the pagerank lineage rule).  At
    100 TB the round count is the DEM's longest drain path — the same
    banding-into-drainage-tiles mitigation flow_accumulation documents
    composes here.  Spark iterates to the detected fixpoint and raises
    past ``max_iter``.  Returns [gx, gy, z, filled, fill_depth].

    Reference parity: tilekiln delegates terrain prep to PostGIS/GDAL
    (``ST_``/gdal fill pipelines upstream of its tile SQL,
    /root/reference/tilekiln/definition.py:42-77 runs arbitrary layer
    SQL over whatever raster-derived tables exist); this is the
    from-scratch Spark expression of that preprocessing stage.
    """
    BIG = 1 << 40
    z = cells.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
        F.col("n").cast("long").alias("z"),
    ).localCheckpoint(eager=True)
    offs = [(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if (dx, dy) != (0, 0)]
    w = z.select("gx", "gy", "z", F.lit(BIG).alias("w")).localCheckpoint(
        eager=True
    )
    prev_total = None
    for _ in range(max_iter):
        # scatter each cell's current W onto its 8 neighbor targets
        targets = [
            F.struct(
                (F.col("gx") + dx).alias("tgx"), (F.col("gy") + dy).alias("tgy")
            )
            for dx, dy in offs
        ]
        nb = (
            w.select("w", F.explode(F.array(*targets)).alias("t"))
            .groupBy(F.col("t.tgx").alias("gx"), F.col("t.tgy").alias("gy"))
            .agg(F.min("w").alias("mn"), F.count("*").alias("nn"))
        )
        w = (
            z.join(nb, ["gx", "gy"], "left")
            .select(
                "gx",
                "gy",
                "z",
                F.greatest(
                    F.col("z"),
                    F.when(
                        F.coalesce(F.col("nn"), F.lit(0)) < 8,
                        F.least(F.coalesce(F.col("mn"), F.lit(BIG)), F.lit(0)),
                    ).otherwise(F.col("mn")),
                ).alias("w"),
            )
            .localCheckpoint(eager=True)
        )
        total = w.agg(F.sum("w")).collect()[0][0] or 0
        if total == prev_total:
            return w.select(
                "gx",
                "gy",
                "z",
                F.col("w").alias("filled"),
                (F.col("w") - F.col("z")).alias("fill_depth"),
            )
        prev_total = total
    raise ValueError(f"fill_sinks: no fixpoint within max_iter={max_iter} rounds")


def cost_distance(
    cells: DataFrame,
    sources: list[tuple[int, int]],
    res: int = 256,
    max_iter: int = 80,
) -> DataFrame:
    """Accumulated-cost surface over a friction raster (ESRI
    ``CostDistance`` / GRASS ``r.cost``), with moves priced by the
    Borgefors (1986) chamfer 2-3 metric so every accumulated cost is an
    EXACT integer:

        price(a -> b) = (cost(a) + cost(b)) * (2 cardinal | 3 diagonal)

    — the integer-exact stand-in for the usual avg-cost x {1, sqrt2}
    pricing (scale by 1/4 to recover average-cost units).  The surface
    is the grid shortest path from the nearest source:

        D(src) = 0;  D(c) = min over 8 neighbors n of D(n) + price(n,c)

    computed as Bellman-Ford relaxation from D0 = +BIG — MONOTONE
    NONINCREASING, so it converges in O(longest optimal path hops)
    rounds and a twin may unroll any fixed round count >= convergence
    (the flow_accumulation k-core argument).  Each round is ONE 8-way
    scatter of D(n) + price onto neighbor targets + ONE partial-agg
    min groupBy + a join back to the cell frame, ``localCheckpoint``
    per round.  At 100 TB the round count is the optimal-path hop bound
    — production cost surfaces band into tiles with halo exchange
    (Δ-stepping flavored); this shape composes with that banding.
    Unreached cells (disconnected from every source) keep acc = NULL.
    Returns [gx, gy, cost, acc].

    Reference parity: tilekiln runs arbitrary PostGIS layer SQL
    (/root/reference/tilekiln/definition.py:42-77) over whatever
    raster-derived tables upstream GDAL/GRASS jobs produce; this is the
    from-scratch Spark expression of that cost-surface stage.
    """
    BIG = 1 << 40
    base = cells.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
        F.col("n").cast("long").alias("cost"),
    ).localCheckpoint(eager=True)
    src_set = sorted({(int(a), int(b)) for a, b in sources})
    is_src = F.lit(False)
    for a, b in src_set:
        is_src = is_src | ((F.col("gx") == a) & (F.col("gy") == b))
    d = base.select(
        "gx",
        "gy",
        "cost",
        F.when(is_src, F.lit(0).cast("long")).otherwise(F.lit(BIG)).alias("acc"),
    ).localCheckpoint(eager=True)
    offs = [
        (dx, dy, 3 if dx * dy != 0 else 2)
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    ]
    prev_total = None
    for _ in range(max_iter):
        # scatter each cell's candidate onto its 8 neighbor targets;
        # price needs BOTH endpoint costs, so carry the source cost and
        # add the target's after the join back
        targets = [
            F.struct(
                (F.col("gx") + dx).alias("tgx"),
                (F.col("gy") + dy).alias("tgy"),
                (F.col("acc") + F.lit(w) * F.col("cost")).alias("part"),
                F.lit(w).alias("w"),
            )
            for dx, dy, w in offs
        ]
        nb = (
            d.where(F.col("acc") < BIG)
            .select(F.explode(F.array(*targets)).alias("t"))
            .select(
                F.col("t.tgx").alias("gx"),
                F.col("t.tgy").alias("gy"),
                F.col("t.part").alias("part"),
                F.col("t.w").alias("w"),
            )
        )
        # min over candidates of part + w*cost(target): cost(target) is a
        # per-target constant, so min(part + w*cost) = min over (part, w)
        # pairs — fold both via min(part + w*cost) AFTER the join; keep
        # the agg partial by pre-grouping on (gx, gy, w) then finishing
        relax = (
            nb.groupBy("gx", "gy", "w")
            .agg(F.min("part").alias("mp"))
            .join(base, ["gx", "gy"])
            .select(
                "gx", "gy", (F.col("mp") + F.col("w") * F.col("cost")).alias("cand")
            )
            .groupBy("gx", "gy")
            .agg(F.min("cand").alias("cand"))
        )
        d = (
            d.join(relax, ["gx", "gy"], "left")
            .select(
                "gx",
                "gy",
                "cost",
                F.least(
                    F.col("acc"), F.coalesce(F.col("cand"), F.lit(BIG))
                ).alias("acc"),
            )
            .localCheckpoint(eager=True)
        )
        total = d.agg(F.sum("acc")).collect()[0][0] or 0
        if total == prev_total:
            return d.select(
                "gx",
                "gy",
                "cost",
                F.when(F.col("acc") < BIG, F.col("acc")).alias("acc"),
            )
        prev_total = total
    raise ValueError(
        f"cost_distance: no fixpoint within max_iter={max_iter} rounds"
    )


def flow_length(
    cells: DataFrame, res: int = 256, max_iter: int = 60
) -> DataFrame:
    """D8 flow length (ESRI ``FlowLength``, both directions) over the
    flow forest, with steps priced in HALF-CELL integer units (cardinal
    2, diagonal 3 — the same chamfer 2-3 integerization cost_distance
    uses; divide by 2 for cell-size units):

        down(c) = 0 at sinks;  down(c) = price(c -> next) + down(next)
        up(c)   = max over inflowing children u of (price(u -> c) + up(u))

    — downstream distance-to-outlet and upstream longest-drainage-path,
    the pair hydrologists use for time-of-concentration.  Both are
    MONOTONE NONDECREASING fixpoints from 0 (the flow_accumulation
    k-core argument: a twin may unroll any fixed round count >=
    convergence).  Each round: ONE join of the D8 edge list against the
    current lengths + ONE partial-agg groupBy (max), both directions
    advanced in the same loop, ``localCheckpoint`` per round; rounds =
    longest flow path, the documented D8 scaling bound.  Edges draining
    off-grid price their final step too (the edge cell's exit hop).
    Returns [gx, gy, z, d8, down_len, up_len]."""
    d8 = d8_flow(cells, res).localCheckpoint(eager=True)
    w_price = F.when(
        F.col("d8").isin(2, 8, 32, 128), F.lit(3)
    ).otherwise(F.lit(2))
    nodes = d8.select(
        "gx", "gy", F.when(F.col("d8") > 0, w_price).otherwise(F.lit(0)).alias("w")
    ).localCheckpoint(eager=True)
    in_grid = d8.select(F.col("gx").alias("tgt_gx"), F.col("gy").alias("tgt_gy"))
    edges = (
        d8.where(F.col("d8") > 0)
        .join(in_grid, ["tgt_gx", "tgt_gy"], "semi")
        .select(
            F.col("gx").alias("ux"),
            F.col("gy").alias("uy"),
            F.col("tgt_gx").alias("gx"),
            F.col("tgt_gy").alias("gy"),
            w_price.alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    down = nodes.select("gx", "gy", F.lit(0).cast("long").alias("dn"))
    up = nodes.select("gx", "gy", F.lit(0).cast("long").alias("up"))
    down = down.localCheckpoint(eager=True)
    up = up.localCheckpoint(eager=True)
    prev = None
    for _ in range(max_iter):
        # down'(c) = w(c) + down(next(c)) when next is in-grid, else w(c)
        # — edges has columns ux,uy,gx,gy,w; join down on target (gx,gy)
        down_next = (
            edges.join(down, ["gx", "gy"])
            .select(
                F.col("ux").alias("gx"),
                F.col("uy").alias("gy"),
                (F.col("w") + F.col("dn")).alias("cand"),
            )
        )
        down = (
            nodes.join(down_next, ["gx", "gy"], "left")
            .select(
                "gx",
                "gy",
                F.coalesce(F.col("cand"), F.col("w").cast("long")).alias("dn"),
            )
            .localCheckpoint(eager=True)
        )
        # up'(c) = max over children (w(child) + up(child)), 0 if none
        up_in = (
            edges.join(
                up.select(
                    F.col("gx").alias("ux"), F.col("gy").alias("uy"), "up"
                ),
                ["ux", "uy"],
            )
            .groupBy("gx", "gy")
            .agg(F.max(F.col("w") + F.col("up")).alias("mx"))
        )
        up = (
            nodes.join(up_in, ["gx", "gy"], "left")
            .select(
                "gx", "gy", F.coalesce("mx", F.lit(0)).cast("long").alias("up")
            )
            .localCheckpoint(eager=True)
        )
        tot = (
            down.agg(F.sum("dn")).collect()[0][0] or 0,
            up.agg(F.sum("up")).collect()[0][0] or 0,
        )
        if tot == prev:
            return (
                d8.join(down, ["gx", "gy"])
                .join(up, ["gx", "gy"])
                .select(
                    "gx",
                    "gy",
                    "z",
                    "d8",
                    F.col("dn").alias("down_len"),
                    F.col("up").alias("up_len"),
                )
            )
        prev = tot
    raise ValueError(
        f"flow_length: no fixpoint within max_iter={max_iter} rounds"
    )


def region_group(
    cells: DataFrame,
    res: int = 256,
    connectivity: int = 4,
    max_iter: int = 40,
) -> DataFrame:
    """Raster region grouping (ESRI ``RegionGroup`` / GDAL sieve's
    labeling stage): connected components of equal-VALUE cells under 4-
    or 8-connectivity, every cell labeled by its region's minimum cell
    (lexicographic (gy, gx) — the deterministic canonical root).

    Labels spread by min-label propagation with a POINTER SHORTCUT each
    round (label'(c) = min(own, neighbor-min, label(label(c))) — the
    Shiloach-Vishkin shortcutting idea), so convergence is
    O(log diameter) rounds instead of diameter rounds: the replica
    measures 3 rounds (4-conn) / 6 rounds (8-conn) on the 16x16 block
    fixture where plain propagation needs 7 / 16.  The fixpoint (min
    cell per component) is schedule-independent, so a twin may unroll
    the identical round schedule any fixed count >= convergence (the
    k-core bounded-unroll argument).  All labels are exact integer
    coordinate pairs — bit-deterministic cross-engine, and pair labels
    (not packed scalars) keep the op correct at z30-scale global grids
    where gy*width+gx packing would overflow.

    Each round: ONE scatter of (label, value) onto the 4/8 neighbor
    targets + ONE partial-agg min groupBy keyed (gx, gy, v) — the
    same-value constraint rides the group key, so no post-join filter —
    plus ONE shortcut self-join on the label coordinates,
    ``localCheckpoint`` per round.  At 100 TB: log-round CC is the
    standard connected-components-in-MapReduce shape (Rastogi et al.'s
    hash-to-min family); the alternating large-star/small-star variant
    drops in if skewed mega-regions ever dominate a round.
    Returns [gx, gy, v, region_gx, region_gy, region_size]."""
    if connectivity == 4:
        offs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    elif connectivity == 8:
        offs = [
            (dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if (dx, dy) != (0, 0)
        ]
    else:
        raise ValueError(f"connectivity must be 4 or 8, got {connectivity}")
    lab = cells.select(
        (F.col("x").cast("long") * res + F.col("bin_x")).alias("gx"),
        (F.col("y").cast("long") * res + F.col("bin_y")).alias("gy"),
        F.col("n").cast("long").alias("v"),
    ).select(
        "gx",
        "gy",
        "v",
        F.col("gx").alias("lx"),
        F.col("gy").alias("ly"),
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        targets = [
            F.struct(
                (F.col("gx") + dx).alias("tgx"), (F.col("gy") + dy).alias("tgy")
            )
            for dx, dy in offs
        ]
        nb = (
            lab.select(
                "v",
                F.struct(F.col("ly"), F.col("lx")).alias("l"),
                F.explode(F.array(*targets)).alias("t"),
            )
            .groupBy(
                F.col("t.tgx").alias("gx"), F.col("t.tgy").alias("gy"), "v"
            )
            .agg(F.min("l").alias("nbl"))
        )
        # shortcut: the label currently assigned to my label's cell
        short = lab.select(
            F.col("gx").alias("lx"),
            F.col("gy").alias("ly"),
            F.struct(F.col("ly").alias("sly"), F.col("lx").alias("slx")).alias(
                "sl"
            ),
        )
        nxt = (
            lab.join(nb, ["gx", "gy", "v"], "left")
            .join(short, ["lx", "ly"], "left")
            .select(
                "gx",
                "gy",
                "v",
                F.least(
                    F.struct(F.col("ly"), F.col("lx")),
                    F.coalesce(
                        F.col("nbl"), F.struct(F.col("ly"), F.col("lx"))
                    ),
                    F.coalesce(
                        F.struct(
                            F.col("sl.sly").alias("ly"),
                            F.col("sl.slx").alias("lx"),
                        ),
                        F.struct(F.col("ly"), F.col("lx")),
                    ),
                ).alias("m"),
            )
            .select(
                "gx", "gy", "v", F.col("m.lx").alias("lx"), F.col("m.ly").alias("ly")
            )
            .localCheckpoint(eager=True)
        )
        moved = (
            nxt.join(
                lab.select("gx", "gy", F.col("lx").alias("plx"), F.col("ly").alias("ply")),
                ["gx", "gy"],
            )
            .where((F.col("lx") != F.col("plx")) | (F.col("ly") != F.col("ply")))
            .count()
        )
        lab = nxt
        if moved == 0:
            sizes = lab.groupBy("lx", "ly").agg(F.count("*").alias("region_size"))
            return lab.join(sizes, ["lx", "ly"]).select(
                "gx",
                "gy",
                "v",
                F.col("lx").alias("region_gx"),
                F.col("ly").alias("region_gy"),
                "region_size",
            )
    raise ValueError(
        f"region_group: no fixpoint within max_iter={max_iter} rounds"
    )


def wetness_index(
    cells: DataFrame,
    res: int = 256,
    cell_size: float = 1.0,
    max_iter: int = 30,
    min_tan: float = 1e-3,
) -> DataFrame:
    """Topographic wetness index (Beven & Kirkby 1979; SAGA/GRASS
    ``r.topidx``):

        TWI = ln( a / tan beta ),
        a   = (acc + 1) * cell_size   (specific catchment area),
        tan beta = sqrt(p^2 + q^2)    (Horn 3x3 gradient magnitude)

    — the saturation-propensity composite hydrologists derive from
    every DEM, and the showcase COMPOSITION of two already-verified
    operators: :func:`flow_accumulation` (exact-integer upstream
    counts) and the shared :func:`_stencil9` / :func:`_horn_gradients`
    slope stencil.  Flat cells (gradient exactly 0) clamp tan beta to
    ``min_tan`` (the standard r.topidx guard) instead of emitting inf.

    The only new work beyond the two inputs is ONE equi-join on the
    cell key + a map-only expression; every float is a deterministic
    elementary function of exact integers, rounded to 6 decimals at the
    boundary (the cross-engine libm-ulp rule).  Returns
    [gx, gy, z, acc, tan_slope, twi]."""
    acc = flow_accumulation(cells, res, max_iter=max_iter)
    agg = _stencil9(cells, res)
    z = [F.col(f"z{i}") for i in range(9)]
    dzdx, dzdy = _horn_gradients(z, cell_size)
    tanb = F.sqrt(dzdx * dzdx + dzdy * dzdy)
    slope = agg.where(F.col("present") == 1).select(
        F.col("tgx").alias("gx"), F.col("tgy").alias("gy"), tanb.alias("tanb")
    )
    sca = (F.col("acc") + 1).cast("double") * F.lit(float(cell_size))
    twi = F.log(sca / F.greatest(F.col("tanb"), F.lit(float(min_tan))))
    return acc.join(slope, ["gx", "gy"]).select(
        "gx",
        "gy",
        "z",
        "acc",
        (F.round(F.col("tanb"), 6) + F.lit(0.0)).alias("tan_slope"),
        (F.round(twi, 6) + F.lit(0.0)).alias("twi"),
    )


def least_cost_path(
    surface: DataFrame,
    targets: list[tuple[int, int]],
    max_rounds: int = 10,
) -> DataFrame:
    """Least-cost path extraction over a :func:`cost_distance` surface
    (ESRI ``CostPath`` / GRASS ``r.path``): walk each target back to
    its nearest source along the optimality condition

        pred(c) = argmin over neighbors p with
                  acc(p) + w * (cost(p) + cost(c)) == acc(c)

    (chamfer 2-3 weights, EXACT integer equality — the backlink is a
    property of the converged surface, no state carried from the
    Bellman-Ford rounds), ties broken on the smallest (gx, gy), so the
    backlink raster is a deterministic FUNCTION and each path unique.

    The chain is enumerated by POINTER DOUBLING (the watershed_basins
    machinery pointed at path listing): round k extends every known
    ancestor row through a jump table of span 2^k and then squares the
    jump table, so a path of L hops lists in ceil(log2 L) + 1 rounds of
    two keyed joins — never a per-step driver loop.  Cells store exact
    integer acc, so the emitted (step, acc) sequence is strictly
    decreasing to 0 at the source.

    Returns [tx, ty, step, gx, gy, acc]: step 0 is the target itself;
    an unreached target emits only its own row."""
    offs = [
        (dx, dy, 3 if dx * dy != 0 else 2)
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    ]
    s = surface.select("gx", "gy", "cost", "acc").where(
        F.col("acc").isNotNull()
    ).localCheckpoint(eager=True)
    cand = None
    for dx, dy, w in offs:
        p = s.select(
            (F.col("gx") + F.lit(dx)).alias("gx"),
            (F.col("gy") + F.lit(dy)).alias("gy"),
            F.col("gx").alias("pgx"),
            F.col("gy").alias("pgy"),
            F.col("cost").alias("pcost"),
            F.col("acc").alias("pacc"),
        )
        c = s.join(p, ["gx", "gy"]).where(
            (F.col("acc") > 0)
            & (F.col("pacc") + F.lit(w) * (F.col("pcost") + F.col("cost"))
               == F.col("acc"))
        ).select("gx", "gy", "pgx", "pgy")
        cand = c if cand is None else cand.unionAll(c)
    pred = (
        cand.groupBy("gx", "gy")
        .agg(F.min(F.struct("pgx", "pgy")).alias("p"))
        .select("gx", "gy", F.col("p.pgx").alias("jgx"), F.col("p.pgy").alias("jgy"))
        .localCheckpoint(eager=True)
    )
    tgt = sorted({(int(a), int(b)) for a, b in targets})
    spark = surface.sparkSession
    anc = spark.createDataFrame(
        [(a, b, 0, a, b) for a, b in tgt],
        "tx long, ty long, step long, gx long, gy long",
    ).localCheckpoint(eager=True)
    jump = pred.select(
        "gx", "gy", "jgx", "jgy", F.lit(1).cast("long").alias("d")
    ).localCheckpoint(eager=True)
    for _ in range(max_rounds):
        ext = (
            anc.join(jump, ["gx", "gy"])
            .select(
                "tx", "ty", (F.col("step") + F.col("d")).alias("step"),
                F.col("jgx").alias("gx"), F.col("jgy").alias("gy"),
            )
        )
        if not ext.take(1):
            break
        anc = anc.unionAll(ext).localCheckpoint(eager=True)
        jump = (
            jump.alias("a")
            .join(
                jump.select(
                    F.col("gx").alias("jgx"), F.col("gy").alias("jgy"),
                    F.col("jgx").alias("kgx"), F.col("jgy").alias("kgy"),
                    F.col("d").alias("d2"),
                ),
                ["jgx", "jgy"],
            )
            .select(
                "gx", "gy",
                F.col("kgx").alias("jgx"), F.col("kgy").alias("jgy"),
                (F.col("d") + F.col("d2")).alias("d"),
            )
            .localCheckpoint(eager=True)
        )
    else:
        raise ValueError(
            f"least_cost_path: path longer than 2^{max_rounds} hops"
        )
    # LEFT join: an unreached target (NULL acc, filtered out of `s`)
    # keeps its step-0 seed row with acc NULL — the documented sentinel
    return anc.join(s.select("gx", "gy", "acc"), ["gx", "gy"], "left").select(
        "tx", "ty", "step", "gx", "gy", "acc"
    )
