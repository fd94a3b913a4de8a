"""Spatial-join primitives beyond zonal stats (BASELINE north rule:
"spatial-join + tiling engine (H3/S2 index, point-in-polygon, kNN,
raster↔vector)"):

- point_in_polygon: points ⋈ zones.  Candidate pruning is a bbox
  equi-range join on the grid-tile key space (the same index the zonal
  join uses); the exact test is a vectorized even-odd ray cast in an
  Arrow kernel (the reference's analog is GEOSPreparedContainsXY inside
  the flood fill, floodfill.cpp:38-50).
- knn_tiles: k nearest raster tiles to each query point by tile-center
  distance — pure JVM expressions (candidate ring explode + window
  rank), no UDF.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F, types as T

from .extract import BROADCAST_ZONE_LIMIT, prepare_zones, zone_tile_pairs
from .geom import GEOM_COLS, Geometry, ZoneArrays
from .grid import resolve_grid
from .io import arrow_batch

__all__ = ["point_in_polygon", "knn_tiles", "points_in_geom",
           "sample_points"]

_SAMPLE_SCHEMA = T.StructType([
    T.StructField("point_id", T.LongType()),
    T.StructField("x", T.DoubleType()),
    T.StructField("y", T.DoubleType()),
    T.StructField("r", T.IntegerType()),
    T.StructField("c", T.IntegerType()),
    T.StructField("v_nearest", T.DoubleType()),
    T.StructField("v_bilinear", T.DoubleType()),
])


def sample_points(points: DataFrame, tiles: DataFrame, *,
                  grid: dict | None = None) -> DataFrame:
    """Raster point query (gdallocationinfo / "extract value at
    coordinates", the feature-extraction-at-points shape): for every
    (point_id, x, y) return the containing cell, its value
    (``v_nearest``; NULL on nodata), and the bilinear interpolation
    between the four surrounding CELL CENTERS (``v_bilinear``; NULL
    when any corner is outside the raster or nodata — GDAL's
    edge/nodata behaviour).

    Distributed shape: points key to their owning tile with pure JVM
    expressions; tile payloads arrive with a 1-cell halo via the focal
    scatter (so corner cells across a tile edge need no second hop;
    nodata, mask band and scale/offset are applied on read there);
    ONE cogrouped ``applyInArrow`` shuffle assembles each tile's padded
    block (focal._padded) and evaluates all its points vectorized.
    Points shuffle as scalars; payloads cross the wire exactly once.

    Exactness: for quarter-aligned coordinates and integer-valued
    rasters, the weights are dyadic rationals, so the interpolation is
    computed without rounding — bit-identical to the SQL oracle."""
    from .focal import _halo_parts, _padded

    grid, tile = resolve_grid(tiles, grid)
    g_nrows, g_ncols = int(grid["grid_nrows"]), int(grid["grid_ncols"])
    xmin, ymax = float(grid["grid_xmin"]), float(grid["grid_ymax"])
    dx, dy = float(grid["dx"]), float(grid["dy"])

    parts = _halo_parts(tiles, 1, tile, grid)
    pts = (points.select(
        "point_id", F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"))
        .withColumn("_r", F.floor((F.lit(ymax) - F.col("y")) / dy)
                    .cast("int"))
        .withColumn("_c", F.floor((F.col("x") - xmin) / dx).cast("int"))
        .where((F.col("_r") >= 0) & (F.col("_r") < g_nrows)
               & (F.col("_c") >= 0) & (F.col("_c") < g_ncols))
        .withColumn("t_row", (F.col("_r") / tile).cast("int"))
        .withColumn("t_col", (F.col("_c") / tile).cast("int")))

    def fn(pts_t, parts_t):
        x, y = pts_t.column("x").to_numpy(), pts_t.column("y").to_numpy()
        r = pts_t.column("_r").to_numpy().astype(np.int64)
        c = pts_t.column("_c").to_numpy().astype(np.int64)
        got = _padded(parts_t, 1) if len(r) else None
        if got is None:
            # no points, or points whose containing tile has no row in
            # the tiles table (sparse tile tables, e.g. burn_to_tiles
            # output): those keep their row with NULL values — GDAL /
            # LEFT-JOIN-oracle semantics, not a silent drop (ADVICE r5)
            nearest = bilin = np.full(len(r), np.nan)
        else:
            c_row0, c_col0, pad = got
            nearest = pad[r - c_row0 + 1, c - c_col0 + 1]
            # bilinear between the 4 surrounding cell centers
            fx = (x - xmin) / dx - 0.5
            fy = (ymax - y) / dy - 0.5
            gr = np.floor(fy).astype(np.int64)
            gc = np.floor(fx).astype(np.int64)
            wr = fy - gr
            wx = fx - gc
            gi = gr - c_row0 + 1
            gj = gc - c_col0 + 1
            v00 = pad[gi, gj]
            v01 = pad[gi, gj + 1]
            v10 = pad[gi + 1, gj]
            v11 = pad[gi + 1, gj + 1]
            bilin = ((1 - wr) * (1 - wx) * v00 + (1 - wr) * wx * v01
                     + wr * (1 - wx) * v10 + wr * wx * v11)
        return pa.Table.from_batches([arrow_batch(_SAMPLE_SCHEMA, {
            "point_id": pts_t.column("point_id").to_numpy(), "x": x, "y": y,
            "r": r, "c": c, "v_nearest": nearest, "v_bilinear": bilin})])

    return (pts.groupBy("t_row", "t_col")
            .cogroup(parts.groupBy("t_row", "t_col"))
            .applyInArrow(fn, schema=_SAMPLE_SCHEMA))


def points_in_geom(geom: Geometry, xs: np.ndarray, ys: np.ndarray,
                   chunk_cells: int = 2_000_000) -> np.ndarray:
    """Vectorized even-odd ray cast (areal geometries; holes handled by
    parity across all rings).

    Vectorized across edges: all ring edges are flattened into one
    segment stream.  For SMALL point sets (the normal case after
    tile-key candidate pruning — pruned groups are tens of points) the
    test runs as (edges × points) 2-D blocks of ≤ chunk_cells, so a
    20k-vertex coastline costs a handful of numpy passes instead of
    20k Python iterations (measured 4–8× faster at N ≤ ~2k).  For
    LARGE point sets the per-edge 1-D sweep is faster (contiguous
    SIMD-friendly vectors, smaller temporaries — measured ~1.5× at
    N = 200k), so the kernel switches on N.  Both branches use
    identical per-edge float arithmetic (same crossing comparison,
    same division)."""
    inside = np.zeros(xs.shape, dtype=bool)
    ex0, ey0, ex1, ey1 = [], [], [], []
    for ring in geom.rings:
        x0, y0 = ring[:-1, 0], ring[:-1, 1]
        x1, y1 = ring[1:, 0], ring[1:, 1]
        m = y0 != y1  # horizontal edges never cross the ray
        ex0.append(x0[m]); ey0.append(y0[m])
        ex1.append(x1[m]); ey1.append(y1[m])
    if not ex0:
        return inside
    x0 = np.concatenate(ex0); y0 = np.concatenate(ey0)
    x1 = np.concatenate(ex1); y1 = np.concatenate(ey1)
    E, N = x0.size, xs.size
    if E == 0 or N == 0:
        return inside
    if N > 2048:
        # per-edge 1-D sweep (scalar edge params broadcast over the
        # contiguous point vector)
        for i in range(E):
            a0, b0, a1, b1 = x0[i], y0[i], x1[i], y1[i]
            inside ^= ((b0 > ys) != (b1 > ys)) & \
                      (xs < (a1 - a0) * (ys - b0) / (b1 - b0) + a0)
        return inside
    step = max(1, chunk_cells // max(N, 1))
    for s in range(0, E, step):
        a0 = x0[s:s + step, None]; b0 = y0[s:s + step, None]
        a1 = x1[s:s + step, None]; b1 = y1[s:s + step, None]
        crosses = ((b0 > ys) != (b1 > ys)) & \
                  (xs < (a1 - a0) * (ys - b0) / (b1 - b0) + a0)
        inside ^= np.bitwise_xor.reduce(crosses, axis=0)
    return inside


def point_in_polygon(points: DataFrame, zones: DataFrame, *,
                     grid: dict | None = None, tile: int | None = None,
                     broadcast_limit: int = BROADCAST_ZONE_LIMIT) -> DataFrame:
    """(point_id, x, y) ⋈ zones(zone_id, geometry WKT) → one row per
    containing (point, zone) pair (strict-interior even-odd test).

    Scale shape: candidate pruning is an EQUI-join on the containing
    tile key — each point maps to exactly one tile, each zone bbox
    explodes to its covered tile range (zone_tile_pairs), and Spark
    hash-joins on (tile_row, tile_col); never a bbox range condition
    (which would plan as BroadcastNestedLoopJoin, O(points × zones)).
    Below ``broadcast_limit`` zones the exploded zone side is broadcast
    and the parsed geometry rides a SparkContext broadcast
    (extract.prepare_zones); above it the join shuffles both sides by
    tile key and the geometry arrays travel in the join (AQE handles
    skewed tiles).  Each zone row tests its own geometry: zones sharing
    a zone_id each yield their own containing (point, zone) rows.

    ``grid``/``tile``: optional tile lattice (same dict shape as the
    zonal grid); defaults to a ~sqrt(n_zones)-per-side lattice over the
    zones' bounding box."""
    import math

    # one collect counts and validates the zones (and, below the limit,
    # broadcasts the parsed geometry); its bboxes size the lattice
    prep = prepare_zones(zones, "auto", limit=broadcast_limit)
    zb, lookup = prep.zones_b, prep.lookup
    if grid is not None:
        t = int(tile or grid.get("tile") or 64)
        gx, gy = float(grid["grid_xmin"]), float(grid["grid_ymax"])
        tw, th = float(grid["dx"]) * t, float(grid["dy"]) * t
        ntr = (int(grid["grid_nrows"]) + t - 1) // t
        ntc = (int(grid["grid_ncols"]) + t - 1) // t
    else:
        if lookup is not None:
            n_zones = prep.n_zones
            with np.errstate(invalid="ignore"):
                b = (*np.nanmin(prep.bbox[:, :2], axis=0, initial=np.inf),
                     *np.nanmax(prep.bbox[:, 2:], axis=0, initial=-np.inf))
        else:
            *b, n_zones = zb.agg(F.min("xmin"), F.min("ymin"), F.max("xmax"),
                                 F.max("ymax"), F.count("*")).first()
        x0, y0, x1, y1 = (float(v) for v in b)
        side = max(1, int(math.sqrt(max(n_zones, 1))))
        tw = max((x1 - x0) / side, 1e-12)
        th = max((y1 - y0) / side, 1e-12)
        gx, gy, ntr, ntc = x0, y1, side, side
    lattice = dict(grid_xmin=gx, grid_ymax=gy, dx=tw, dy=th,
                   grid_nrows=ntr, grid_ncols=ntc)

    # pairs are keyed by zone row (_zrow), so zones sharing a zone_id
    # each test their own geometry.  Broadcast: the zone side is a
    # local table of (ordinal, bbox) from the collect, the geometry
    # the broadcast ZoneArrays; shuffle: the geometry arrays travel in
    # the join
    geo = [] if lookup is not None else ["zone_id", *GEOM_COLS]
    if lookup is not None:
        bb = {c: prep.bbox[:, k] for k, c in enumerate(("xmin", "ymin", "xmax", "ymax"))}
        zrows = zb.sparkSession.createDataFrame(pa.table(
            {"_zrow": np.arange(prep.n_zones, dtype=np.int64), **bb}))
    else:
        zrows = zb.select(F.monotonically_increasing_id().alias("_zrow"), "xmin",
                          "ymin", "xmax", "ymax", *geo)
    cols = ["_zrow", "xmin", "ymin", "xmax", "ymax", *geo]
    zpairs = zone_tile_pairs(zrows, lattice, 1).select(*cols, "tile_row", "tile_col")
    if lookup is not None:
        zpairs = F.broadcast(zpairs)

    # clamp point tile keys into the lattice: a point outside an
    # explicit grid maps to the nearest edge tile, which is also where
    # zone_tile_pairs clamps an overflowing zone bbox — so containment
    # that holds outside the raster extent is still found (the bbox
    # where() below prunes false candidates).  Zones whose bbox misses
    # the grid entirely are dropped by zone_tile_pairs: an explicit
    # grid must at least intersect every zone of interest.
    p = points.withColumn(
        "tile_row", F.least(F.lit(ntr - 1), F.greatest(F.lit(0), F.floor(
            (F.lit(gy) - F.col("y")) / th))).cast("int")) \
        .withColumn("tile_col", F.least(F.lit(ntc - 1), F.greatest(F.lit(0), F.floor(
            (F.col("x") - gx) / tw))).cast("int"))
    cand = p.join(zpairs, ["tile_row", "tile_col"]) \
        .where((F.col("x") >= F.col("xmin")) & (F.col("x") <= F.col("xmax")) &
               (F.col("y") >= F.col("ymin")) & (F.col("y") <= F.col("ymax"))) \
        .select("point_id", "x", "y", "_zrow", *geo)

    schema = T.StructType([
        T.StructField("point_id", T.LongType()),
        T.StructField("zone_id", T.StringType()),
    ])

    def kernel(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            # the candidates grouped by zone row; each group's zone is
            # the broadcast geometry, or (shuffle) its first row's arrays
            zrow = b.column("_zrow").to_numpy()
            order = np.argsort(zrow, kind="stable")
            start = np.flatnonzero(np.diff(zrow[order], prepend=-1))
            bounds = np.append(start, order.size)
            if lookup is not None:
                za, zo = lookup.value[0], zrow[order[start]]
            else:
                first = pa.array(order[start])
                za = ZoneArrays.from_arrow(
                    *(b.column(c).take(first) for c in GEOM_COLS),
                    zone_id=b.column("zone_id").take(first))
                zo = np.arange(start.size)
            x, y = b.column("x").to_numpy()[order], b.column("y").to_numpy()[order]
            hit = np.zeros(order.size, dtype=bool)
            for k, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
                hit[lo:hi] = points_in_geom(za.geometry(int(zo[k])), x[lo:hi], y[lo:hi])
            zid = np.repeat(za.zone_id[zo], np.diff(bounds))[hit]
            yield pa.RecordBatch.from_arrays(
                [pa.array(b.column("point_id").to_numpy()[order][hit], type=pa.int64()),
                 pa.array(zid, type=pa.string())], names=["point_id", "zone_id"])

    return cand.mapInArrow(kernel, schema=schema)


def knn_tiles(points: DataFrame, grid: dict, *, k: int = 4,
              tile: int | None = None) -> DataFrame:
    """k nearest tiles (by tile-center euclidean distance) for each
    (point_id, x, y) row.  Candidate ring around the containing tile is
    exploded JVM-side; guaranteed superset for the k within bounds."""
    tile = tile or grid.get("tile") or 64
    gx, gy = float(grid["grid_xmin"]), float(grid["grid_ymax"])
    dx, dy = float(grid["dx"]), float(grid["dy"])
    ntr = (int(grid["grid_nrows"]) + tile - 1) // tile
    ntc = (int(grid["grid_ncols"]) + tile - 1) // tile
    tw, th = dx * tile, dy * tile
    # candidate ring radius: sqrt(k)+1 suffices on a roomy 2-D lattice,
    # but a thin grid (e.g. a single tile row) needs up to k tiles along
    # one axis — take the max so the ring is a guaranteed superset
    r = max(int(np.ceil(np.sqrt(k))) + 1, int(k))

    p = points.withColumn("_tr", F.floor((gy - F.col("y")) / th).cast("int")) \
              .withColumn("_tc", F.floor((F.col("x") - gx) / tw).cast("int"))
    p = p.withColumn("tile_row", F.explode(F.sequence(
            F.greatest(F.lit(0), F.col("_tr") - r),
            F.least(F.lit(ntr - 1), F.col("_tr") + r)))) \
         .withColumn("tile_col", F.explode(F.sequence(
            F.greatest(F.lit(0), F.col("_tc") - r),
            F.least(F.lit(ntc - 1), F.col("_tc") + r))))
    cx = gx + (F.col("tile_col") + F.lit(0.5)) * tw
    cy = gy - (F.col("tile_row") + F.lit(0.5)) * th
    p = p.withColumn("dist2", (F.col("x") - cx) * (F.col("x") - cx) +
                              (F.col("y") - cy) * (F.col("y") - cy))
    w = Window.partitionBy("point_id").orderBy(
        F.asc("dist2"), F.asc("tile_row"), F.asc("tile_col"))
    return (p.withColumn("rank", F.row_number().over(w))
             .where(F.col("rank") <= k)
             .select("point_id", "tile_row", "tile_col",
                     F.col("rank").cast("int").alias("rank"), "dist2"))
