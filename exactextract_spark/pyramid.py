"""Raster overviews: block-aggregate pyramid levels (gdaladdo -r average).

Every raster pipeline that serves tiles or runs multi-resolution
analysis materializes overviews — the f×f block aggregation of a level
into the next (GDAL ``gdaladdo``, COG overview levels, the reference's
RasterView disaggregation in reverse: regrid.py goes fine→coarse for
WEIGHTS by replication; this goes fine→coarse for VALUES by block
statistics).

Distributed shape: when ``factor`` divides the tile size, every coarse
block lies inside exactly one tile, so the whole computation is
**map-only — zero shuffles, zero Exchange in the plan** (asserted in
tests): one ``mapInArrow`` decodes (``io.decode_defined_tiles``: nodata,
mask band and scale/offset applied on read), block-reduces with a
reshape, and emits coarse-cell rows; ``overview_tiles`` re-encodes them
as a coarse tile table.
A factor that does not divide the tile size would put one coarse block
across up to four tiles; rather than silently paying a hidden shuffle,
``overview`` rejects it — re-tile first (the halo machinery in
focal.py is the general answer for cross-tile windows).

Exactness: block sums are ≤ f² small-magnitude doubles (exact for the
integer-valued fixtures under any fold order), count is an integer,
min/max are order-free, mean is one correctly-rounded division —
bit-identical to the DuckDB ``GROUP BY r//f, c//f`` oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from .focal import _stats
from .grid import resolve_grid
from .io import arrow_batch, decode_defined_tiles, tile_payload_columns

__all__ = ["overview", "overview_tiles", "coarse_grid",
           "raster_histogram"]

_OV_SCHEMA = T.StructType([
    T.StructField("ov_r", T.IntegerType()),
    T.StructField("ov_c", T.IntegerType()),
    T.StructField("n", T.LongType()),
    T.StructField("sum", T.DoubleType()),
    T.StructField("mean", T.DoubleType()),
    T.StructField("min", T.DoubleType()),
    T.StructField("max", T.DoubleType()),
])


def coarse_grid(grid: dict, factor: int) -> dict:
    """Grid dict of the overview level: f× larger cells, ceil-divided
    dimensions, same extent origin."""
    f = int(factor)
    out = dict(grid_xmin=float(grid["grid_xmin"]),
               grid_ymax=float(grid["grid_ymax"]),
               dx=float(grid["dx"]) * f, dy=float(grid["dy"]) * f,
               grid_nrows=-(-int(grid["grid_nrows"]) // f),
               grid_ncols=-(-int(grid["grid_ncols"]) // f))
    # propagate the stride only when the source grid declares it —
    # consumers that need one infer or raise (grid.infer_tile_size)
    if grid.get("tile"):
        out["tile"] = int(grid["tile"])
    return out


def _block_reduce(arr: np.ndarray, f: int) -> dict:
    """Pad to a multiple of f with NaN, reshape to (R, f, C, f) blocks,
    return the per-block statistics (focal._stats)."""
    nr, nc = arr.shape
    R, C = -(-nr // f), -(-nc // f)
    pad = np.full((R * f, C * f), np.nan)
    pad[:nr, :nc] = arr
    blocks = pad.reshape(R, f, C, f).transpose(0, 2, 1, 3)
    valid = ~np.isnan(blocks)
    return _stats(valid.sum(axis=(2, 3)).astype(np.int64),
                  np.where(valid, blocks, 0.0).sum(axis=(2, 3)),
                  np.where(valid, blocks, np.inf).min(axis=(2, 3)),
                  np.where(valid, blocks, -np.inf).max(axis=(2, 3)))


def _tile_map(tiles: DataFrame, schema: T.StructType, fn) -> DataFrame:
    """Map-only pass over the decoded tiles: ``fn(row0, col0, arr)`` →
    output columns (field name → 1-D array) of one tile, concatenated
    per Arrow batch."""

    def run(batches):
        for b in batches:
            parts = [fn(r0, c0, arr) for r0, c0, arr in zip(
                b.column("row0").to_pylist(), b.column("col0").to_pylist(),
                decode_defined_tiles(b))]
            if parts:
                yield arrow_batch(schema, {
                    k: np.concatenate([p[k] for p in parts])
                    for k in schema.names})

    return tiles.select("row0", "col0", "nrows", "ncols",
                        *tile_payload_columns(tiles)).mapInArrow(run, schema)


def overview(tiles: DataFrame, factor: int = 4, *,
             grid: dict | None = None) -> DataFrame:
    """Coarse-cell statistics of the f×f block aggregation: one row per
    coarse cell — ``(ov_r, ov_c, n, sum, mean, min, max)`` over the
    block's defined (non-nodata) cells; all-nodata blocks keep the row
    with n=0 and NULL stats.  Map-only (no shuffle) — see module doc."""
    f = int(factor)
    grid, tile = resolve_grid(tiles, grid)
    if f < 2:
        raise ValueError(f"factor must be >= 2, got {factor}")
    if tile % f != 0:
        raise ValueError(
            f"factor {f} does not divide tile size {tile}: a coarse "
            f"block would span tiles — re-tile the raster first")

    def reduce_tile(row0, col0, arr):
        st = _block_reduce(arr, f)
        # row0/col0 are tile-aligned and f | tile, so the block origin
        # maps exactly onto the coarse grid
        R, C = st["count"].shape
        r, c = np.mgrid[row0 // f:row0 // f + R, col0 // f:col0 // f + C]
        return {"ov_r": r.ravel(), "ov_c": c.ravel(),
                "n": st.pop("count").ravel(),
                **{k: v.ravel() for k, v in st.items()}}

    return _tile_map(tiles, _OV_SCHEMA, reduce_tile)


def overview_tiles(ov: DataFrame, grid: dict, factor: int = 4, *,
                   column: str = "mean",
                   raster_id: str = "overview") -> DataFrame:
    """Materialize an overview level as a first-class tile table on the
    coarse grid, ready for ``exact_extract`` or another ``overview``
    pass (pyramid chaining).  Undefined coarse cells (all-nodata
    blocks) become NaN, which the kernel masks."""
    from .rasterize import burn_to_tiles

    cg = coarse_grid(grid, factor)
    named = ov.select(
        F.col("ov_r").cast("long").alias("r"),
        F.col("ov_c").cast("long").alias("c"),
        F.coalesce(F.col(column).cast("double"),
                   F.lit(float("nan"))).alias("burn"))
    return burn_to_tiles(named, cg, raster_id=raster_id, column="burn")


_HIST_SCHEMA = T.StructType([
    T.StructField("value", T.DoubleType()),
    T.StructField("n", T.LongType()),
])


def raster_histogram(tiles: DataFrame, *, grid: dict | None = None
                     ) -> DataFrame:
    """Global value histogram of the raster (``gdalinfo -hist``): one
    row per distinct defined value with its cell count.  Each tile
    bincounts locally (``np.unique`` inside the map stage), so the
    shuffle carries one compact (value, count) row per distinct value
    per tile — for categorical/integer rasters that is ~|domain| rows
    per tile regardless of tile size, then one tiny hash aggregate."""

    def local_hist(row0, col0, arr):
        uniq, cnt = np.unique(arr[~np.isnan(arr)], return_counts=True)
        return {"value": uniq, "n": cnt}

    return (_tile_map(tiles, _HIST_SCHEMA, local_hist)
            .groupBy("value").agg(F.sum("n").alias("n")))
