"""Vector→raster: burn zone coverage onto the grid.

The reference's coverage-fraction kernel answers "how much of each cell
does this polygon cover" per ZONE (raster_cell_intersection.cpp); GDAL
exposes the complementary direction as ``gdal_rasterize``.  This module
provides that direction Spark-first:

* ``rasterize_burn`` — per grid CELL, the number of zones covering it
  and the total covered area fraction ("burn").  Pure geometry — no
  raster values are read; the exact per-(zone, cell) fractions come
  from the subdivide machinery (subdivide.py), then ONE hash shuffle
  keyed by cell aggregates across zones.  Every coverage fraction is a
  float32 multiple of 1/16 on the quarter-aligned fixture, so the
  double-precision sums are exact and combine-order-free.

* ``burn_to_tiles`` — materialize the burned cells as a first-class
  tile table (the engine's raster interchange format: encoded float64
  payloads + grid constants), so a rasterized layer can feed straight
  back into ``exact_extract`` — the full vector→raster→zonal round
  trip.  Cells no zone touches burn to 0.0 inside touched tiles;
  untouched tiles are not emitted (sparse rasterization, like a
  windowed ``gdal_rasterize`` writing only dirty blocks).

Scale shape (100 TB): subdivide's kernel emits (zone, cell) pieces
inside the tile scan stage; the burn aggregate is one exchange on the
cell key with map-side partial aggregation (cells touched by many
zones combine before the shuffle).  ``burn_to_tiles`` adds one further
exchange keyed by tile — both keys are dense integers with no skew
beyond zone density itself, which AQE's skew-join handles.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from .grid import resolve_grid
from .subdivide import subdivide

__all__ = ["rasterize_burn", "burn_to_tiles"]


def rasterize_burn(zones: DataFrame, tiles: DataFrame, *,
                   grid: dict | None = None,
                   strategy: str = "auto") -> DataFrame:
    """Per covered grid cell: ``(cell_id, r, c, n_zones, burn)`` where
    ``burn`` is the summed exact coverage fraction across all zones
    (> 1 where zones overlap) and ``n_zones`` counts covering zones.

    ``tiles`` supplies only the windowing (which grid blocks exist);
    payloads are never decoded."""
    grid, tile = resolve_grid(tiles, grid)
    pieces = subdivide(zones, tiles, grid=grid, tile_size=tile,
                       strategy=strategy)
    ncols = int(grid["grid_ncols"])
    return (pieces
            .groupBy("cell_id")
            .agg(F.count("*").alias("n_zones"),
                 F.sum(F.col("coverage").cast("double")).alias("burn"))
            .select(
                "cell_id",
                (F.col("cell_id") / ncols).cast("long").alias("r"),
                (F.col("cell_id") % ncols).alias("c"),
                "n_zones", "burn"))


_TILE_FIELDS = T.StructType([
    T.StructField("raster_id", T.StringType()),
    T.StructField("band", T.IntegerType()),
    T.StructField("tile_row", T.IntegerType()),
    T.StructField("tile_col", T.IntegerType()),
    T.StructField("row0", T.IntegerType()),
    T.StructField("col0", T.IntegerType()),
    T.StructField("nrows", T.IntegerType()),
    T.StructField("ncols", T.IntegerType()),
    T.StructField("values", T.BinaryType()),
])


def burn_to_tiles(burn: DataFrame, grid: dict, *,
                  raster_id: str = "burn",
                  column: str = "burn") -> DataFrame:
    """Assemble ``rasterize_burn`` output into the engine's tile-table
    schema (io.tiles_from_docs shape): one float64 payload per touched
    tile, untouched cells inside it 0.0.  The result is a first-class
    raster — ``exact_extract`` consumes it unchanged."""
    from .io import encode_tile

    # no tile table here — the grid dict must carry the stride (a
    # silently assumed 64 would mis-key every tile — ADVICE r5)
    from .grid import infer_tile_size
    tile = infer_tile_size(grid)
    g_nrows, g_ncols = int(grid["grid_nrows"]), int(grid["grid_ncols"])

    cells = burn.select(
        (F.col("r") / tile).cast("int").alias("tile_row"),
        (F.col("c") / tile).cast("int").alias("tile_col"),
        F.col("r").cast("int").alias("r"),
        F.col("c").cast("int").alias("c"),
        F.col(column).cast("double").alias("v"))

    def assemble(key, pdf):
        tr, tc = int(key[0]), int(key[1])
        row0, col0 = tr * tile, tc * tile
        nr = min(tile, g_nrows - row0)
        nc = min(tile, g_ncols - col0)
        arr = np.zeros((nr, nc), dtype=np.float64)
        arr[pdf["r"].to_numpy() - row0, pdf["c"].to_numpy() - col0] = \
            pdf["v"].to_numpy()
        import pandas as pd
        return pd.DataFrame([dict(
            raster_id=raster_id, band=0, tile_row=tr, tile_col=tc,
            row0=row0, col0=col0, nrows=nr, ncols=nc,
            values=encode_tile(arr))])

    t = cells.groupBy("tile_row", "tile_col").applyInPandas(
        assemble, schema=_TILE_FIELDS)
    return (t.withColumn("grid_xmin", F.lit(float(grid["grid_xmin"])))
             .withColumn("grid_ymax", F.lit(float(grid["grid_ymax"])))
             .withColumn("dx", F.lit(float(grid["dx"])))
             .withColumn("dy", F.lit(float(grid["dy"])))
             .withColumn("grid_nrows", F.lit(g_nrows))
             .withColumn("grid_ncols", F.lit(g_ncols))
             .withColumn("dtype", F.lit("float64"))
             .withColumn("nodata", F.lit(None).cast("double")))
