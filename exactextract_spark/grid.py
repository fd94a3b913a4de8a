"""Grid algebra: the spatial keyspace.

Re-expresses the reference's ``Grid`` (/root/reference/src/grid.h:41-356)
for the Spark engine.  A ``RasterGrid`` describes the full raster; tiles
are row-major rectangular windows (the reference's ``subdivide``,
src/grid.cpp:92-119 — here the tiling *is* the Spark partitioning unit).

Rows count top-down, columns left-right (grid.h:141-143).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

__all__ = ["RasterGrid", "TileWindow", "DEFAULT_TILE", "EARTH_RADIUS",
           "spherical_row_areas", "infer_tile_size", "resolve_grid"]

DEFAULT_TILE = 64
EARTH_RADIUS = 6378137.0  # reference raster_area.h:79
_PI_180 = math.pi / 180.0


def infer_tile_size(grid: dict | None, tiles=None) -> int:
    """Tile stride of a tile table: grid['tile'] when present, else
    inferred from the table itself.  The schema invariant
    ``row0 == tile_row * stride`` (and likewise for columns) makes
    ``row0 div tile_row`` the exact stride for ANY tile with a non-zero
    index — including sparse tables whose surviving tiles are all
    partial edge tiles (where the previous max(nrows, ncols) heuristic
    would under-infer).  When every tile is (0, 0) the grid fits one
    tile and any stride >= its extent addresses it identically, so
    max(greatest(nrows, ncols)) is still correct.  Raises when neither
    source can determine the stride (a silently assumed stride
    mis-addresses halo strips / tile keys with no error)."""
    if grid and grid.get("tile"):
        return int(grid["tile"])
    if tiles is not None:
        from pyspark.sql import functions as F
        row = tiles.select(
            F.max(F.when(F.col("tile_row") > 0,
                         F.expr("row0 div tile_row"))).alias("sr"),
            F.max(F.when(F.col("tile_col") > 0,
                         F.expr("col0 div tile_col"))).alias("sc"),
            F.max(F.greatest("nrows", "ncols")).alias("mx")).first()
        t = row["sr"] or row["sc"] or row["mx"]
        if t:
            return int(t)
    raise ValueError(
        "tile stride cannot be determined: pass grid['tile'] or a "
        "non-empty tile table")


def resolve_grid(tiles, grid: dict | None = None,
                 tile: int | None = None) -> tuple[dict, int]:
    """(grid dict, tile stride) of a tile table: ``grid`` as given, else
    read from the table's first row; ``tile`` as given, else
    :func:`infer_tile_size`.  Runs no Spark job when ``grid`` is given
    and carries ``tile`` (or ``tile`` is passed)."""
    if grid is None:
        grid = tiles.select("grid_xmin", "grid_ymax", "dx", "dy",
                            "grid_nrows", "grid_ncols").first().asDict()
    return grid, int(tile) if tile is not None else infer_tile_size(grid, tiles)


@dataclass(frozen=True)
class RasterGrid:
    xmin: float
    ymin: float
    xmax: float
    ymax: float
    dx: float
    dy: float

    @property
    def nrows(self) -> int:
        return int(round((self.ymax - self.ymin) / self.dy))

    @property
    def ncols(self) -> int:
        return int(round((self.xmax - self.xmin) / self.dx))

    # --- cell <-> coordinate algebra (grid.h:60-143 semantics) ---
    def col_for_x(self, x: float) -> int:
        c = int(math.floor((x - self.xmin) / self.dx))
        # closed upper interval at the right edge (grid.h:75-80)
        return min(max(c, 0), self.ncols - 1)

    def row_for_y(self, y: float) -> int:
        r = int(math.floor((self.ymax - y) / self.dy))
        return min(max(r, 0), self.nrows - 1)

    def x_for_col(self, c: int) -> float:
        return self.xmin + (c + 0.5) * self.dx

    def y_for_row(self, r: int) -> float:
        return self.ymax - (r + 0.5) * self.dy

    def cell_id(self, r: int, c: int) -> int:
        return r * self.ncols + c

    # --- tiling ---
    def n_tile_rows(self, tile: int = DEFAULT_TILE) -> int:
        return (self.nrows + tile - 1) // tile

    def n_tile_cols(self, tile: int = DEFAULT_TILE) -> int:
        return (self.ncols + tile - 1) // tile

    def tile_window(self, tr: int, tc: int, tile: int = DEFAULT_TILE) -> "TileWindow":
        row0, col0 = tr * tile, tc * tile
        nr = min(tile, self.nrows - row0)
        nc = min(tile, self.ncols - col0)
        return TileWindow(self, row0, col0, nr, nc)

    def tile_range_for_bbox(self, xmin, ymin, xmax, ymax, tile: int = DEFAULT_TILE):
        """Tile (row, col) inclusive ranges covering a bbox, clamped to the
        grid — the reference's crop/shrink_to_fit (grid.h:145-238) lifted
        to tile granularity.  Returns None when disjoint from the grid."""
        if xmax <= self.xmin or xmin >= self.xmax or ymax <= self.ymin or ymin >= self.ymax:
            return None
        tc0 = max(0, int(math.floor((xmin - self.xmin) / (self.dx * tile))))
        tc1 = min(self.n_tile_cols(tile) - 1, int(math.floor((xmax - self.xmin) / (self.dx * tile) - 1e-12)))
        tr0 = max(0, int(math.floor((self.ymax - ymax) / (self.dy * tile))))
        tr1 = min(self.n_tile_rows(tile) - 1, int(math.floor((self.ymax - ymin) / (self.dy * tile) - 1e-12)))
        return tr0, tr1, tc0, tc1

    def compatible_with(self, other: "RasterGrid", tol: float = 1e-6) -> bool:
        """Grid-compat check (grid.h:240-276): integer-multiple
        resolutions and integer-multiple origin offsets within
        ``tol * min(dx)``."""
        if self.dx <= 0 or other.dx <= 0:
            return False
        for a, b in ((self.dx, other.dx), (self.dy, other.dy)):
            big, small = max(a, b), min(a, b)
            ratio = big / small
            if abs(ratio - round(ratio)) > tol:
                return False
        t = tol * min(self.dx, other.dx)
        for a, b, d in ((self.xmin, other.xmin, min(self.dx, other.dx)),
                        (self.ymin, other.ymin, min(self.dy, other.dy))):
            off = (a - b) / d
            if abs(off - round(off)) > tol:
                return False
        return True


@dataclass(frozen=True)
class TileWindow:
    """One tile's window on its parent grid (the unit of parallelism)."""
    grid: RasterGrid
    row0: int
    col0: int
    nrows: int
    ncols: int

    @property
    def xmin(self) -> float:
        return self.grid.xmin + self.col0 * self.grid.dx

    @property
    def ymax(self) -> float:
        return self.grid.ymax - self.row0 * self.grid.dy

    @property
    def dx(self) -> float:
        return self.grid.dx

    @property
    def dy(self) -> float:
        return self.grid.dy


def spherical_row_areas(ymax: float, dy: float, row0: int, nrows: int, unit_factor: float = 1.0):
    """Per-row WGS84 spherical cell areas for one dx step of longitude —
    the reference's SphericalAreaRaster (raster_area.h:42-86), vectorized.
    Returns area per row for a cell of width ``dx`` degrees; caller
    multiplies by dx."""
    import numpy as np

    rows = np.arange(row0, row0 + nrows, dtype=np.float64)
    y = ymax - (rows + 0.5) * dy  # cell-center latitude of the *global* row
    lat0 = (y - 0.5 * dy) * _PI_180
    lat1 = (y + 0.5 * dy) * _PI_180
    return (EARTH_RADIUS * EARTH_RADIUS * _PI_180
            * np.abs(np.sin(lat0) - np.sin(lat1)) * unit_factor)
