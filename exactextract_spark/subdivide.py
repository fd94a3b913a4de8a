"""Subdivide: split each zone polygon into its per-cell covered pieces
— the reference's bonus operator (src/subdivide.cpp:29-122,
raster_cell_intersection.cpp:504-546, CLI `subdivide`).

Spark shape: the same zone⋈tile join as zonal extraction feeds a
mapInArrow kernel that emits one row per covered cell:

    (zone_id, cell_id, coverage, x0, y0, x1, y1, wkt)

The kernel is on the zonal kernel's pair path: extract.tile_pairs
builds the (zone, tile) pairs, their crop windows and chunks, and
batchkernel.coverage_stream computes every window cell's coverage, so
coverage is bit-identical to what the statistics see (as the
reference feeds both from one RasterCellIntersection).  Per chunk:

- cells with coverage > min_coverage_frac are selected from the
  stream in one pass, with their ids and cell boxes;
- fully-covered cells (coverage == 1) and every cell of a rectangle
  zone are CLOSED-FORM boxes — bboxes and WKT strings are flat array
  operations (pyarrow), no per-cell Python;
- boundary cells of general polygons are reassembled EXACTLY with the
  reference's left-hand-rings construction (traversal.py, reference
  traversal_areas.cpp:94-256): a concave polygon that exits and
  re-enters a cell yields a true MultiPolygon, matching the
  reference's per-cell output (cell.cpp:186-190).  The traversal
  chains for ALL of a zone's boundary cells come from ONE batched
  edge→cell incidence pass + vectorized segment clip
  (traversal.grid_cell_chains), so a 20k-edge coastline ring costs
  O(edges + incidences), not O(edges × boundary cells).  A cell whose
  chains do not assemble (a vertex an ulp inside a cell edge, see
  _clip_fallback) gets a Sutherland–Hodgman clip instead
  (area-identical, possibly bridged WKT).

Zone-count scaling: the zone prep is ZonalExtractor's
(extract.prepare_zones): below ``BROADCAST_ZONE_LIMIT`` zones the
parsed geometry arrays and the tile hit-list CSR ride one SparkContext
broadcast and the tiles are filtered to the hit keys; above it the
operator switches to the shuffle strategy (the geometry arrays travel
inside the per-tile zone list, each tile row crosses the shuffle
exactly once), so there is no upper bound on the zone count.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .batchkernel import CHUNK_CELLS, coverage_stream
from .extract import join_zone_lists, prepare_zones, tile_pairs
from .geom import AREAL
from .grid import resolve_grid
from .traversal import grid_cell_chains, left_hand_rings

__all__ = ["subdivide", "clip_ring_box"]


def clip_ring_box(ring: np.ndarray, x0: float, y0: float, x1: float,
                  y1: float) -> list[tuple[float, float]]:
    """Sutherland–Hodgman clip of one closed ring against an axis box
    (fallback path; bridged single-ring output for concave re-entry)."""
    pts = [tuple(p) for p in ring[:-1]]

    def clip(pts, ax, c, keep_ge):
        out = []
        n = len(pts)
        for i in range(n):
            a, b = pts[i], pts[(i + 1) % n]
            ain = (a[ax] >= c) if keep_ge else (a[ax] <= c)
            bin_ = (b[ax] >= c) if keep_ge else (b[ax] <= c)
            if ain:
                out.append(a)
            if ain != bin_:
                t = (c - a[ax]) / (b[ax] - a[ax])
                out.append((a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1])))
        return out

    for ax, c, keep in ((0, x0, True), (0, x1, False), (1, y0, True), (1, y1, False)):
        if not pts:
            return []
        pts = clip(pts, ax, c, keep)
    return pts


def _ring_wkt(parts: list[list[tuple[float, float]]]) -> str:
    rings = []
    for pts in parts:
        coords = ", ".join(f"{x:.17g} {y:.17g}" for x, y in pts)
        first = f"{pts[0][0]:.17g} {pts[0][1]:.17g}"
        rings.append(f"({coords}, {first})")
    return "POLYGON (" + ", ".join(rings) + ")"


def _box_wkt_vec(px0, py0, px1, py1):
    """Vectorized 'POLYGON ((x0 y0, x1 y0, x1 y1, x0 y1, x0 y0))' as an
    Arrow string array.  Arrow's float→string cast is the shortest
    round-trip repr (the WKT parses back to the exact floats) and
    binary_join_element_wise builds the strings in one C++ pass —
    ~20× faster than np.char (which re-copies the whole padded-UTF-32
    array per concatenation) and ~7× faster than a Python loop."""
    x0s = pc.cast(pa.array(px0), pa.string())
    y0s = pc.cast(pa.array(py0), pa.string())
    x1s = pc.cast(pa.array(px1), pa.string())
    y1s = pc.cast(pa.array(py1), pa.string())
    return pc.binary_join_element_wise(
        "POLYGON ((", x0s, " ", y0s, ", ", x1s, " ", y0s, ", ",
        x1s, " ", y1s, ", ", x0s, " ", y1s, ", ", x0s, " ", y0s, "))", "")


def _offsets(counts) -> np.ndarray:
    """[0, cumsum(counts)] as int32 (Arrow ListArray offset dtype)."""
    off = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=off[1:])
    return off


def _batch_polygons_wkt(cell_poly_off, poly_ring_off, ring_coord_off,
                        coord_x, coord_y):
    """Vectorized polygons_wkt for MANY cells at once: one Arrow
    float→string cast over the flat coordinate stream (shortest
    round-trip repr, same as _box_wkt_vec), then three levels of
    C-level list joins (coords→ring, rings→poly, polys→cell), driven
    by the precomputed offset hierarchy (see _offsets).  Returns an
    Arrow string array, one WKT per cell."""
    xs = pc.cast(pa.array(coord_x), pa.string())
    ys = pc.cast(pa.array(coord_y), pa.string())
    coord_str = pc.binary_join_element_wise(xs, ys, " ")

    def _join(off, values, prefix, suffix):
        body = pc.binary_join(pa.ListArray.from_arrays(pa.array(off), values), ", ")
        return pc.binary_join_element_wise(prefix, body, suffix, "")

    ring_str = _join(ring_coord_off, coord_str, "(", ")")
    poly_str = _join(poly_ring_off, ring_str, "(", ")")
    cell_body = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(cell_poly_off), poly_str), ", ")
    single = pa.array(np.diff(cell_poly_off) == 1)
    return pc.if_else(
        single,
        pc.binary_join_element_wise("POLYGON ", cell_body, ""),
        pc.binary_join_element_wise("MULTIPOLYGON (", cell_body, ")", ""))


_SCHEMA = T.StructType([
    T.StructField("zone_id", T.StringType()),
    T.StructField("cell_id", T.LongType()),
    T.StructField("coverage", T.DoubleType()),
    T.StructField("x0", T.DoubleType()),
    T.StructField("y0", T.DoubleType()),
    T.StructField("x1", T.DoubleType()),
    T.StructField("y1", T.DoubleType()),
    T.StructField("wkt", T.StringType()),
])
_ARROW_SCHEMA = to_arrow_schema(_SCHEMA)


def _clip_fallback(rings, box):
    """Sutherland–Hodgman piece of a boundary cell whose traversal
    chains do not assemble into rings: (x0, y0, x1, y1, wkt), or None
    when nothing of the zone lies in the cell.  Reached when a ring
    vertex sits an ulp inside a cell edge and the edge entering it is
    dropped as a single-parameter graze, so a chain starts off the box
    boundary (tests/test_subdivide.py::test_subdivide_clip_fallback)."""
    parts = [pts for pts in (clip_ring_box(r, *box) for r in rings)
             if len(pts) >= 3]
    if not parts:
        return None
    xs = [p[0] for pts in parts for p in pts]
    ys = [p[1] for pts in parts for p in pts]
    return min(xs), min(ys), max(xs), max(ys), _ring_wkt(parts)


def _boundary_pieces(b, zone, gr, gc, cells, zones, grid):
    """Exact pieces of the boundary cells ``b`` (stream selections) by
    left-hand-ring reassembly.  The traversal chains of all of a zone's
    boundary cells come from one batched incidence pass over its edges
    (traversal.grid_cell_chains), so per-cell Python is only the short
    chain walk and ring assembly.  Returns [(selections, x0, y0, x1,
    y1, wkt)] for the assembled cells (bboxes and WKT built in one
    vectorized pass) and for the clip-fallback cells."""
    gx, gy, dx, dy = (grid[c] for c in ("grid_xmin", "grid_ymax", "dx", "dy"))
    cx0, cy0, cx1, cy1 = cells
    b = b[np.argsort(zone[b], kind="stable")]
    runs = np.flatnonzero(np.r_[True, zone[b][1:] != zone[b][:-1]])
    kept = []
    cell_np = []      # polys per cell
    poly_nr = []      # rings per poly
    ring_nc = []      # coords per ring
    co_x = []         # flat coordinate stream
    co_y = []
    fallback = []
    for s, e in zip(runs.tolist(), np.r_[runs[1:], b.size].tolist()):
        rings = zones.geometry(int(zone[b[s]])).rings
        sel = b[s:e]
        chains = grid_cell_chains(rings, gr[sel], gc[sel], gx, gy, dx, dy)
        for k, lists in zip(sel.tolist(), chains):
            box = (float(cx0[k]), float(cy0[k]), float(cx1[k]), float(cy1[k]))
            try:
                polys = left_hand_rings(box, lists)
            except ValueError:
                piece = _clip_fallback(rings, box)
                if piece is not None:
                    fallback.append((k, *piece))
                continue
            if not polys:
                continue
            kept.append(k)
            cell_np.append(len(polys))
            for poly in polys:
                poly_nr.append(len(poly))
                for ring in poly:
                    ring_nc.append(len(ring))
                    rxs, rys = zip(*ring)
                    co_x.extend(rxs)
                    co_y.extend(rys)
    out = []
    if kept:
        cxf = np.asarray(co_x)
        cyf = np.asarray(co_y)
        # one offset hierarchy drives both the WKT list joins and the
        # bbox spans: the coord index at cell k's start is
        # rc_off[pr_off[cp_off[k]]]
        cp_off = _offsets(cell_np)
        pr_off = _offsets(poly_nr)
        rc_off = _offsets(ring_nc)
        spans = rc_off[pr_off[cp_off]][:-1]
        # per-cell bbox (holes never extend beyond their shell, so
        # all-ring min/max == shell-only)
        out.append((np.array(kept, dtype=np.int64),
                    np.minimum.reduceat(cxf, spans),
                    np.minimum.reduceat(cyf, spans),
                    np.maximum.reduceat(cxf, spans),
                    np.maximum.reduceat(cyf, spans),
                    _batch_polygons_wkt(cp_off, pr_off, rc_off, cxf, cyf)))
    if fallback:
        k, x0, y0, x1, y1, wkt = zip(*fallback)
        out.append((np.array(k, dtype=np.int64), np.array(x0), np.array(y0),
                    np.array(x1), np.array(y1), pa.array(wkt, type=pa.string())))
    return out


def _chunk_pieces(pairs, zones, grid, min_coverage_frac):
    """One row per covered cell of a chunk's pairs, as an Arrow batch of
    _SCHEMA, or None.
    Cells come from the zonal kernel's coverage stream; rectangle zones
    and full cells are closed-form boxes, built for the whole chunk in
    one vectorized pass; only boundary cells of general polygons take
    per-cell ring assembly."""
    gx, gy, dx, dy = (grid[c] for c in ("grid_xmin", "grid_ymax", "dx", "dy"))
    cs = coverage_stream(pairs, zones, grid_xmin=gx, grid_ymax=gy, dx=dx, dy=dy)
    pos = np.flatnonzero(cs.cov > min_coverage_frac)
    if pos.size == 0:
        return None
    p, gr, gc = cs.rowcol(pos)
    zone = pairs["zone"][p]
    cv = cs.cov[pos].astype(np.float64)
    cx0 = gx + gc * dx
    cy1 = gy - gr * dy
    cx1 = cx0 + dx
    cy0 = cy1 - dy
    rect = zones.is_rect[zone]
    closed = rect | (cv >= 1.0)

    # every covered cell of a rectangle zone is the zone bbox clipped to
    # the cell; every full cell is the cell box
    k = np.flatnonzero(closed)
    bb = zones.bbox[zone[k]]
    rk = rect[k]
    px0 = np.where(rk, np.maximum(bb[:, 0], cx0[k]), cx0[k])
    py0 = np.where(rk, np.maximum(bb[:, 1], cy0[k]), cy0[k])
    px1 = np.where(rk, np.minimum(bb[:, 2], cx1[k]), cx1[k])
    py1 = np.where(rk, np.minimum(bb[:, 3], cy1[k]), cy1[k])
    out = [(k, px0, py0, px1, py1, _box_wkt_vec(px0, py0, px1, py1))]
    b = np.flatnonzero(~closed)
    if b.size:
        out += _boundary_pieces(b, zone, gr, gc, (cx0, cy0, cx1, cy1),
                                zones, grid)
    sel = np.concatenate([o[0] for o in out])
    return pa.RecordBatch.from_arrays([
        pa.array(zones.zone_id[zone[sel]], type=pa.string()),
        pa.array(gr[sel] * grid["grid_ncols"] + gc[sel]),
        pa.array(cv[sel]),
        *(pa.array(np.concatenate([o[k] for o in out])) for k in range(1, 5)),
        pa.concat_arrays([o[5] for o in out]),
    ], schema=_ARROW_SCHEMA)


def subdivide(zones: DataFrame, tiles: DataFrame, *,
              grid: dict | None = None, tile_size: int | None = None,
              min_coverage_frac: float = 0.0,
              strategy: str = "auto") -> DataFrame:
    """One row per (zone, covered cell) with the covered piece's exact
    coverage fraction, bbox and polygon WKT.  Purely geometric — raster
    values are never read (the tile table supplies the windowing)."""
    grid, tile_size = resolve_grid(tiles, grid, tile_size)
    # one collect counts, validates and (below the broadcast limit)
    # feeds the geometry + tile hit-list broadcast; above it the
    # parsed geometry rides the per-tile zone lists
    prep = prepare_zones(zones, strategy, grid=grid, tile=tile_size)
    lookup = prep.lookup
    joined = join_zone_lists(
        tiles.select("tile_row", "tile_col", "row0", "col0", "nrows", "ncols",
                     "grid_xmin", "grid_ymax", "dx", "dy", "grid_ncols"), prep)

    mcf = np.float32(min_coverage_frac)

    def kernel(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            tp = tile_pairs(b, lookup, CHUNK_CELLS)
            if (tp.zones.kind[tp.zone] != AREAL).any():
                raise ValueError("subdivide requires areal geometries")
            for lo, hi in tp.chunks:
                pieces = _chunk_pieces(tp.chunk(lo, hi), tp.zones, tp.grid, mcf)
                if pieces is not None:
                    yield pieces

    return joined.mapInArrow(kernel, schema=_SCHEMA)
