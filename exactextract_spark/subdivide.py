"""Subdivide: split each zone polygon into its per-cell covered pieces
— the reference's bonus operator (src/subdivide.cpp:29-122,
raster_cell_intersection.cpp:504-546, CLI `subdivide`).

Spark shape: the same zone⋈tile join as zonal extraction feeds a
mapInPandas kernel that emits one row per covered cell:

    (zone_id, cell_id, coverage, x0, y0, x1, y1, wkt)

- coverage comes from the exact scanline kernel (kernel.py), so it is
  identical to what the stats pipeline sees;
- fully-covered cells (coverage == 1) and every cell of a rectangle
  zone are CLOSED-FORM and fully vectorized — cell ids, bboxes and the
  WKT strings are built as flat array operations (pyarrow), no
  per-cell Python;
- boundary cells of general polygons are reassembled EXACTLY with the
  reference's left-hand-rings construction (traversal.py, reference
  traversal_areas.cpp:94-256): a concave polygon that exits and
  re-enters a cell yields a true MultiPolygon, matching the
  reference's per-cell output (cell.cpp:186-190).  The traversal
  chains for ALL of a zone's boundary cells come from ONE batched
  edge→cell incidence pass + vectorized segment clip
  (traversal.grid_cell_chains), so a 20k-edge coastline ring costs
  O(edges + incidences), not O(edges × boundary cells).  If ring
  assembly fails on a degenerate input, the cell falls back to a
  Sutherland–Hodgman clip (area-identical, possibly bridged WKT).

Zone-count scaling: the zone prep is ZonalExtractor's
(extract.prepare_zones): below ``BROADCAST_ZONE_LIMIT`` zones the
parsed geometry arrays ride a SparkContext broadcast and the per-tile
zone hit-list joins broadcast; above it the operator switches to the
shuffle strategy (the geometry arrays travel inside the per-tile zone
list, each tile row crosses the shuffle exactly once), so there is no
upper bound on the zone count.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .extract import pair_zones, prepare_zones, zone_lists
from .geom import AREAL
from .kernel import coverage_fraction
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
    import pyarrow as pa
    import pyarrow.compute as pc

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
    import pyarrow as pa
    import pyarrow.compute as pc

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
_COLS = [f.name for f in _SCHEMA.fields]


def subdivide(zones: DataFrame, tiles: DataFrame, *,
              grid: dict | None = None, tile_size: int | None = None,
              min_coverage_frac: float = 0.0,
              strategy: str = "auto") -> DataFrame:
    """One row per (zone, covered cell) with the covered piece's exact
    coverage fraction, bbox and polygon WKT.  Purely geometric — raster
    values are never read (the tile table supplies the windowing)."""
    if grid is None:
        grid = tiles.select("grid_xmin", "grid_ymax", "dx", "dy",
                            "grid_nrows", "grid_ncols").first().asDict()
    if tile_size is None:
        from .grid import infer_tile_size
        tile_size = infer_tile_size(grid, tiles)
    # one validating action (+ zone count for the auto strategy), then
    # the parsed geometry is broadcast or rides the per-tile zone lists
    prep = prepare_zones(zones, strategy)
    lookup = prep.lookup
    pairs_agg = zone_lists(prep, grid, tile_size)
    if prep.strategy == "broadcast":
        pairs_agg = F.broadcast(pairs_agg)
    joined = tiles.select("tile_row", "tile_col", "row0", "col0",
                          "nrows", "ncols", "grid_xmin", "grid_ymax",
                          "dx", "dy", "grid_ncols") \
        .join(pairs_agg, ["tile_row", "tile_col"])

    mcf = np.float32(min_coverage_frac)

    def kernel(batches):
        for pdf in batches:
            za, prow, zo = pair_zones(pdf, lookup)
            if (za.kind[zo] != AREAL).any():
                raise ValueError("subdivide requires areal geometries")
            lo_p = np.searchsorted(prow, np.arange(len(pdf) + 1))
            # columnar accumulators for the vectorized branches
            acc = {c: [] for c in _COLS}

            def emit(zid, cid, cv, px0, py0, px1, py1, wkt):
                n = len(cid)
                if n == 0:
                    return
                acc["zone_id"].append(np.full(n, zid, dtype=object))
                acc["cell_id"].append(cid)
                acc["coverage"].append(cv)
                acc["x0"].append(px0)
                acc["y0"].append(py0)
                acc["x1"].append(px1)
                acc["y1"].append(py1)
                acc["wkt"].append(wkt)

            tiles_pdf = pdf.drop(columns=[c for c in ("zone_ids", "zone_structs")
                                          if c in pdf.columns])
            for j, rec in enumerate(tiles_pdf.to_dict("records")):
                nr, nc = int(rec["nrows"]), int(rec["ncols"])
                row0, col0 = int(rec["row0"]), int(rec["col0"])
                dx, dy = float(rec["dx"]), float(rec["dy"])
                gx, gy = float(rec["grid_xmin"]), float(rec["grid_ymax"])
                gncols = int(rec["grid_ncols"])
                xmin_t = gx + col0 * dx
                ymax_t = gy - row0 * dy
                for p in range(lo_p[j], lo_p[j + 1]):
                    o = int(zo[p])
                    zid = za.zone_id[o]
                    g = za.geometry(o)
                    (bx0, by0, bx1, by1), is_rect = g.bbox, bool(za.is_rect[o])
                    c0z = min(max(int(math.floor((bx0 - xmin_t) / dx)), 0), nc - 1)
                    c1z = min(max(int(math.ceil((bx1 - xmin_t) / dx)), c0z + 1), nc)
                    r0z = min(max(int(math.floor((ymax_t - by1) / dy)), 0), nr - 1)
                    r1z = min(max(int(math.ceil((ymax_t - by0) / dy)), r0z + 1), nr)
                    cov = coverage_fraction(g, xmin_t + c0z * dx, ymax_t - r0z * dy,
                                            dx, dy, r1z - r0z, c1z - c0z)
                    rr, cc = np.nonzero(cov > mcf)
                    if rr.size == 0:
                        continue
                    cv = cov[rr, cc].astype(np.float64)
                    gr = (row0 + r0z + rr).astype(np.int64)
                    gc = (col0 + c0z + cc).astype(np.int64)
                    cid = gr * gncols + gc
                    cx0 = gx + gc * dx
                    cy1 = gy - gr * dy
                    cx1 = cx0 + dx
                    cy0 = cy1 - dy

                    if is_rect:
                        # closed form for EVERY covered cell of a
                        # rectangle zone (full cells clip to the cell box)
                        px0 = np.maximum(bx0, cx0)
                        py0 = np.maximum(by0, cy0)
                        px1 = np.minimum(bx1, cx1)
                        py1 = np.minimum(by1, cy1)
                        emit(zid, cid, cv, px0, py0, px1, py1,
                             _box_wkt_vec(px0, py0, px1, py1))
                        continue

                    full = cv >= 1.0
                    if full.any():
                        fi = np.flatnonzero(full)
                        emit(zid, cid[fi], cv[fi], cx0[fi], cy0[fi],
                             cx1[fi], cy1[fi],
                             _box_wkt_vec(cx0[fi], cy0[fi], cx1[fi], cy1[fi]))
                    bi = np.flatnonzero(~full)
                    if bi.size == 0:
                        continue
                    # boundary cells: exact left-hand-ring reassembly.
                    # The traversal chains for ALL boundary cells come
                    # from ONE batched incidence pass over the zone's
                    # edge stream (grid_cell_chains) — per-cell Python
                    # work is only the (tiny) chain walk + ring
                    # assembly, so a coastline-shaped zone no longer
                    # pays an O(edges) numpy scan per boundary cell
                    cell_lists = grid_cell_chains(
                        g.rings, gr[bi], gc[bi], gx, gy, dx, dy)
                    # assembled cells: record the polygon STRUCTURE
                    # (counts + flat coordinate stream); strings, bboxes
                    # and arrays are built in one vectorized pass below
                    b_cid = []
                    b_cv = []
                    cell_np = []      # polys per cell
                    poly_nr = []      # rings per poly
                    ring_nc = []      # coords per ring
                    co_x = []         # flat coordinate stream
                    co_y = []
                    # Sutherland–Hodgman fallback cells (rare): per-cell
                    # python strings, emitted separately
                    f_cid = []
                    f_cv = []
                    f_px0 = []
                    f_py0 = []
                    f_px1 = []
                    f_py1 = []
                    f_wkt = []
                    for k, lists in zip(bi, cell_lists):
                        ex0, ey0 = float(cx0[k]), float(cy0[k])
                        ex1, ey1 = float(cx1[k]), float(cy1[k])
                        try:
                            polys = left_hand_rings(
                                (ex0, ey0, ex1, ey1), lists)
                            if not polys:
                                continue
                        except ValueError:
                            # degenerate traversal: Sutherland–Hodgman
                            # fallback (area-identical, bridged WKT)
                            parts = []
                            for ring in g.rings:
                                pts = clip_ring_box(ring, ex0, ey0, ex1, ey1)
                                if len(pts) >= 3:
                                    parts.append(pts)
                            if not parts:
                                continue
                            xs = [p[0] for pts in parts for p in pts]
                            ys = [p[1] for pts in parts for p in pts]
                            f_cid.append(cid[k])
                            f_cv.append(cv[k])
                            f_px0.append(min(xs))
                            f_py0.append(min(ys))
                            f_px1.append(max(xs))
                            f_py1.append(max(ys))
                            f_wkt.append(_ring_wkt(parts))
                            continue
                        b_cid.append(cid[k])
                        b_cv.append(cv[k])
                        cell_np.append(len(polys))
                        for poly in polys:
                            poly_nr.append(len(poly))
                            for ring in poly:
                                ring_nc.append(len(ring))
                                rxs, rys = zip(*ring)
                                co_x.extend(rxs)
                                co_y.extend(rys)
                    import pyarrow as pa
                    if b_cid:
                        cxf = np.asarray(co_x)
                        cyf = np.asarray(co_y)
                        # one offset hierarchy drives both the WKT list
                        # joins and the bbox spans: the coord index at
                        # cell k's start is rc_off[pr_off[cp_off[k]]]
                        cp_off = _offsets(cell_np)
                        pr_off = _offsets(poly_nr)
                        rc_off = _offsets(ring_nc)
                        spans = rc_off[pr_off[cp_off]]
                        # per-cell bbox (holes never extend beyond their
                        # shell, so all-ring min/max == shell-only)
                        emit(zid, np.array(b_cid, dtype=np.int64),
                             np.array(b_cv),
                             np.minimum.reduceat(cxf, spans[:-1]),
                             np.minimum.reduceat(cyf, spans[:-1]),
                             np.maximum.reduceat(cxf, spans[:-1]),
                             np.maximum.reduceat(cyf, spans[:-1]),
                             _batch_polygons_wkt(cp_off, pr_off,
                                                 rc_off, cxf, cyf))
                    if f_cid:
                        emit(zid, np.array(f_cid, dtype=np.int64),
                             np.array(f_cv), np.array(f_px0),
                             np.array(f_py0), np.array(f_px1),
                             np.array(f_py1),
                             pa.array(f_wkt, type=pa.string()))

            if not acc["cell_id"]:
                yield pd.DataFrame(columns=_COLS)
                continue
            import pyarrow as pa
            # the wkt column stays an ARROW string array end-to-end:
            # pandas ArrowDtype passes through Spark's Arrow serializer
            # zero-copy (StringType has no per-element converter),
            # skipping 10⁶s of PyUnicode allocations per batch
            # single chunk: the serializer's StructArray.from_arrays
            # rejects ChunkedArray columns
            wkt_col = pd.arrays.ArrowExtensionArray(pa.chunked_array(
                [pa.chunked_array(acc["wkt"]).combine_chunks()]))
            yield pd.DataFrame({
                "zone_id": np.concatenate(acc["zone_id"]),
                "cell_id": np.concatenate(acc["cell_id"]),
                "coverage": np.concatenate(acc["coverage"]),
                "x0": np.concatenate(acc["x0"]),
                "y0": np.concatenate(acc["y0"]),
                "x1": np.concatenate(acc["x1"]),
                "y1": np.concatenate(acc["y1"]),
                "wkt": wkt_col,
            })

    return joined.mapInPandas(kernel, schema=_SCHEMA)
