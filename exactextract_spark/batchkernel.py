"""Batch-vectorized coverage + accumulation across (zone, tile) pairs:
the engine's one zonal statistics path.

Per-pair Python/numpy dispatch costs ~600µs per pair — ~40 small-array
numpy calls for a 12-vertex polygon on a 28×28 window.  That cost is
per PAIR, not per cell, so it would be the wall-time ceiling at scale:
10⁹ pairs would spend days in dispatch regardless of core count.  This
module collapses a whole chunk of (zone, tile) pairs into flat numpy
streams so the dispatch cost is per CHUNK:

- polygon coverage: every pair's ring edges are concatenated into one
  segment stream (with a pair-id column) and pushed through the same
  scanline pipeline as kernel.py — band clip → row split → right-strip
  measure → column clamp → column split — with per-segment row/column
  bounds instead of scalars; np.add.at scatters into one tall
  accumulator whose rows are the concatenated pair windows (window
  height/width are tile-bounded, so the padded width is ≤ tile size).
  The arithmetic is element-for-element kernel.coverage_fraction's
  (reference raster_cell_intersection.cpp semantics; see
  kernel.py for the derivation), and the scatter order per target cell
  is preserved, so COVERAGE is bit-identical to the per-window kernel.
- rectangle coverage: the closed-form overlap per axis — one value per
  (pair, column) and per (pair, row), the same floats as
  kernel._rect_coverage (reference raster_cell_intersection.cpp:177-266)
  — whose product is gathered onto the cell stream.
- linear geometries: kernel.coverage_for_window per pair (traversal
  length per cell, the reference's dispatch) written into the stream.
  These three make coverage_stream, which subdivide reads too.
- statistics: per-pair sums become np.bincount over the pair-id;
  min/max become np.minimum/maximum.reduceat over the pairs' segments
  of the compacted stream, and the extreme's cell is the segment's
  first cell holding it (tie rule: lowest cell_id,
  raster_stats.h:299-311); the histogram becomes a combined
  (pair, value) np.unique + bincount, which preserves each pair's
  stream-order float addition; area_* coverage weights are a float32
  factor per global row; stored cells are per-pair slices of the
  compacted stream; the opt-in stable variance's pivot-shifted state
  (pivot = the pair's first cell) is two more bincounts.  No statistic
  loops over pairs.
- output: one Arrow RecordBatch per chunk, the kernel's side of its
  mapInArrow boundary.  Scalar states are numpy columns with a
  validity mask; the histogram, joint-histogram, top-k and stored-cell
  lists are ListArrays over each flat stream's per-pair bounds, so no
  loop over pairs or cells builds them either.

Float sums are bit-identical to a per-pair np.sum on exactly
representable data (the quarter-aligned fixture) and within 1 ulp otherwise
(np.sum is pairwise, np.bincount sequential); the per-pair reference
lives in tests/accumulate_reference.py.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from .geom import AREAL
from .grid import spherical_row_areas
from .kernel import coverage_for_window, suffix_coverage

__all__ = ["accumulate_pairs_batch", "coverage_stream", "CHUNK_CELLS"]

# window cells per kernel chunk (bounds decoded-tile + stream memory)
CHUNK_CELLS = 4_000_000


def _poly_coverage(zone, zones, idx, nrw, ncw, xmin_w, ymin_w, dx, dy):
    """Scanline coverage for the non-rectangle pairs ``idx``; ``zone``
    holds each pair's ordinal into ``zones`` (geom.ZoneArrays), whose
    pre-flattened segment arrays are gathered by ordinal.  Returns
    (cov2d float32 clipped, off) where pair p's window occupies rows
    [off[p], off[p]+nrw[p]) bottom-up and columns [0, ncw[p]) of
    cov2d."""
    H = int(nrw[idx].sum())
    W = int(ncw[idx].max())
    darea = np.zeros((H, W + 1), dtype=np.float64)
    dcover = np.zeros((H, W + 1), dtype=np.float64)
    off = np.zeros(len(zone), dtype=np.int64)
    off[idx] = np.cumsum(nrw[idx]) - nrw[idx]
    pieces = np.zeros(H, dtype=np.int64)
    # each accumulator row's index inside its window, and window width
    win_row = np.arange(H) - np.repeat(off[idx], nrw[idx])
    win_cols = np.repeat(ncw[idx], nrw[idx])

    cs, counts = zones.segments_of(zone[idx])
    if counts.sum() == 0:
        return np.zeros((H, W), dtype=np.float32), off
    sp = np.repeat(idx, counts)  # pair index per segment
    cx0, cy0, cx1, cy1 = cs[:, 0], cs[:, 1], cs[:, 2], cs[:, 3]

    # window transform — identical float ops to the per-pair kernel:
    # u = (x - xmin_w)/dx, w = (y - ymin_w)/dy (bottom-up rows)
    u0 = (cx0 - xmin_w[sp]) / dx
    w0 = (cy0 - ymin_w[sp]) / dy
    u1 = (cx1 - xmin_w[sp]) / dx
    w1 = (cy1 - ymin_w[sp]) / dy
    nr_s = nrw[sp].astype(np.float64)

    # --- clip to the row band [0, nrows_p] (kernel._clip_segments_to_band)
    dw = w1 - w0
    with np.errstate(divide="ignore", invalid="ignore"):
        ta = (0.0 - w0) / dw
        tb = (nr_s - w0) / dw
    tlo = np.clip(np.minimum(ta, tb), 0.0, 1.0)
    thi = np.clip(np.maximum(ta, tb), 0.0, 1.0)
    keep = thi > tlo
    if not np.any(keep):
        return np.zeros((H, W), dtype=np.float32), off
    u0, w0, u1, w1, dw, tlo, thi, sp, nr_s = (
        a[keep] for a in (u0, w0, u1, w1, dw, tlo, thi, sp, nr_s))
    du = u1 - u0
    ua = u0 + tlo * du
    wa = np.minimum(np.maximum(w0 + tlo * dw, 0.0), nr_s)
    ub = u0 + thi * du
    wb = np.minimum(np.maximum(w0 + thi * dw, 0.0), nr_s)

    # --- split at integer row lines (kernel._split_rows)
    wlo = np.minimum(wa, wb)
    whi = np.maximum(wa, wb)
    nr_i = nrw[sp]
    r_lo = np.clip(np.floor(wlo).astype(np.int64), 0, None)
    r_lo = np.minimum(r_lo, nr_i - 1)
    r_hi = np.minimum(np.ceil(whi).astype(np.int64) - 1, nr_i - 1)
    r_hi = np.maximum(np.maximum(r_hi, 0), r_lo)
    n = r_hi - r_lo + 1
    idx2 = np.repeat(np.arange(ua.size), n)
    k = np.arange(idx2.size) - np.repeat(np.cumsum(n) - n, n)
    row = r_lo[idx2] + k
    pp = sp[idx2]  # pair per piece

    sua, swa, sub, swb = ua[idx2], wa[idx2], ub[idx2], wb[idx2]
    pdw = swb - swa
    pdu = sub - sua
    with np.errstate(divide="ignore", invalid="ignore"):
        t_a = (row - swa) / pdw
        t_b = (row + 1 - swa) / pdw
    single = pdw == 0.0
    tp0 = np.where(single, 0.0, np.clip(np.minimum(t_a, t_b), 0.0, 1.0))
    tp1 = np.where(single, 1.0, np.clip(np.maximum(t_a, t_b), 0.0, 1.0))
    pu0 = sua + tp0 * pdu
    pw0 = swa + tp0 * pdw
    pu1 = sua + tp1 * pdu
    pw1 = swa + tp1 * pdw
    grow = off[pp] + row  # accumulator row

    nc_f = ncw[pp].astype(np.float64)

    # --- portion right of the window -> full-width strip
    # (kernel._interval_measure side=+1, thresh=ncols_p)
    du2 = pu1 - pu0
    dw2 = pw1 - pw0
    with np.errstate(divide="ignore", invalid="ignore"):
        tc = (nc_f - pu0) / du2
    lo = np.where(du2 > 0, np.clip(tc, 0.0, 1.0), 0.0)
    hi = np.where(du2 < 0, np.clip(tc, 0.0, 1.0), 1.0)
    whole = (du2 == 0.0) & (pu0 >= nc_f)
    lo = np.where(du2 == 0.0, np.where(whole, 0.0, 1.0), lo)
    hi = np.where(du2 == 0.0, np.where(whole, 1.0, 0.0), hi)
    dv_right = np.maximum(hi - lo, 0.0) * dw2
    nz = dv_right != 0.0
    if np.any(nz):
        np.add.at(dcover, (grow[nz], ncw[pp[nz]]), dv_right[nz])
        pieces += np.bincount(grow[nz], minlength=H)

    # --- middle portion: clamp to 0 <= u <= ncols_p, split at columns
    with np.errstate(divide="ignore", invalid="ignore"):
        t_at0 = (0.0 - pu0) / du2
        t_atn = (nc_f - pu0) / du2
    tm_lo = np.where(du2 == 0.0, 0.0, np.clip(np.minimum(t_at0, t_atn), 0.0, 1.0))
    tm_hi = np.where(du2 == 0.0, 1.0, np.clip(np.maximum(t_at0, t_atn), 0.0, 1.0))
    inside0 = (du2 == 0.0) & (pu0 >= 0.0) & (pu0 < nc_f)
    tm_lo = np.where(du2 == 0.0, np.where(inside0, 0.0, 1.0), tm_lo)
    tm_hi = np.where(du2 == 0.0, np.where(inside0, 1.0, 0.0), tm_hi)
    keep2 = tm_hi > tm_lo
    if not np.any(keep2):
        return suffix_coverage(darea, dcover, pieces, win_row,
                               win_cols).astype(np.float32), off
    nc_k = nc_f[keep2]
    mu0 = np.minimum(np.maximum(pu0[keep2] + tm_lo[keep2] * du2[keep2], 0.0), nc_k)
    mw0 = pw0[keep2] + tm_lo[keep2] * dw2[keep2]
    mu1 = np.minimum(np.maximum(pu0[keep2] + tm_hi[keep2] * du2[keep2], 0.0), nc_k)
    mw1 = pw0[keep2] + tm_hi[keep2] * dw2[keep2]
    mrow = grow[keep2]
    mnc = ncw[pp[keep2]]

    # split at integer column lines
    ulo = np.minimum(mu0, mu1)
    uhi = np.maximum(mu0, mu1)
    c_lo = np.minimum(np.maximum(np.floor(ulo).astype(np.int64), 0), mnc - 1)
    c_hi = np.minimum(np.ceil(uhi).astype(np.int64) - 1, mnc - 1)
    c_hi = np.maximum(np.maximum(c_hi, 0), c_lo)
    n2 = c_hi - c_lo + 1
    idx3 = np.repeat(np.arange(mu0.size), n2)
    k2 = np.arange(idx3.size) - np.repeat(np.cumsum(n2) - n2, n2)
    col = c_lo[idx3] + k2

    su0, sw0, su1, sw1 = mu0[idx3], mw0[idx3], mu1[idx3], mw1[idx3]
    srow = mrow[idx3]
    sdu = su1 - su0
    sdw = sw1 - sw0
    with np.errstate(divide="ignore", invalid="ignore"):
        t_a2 = (col - su0) / sdu
        t_b2 = (col + 1 - su0) / sdu
    single2 = sdu == 0.0
    tq0 = np.where(single2, 0.0, np.clip(np.minimum(t_a2, t_b2), 0.0, 1.0))
    tq1 = np.where(single2, 1.0, np.clip(np.maximum(t_a2, t_b2), 0.0, 1.0))
    cu0 = su0 + tq0 * sdu
    cw0 = sw0 + tq0 * sdw
    cu1 = su0 + tq1 * sdu
    cw1 = sw0 + tq1 * sdw
    cdw = cw1 - cw0
    np.add.at(darea, (srow, col), (0.5 * (cu0 + cu1) - col) * cdw)
    np.add.at(dcover, (srow, col), cdw)
    pieces += np.bincount(srow, minlength=H)
    return suffix_coverage(darea, dcover, pieces, win_row,
                           win_cols).astype(np.float32), off


def _rect_axis(lo, n, b0, b1, d):
    """Closed-form overlap of [b0, b1] with each of a pair's ``n`` cells
    along one axis (cell k spans lo + d*k .. lo + d*(k+1), the float ops
    of kernel._rect_coverage), flattened over the pairs.  Returns
    (overlap, offset of each pair's first cell)."""
    off = np.cumsum(n) - n
    pid = np.repeat(np.arange(n.size), n)
    k = np.arange(pid.size) - off[pid]
    e0 = lo[pid] + d * k
    e1 = lo[pid] + d * (k + 1)
    return np.clip((np.minimum(b1[pid], e1) - np.maximum(b0[pid], e0)) / d,
                   0.0, 1.0), off


def _row_cells(start, length):
    """start[k], start[k]+1, ..., start[k]+length[k]-1 for every k,
    concatenated: stream positions (or any per-cell index) of whole
    window rows."""
    return np.repeat(start - (np.cumsum(length) - length), length) \
        + np.arange(int(length.sum()))


def _bounds(pair_of, P):
    """Per-pair CSR bounds of a stream sorted by pair: pair p owns
    entries [b[p], b[p + 1])."""
    return np.searchsorted(pair_of, np.arange(P + 1))


def _area_factor(coverage_weight, gr, grid_ymax, dx, dy):
    """float32 cell area for the global rows ``gr`` under the area_*
    coverage weights — the reference's float area raster
    (raster_stats.h:277-296, raster_area.h:42-86) — or None."""
    if coverage_weight == "area_cartesian":
        return np.full(gr.size, np.float32(dx * dy))
    unit = {"area_spherical_m2": 1.0, "area_spherical_km2": 1e-6}.get(coverage_weight)
    if unit is None:
        return None
    lo = int(gr.min())
    rows = spherical_row_areas(grid_ymax, dy, lo, int(gr.max()) - lo + 1, unit) * dx
    return rows.astype(np.float32)[gr - lo]


@dataclass
class CellStream:
    """Every cell of a chunk's pair windows as one flat stream: the
    windows in pair order, each row-major with rows top-down."""
    cov: np.ndarray      # float32 coverage per cell
    pid: np.ndarray      # pair of each cell
    starts: np.ndarray   # per pair: first cell, window cells, width,
    areas: np.ndarray    # and the global row/column of its top-left
    ncw: np.ndarray      # cell
    gr0: np.ndarray
    gc0: np.ndarray
    row_len: np.ndarray  # per window row: its width and global row
    gr_row: np.ndarray

    def rowcol(self, pos):
        """(pair, global row, global column) of stream positions."""
        p = self.pid[pos]
        r, c = np.divmod(pos - self.starts[p], self.ncw[p])
        return p, self.gr0[p] + r, self.gc0[p] + c


def coverage_stream(pairs, zones, *, grid_xmin, grid_ymax, dx, dy) -> CellStream:
    """Coverage of every cell of the pairs' windows (``pairs``: zone
    ordinals into ``zones`` and crop windows r0/r1/c0/c1 inside tiles
    at row0/col0, as built by extract.tile_pairs): scanline coverage
    for polygons, the closed form for rectangles, traversal lengths for
    linear zones."""
    zone = np.asarray(pairs["zone"], dtype=np.int64)
    P = zone.size
    r0, r1 = pairs["r0"], pairs["r1"]
    c0, c1 = pairs["c0"], pairs["c1"]
    nrw = r1 - r0
    ncw = c1 - c0
    row0g, col0g = pairs["row0"], pairs["col0"]
    # two-step origin arithmetic — tile origin first, then the window
    # offset (xmin = gx + col0*dx, then xmin + c0z*dx) — so each
    # window's floats are those of its tile, whatever the grid origin
    # and resolution
    xmin_w = (grid_xmin + col0g * dx) + c0 * dx
    ymax_w = (grid_ymax - row0g * dy) - r0 * dy
    ymin_w = ymax_w - nrw * dy
    is_rect = zones.is_rect[zone]
    areal = zones.kind[zone] == AREAL

    poly_idx = np.flatnonzero(areal & ~is_rect)
    cov2d = off = None
    if poly_idx.size:
        cov2d, off = _poly_coverage(zone, zones, poly_idx, nrw, ncw,
                                    xmin_w, ymin_w, dx, dy)

    # indices are built per window ROW (pair rows_p, top-down row
    # row_r, first cell row_start) and expanded with repeats, so
    # per-cell index work stays a few passes
    areas = nrw * ncw
    total = int(areas.sum())
    starts = np.cumsum(areas) - areas
    pid = np.repeat(np.arange(P), areas)
    rows_p = np.repeat(np.arange(P), nrw)
    row_r = np.arange(rows_p.size) - np.repeat(np.cumsum(nrw) - nrw, nrw)
    row_len = ncw[rows_p]
    row_start = starts[rows_p] + row_r * row_len

    cov = np.empty(total, dtype=np.float32)
    rect_row = is_rect[rows_p]
    if rect_row.any():
        bb = zones.bbox[zone]
        covx, xoff = _rect_axis(xmin_w, np.where(is_rect, ncw, 0),
                                bb[:, 0], bb[:, 2], dx)
        covy, yoff = _rect_axis(ymin_w, np.where(is_rect, nrw, 0),
                                bb[:, 1], bb[:, 3], dy)
        rp, rl = rows_p[rect_row], row_len[rect_row]
        cy = covy[yoff[rp] + nrw[rp] - 1 - row_r[rect_row]]  # bottom-up row
        at = slice(None) if rect_row.all() else _row_cells(row_start[rect_row], rl)
        cov[at] = (np.repeat(cy, rl) * covx[_row_cells(xoff[rp], rl)]).astype(np.float32)
    if poly_idx.size:
        poly_row = ~rect_row & areal[rows_p]
        pp, pl = rows_p[poly_row], row_len[poly_row]
        acc = off[pp] + nrw[pp] - 1 - row_r[poly_row]  # accumulator row
        at = slice(None) if poly_row.all() else _row_cells(row_start[poly_row], pl)
        cov[at] = cov2d.ravel()[_row_cells(acc * cov2d.shape[1], pl)]
    for p in np.flatnonzero(~areal):
        cov[starts[p]:starts[p] + areas[p]] = coverage_for_window(
            zones.geometry(int(zone[p])), xmin_w[p], ymax_w[p], dx, dy,
            int(nrw[p]), int(ncw[p])).ravel()
    gr0 = row0g + r0
    return CellStream(cov, pid, starts, areas, ncw, gr0, col0g + c0,
                      row_len, gr0[rows_p] + row_r)


def accumulate_pairs_batch(pairs, zones, tile_vals, key_specs, *, has_weights,
                           passthrough, schema, grid_ncols,
                           grid_xmin, grid_ymax, dx, dy):
    """Process a chunk of (zone, tile) pairs; returns one pa.RecordBatch
    of partial-state rows whose schema is ``schema``
    (extract._partial_schema as Arrow).

    pairs: dict of equal-length arrays (built by extract.tile_pairs) —
      zone (ordinal into ``zones``, a geom.ZoneArrays), tile (key into
      tile_vals), r0/r1/c0/c1 (crop window within the tile), row0/col0
      (tile origin in the grid), nodata/w_nodata (NaN = none), pt (P ×
      len(passthrough) ints) and raster_match (None, or raster name ->
      bool per pair: the pair's tile belongs to that raster, for fused
      multi-raster scans);
    tile_vals: tile key -> (values 2-D, weight 2-D or None)."""
    zone = np.asarray(pairs["zone"], dtype=np.int64)
    P = zone.size
    r0, r1 = pairs["r0"], pairs["r1"]
    c0, c1 = pairs["c0"], pairs["c1"]
    nodata = pairs["nodata"]
    w_nodata = pairs["w_nodata"]
    raster_match = pairs["raster_match"]
    cs = coverage_stream(pairs, zones, grid_xmin=grid_xmin,
                         grid_ymax=grid_ymax, dx=dx, dy=dy)
    cov, pid, areas = cs.cov, cs.pid, cs.areas
    row_len, gr_row = cs.row_len, cs.gr_row

    # --- value / weight streams (cheap per-pair window slices) -----------
    v_parts = []
    w_parts = [] if has_weights else None
    for t, a, b, c, d in zip(pairs["tile"].tolist(), r0.tolist(), r1.tolist(),
                             c0.tolist(), c1.tolist()):
        tv, tw = tile_vals[t]
        v_parts.append(tv[a:b, c:d].ravel())
        if has_weights:
            if tw is None:
                w_parts.append(np.full((b - a) * (d - c), np.nan))
            else:
                w_parts.append(tw[a:b, c:d].ravel())
    v = np.concatenate(v_parts).astype(np.float64, copy=False)
    wv = np.concatenate(w_parts).astype(np.float64, copy=False) \
        if has_weights else None

    # shared across keys: definedness depends only on the value stream
    defined_s = ~np.isnan(v) & (v != np.repeat(nodata, areas))

    def cell_of(pos):
        """Global cell_id of stream positions ``pos``."""
        _, gr, gc = cs.rowcol(pos)
        return gr * grid_ncols + gc

    cov_of = {}  # coverage weight -> effective float32 coverage stream
    wdef_s = None

    # --- per-key statistics ----------------------------------------------
    active_any = np.zeros(P, dtype=bool)
    key_results = []
    for i, req, vname, kwargs in key_specs:
        min_cov = np.float32(kwargs["min_coverage_frac"])
        cw = kwargs["coverage_weight"]
        dv = kwargs["default_value"]
        dwt = kwargs["default_weight"]

        s = cov >= min_cov
        if raster_match is not None:
            s = s & np.repeat(raster_match[vname], areas)
        if dv is not None:
            vals = np.where(defined_s, v, dv)
            used = s
        else:
            vals = v
            used = s & defined_s
        upid = pid[used]
        n_per = np.bincount(upid, minlength=P)
        active = n_per > 0
        if not active.any():
            key_results.append(None)
            continue
        active_any |= active
        # effective coverage: the threshold above reads the raw coverage;
        # NONE resets to 1 after it, area_* multiplies in float32
        # (raster_stats.h:277-296)
        if cw == "none":
            cu = np.ones(upid.size)
        else:
            if cw not in cov_of:
                f = _area_factor(cw, gr_row, grid_ymax, dx, dy)
                cov_of[cw] = cov if f is None else cov * np.repeat(f, row_len)
            cu = cov_of[cw][used].astype(np.float64)
        vu = vals[used]
        # each active pair's first cell in the compacted streams (upid
        # is sorted, so a pair's segment ends where the next active
        # pair's begins)
        act_idx = np.flatnonzero(active)
        seg = np.searchsorted(upid, act_idx)

        def per_pair(ufunc, arr, fill):
            red = np.full(P, fill, dtype=arr.dtype)
            red[act_idx] = ufunc.reduceat(arr, seg)
            return red

        res = {"n": n_per,
               "sum_c": np.bincount(upid, weights=cu, minlength=P),
               "sum_cx": np.bincount(upid, weights=vu * cu, minlength=P),
               "active": active}
        if req.variance:
            res["sum_cx2"] = np.bincount(upid, weights=vu * vu * cu, minlength=P)
        if req.stable_variance:
            # pivot-shifted state (Chan, Golub & LeVeque 1983): pivot K
            # = the pair's first cell, s = Σc(x-K), m2 = Σc((x-K) - s/w)²
            # with w = sum_c.  x - K is exact for nearby values
            # (Sterbenz), so no large mean is ever rounded into the
            # state; extract.aggregate_partials merges it in SQL
            var_k = np.zeros(P)
            var_k[act_idx] = vu[seg]
            d_u = vu - var_k[upid]
            var_s = np.bincount(upid, weights=cu * d_u, minlength=P)
            off = np.divide(var_s, res["sum_c"], out=np.zeros(P),
                            where=active)
            r_u = d_u - off[upid]
            res["var_k"], res["var_s"] = var_k, var_s
            res["var_m2"] = np.bincount(upid, weights=cu * r_u * r_u,
                                        minlength=P)

        # weights (the weight raster also serves as the second variable
        # y): undefined cells take default_weight, else NaN — kept in
        # the stored cells and histograms, but a top-level NaN partial
        # is written as NULL (see the partial rows below), which sum()
        # would silently skip, so the scalar sums are zero-filled and
        # the pair carries an explicit w_undef / y_undef flag that the
        # finalize turns back into the reference's NaN propagation
        # (raster_stats.h:252-296)
        w_used = None
        if req.weighted or req.cells_weights or req.needs_y:
            fill = np.nan if dwt is None else dwt
            if wv is None:
                w_used = np.full(upid.size, fill)
            else:
                if wdef_s is None:
                    wdef_s = ~np.isnan(wv) & (wv != w_nodata[pid])
                w_used = np.where(wdef_s[used], wv[used], fill)
            w_nan = np.isnan(w_used)
            w_fill = np.where(w_nan, 0.0, w_used)
            w_undef = np.bincount(upid[w_nan], minlength=P) > 0
        if req.weighted:
            ciwi_u = cu * w_fill
            res["w_undef"] = w_undef
            res["sum_cw"] = np.bincount(upid, weights=ciwi_u, minlength=P)
            res["sum_cxw"] = np.bincount(upid, weights=vu * ciwi_u, minlength=P)
            if req.weighted_variance:
                res["sum_cx2w"] = np.bincount(
                    upid, weights=vu * vu * ciwi_u, minlength=P)

        if req.minmax:
            # min/max + first-seen tie cell over the COMPACTED stream:
            # a window is row-major, so within a pair the first cell
            # holding the extreme is the lowest cell_id among equal
            # values (raster_stats.h:299-311)
            upos = np.flatnonzero(used)
            for name, ufunc, fill in (("min", np.minimum, np.inf),
                                      ("max", np.maximum, -np.inf)):
                ext = per_pair(ufunc, vu, fill)
                hit = np.flatnonzero(vu == ext[upid])
                cell = np.zeros(P, dtype=np.int64)
                cell[act_idx] = cell_of(upos[hit[np.searchsorted(hit, seg)]])
                res[name + "_v"] = ext
                res[name + "_cell"] = cell

        # --- two-raster partials (y = the weight raster) ---
        if req.xy_moments or req.xy_change:
            res["y_undef"] = w_undef
        if req.xy_moments:
            cyu = w_fill * cu
            res["sum_cy"] = np.bincount(upid, weights=cyu, minlength=P)
            res["sum_cy2"] = np.bincount(upid, weights=w_fill * cyu,
                                         minlength=P)
            res["sum_cxy"] = np.bincount(upid, weights=vu * cyu, minlength=P)
        if req.xy_change:
            delta = vu - w_used
            chm = delta != 0  # NaN != 0 is True — same as SQL x != y
            res["chg_c"] = np.bincount(upid[chm], weights=cu[chm],
                                       minlength=P)
            dfill = np.where(w_nan, 0.0, delta)
            res["chg_sd"] = np.bincount(upid, weights=dfill * cu, minlength=P)
            res["chg_maxad"] = per_pair(np.maximum, np.abs(dfill), -np.inf)
        if req.pair_topk:
            k = int(req.pair_topk)
            cid_u = cell_of(np.flatnonzero(used))
            # per-pair (value desc, cell_id asc) order; upid is already
            # non-decreasing so segments stay contiguous after lexsort
            order = np.lexsort((cid_u, -vu, upid))
            up_s = upid[order]
            seg0 = np.searchsorted(up_s, np.arange(P))
            rank = np.arange(order.size) - seg0[up_s]
            keep_k = rank < k
            sel_i = order[keep_k]
            bnd = _bounds(up_s[keep_k], P)
            res["topk_cell"] = (bnd, cid_u[sel_i])
            res["topk_v"] = (bnd, vu[sel_i])
            res["topk_cov"] = (bnd, cu[sel_i])
        if req.pair_hist:
            ux, ix = np.unique(vu, return_inverse=True)
            uy, iy = np.unique(w_used, return_inverse=True)
            code1 = ix.astype(np.int64) * uy.size + iy
            u1, i1 = np.unique(code1, return_inverse=True)
            comb2 = upid.astype(np.int64) * u1.size + i1
            uc2, inv2 = np.unique(comb2, return_inverse=True)
            h2c = np.bincount(inv2, weights=cu)
            code_of = u1[uc2 % u1.size]
            bnd = _bounds(uc2 // u1.size, P)
            res["hist2_v"] = (bnd, ux[code_of // uy.size])
            res["hist2_w"] = (bnd, uy[code_of % uy.size])
            res["hist2_c"] = (bnd, h2c)
        if req.histogram:
            bw = kwargs["bin_width"]
            hv = vu if bw is None else np.floor(vu / bw) * bw
            uniq_v, inv_v = np.unique(hv, return_inverse=True)
            nu = len(uniq_v)
            comb = upid.astype(np.int64) * nu + inv_v
            uc, inv2 = np.unique(comb, return_inverse=True)
            # bincount adds in stream order — each pair's buckets sum in
            # its own cell order
            hci = np.bincount(inv2, weights=cu)
            if req.weighted:
                hciw = np.bincount(inv2, weights=cu * w_used)
            else:
                hciw = np.zeros_like(hci)
            bnd = _bounds(uc // nu, P)
            res["hist_v"] = (bnd, uniq_v[uc % nu])
            res["hist_ci"] = (bnd, hci)
            res["hist_ciw"] = (bnd, hciw)
        if req.cells:
            # stored cells (raster_stats.h:759-765) in stream order: the
            # post-transform coverage, NaN weights unless requested
            wcol = w_used if w_used is not None else np.full(upid.size, np.nan)
            cid_u = cell_of(np.flatnonzero(used))
            gr_u, gc_u = np.divmod(cid_u, grid_ncols)
            res["cells"] = (_bounds(upid, P),
                            [cid_u, vu, cu, wcol, grid_xmin + (gc_u + 0.5) * dx,
                             grid_ymax - (gr_u + 0.5) * dy])
        key_results.append(res)

    # --- partial rows: every pair some key is active on ----------------
    rows = np.flatnonzero(active_any)
    # a pair outside ``rows`` holds no list entries, so a list column's
    # offsets are its per-pair bounds at ``rows`` and at the end
    ends = np.append(rows, P)
    cols = {"zone_id": pa.array(zones.zone_id[zone[rows]], type=pa.string())}
    for t, name in enumerate(passthrough):
        cols[name] = pa.array(pairs["pt"][rows, t], type=pa.int32())
    for (i, req, _vname, _kwargs), res in zip(key_specs, key_results):
        if res is None:
            continue
        if req.store_xy:
            for name in ("min", "max"):
                gr, gc = np.divmod(res[name + "_cell"], grid_ncols)
                res[name + "_x"] = grid_xmin + (gc + 0.5) * dx
                res[name + "_y"] = grid_ymax - (gr + 0.5) * dy
        # a key inactive on a pair leaves the pair's columns NULL.  A
        # top-level NaN is written as NULL too, so a scalar partial is a
        # number or NULL and undefined weights ride the w_undef /
        # y_undef flags.  NaN inside list elements stays NaN: the
        # reference's poisoned weighted bucket sums and stored weights
        inactive = ~res["active"][rows]
        pfx = f"k{i}_"
        for f in schema:
            if not f.name.startswith(pfx):
                continue
            v = res[f.name[len(pfx):]]
            if isinstance(v, tuple):
                bnd, child = v
                if isinstance(child, list):
                    child = pa.StructArray.from_arrays(
                        child, fields=list(f.type.value_type))
                cols[f.name] = pa.ListArray.from_arrays(
                    pa.array(bnd[ends].astype(np.int32)), child, type=f.type,
                    mask=pa.array(inactive))
            else:
                a = v[rows]
                null = inactive | np.isnan(a) if a.dtype.kind == "f" else inactive
                cols[f.name] = pa.array(a, type=f.type, mask=null)
    return pa.RecordBatch.from_arrays(
        [cols[f.name] if f.name in cols else pa.nulls(rows.size, f.type)
         for f in schema], schema=schema)
