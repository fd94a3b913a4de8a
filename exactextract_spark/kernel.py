"""Exact coverage-fraction kernel, vectorized over polygon *edges*.

Computes, for every cell of a tile window, the exact fraction of the
cell covered by a polygon (or, for linear geometries, the traversal
length per cell) — the same quantity as the reference's
``raster_cell_intersection`` (/root/reference/src/raster_cell_intersection.cpp:27-43,
cell.cpp, traversal_areas.cpp, floodfill.cpp ≈ 1,100 LoC of per-cell
state machine + flood fill).

This is **not** a port of that algorithm.  It is the scanline
area-accumulation formulation (the classic analytic-coverage rasterizer
decomposition): by Green's theorem the covered area of cell (r,c) equals

    sum over edge sub-segments s lying in column c of
        ((u0+u1)/2 - c) * (w1 - w0)                      [partial area]
  + sum over edge sub-segments s lying in any column c' > c of
        (w1 - w0)                                        [full-width strip]

in grid units (u = (x-xmin)/dx, w = (y-ymin)/dy, bottom-up rows).  Each
edge is clipped to the tile's row band, split at row then column
boundaries, and scattered with np.add.at; the second term is a suffix
cumsum per row.  Interior cells (no edges) are covered purely by the
suffix term — which plays the role of the reference's flood fill
(floodfill.h:62-135) with no point-in-polygon test needed.  Exterior
rings are normalized CCW and holes CW upstream (geom.py), so hole
subtraction falls out of the signed accumulation
(cf. raster_cell_intersection.cpp:459-488).

Fast paths mirroring the reference:
- axis-aligned rectangles: closed-form per-axis overlap, outer product
  (raster_cell_intersection.cpp:177-266, 425-428);
- geometry fully covering the tile: all ones (tile-granular analog of
  the flood-fill interior test).

Coverage is returned as float32, matching raster_cell_intersection.h:64.
"""

from __future__ import annotations

import numpy as np

from .geom import Geometry

__all__ = ["coverage_fraction", "cell_lengths", "coverage_for_window",
           "suffix_coverage"]

_EPS = np.finfo(np.float64).eps
# residue zeroing (suffix_coverage): a fixed floor, crop-independent,
# and the interpolation/summation bound factor for extreme rows
_TINY = 1e-10
_RESIDUE = 8.0


def _clip_segments_to_band(u0, w0, u1, w1, nrows):
    """Clip segments (in grid units) to w in [0, nrows]; drops empties."""
    dw = w1 - w0
    with np.errstate(divide="ignore", invalid="ignore"):
        ta = (0.0 - w0) / dw
        tb = (nrows - w0) / dw
    tlo = np.clip(np.minimum(ta, tb), 0.0, 1.0)
    thi = np.clip(np.maximum(ta, tb), 0.0, 1.0)
    keep = thi > tlo
    u0, w0, u1, w1, dw, tlo, thi = (a[keep] for a in (u0, w0, u1, w1, dw, tlo, thi))
    du = u1 - u0
    ua = u0 + tlo * du
    wa = np.clip(w0 + tlo * dw, 0.0, nrows)
    ub = u0 + thi * du
    wb = np.clip(w0 + thi * dw, 0.0, nrows)
    return ua, wa, ub, wb


def _split_rows(ua, wa, ub, wb, nrows):
    """Split band-clipped segments at integer w lines.

    Returns (u0, w0, u1, w1, row) with each piece inside one row."""
    wlo = np.minimum(wa, wb)
    whi = np.maximum(wa, wb)
    r_lo = np.clip(np.floor(wlo).astype(np.int64), 0, nrows - 1)
    r_hi = np.clip(np.ceil(whi).astype(np.int64) - 1, 0, nrows - 1)
    r_hi = np.maximum(r_hi, r_lo)
    n = r_hi - r_lo + 1
    idx = np.repeat(np.arange(ua.size), n)
    k = np.arange(idx.size) - np.repeat(np.cumsum(n) - n, n)
    row = r_lo[idx] + k

    sua, swa, sub, swb = ua[idx], wa[idx], ub[idx], wb[idx]
    dw = swb - swa
    du = sub - sua
    with np.errstate(divide="ignore", invalid="ignore"):
        t_a = (row - swa) / dw
        t_b = (row + 1 - swa) / dw
    single = dw == 0.0
    tp0 = np.where(single, 0.0, np.clip(np.minimum(t_a, t_b), 0.0, 1.0))
    tp1 = np.where(single, 1.0, np.clip(np.maximum(t_a, t_b), 0.0, 1.0))
    u0 = sua + tp0 * du
    w0 = swa + tp0 * dw
    u1 = sua + tp1 * du
    w1 = swa + tp1 * dw
    return u0, w0, u1, w1, row


def _interval_measure(u0, w0, u1, w1, thresh, side):
    """Signed dw of the sub-portion of each piece with u >= thresh
    (side=+1) or u <= thresh (side=-1)."""
    du = u1 - u0
    dw = w1 - w0
    with np.errstate(divide="ignore", invalid="ignore"):
        tc = (thresh - u0) / du
    if side > 0:
        lo = np.where(du > 0, np.clip(tc, 0.0, 1.0), 0.0)
        hi = np.where(du < 0, np.clip(tc, 0.0, 1.0), 1.0)
        whole = (du == 0.0) & (u0 >= thresh)
    else:
        lo = np.where(du < 0, np.clip(tc, 0.0, 1.0), 0.0)
        hi = np.where(du > 0, np.clip(tc, 0.0, 1.0), 1.0)
        whole = (du == 0.0) & (u0 <= thresh)
    lo = np.where(du == 0.0, np.where(whole, 0.0, 1.0), lo)
    hi = np.where(du == 0.0, np.where(whole, 1.0, 0.0), hi)
    m = np.maximum(hi - lo, 0.0)
    return m * dw, lo, hi


def _accumulate_ring(u, w, nrows, ncols, darea, dcover, pieces):
    u0, w0, u1, w1 = u[:-1], w[:-1], u[1:], w[1:]
    m = w0 != w1  # horizontal edges contribute no signed area
    u0, w0, u1, w1 = u0[m], w0[m], u1[m], w1[m]
    if u0.size == 0:
        return
    ua, wa, ub, wb = _clip_segments_to_band(u0, w0, u1, w1, nrows)
    if ua.size == 0:
        return
    pu0, pw0, pu1, pw1, row = _split_rows(ua, wa, ub, wb, nrows)

    # portion right of the tile -> full-width strip for every tile column
    dv_right, _, _ = _interval_measure(pu0, pw0, pu1, pw1, float(ncols), +1)
    nz = dv_right != 0.0
    if np.any(nz):
        np.add.at(dcover, (row[nz], np.full(nz.sum(), ncols)), dv_right[nz])
        pieces += np.bincount(row[nz], minlength=nrows)

    # middle portion: clamp to 0 <= u <= ncols, then split at columns
    du = pu1 - pu0
    dw = pw1 - pw0
    with np.errstate(divide="ignore", invalid="ignore"):
        t_at0 = (0.0 - pu0) / du
        t_atn = (float(ncols) - pu0) / du
    tm_lo = np.where(du == 0.0, 0.0, np.clip(np.minimum(t_at0, t_atn), 0.0, 1.0))
    tm_hi = np.where(du == 0.0, 1.0, np.clip(np.maximum(t_at0, t_atn), 0.0, 1.0))
    # strict < ncols: a vertical edge exactly on u == ncols already went
    # to the virtual right column above
    inside0 = (du == 0.0) & (pu0 >= 0.0) & (pu0 < float(ncols))
    tm_lo = np.where(du == 0.0, np.where(inside0, 0.0, 1.0), tm_lo)
    tm_hi = np.where(du == 0.0, np.where(inside0, 1.0, 0.0), tm_hi)
    keep = tm_hi > tm_lo
    if not np.any(keep):
        return
    mu0 = np.clip(pu0[keep] + tm_lo[keep] * du[keep], 0.0, float(ncols))
    mw0 = pw0[keep] + tm_lo[keep] * dw[keep]
    mu1 = np.clip(pu0[keep] + tm_hi[keep] * du[keep], 0.0, float(ncols))
    mw1 = pw0[keep] + tm_hi[keep] * dw[keep]
    mrow = row[keep]

    # split at integer u lines
    ulo = np.minimum(mu0, mu1)
    uhi = np.maximum(mu0, mu1)
    c_lo = np.clip(np.floor(ulo).astype(np.int64), 0, ncols - 1)
    c_hi = np.clip(np.ceil(uhi).astype(np.int64) - 1, 0, ncols - 1)
    c_hi = np.maximum(c_hi, c_lo)
    n = c_hi - c_lo + 1
    idx = np.repeat(np.arange(mu0.size), n)
    k = np.arange(idx.size) - np.repeat(np.cumsum(n) - n, n)
    col = c_lo[idx] + k

    su0, sw0, su1, sw1 = mu0[idx], mw0[idx], mu1[idx], mw1[idx]
    srow = mrow[idx]
    sdu = su1 - su0
    sdw = sw1 - sw0
    with np.errstate(divide="ignore", invalid="ignore"):
        t_a = (col - su0) / sdu
        t_b = (col + 1 - su0) / sdu
    single = sdu == 0.0
    tp0 = np.where(single, 0.0, np.clip(np.minimum(t_a, t_b), 0.0, 1.0))
    tp1 = np.where(single, 1.0, np.clip(np.maximum(t_a, t_b), 0.0, 1.0))
    cu0 = su0 + tp0 * sdu
    cw0 = sw0 + tp0 * sdw
    cu1 = su0 + tp1 * sdu
    cw1 = sw0 + tp1 * sdw
    pdw = cw1 - cw0
    np.add.at(darea, (srow, col), (0.5 * (cu0 + cu1) - col) * pdw)
    np.add.at(dcover, (srow, col), pdw)
    pieces += np.bincount(srow, minlength=nrows)


def _rect_coverage(bounds, xmin, ymin_w, dx, dy, nrows, ncols):
    x0, y0, x1, y1 = bounds
    cx = xmin + dx * np.arange(ncols + 1)
    cy = ymin_w + dy * np.arange(nrows + 1)
    covx = np.clip((np.minimum(x1, cx[1:]) - np.maximum(x0, cx[:-1])) / dx, 0.0, 1.0)
    covy = np.clip((np.minimum(y1, cy[1:]) - np.maximum(y0, cy[:-1])) / dy, 0.0, 1.0)
    return np.outer(covy, covx)  # bottom-up rows


def suffix_coverage(darea: np.ndarray, dcover: np.ndarray, pieces: np.ndarray,
                    row: np.ndarray, ncols: np.ndarray) -> np.ndarray:
    """Cell coverage from the scanline accumulators (darea/dcover of
    shape (rows, ncols+1), the last column the virtual strip right of
    the window): partial area plus the suffix sum of full-width strips
    strictly to the right, clipped to [0, 1].

    Strips that cancel in exact arithmetic — edges entering and leaving
    the row right of a cell no ring touches — leave float residues of a
    few 1e-16 (sub-segment endpoints are interpolated in window
    coordinates), and which cells carry one depends on where the window
    was cropped (per tile vs whole zone), so min/max would count
    different cells.  A cell whose |value| is at most the row's
    rounding bound is therefore zeroed.  The bound is the fixed floor
    _TINY (so the rule itself does not depend on the crop), raised only
    for rows whose own bound _RESIDUE · ε · pieces · (pieces + row + 1
    + ncols) exceeds it: ``pieces`` (per accumulator row) counts the
    ring sub-segments scattered into the row, ``row`` is the row's
    index inside its window (bottom-up) and ``ncols`` the window width.
    Every input is per accumulator row or per cell, so the batch kernel
    (concatenated windows, zero padding beyond each window's virtual
    column) zeroes exactly the same cells as the per-pair kernel."""
    suffix = np.cumsum(dcover[:, ::-1], axis=1)[:, ::-1]
    cov = darea[:, :-1] + suffix[:, 1:]
    bound = np.maximum(_TINY, _RESIDUE * _EPS * pieces * (pieces + row + 1 + ncols))
    cov[np.abs(cov) <= bound[:, None]] = 0.0
    return np.clip(cov, 0.0, 1.0)


def coverage_fraction(geom: Geometry, xmin: float, ymax: float, dx: float, dy: float,
                      nrows: int, ncols: int) -> np.ndarray:
    """Exact coverage fraction of each cell of the window, float32,
    rows top-down (reference row convention, grid.h:143)."""
    if geom.kind != "areal":
        raise ValueError("coverage_fraction requires an areal geometry")
    ymin_w = ymax - nrows * dy
    if geom.is_rectangle():
        out = _rect_coverage(geom.bbox, xmin, ymin_w, dx, dy, nrows, ncols)
        return np.asarray(out[::-1], dtype=np.float32)
    darea = np.zeros((nrows, ncols + 1), dtype=np.float64)
    dcover = np.zeros((nrows, ncols + 1), dtype=np.float64)
    pieces = np.zeros(nrows, dtype=np.int64)
    for ring in geom.rings:
        u = (ring[:, 0] - xmin) / dx
        w = (ring[:, 1] - ymin_w) / dy
        _accumulate_ring(u, w, nrows, ncols, darea, dcover, pieces)
    cov = suffix_coverage(darea, dcover, pieces, np.arange(nrows), ncols)
    return np.asarray(cov[::-1], dtype=np.float32)


def cell_lengths(geom: Geometry, xmin: float, ymax: float, dx: float, dy: float,
                 nrows: int, ncols: int) -> np.ndarray:
    """Traversal length of linear geometry per cell (absolute units),
    float32, rows top-down — reference collect_lengths
    (raster_cell_intersection.cpp:320-336)."""
    if geom.kind != "linear":
        raise ValueError("cell_lengths requires a linear geometry")
    ymin_w = ymax - nrows * dy
    out = np.zeros((nrows, ncols), dtype=np.float64)
    for path in geom.rings:
        u = (path[:, 0] - xmin) / dx
        w = (path[:, 1] - ymin_w) / dy
        u0, w0, u1, w1 = u[:-1], w[:-1], u[1:], w[1:]
        m = (u0 != u1) | (w0 != w1)
        u0, w0, u1, w1 = u0[m], w0[m], u1[m], w1[m]
        if u0.size == 0:
            continue
        # clip to the band, then to columns [0, ncols]
        ua, wa, ub, wb = _clip_segments_to_band(u0, w0, u1, w1, nrows)
        if ua.size == 0:
            continue
        du = ub - ua
        with np.errstate(divide="ignore", invalid="ignore"):
            t0c = (0.0 - ua) / du
            t1c = (float(ncols) - ua) / du
        tlo = np.where(du == 0.0, 0.0, np.clip(np.minimum(t0c, t1c), 0.0, 1.0))
        thi = np.where(du == 0.0, 1.0, np.clip(np.maximum(t0c, t1c), 0.0, 1.0))
        in0 = (du == 0.0) & (ua >= 0.0) & (ua <= float(ncols))
        tlo = np.where(du == 0.0, np.where(in0, 0.0, 1.0), tlo)
        thi = np.where(du == 0.0, np.where(in0, 1.0, 0.0), thi)
        keep = thi > tlo
        if not np.any(keep):
            continue
        dw = wb - wa
        nu0 = ua[keep] + tlo[keep] * du[keep]
        nw0 = wa[keep] + tlo[keep] * dw[keep]
        nu1 = ua[keep] + thi[keep] * du[keep]
        nw1 = wa[keep] + thi[keep] * dw[keep]
        pu0, pw0, pu1, pw1, row = _split_rows(nu0, nw0, nu1, nw1, nrows)
        # split at integer u lines
        ulo = np.minimum(pu0, pu1)
        uhi = np.maximum(pu0, pu1)
        c_lo = np.clip(np.floor(ulo).astype(np.int64), 0, ncols - 1)
        c_hi = np.clip(np.ceil(uhi).astype(np.int64) - 1, 0, ncols - 1)
        c_hi = np.maximum(c_hi, c_lo)
        n = c_hi - c_lo + 1
        idx = np.repeat(np.arange(pu0.size), n)
        k = np.arange(idx.size) - np.repeat(np.cumsum(n) - n, n)
        col = c_lo[idx] + k
        su0, sw0, su1, sw1 = pu0[idx], pw0[idx], pu1[idx], pw1[idx]
        srow = row[idx]
        sdu = su1 - su0
        sdw = sw1 - sw0
        with np.errstate(divide="ignore", invalid="ignore"):
            t_a = (col - su0) / sdu
            t_b = (col + 1 - su0) / sdu
        single = sdu == 0.0
        tp0 = np.where(single, 0.0, np.clip(np.minimum(t_a, t_b), 0.0, 1.0))
        tp1 = np.where(single, 1.0, np.clip(np.maximum(t_a, t_b), 0.0, 1.0))
        dlu = (tp1 - tp0) * sdu * dx
        dlw = (tp1 - tp0) * sdw * dy
        seg_len = np.sqrt(dlu * dlu + dlw * dlw)
        np.add.at(out, (srow, col), seg_len)
    return np.asarray(out[::-1], dtype=np.float32)


def coverage_for_window(geom: Geometry, xmin, ymax, dx, dy, nrows, ncols) -> np.ndarray:
    """Dispatch areal->fraction / linear->length (reference dispatch at
    raster_cell_intersection.cpp:133-155)."""
    if geom.kind == "areal":
        return coverage_fraction(geom, xmin, ymax, dx, dy, nrows, ncols)
    return cell_lengths(geom, xmin, ymax, dx, dy, nrows, ncols)
