"""Batch-vectorized coverage + accumulation across (zone, tile) pairs.

The per-pair kernel (kernel.coverage_for_window + accumulate.accumulate_pair)
costs ~600µs of Python/numpy dispatch per pair — ~40 small-array numpy
calls for a 12-vertex polygon on a 28×28 window.  That cost is per
PAIR, not per cell, so it is the wall-time ceiling at scale: 10⁹ pairs
would spend days in dispatch regardless of core count.  This module
collapses the whole (zone × tile) batch into flat numpy streams so the
dispatch cost is per BATCH:

- polygon coverage: every pair's ring edges are concatenated into one
  segment stream (with a pair-id column) and pushed through the same
  scanline pipeline as kernel.py — band clip → row split → right-strip
  measure → column clamp → column split — with per-segment row/column
  bounds instead of scalars; np.add.at scatters into one tall
  accumulator whose rows are the concatenated pair windows (window
  height/width are tile-bounded, so the padded width is ≤ tile size).
  The arithmetic is element-for-element the per-pair kernel's
  (/root/reference/src/raster_cell_intersection.cpp semantics; see
  kernel.py for the derivation), and the scatter order per target cell
  is preserved, so COVERAGE is bit-identical to the per-pair path.
  Aggregate float sums are bit-identical on exactly-representable data
  (the driver fixture) and within 1 ulp otherwise (np.sum in
  accumulate_pair is pairwise; np.bincount here is sequential).
- rectangle coverage: closed-form per-axis overlap evaluated directly
  on the cell stream (same formula as kernel._rect_coverage,
  reference raster_cell_intersection.cpp:177-266).
- statistics: per-pair sums become np.bincount over the pair-id;
  min/max with first-seen-cell tie-break become np.minimum.reduceat
  over pair segment starts (tie rule: lowest cell_id,
  raster_stats.h:299-311); the histogram becomes a combined
  (pair, value) np.unique + bincount, which preserves the per-pair
  stream-order float addition of accumulate.accumulate_pair.

Not batched (per-pair fallback in extract.run_kernel): linear
geometries, stored-cell arrays (req.cells), the opt-in stable variance,
and the area_* coverage weights.  Set EXACTEXTRACT_BATCH=0 to force the
per-pair path everywhere (used by the equality tests).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from .kernel import suffix_coverage

__all__ = ["batch_eligible", "accumulate_pairs_batch", "CHUNK_CELLS"]

CHUNK_CELLS = int(os.environ.get("EXACTEXTRACT_BATCH_CHUNK", "4000000"))

# Rectangle windows LARGER than this route to the per-pair path: the
# per-pair rectangle kernel is O(nrows+ncols) closed-form (outer
# product) while the flat stream is O(cells), so for big windows the
# per-pair path wins despite its ~100µs dispatch.  Isolated microbench
# puts the crossover near 1024 cells (batch 2.1x faster at 256,
# break-even at 1024, per-pair 2.4x faster at 4096), but in the full
# pipeline (Arrow batch + value-stream build) 512 measured slightly
# better on the 1e9-px rect workload, so the default stays
# conservative.  Non-rectangle pairs always batch — the batched
# scanline coverage is ~2µs/pair vs ~430µs per-pair, which dominates
# the stream-stats overhead at every window size up to a full tile.
RECT_BATCH_MAX_CELLS = int(os.environ.get("EXACTEXTRACT_RECT_BATCH_CELLS", "512"))

def batch_eligible(keygroups) -> bool:
    if os.environ.get("EXACTEXTRACT_BATCH", "1") != "1":
        return False
    for key, req, _ in keygroups:
        if req.cells or req.stable_variance:
            return False
        if key[3] not in ("fraction", "none"):  # coverage_weight area_*
            return False
    return True


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


def accumulate_pairs_batch(pairs, zones, tile_vals, key_specs, *, has_weights,
                           passthrough, col_names, grid_ncols,
                           grid_xmin, grid_ymax, dx, dy, multi_raster):
    """Process a chunk of areal (zone, tile) pairs; returns one columnar
    pandas DataFrame of partial-state rows (columns = col_names).

    pairs: dict of equal-length arrays (built in extract.run_kernel) —
      zone (ordinal into ``zones``, a geom.ZoneArrays), tile (key into
      tile_vals), r0/r1/c0/c1 (crop window within the tile), row0/col0
      (tile origin in the grid), nodata/w_nodata (NaN = none),
      raster_id (object array; multi_raster only) and pt (P ×
      len(passthrough) int64);
    tile_vals: tile key -> (values 2-D, weight 2-D or None)."""
    zone = np.asarray(pairs["zone"], dtype=np.int64)
    P = zone.size
    r0, r1 = pairs["r0"], pairs["r1"]
    c0, c1 = pairs["c0"], pairs["c1"]
    nrw = r1 - r0
    ncw = c1 - c0
    row0g, col0g = pairs["row0"], pairs["col0"]
    gr0 = row0g + r0
    gc0 = col0g + c0
    # two-step origin arithmetic — tile origin first, then the window
    # offset — so the floats match the per-pair path exactly even when
    # grid origin/resolution are not exactly representable
    # (extract.py computes xmin = gx + col0*dx, then xmin + c0z*dx)
    xmin_w = (grid_xmin + col0g * dx) + c0 * dx
    ymax_w = (grid_ymax - row0g * dy) - r0 * dy
    ymin_w = ymax_w - nrw * dy
    nodata = pairs["nodata"]
    w_nodata = pairs["w_nodata"]
    is_rect = zones.is_rect[zone]

    # --- coverage ---------------------------------------------------------
    poly_idx = np.flatnonzero(~is_rect)
    cov2d = off = None
    if poly_idx.size:
        cov2d, off = _poly_coverage(zone, zones, poly_idx, nrw, ncw,
                                    xmin_w, ymin_w, dx, dy)

    # --- cell stream (top-down rows, matching accumulate_pair order) -----
    areas = nrw * ncw
    total = int(areas.sum())
    pid = np.repeat(np.arange(P), areas)
    starts = np.cumsum(areas) - areas
    ordn = np.arange(total) - np.repeat(starts, areas)
    r_td, cc = np.divmod(ordn, ncw[pid])
    gr = gr0[pid] + r_td
    gc = gc0[pid] + cc

    cov = np.empty(total, dtype=np.float32)
    rc = is_rect[pid]
    if rc.any():
        ri = np.flatnonzero(rc)
        bx0, by0, bx1, by1 = zones.bbox[zone].T
        pri = pid[ri]
        x_lo = xmin_w[pri] + dx * cc[ri]
        y_lo = ymin_w[pri] + dy * (nrw[pri] - 1 - r_td[ri])
        covx = np.clip((np.minimum(bx1[pri], x_lo + dx) -
                        np.maximum(bx0[pri], x_lo)) / dx, 0.0, 1.0)
        covy = np.clip((np.minimum(by1[pri], y_lo + dy) -
                        np.maximum(by0[pri], y_lo)) / dy, 0.0, 1.0)
        cov[ri] = (covx * covy).astype(np.float32)
    if poly_idx.size:
        pi = np.flatnonzero(~rc)
        ppi = pid[pi]
        acc_row = off[ppi] + (nrw[ppi] - 1 - r_td[pi])
        cov[pi] = cov2d[acc_row, cc[pi]]

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

    nd_s = nodata[pid]
    # shared across keys: definedness depends only on the value stream
    defined_s = ~np.isnan(v) & (v != nd_s)
    need_cellid = any(req.minmax or req.pair_topk
                      for _, req, _, _ in key_specs)
    cell_id = gr * grid_ncols + gc if need_cellid else None
    cov64 = None  # lazy shared float64 coverage
    wdef_s = None
    rid_arr = None
    if multi_raster:
        rid_arr = pairs["raster_id"]

    # --- per-key statistics ----------------------------------------------
    out = {}
    active_any = np.zeros(P, dtype=bool)
    key_results = []
    for i, req, vname, kwargs in key_specs:
        min_cov = np.float32(kwargs["min_coverage_frac"])
        cw = kwargs["coverage_weight"]
        dv = kwargs["default_value"]
        dwt = kwargs["default_weight"]

        s = cov >= min_cov
        if multi_raster:
            # per-pair raster match gathered onto the stream (a direct
            # object-array compare would run per CELL)
            s = s & np.fromiter((r == vname for r in rid_arr),
                                dtype=bool, count=P)[pid]
        if dv is not None:
            vals = np.where(defined_s, v, dv)
            used = s
        else:
            vals = v
            used = s & defined_s
        if cw == "none":
            c64 = np.ones(total)
        else:
            if cov64 is None:
                cov64 = cov.astype(np.float64)
            c64 = cov64

        upid = pid[used]
        n_per = np.bincount(upid, minlength=P)
        active = n_per > 0
        if not active.any():
            key_results.append(None)
            continue
        active_any |= active
        cu = c64[used]
        vu = vals[used]
        res = {"n": n_per,
               "sum_c": np.bincount(upid, weights=cu, minlength=P),
               "sum_cx": np.bincount(upid, weights=vu * cu, minlength=P),
               "active": active}
        if req.variance:
            res["sum_cx2"] = np.bincount(upid, weights=vu * vu * cu, minlength=P)

        wres_used = None
        if req.weighted:
            if wdef_s is None:
                wdef_s = ~np.isnan(wv) & (wv != w_nodata[pid])
            wu = wv[used]
            wdef_u = wdef_s[used]
            wres_used = np.where(wdef_u, wu, np.nan if dwt is None else dwt)
            # undefined weights (no default): flag per pair and zero-
            # fill the scalar sums (see accumulate.accumulate_pair —
            # NaN would become SQL NULL through Arrow)
            if dwt is None:
                res["w_undef"] = np.bincount(upid[~wdef_u], minlength=P) > 0
                ws_u = np.where(wdef_u, wu, 0.0)
            else:
                res["w_undef"] = np.zeros(P, dtype=bool)
                ws_u = wres_used
            ciwi_u = cu * ws_u
            res["sum_cw"] = np.bincount(upid, weights=ciwi_u, minlength=P)
            res["sum_cxw"] = np.bincount(upid, weights=vu * ciwi_u, minlength=P)
            if req.weighted_variance:
                res["sum_cx2w"] = np.bincount(
                    upid, weights=vu * vu * ciwi_u, minlength=P)

        if req.minmax:
            # min/max + first-seen tie cell over the COMPACTED stream:
            # per-pair segment starts via searchsorted (upid is sorted).
            # The streams are padded with one neutral element so empty
            # trailing segments (cstarts == len) stay valid reduceat
            # indices without truncating the last active segment;
            # empty segments produce neutral values that `active` masks.
            cstarts = np.searchsorted(upid, np.arange(P))
            cid_u = cell_id[used]
            minv = np.minimum.reduceat(np.append(vu, np.inf), cstarts)
            maxv = np.maximum.reduceat(np.append(vu, -np.inf), cstarts)
            LARGE = np.iinfo(np.int64).max
            cand_min = np.where(vu == minv[upid], cid_u, LARGE)
            cand_max = np.where(vu == maxv[upid], cid_u, LARGE)
            res["min_v"] = minv
            res["max_v"] = maxv
            res["min_cell"] = np.minimum.reduceat(np.append(cand_min, LARGE), cstarts)
            res["max_cell"] = np.minimum.reduceat(np.append(cand_max, LARGE), cstarts)

        # --- two-raster partials (y = the weight raster; NaN where y is
        # undefined, matching the stored-array path's NaN weights) ---
        y_used = wres_used
        if y_used is None and req.needs_y:
            if wv is None:
                # no weight raster joined: y is undefined everywhere —
                # same NaN semantics as the per-pair path's default fill
                y_used = np.full(int(used.sum()),
                                 np.nan if dwt is None else dwt)
            else:
                if wdef_s is None:
                    wdef_s = ~np.isnan(wv) & (wv != w_nodata[pid])
                wu2 = wv[used]
                y_used = np.where(wdef_s[used], wu2,
                                  np.nan if dwt is None else dwt)
        if req.xy_moments or req.xy_change:
            # per-pair undefined-y flag + zero-filled sums: a top-level
            # NaN partial becomes SQL NULL at the Arrow boundary and
            # F.sum/F.max silently skip it (see accumulate.accumulate_pair)
            y_nan = np.isnan(y_used)
            res["y_undef"] = np.bincount(upid[y_nan], minlength=P) > 0
            y_fill = np.where(y_nan, 0.0, y_used)
        if req.xy_moments:
            cyu = y_fill * cu
            res["sum_cy"] = np.bincount(upid, weights=cyu, minlength=P)
            res["sum_cy2"] = np.bincount(upid, weights=y_fill * cyu,
                                         minlength=P)
            res["sum_cxy"] = np.bincount(upid, weights=vu * cyu, minlength=P)
        if req.xy_change:
            delta = vu - y_used
            chm = delta != 0  # NaN != 0 is True — same as SQL x != y
            res["chg_c"] = np.bincount(upid[chm], weights=cu[chm],
                                       minlength=P)
            dfill = np.where(y_nan, 0.0, delta)
            res["chg_sd"] = np.bincount(upid, weights=dfill * cu, minlength=P)
            cstarts_c = np.searchsorted(upid, np.arange(P))
            res["chg_maxad"] = np.maximum.reduceat(
                np.append(np.abs(dfill), -np.inf), cstarts_c)
        if req.pair_topk:
            k = int(req.pair_topk)
            cid_u = cell_id[used]
            # per-pair (value desc, cell_id asc) order; upid is already
            # non-decreasing so segments stay contiguous after lexsort
            order = np.lexsort((cid_u, -vu, upid))
            up_s = upid[order]
            seg0 = np.searchsorted(up_s, np.arange(P))
            rank = np.arange(order.size) - seg0[up_s]
            keep_k = rank < k
            sel_i = order[keep_k]
            kpair = up_s[keep_k]
            lo_t = np.searchsorted(kpair, np.arange(P), side="left")
            hi_t = np.searchsorted(kpair, np.arange(P), side="right")
            res["_topk"] = (cid_u[sel_i], vu[sel_i], cu[sel_i], lo_t, hi_t)
        if req.pair_hist:
            ux, ix = np.unique(vu, return_inverse=True)
            uy, iy = np.unique(y_used, return_inverse=True)
            code1 = ix.astype(np.int64) * uy.size + iy
            u1, i1 = np.unique(code1, return_inverse=True)
            comb2 = upid.astype(np.int64) * u1.size + i1
            uc2, inv2 = np.unique(comb2, return_inverse=True)
            h2c = np.bincount(inv2, weights=cu)
            code_of = u1[uc2 % u1.size]
            pair_of2 = uc2 // u1.size
            lo_h = np.searchsorted(pair_of2, np.arange(P), side="left")
            hi_h = np.searchsorted(pair_of2, np.arange(P), side="right")
            res["_hist2"] = (ux[code_of // uy.size], uy[code_of % uy.size],
                             h2c, lo_h, hi_h)
        if req.histogram:
            bw = kwargs["bin_width"]
            hv = vu if bw is None else np.floor(vu / bw) * bw
            uniq_v, inv_v = np.unique(hv, return_inverse=True)
            nu = len(uniq_v)
            comb = upid.astype(np.int64) * nu + inv_v
            uc, inv2 = np.unique(comb, return_inverse=True)
            # bincount adds in stream order — same float addition order
            # as accumulate_pair's per-pair histogram
            hci = np.bincount(inv2, weights=cu)
            if req.weighted and wres_used is not None:
                hciw = np.bincount(inv2, weights=cu * wres_used)
            else:
                hciw = np.zeros_like(hci)
            pair_of = uc // nu
            val_of = uniq_v[uc % nu]
            lo_b = np.searchsorted(pair_of, np.arange(P), side="left")
            hi_b = np.searchsorted(pair_of, np.arange(P), side="right")
            res["_hist"] = (val_of, hci, hciw, lo_b, hi_b)
        key_results.append(res)

    rows = np.flatnonzero(active_any)
    if rows.size == 0:
        return pd.DataFrame(columns=col_names)

    out["zone_id"] = zones.zone_id[zone[rows]]
    for t, name in enumerate(passthrough):
        out[name] = pairs["pt"][rows, t]

    for (i, req, _vname, kwargs), res in zip(key_specs, key_results):
        pfx = f"k{i}_"
        if res is None:
            continue
        act = res["active"]
        sel = act[rows]

        def col(vals_arr, fill=np.nan):
            a = np.full(rows.size, fill)
            a[sel] = vals_arr[rows][sel]
            return a

        out[pfx + "n"] = col(res["n"].astype(np.float64))
        out[pfx + "sum_c"] = col(res["sum_c"])
        out[pfx + "sum_cx"] = col(res["sum_cx"])
        if req.variance:
            out[pfx + "sum_cx2"] = col(res["sum_cx2"])
        if req.weighted:
            out[pfx + "sum_cw"] = col(res["sum_cw"])
            out[pfx + "sum_cxw"] = col(res["sum_cxw"])
            wu_col = np.full(rows.size, None, dtype=object)
            wu_col[sel] = [bool(b) for b in res["w_undef"][rows][sel]]
            out[pfx + "w_undef"] = wu_col
            if req.weighted_variance:
                out[pfx + "sum_cx2w"] = col(res["sum_cx2w"])
        if req.xy_moments or req.xy_change:
            yu_col = np.full(rows.size, None, dtype=object)
            yu_col[sel] = [bool(b) for b in res["y_undef"][rows][sel]]
            out[pfx + "y_undef"] = yu_col
        if req.xy_moments:
            out[pfx + "sum_cy"] = col(res["sum_cy"])
            out[pfx + "sum_cy2"] = col(res["sum_cy2"])
            out[pfx + "sum_cxy"] = col(res["sum_cxy"])
        if req.xy_change:
            out[pfx + "chg_c"] = col(res["chg_c"])
            out[pfx + "chg_sd"] = col(res["chg_sd"])
            out[pfx + "chg_maxad"] = col(res["chg_maxad"])
        if req.minmax:
            out[pfx + "min_v"] = col(res["min_v"])
            out[pfx + "max_v"] = col(res["max_v"])
            out[pfx + "min_cell"] = col(res["min_cell"].astype(np.float64))
            out[pfx + "max_cell"] = col(res["max_cell"].astype(np.float64))
            if req.store_xy:
                mr, mc = np.divmod(res["min_cell"], grid_ncols)
                xr, xc = np.divmod(res["max_cell"], grid_ncols)
                out[pfx + "min_x"] = col(grid_xmin + (mc + 0.5) * dx)
                out[pfx + "min_y"] = col(grid_ymax - (mr + 0.5) * dy)
                out[pfx + "max_x"] = col(grid_xmin + (xc + 0.5) * dx)
                out[pfx + "max_y"] = col(grid_ymax - (xr + 0.5) * dy)
    # histogram partials ride the pair row as three PARALLEL PRIMITIVE
    # ARRAYS (numpy slice views of the flat bucket streams).  The Arrow
    # serializer converts an array<double> column per ROW (one C-level
    # list per slice) — never the per-ELEMENT Python dict conversion an
    # array<struct> column costs — and the aggregation explodes
    # JVM-side, keeping the partial row count per PAIR, not per bucket
    # (measured 2.5× faster than exploded scalar bucket rows at 150k
    # zones × 97 buckets).  NaN weighted sums survive inside array
    # elements (only top-level NaN becomes SQL NULL at the boundary).
    for (i, req, _vname, _kwargs), res in zip(key_specs, key_results):
        if res is None:
            continue
        act = res["active"]
        pfx = f"k{i}_"
        array_groups = []
        if req.histogram:
            val_of, hci, hciw, lo_b, hi_b = res["_hist"]
            array_groups.append((lo_b, hi_b,
                                 ((pfx + "hist_v", val_of),
                                  (pfx + "hist_ci", hci),
                                  (pfx + "hist_ciw", hciw))))
        if req.pair_hist:
            h2v, h2w, h2c, lo_h, hi_h = res["_hist2"]
            array_groups.append((lo_h, hi_h,
                                 ((pfx + "hist2_v", h2v),
                                  (pfx + "hist2_w", h2w),
                                  (pfx + "hist2_c", h2c))))
        if req.pair_topk:
            tcell, tv, tcov, lo_t, hi_t = res["_topk"]
            array_groups.append((lo_t, hi_t,
                                 ((pfx + "topk_cell", tcell),
                                  (pfx + "topk_v", tv),
                                  (pfx + "topk_cov", tcov))))
        for lo_b, hi_b, named in array_groups:
            for name, arr in named:
                col_o = np.empty(rows.size, dtype=object)
                col_o[:] = None
                for o, g in enumerate(rows):
                    if act[g]:
                        col_o[o] = arr[lo_b[g]:hi_b[g]]
                out[name] = col_o

    # a key inactive across the whole chunk leaves its histogram
    # columns missing — they must reindex to None objects, not NaN
    # floats (the Arrow array converter iterates non-None values)
    for i, req, _vname, _kwargs in key_specs:
        suffixes = (("hist_v", "hist_ci", "hist_ciw") if req.histogram else ()) \
            + (("hist2_v", "hist2_w", "hist2_c") if req.pair_hist else ()) \
            + (("topk_cell", "topk_v", "topk_cov") if req.pair_topk else ())
        for suffix in suffixes:
            name = f"k{i}_{suffix}"
            if name not in out:
                out[name] = np.full(rows.size, None, dtype=object)
    df = pd.DataFrame({c: out[c] for c in col_names if c in out})
    return df.reindex(columns=col_names)
