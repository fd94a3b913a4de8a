"""Differential reference for the batch statistics kernel: the
engine's former per-(zone, tile) accumulator, kept only to cross-check
``exactextract_spark.batchkernel.accumulate_pairs_batch`` one pair at a
time (tests/test_batchkernel_fuzz.py).

Computes the mergeable sufficient statistics of the reference's
``RasterStats`` (raster_stats.h:82-834) for one zone
x one tile:

- ``sum_c``/``sum_cx``/``sum_cw``/``sum_cxw`` — the four sums
  (raster_stats.h:740-748), plus ``sum_cx2``/``sum_cx2w`` so that
  (weighted) variance has an exactly mergeable algebraic form (the
  reference's West accumulator refuses to combine across chunks,
  raster_stats.h:113-115 — this engine lifts that restriction).
- first-seen min/max with cell location (strict comparisons ->
  row-major first occurrence wins ties, raster_stats.h:299-311).
- value histogram (value -> sum_ci, sum_ciwi) (raster_stats.h:752-757).
- stored per-cell arrays with global cell_id for deterministic ordering
  (raster_stats.h:759-765; cell_id on the value grid, operation.cpp:313).

Nodata / min_coverage / coverage_weight / default semantics follow
raster_stats.h:155-296 exactly:
  * cells with cov < min_coverage_frac are skipped (cov is float32, the
    comparison uses >=, default FLT_MIN i.e. "any positive coverage");
  * nodata/NaN values are skipped unless default_value is given;
  * nodata weights become default_weight; with no default the weighted
    sums are undefined — carried as an explicit ``w_undef`` flag so the
    reference's NaN propagation survives the Arrow partial rows (pandas
    NaN would become SQL NULL and silently drop out of sum());
  * coverage_weight: fraction (default) | none (c:=1 after threshold) |
    area_cartesian | area_spherical_m2 | area_spherical_km2 — the area
    multiply happens in float32 like the reference's
    Raster<float> area raster (raster_stats.h:277-296, 329-343).
"""

from __future__ import annotations

import math

import numpy as np

from exactextract_spark.batchkernel import accumulate_pairs_batch
from exactextract_spark.extract import _partial_schema
from exactextract_spark.geom import parse_wkt_batch
from exactextract_spark.grid import spherical_row_areas
from exactextract_spark.kernel import coverage_for_window
from exactextract_spark.ops import StatRequirements, group_ops_by_key, parse_ops
from pyspark.sql.pandas.types import to_arrow_schema

__all__ = ["accumulate_pair", "batch_and_reference"]


def _area_factor(coverage_weight: str, ymax: float, dy: float, dx: float,
                 row0: int, nrows: int):
    if coverage_weight == "area_cartesian":
        return np.full(nrows, np.float32(dx * dy), dtype=np.float32)
    if coverage_weight == "area_spherical_m2":
        return (spherical_row_areas(ymax + row0 * dy, dy, row0, nrows) * dx).astype(np.float32)
    if coverage_weight == "area_spherical_km2":
        return (spherical_row_areas(ymax + row0 * dy, dy, row0, nrows, 1e-6) * dx).astype(np.float32)
    return None


def accumulate_pair(cov: np.ndarray, values: np.ndarray, *,
                    req: StatRequirements,
                    nodata: float | None,
                    weights: np.ndarray | None = None,
                    weight_nodata: float | None = None,
                    min_coverage_frac: float,
                    coverage_weight: str = "fraction",
                    default_value: float | None = None,
                    default_weight: float | None = None,
                    bin_width: float | None = None,
                    row0: int = 0, col0: int = 0,
                    grid_ncols: int = 0,
                    grid_xmin: float = 0.0, grid_ymax: float = 0.0,
                    dx: float = 1.0, dy: float = 1.0) -> dict | None:
    """Returns a dict of partial-state fields, or None when no cell
    qualifies (the pair contributes nothing)."""
    nrows, ncols = cov.shape
    sel = cov >= np.float32(min_coverage_frac)
    if not sel.any():
        return None

    vals = values.astype(np.float64, copy=False)
    if nodata is not None:
        defined = vals != nodata
    else:
        defined = np.ones_like(sel)
    defined = defined & ~np.isnan(vals)

    if default_value is not None:
        vals = np.where(defined, vals, default_value)
        used = sel
    else:
        used = sel & defined
    if not used.any():
        return None

    # effective coverage (area multiply in float32 per reference; NONE
    # resets to 1 after thresholding — raster_stats.h:277-296)
    areas = _area_factor(coverage_weight, grid_ymax - row0 * dy, dy, dx, row0, nrows)
    covf = cov
    if areas is not None:
        covf = (cov * areas[:, None]).astype(np.float32)
    if coverage_weight == "none":
        c = np.ones(cov.shape, dtype=np.float64)
    else:
        c = covf.astype(np.float64)

    rr, cc = np.nonzero(used)
    cvals = vals[rr, cc]
    ccov = c[rr, cc]
    out: dict = {}
    out["n"] = int(rr.size)
    out["sum_c"] = float(ccov.sum())
    out["sum_cx"] = float((cvals * ccov).sum())
    if req.variance:
        out["sum_cx2"] = float((cvals * cvals * ccov).sum())
    if req.stable_variance:
        # pivot-shifted state: pivot K = the first used cell (row-major),
        # s = Σc(x-K), m2 = Σc((x-K) - s/w)² with w = sum_c; merged
        # across pairs at agg time (extract.aggregate_partials)
        d = cvals - cvals[0]
        s = float((d * ccov).sum())
        r = d - s / out["sum_c"]
        out["var_k"] = float(cvals[0])
        out["var_s"] = s
        out["var_m2"] = float((r * r * ccov).sum())

    w = None
    if req.weighted or req.cells_weights or req.needs_y:
        # Undefined weights without a default make the weighted sums
        # undefined (the reference's NaN propagation,
        # raster_stats.h:252-296).  NaN cannot travel through the
        # Arrow partial rows (pandas NaN becomes SQL NULL, which sum()
        # would silently skip), so the partial carries an explicit
        # w_undef flag and the finalize nulls the weighted stats when
        # any merged partial has it set.
        dw = np.nan if default_weight is None else float(default_weight)
        if weights is None:
            w = np.full(cvals.shape, dw)
        else:
            wv = weights.astype(np.float64, copy=False)[rr, cc]
            wdef = ~np.isnan(wv)
            if weight_nodata is not None:
                wdef &= wv != weight_nodata
            w = np.where(wdef, wv, dw)
        if req.weighted:
            undef = np.isnan(w)
            w_undef = bool(undef.any())
            # zero-fill ONLY the scalar sums; stored arrays and the
            # histogram keep NaN (per-cell undefinedness is visible
            # there, and NaN survives inside list/struct values)
            ws = np.where(undef, 0.0, w) if w_undef else w
            ciwi = ccov * ws
            out["w_undef"] = w_undef
            out["sum_cw"] = float(ciwi.sum())
            out["sum_cxw"] = float((cvals * ciwi).sum())
            if req.weighted_variance:
                out["sum_cx2w"] = float((cvals * cvals * ciwi).sum())

    # --- two-raster partials (the weight raster as the second variable
    # y) — compact per-pair state replacing the collect_list funnel (r5
    # verdict finding 3).  An undefined y (NaN) must poison the zone's
    # y-dependent statistics like the stored-array path's NaN weights
    # did, but a top-level NaN partial becomes SQL NULL at the Arrow
    # boundary and F.sum/F.max silently SKIP it — so, exactly like
    # w_undef above, the partial carries an explicit y_undef flag with
    # zero-filled sums, and the finalize re-poisons with NaN when any
    # merged partial has it set. ---
    if req.xy_moments or req.xy_change:
        y_undef = bool(np.isnan(w).any())
        ys = np.where(np.isnan(w), 0.0, w) if y_undef else w
        out["y_undef"] = y_undef
        if req.xy_moments:
            out["sum_cy"] = float((ys * ccov).sum())
            out["sum_cy2"] = float((ys * ys * ccov).sum())
            out["sum_cxy"] = float((cvals * ys * ccov).sum())
        if req.xy_change:
            delta = cvals - w
            # NaN delta counts as "changed" (NaN != 0 is True) —
            # identical to the SQL `x != y` predicate for y = NaN
            out["chg_c"] = float(ccov[delta != 0].sum())
            dfill = np.where(np.isnan(delta), 0.0, delta) if y_undef \
                else delta
            out["chg_sd"] = float((dfill * ccov).sum())
            out["chg_maxad"] = float(np.max(np.abs(dfill)))

    cell_ids = (rr + row0).astype(np.int64) * grid_ncols + (cc + col0)
    if req.pair_topk:
        k = int(req.pair_topk)
        order = np.lexsort((cell_ids, -cvals))[:k]
        out["topk_cell"] = cell_ids[order]
        out["topk_v"] = cvals[order]
        out["topk_cov"] = ccov[order]
    if req.pair_hist:
        ux, ix = np.unique(cvals, return_inverse=True)
        uy, iy = np.unique(w, return_inverse=True)
        code = ix.astype(np.int64) * uy.size + iy
        uc, inv2 = np.unique(code, return_inverse=True)
        out["hist2_v"] = ux[uc // uy.size]
        out["hist2_w"] = uy[uc % uy.size]
        out["hist2_c"] = np.bincount(inv2, weights=ccov)
    if req.minmax:
        imin = int(np.argmin(cvals))
        imax = int(np.argmax(cvals))
        out["min_v"] = float(cvals[imin])
        out["max_v"] = float(cvals[imax])
        out["min_cell"] = int(cell_ids[imin])
        out["max_cell"] = int(cell_ids[imax])
        if req.store_xy:
            out["min_x"] = grid_xmin + (int(cc[imin]) + col0 + 0.5) * dx
            out["min_y"] = grid_ymax - (int(rr[imin]) + row0 + 0.5) * dy
            out["max_x"] = grid_xmin + (int(cc[imax]) + col0 + 0.5) * dx
            out["max_y"] = grid_ymax - (int(rr[imax]) + row0 + 0.5) * dy

    if req.histogram:
        hvals = cvals if bin_width is None else np.floor(cvals / bin_width) * bin_width
        uniq, inv = np.unique(hvals, return_inverse=True)
        hci = np.bincount(inv, weights=ccov)
        if req.weighted and w is not None:
            hciw = np.bincount(inv, weights=ccov * w)
        else:
            hciw = np.zeros_like(hci)
        out["hist"] = (uniq, hci, hciw)

    if req.cells:
        xs = grid_xmin + (cc + col0 + 0.5) * dx
        ys = grid_ymax - (rr + row0 + 0.5) * dy
        # stored coverage is the post-transform value (raster_stats.h:281-287)
        stored_cov = np.ones(rr.size) if coverage_weight == "none" else covf.astype(np.float64)[rr, cc]
        wcol = w if w is not None else np.full(rr.size, np.nan)
        out["cells"] = [
            (int(cid), float(v), float(cv), float(ww), float(x), float(y))
            for cid, v, cv, ww, x, y in zip(cell_ids, cvals, stored_cov, wcol, xs, ys)
        ]
    return out


def batch_and_reference(ops, wkts, vals, weights, *, tile, gx, gy,
                        dx=1.0, dy=1.0, nodata=-999.0):
    """Runs the zones ``wkts`` over the raster ``vals`` (weight raster
    ``weights``, both 2-D, tiled by ``tile`` with ragged edge tiles)
    through extract.run_kernel's two inner steps: every (zone, tile)
    pair with its zone-bbox crop window through
    batchkernel.accumulate_pairs_batch, and pair by pair through
    kernel.coverage_for_window + accumulate_pair.  Returns (keygroups,
    batch rows, reference rows), both lists of dicts in pair order; a
    reference row carries the histogram as ``k{i}_hist`` = (values,
    sum_ci, sum_ciwi) and a ``_tile`` key."""
    kg = group_ops_by_key(parse_ops(ops, weights="weights"))
    key_specs = [(i, req, key[0], dict(
        min_coverage_frac=key[2], coverage_weight=key[3],
        default_value=key[4], default_weight=key[5], bin_width=key[6]))
        for i, (key, req, _) in enumerate(kg)]
    nr, nc = vals.shape
    zones = parse_wkt_batch(list(wkts), zone_id=np.array(
        [f"z{z}" for z in range(len(wkts))], dtype=object))
    tiles = {}
    for row0 in range(0, nr, tile):
        for col0 in range(0, nc, tile):
            win = np.s_[row0:row0 + tile, col0:col0 + tile]
            tiles[len(tiles)] = (row0, col0, vals[win], weights[win])

    pairs, want = [], []
    for z in range(len(zones)):
        g = zones.geometry(z)
        bx0, by0, bx1, by1 = g.bbox
        for key, (row0, col0, tv, tw) in tiles.items():
            T_r, T_c = tv.shape
            xmin = gx + col0 * dx
            ymax = gy - row0 * dy
            c0z = min(max(int(math.floor((bx0 - xmin) / dx)), 0), T_c - 1)
            c1z = min(max(int(math.ceil((bx1 - xmin) / dx)), c0z + 1), T_c)
            r0z = min(max(int(math.floor((ymax - by1) / dy)), 0), T_r - 1)
            r1z = min(max(int(math.ceil((ymax - by0) / dy)), r0z + 1), T_r)
            pairs.append((z, key, r0z, r1z, c0z, c1z, row0, col0))
            cov = coverage_for_window(g, xmin + c0z * dx, ymax - r0z * dy,
                                      dx, dy, r1z - r0z, c1z - c0z)
            if not cov.any():
                continue
            rec = {"zone_id": f"z{z}", "_tile": key}
            any_key = False
            for i, req, _vn, kwargs in key_specs:
                part = accumulate_pair(
                    cov, tv[r0z:r1z, c0z:c1z], req=req, nodata=nodata,
                    weights=tw[r0z:r1z, c0z:c1z], weight_nodata=None,
                    row0=row0 + r0z, col0=col0 + c0z, grid_ncols=nc,
                    grid_xmin=gx, grid_ymax=gy, dx=dx, dy=dy, **kwargs)
                if part is None:
                    continue
                any_key = True
                for k, v in part.items():
                    rec[f"k{i}_{k}"] = v
            if any_key:
                want.append(rec)

    batch = dict(zip(("zone", "tile", "r0", "r1", "c0", "c1", "row0", "col0"),
                     np.array(pairs, dtype=np.int64).T))
    batch.update(nodata=np.full(len(pairs), nodata),
                 w_nodata=np.full(len(pairs), np.nan), raster_match=None,
                 pt=np.zeros((len(pairs), 0), dtype=np.int64))
    tile_vals = {k: (tv, tw) for k, (_r, _c, tv, tw) in tiles.items()}
    got = accumulate_pairs_batch(batch, zones, tile_vals, key_specs,
                                 has_weights=True, passthrough=(),
                                 schema=to_arrow_schema(_partial_schema(kg)),
                                 grid_ncols=nc, grid_xmin=gx, grid_ymax=gy,
                                 dx=dx, dy=dy)
    rows = got.to_pandas().to_dict("records")
    for r in rows:  # stored cells as the tuples the reference builds
        for c, a in r.items():
            if c.endswith("_cells") and a is not None:
                r[c] = [tuple(e.values()) for e in a]
    return kg, rows, want
