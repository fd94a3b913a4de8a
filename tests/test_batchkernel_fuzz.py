"""Function-level differential fuzz: accumulate_pairs_batch vs the
per-pair (coverage_for_window + accumulate_pair) composition on random
polygons, windows, and nodata patterns.

Counts, min/max values/cells and histogram entries must match
BIT-EXACTLY (identical comparisons and bincount order on both paths).
The weighted/unweighted SUMS are compared to 1-ulp-level relative
tolerance: accumulate_pair uses np.sum (pairwise summation) while the
batch path uses np.bincount (sequential), which differ in the last ulp
on arbitrary real values — on integer-exact data (the driver fixture)
both are exact."""

import numpy as np
import pytest

from exactextract_spark.accumulate import accumulate_pair
from exactextract_spark.batchkernel import accumulate_pairs_batch
from exactextract_spark.geom import parse_wkt_batch
from exactextract_spark.kernel import coverage_for_window
from exactextract_spark.ops import group_ops_by_key, parse_ops

OPS = ["count", "sum", "mean", "min", "max", "variance",
       "weighted_mean", "weighted_sum", "variety", "median",
       "mc=sum(min_coverage_frac=0.4)", "dv=sum(default_value=7)"]


def _key_specs():
    kg = group_ops_by_key(parse_ops(OPS, weights="weights"))
    return kg, [(i, req, key[0], dict(
        min_coverage_frac=key[2], coverage_weight=key[3],
        default_value=key[4], default_weight=key[5], bin_width=key[6]))
        for i, (key, req, _) in enumerate(kg)]


def _rand_poly(rng, lo, hi):
    kind = rng.integers(0, 3)
    if kind == 0:  # rectangle
        x0, y0 = rng.uniform(lo, hi - 1, 2)
        w, h = rng.uniform(0.3, (hi - lo) / 2, 2)
        return f"POLYGON (({x0} {y0}, {x0 + w} {y0}, {x0 + w} {y0 + h}, {x0} {y0 + h}, {x0} {y0}))"
    m = int(rng.integers(3, 12))
    cx, cy = rng.uniform(lo + 2, hi - 2, 2)
    ang = np.sort(rng.uniform(0, 2 * np.pi, m))
    rad = rng.uniform(0.5, (hi - lo) / 3, m)
    xs = cx + rad * np.cos(ang)
    ys = cy + rad * np.sin(ang)
    pts = ", ".join(f"{x} {y}" for x, y in zip(xs, ys))
    wkt = f"POLYGON (({pts}, {xs[0]} {ys[0]}))"
    if kind == 2:  # add a hole
        hr = rad.min() / 3
        if hr > 0.1:
            hx = [cx - hr, cx + hr, cx + hr, cx - hr]
            hy = [cy - hr, cy - hr, cy + hr, cy + hr]
            hole = ", ".join(f"{x} {y}" for x, y in zip(hx, hy))
            wkt = (f"POLYGON (({pts}, {xs[0]} {ys[0]}), "
                   f"({hole}, {hx[0]} {hy[0]}))")
    return wkt


@pytest.mark.parametrize("seed", range(8))
def test_batch_equals_perpair_fuzz(seed):
    rng = np.random.default_rng(seed)
    kg, key_specs = _key_specs()
    T = int(rng.integers(5, 20))          # tile size
    G = T * int(rng.integers(1, 4))       # grid side
    gx, gy = float(rng.integers(-5, 5)), float(G + rng.integers(-2, 3))
    dx = dy = 1.0
    vals = rng.uniform(-50, 50, (G, G))
    vals[rng.random((G, G)) < 0.1] = -999.0          # nodata
    vals[rng.random((G, G)) < 0.05] = np.nan
    w = rng.uniform(0, 5, (G, G))
    w[rng.random((G, G)) < 0.03] = np.nan            # missing weights

    pairs = []
    tile_vals = {}
    want_rows = []
    zones = parse_wkt_batch([_rand_poly(rng, gx, gx + G) for _ in range(12)],
                            zone_id=np.array([f"z{z}" for z in range(12)], dtype=object))
    for z in range(12):
        g = zones.geometry(z)
        zid = f"z{z}"
        bx0, by0, bx1, by1 = g.bbox
        for tr in range(G // T):
            for tc in range(G // T):
                row0, col0 = tr * T, tc * T
                key = tr * (G // T) + tc
                if key not in tile_vals:
                    tile_vals[key] = (vals[row0:row0 + T, col0:col0 + T],
                                      w[row0:row0 + T, col0:col0 + T])
                xmin = gx + col0 * dx
                ymax = gy - row0 * dy
                import math
                c0z = min(max(int(math.floor((bx0 - xmin) / dx)), 0), T - 1)
                c1z = min(max(int(math.ceil((bx1 - xmin) / dx)), c0z + 1), T)
                r0z = min(max(int(math.floor((ymax - by1) / dy)), 0), T - 1)
                r1z = min(max(int(math.ceil((ymax - by0) / dy)), r0z + 1), T)
                pairs.append((z, key, r0z, r1z, c0z, c1z, row0, col0))
                # per-pair reference
                tv, tw = tile_vals[key]
                cov = coverage_for_window(g, xmin + c0z * dx, ymax - r0z * dy,
                                          dx, dy, r1z - r0z, c1z - c0z)
                if not cov.any():
                    continue
                rec = {"zone_id": zid, "_tile": key}
                any_key = False
                for i, req, _vn, kwargs in key_specs:
                    part = accumulate_pair(
                        cov, tv[r0z:r1z, c0z:c1z], req=req, nodata=-999.0,
                        weights=tw[r0z:r1z, c0z:c1z], weight_nodata=None,
                        row0=row0 + r0z, col0=col0 + c0z, grid_ncols=G,
                        grid_xmin=gx, grid_ymax=gy, dx=dx, dy=dy, **kwargs)
                    if part is None:
                        continue
                    any_key = True
                    for k, v in part.items():
                        rec[f"k{i}_{k}"] = v
                if any_key:
                    want_rows.append(rec)

    cols = ["zone_id"]
    for i, (_, req, _) in enumerate(kg):
        p = f"k{i}_"
        cols += [p + "n", p + "sum_c", p + "sum_cx"]
        if req.variance:
            cols.append(p + "sum_cx2")
        if req.weighted:
            cols += [p + "sum_cw", p + "sum_cxw", p + "w_undef"]
        if req.minmax:
            cols += [p + "min_v", p + "min_cell", p + "max_v", p + "max_cell"]
        if req.histogram:
            cols += [p + "hist_v", p + "hist_ci", p + "hist_ciw"]
    cols_of = np.array(pairs, dtype=np.int64).T
    batch = dict(zip(("zone", "tile", "r0", "r1", "c0", "c1", "row0", "col0"), cols_of))
    batch.update(nodata=np.full(len(pairs), -999.0), w_nodata=np.full(len(pairs), np.nan),
                 raster_id=None, pt=np.zeros((len(pairs), 0), dtype=np.int64))
    got = accumulate_pairs_batch(batch, zones, tile_vals, key_specs,
                                 has_weights=True, passthrough=(),
                                 col_names=cols, grid_ncols=G, grid_xmin=gx,
                                 grid_ymax=gy, dx=dx, dy=dy,
                                 multi_raster=False)
    assert len(got) == len(want_rows), (len(got), len(want_rows))
    # batch rows come out pair-ordered like the reference loop; the
    # histogram rides each pair row as three parallel arrays
    for out_row, rec in zip(got.to_dict("records"), want_rows):
        assert out_row["zone_id"] == rec["zone_id"]
        for c in cols[1:]:
            a = out_row.get(c)
            if "_hist_" in c:
                continue  # compared below via the per-pair tuple
            b = rec.get(c)
            if b is None:
                assert a is None or (isinstance(a, float) and np.isnan(a)), (c, a)
            elif isinstance(b, float) and np.isnan(b):
                assert np.isnan(a), (c, a, b)
            elif "sum_c" in c and isinstance(b, float):
                assert a == pytest.approx(b, rel=1e-12), (c, a, b)
            else:
                assert a == b, (c, a, b, rec["zone_id"], rec["_tile"])
        for i, (_, req, _) in enumerate(kg):
            if not req.histogram:
                continue
            p = f"k{i}_"
            h = rec.get(p + "hist")
            if h is None:
                for sfx in ("hist_v", "hist_ci", "hist_ciw"):
                    a = out_row.get(p + sfx)
                    assert a is None or (isinstance(a, float) and np.isnan(a))
                continue
            uniq, hci, hciw = h
            assert list(out_row[p + "hist_v"]) == list(uniq)
            assert list(out_row[p + "hist_ci"]) == pytest.approx(
                list(hci), rel=1e-12)
            got_ciw = np.asarray(out_row[p + "hist_ciw"], dtype=np.float64)
            exp_ciw = np.asarray(hciw, dtype=np.float64)
            nan_a = np.isnan(got_ciw)
            assert list(nan_a) == list(np.isnan(exp_ciw))
            assert got_ciw[~nan_a] == pytest.approx(exp_ciw[~nan_a], rel=1e-12)
