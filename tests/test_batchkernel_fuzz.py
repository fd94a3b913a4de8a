"""Function-level differential fuzz: accumulate_pairs_batch vs the
per-pair composition (kernel.coverage_for_window + the reference
accumulator in tests/accumulate_reference.py) on random zones, windows,
grids and nodata patterns — polygons, linear zones, large rectangles,
the stable variance, stored cells and the area_* coverage weights.

Counts, min/max values/cells, histogram values and stored cells must
match BIT-EXACTLY (identical comparisons and bincount order on both
paths).  The weighted/unweighted SUMS (and the quantities derived from
them: the stable variance's shifted sum and M2, histogram bucket sums)
are compared to 1-ulp-level relative tolerance: the reference uses
np.sum (pairwise summation) while the batch path uses np.bincount
(sequential), which differ in the last ulp on arbitrary real values —
on integer-exact data (the quarter-aligned fixture) both are exact."""

import re

import numpy as np
import pytest

from accumulate_reference import batch_and_reference

OPS = ["count", "sum", "mean", "min", "max", "variance",
       "weighted_mean", "weighted_sum", "variety", "median",
       "mc=sum(min_coverage_frac=0.4)", "dv=sum(default_value=7)"]

# fields holding float sums (or values derived from them)
_SUMS = ("sum_c", "sum_cx", "sum_cx2", "sum_cw", "sum_cxw", "sum_cx2w",
         "var_s", "var_m2")


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


def _rand_line(rng, lo, hi):
    """A LINESTRING or MULTILINESTRING; some vertices snap to grid
    lines and some segments are axis-parallel."""
    def part():
        m = int(rng.integers(2, 8))
        pts = rng.uniform(lo, hi, (m, 2))
        snap = rng.random(m) < 0.3
        pts[snap] = np.round(pts[snap])
        if m > 2 and rng.random() < 0.5:
            pts[1, 1] = pts[0, 1]  # horizontal segment
        return "(" + ", ".join(f"{x} {y}" for x, y in pts) + ")"
    if rng.random() < 0.5:
        return "LINESTRING " + part()
    return "MULTILINESTRING (" + ", ".join(
        part() for _ in range(int(rng.integers(2, 4)))) + ")"


def _rand_rect(rng, xlo, ylo, span):
    """A rectangle inside [xlo, ylo] + span (a little beyond its lower
    corner) wide enough that most of its tile windows exceed 512 cells
    (tiles are >= 32 cells a side)."""
    x0 = rng.uniform(xlo - 1, xlo + span / 3)
    y0 = rng.uniform(ylo - 1, ylo + span / 3)
    w, h = rng.uniform(span / 2, span, 2)
    return (f"POLYGON (({x0} {y0}, {x0 + w} {y0}, {x0 + w} {y0 + h}, "
            f"{x0} {y0 + h}, {x0} {y0}))")


def _raster(rng, G):
    """Random G x G values (nodata, NaN) and weights (missing weights)."""
    vals = rng.uniform(-50, 50, (G, G))
    vals[rng.random((G, G)) < 0.1] = -999.0          # nodata
    vals[rng.random((G, G)) < 0.05] = np.nan
    w = rng.uniform(0, 5, (G, G))
    w[rng.random((G, G)) < 0.03] = np.nan            # missing weights
    return vals, w


def _assert_same(kg, got, want_rows):
    assert len(got) == len(want_rows), (len(got), len(want_rows))
    # batch rows come out pair-ordered like the reference loop; the
    # histogram rides each pair row as three parallel arrays
    for out_row, rec in zip(got, want_rows):
        assert out_row["zone_id"] == rec["zone_id"]
        for c in list(out_row)[1:]:
            a = out_row.get(c)
            if "_hist_" in c or c.endswith("_cells"):
                continue  # compared below
            b = rec.get(c)
            if b is None:
                assert a is None or (isinstance(a, float) and np.isnan(a)), (c, a)
            elif isinstance(b, float) and np.isnan(b):
                assert np.isnan(a), (c, a, b)
            elif c.split("_", 1)[1] in _SUMS:
                assert a == pytest.approx(b, rel=1e-12), (c, a, b)
            else:
                assert a == b, (c, a, b, rec["zone_id"], rec["_tile"])
        for i, (_, req, _) in enumerate(kg):
            p = f"k{i}_"
            if req.cells:
                want = rec.get(p + "cells")
                a = out_row.get(p + "cells")
                if want is None:
                    assert a is None or (isinstance(a, float) and np.isnan(a))
                else:
                    # stored cells: bit-exact, same order (NaN == NaN)
                    np.testing.assert_array_equal(
                        np.array(a, dtype=np.float64),
                        np.array(want, dtype=np.float64))
            if not req.histogram:
                continue
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


@pytest.mark.parametrize("seed", range(8))
def test_batch_equals_perpair_fuzz(seed):
    rng = np.random.default_rng(seed)
    T = int(rng.integers(5, 20))          # tile size
    G = T * int(rng.integers(1, 4))       # grid side
    gx, gy = float(rng.integers(-5, 5)), float(G + rng.integers(-2, 3))
    vals, w = _raster(rng, G)
    wkts = [_rand_poly(rng, gx, gx + G) for _ in range(12)]
    _assert_same(*batch_and_reference(OPS, wkts, vals, w, tile=T, gx=gx, gy=gy))


@pytest.mark.parametrize("seed", range(4))
def test_linear_zones_fuzz(seed):
    """LINESTRING / MULTILINESTRING zones: coverage is the per-cell
    traversal length (kernel.cell_lengths)."""
    rng = np.random.default_rng(100 + seed)
    T = int(rng.integers(5, 16))
    G = T * int(rng.integers(1, 4))
    gx, gy = float(rng.integers(-5, 5)), float(G + rng.integers(-2, 3))
    wkts = [_rand_line(rng, gx, gx + G) for _ in range(10)]
    _assert_same(*batch_and_reference(OPS + ["cell_id", "coverage"], wkts,
                                      *_raster(rng, G), tile=T, gx=gx, gy=gy))


@pytest.mark.parametrize("seed", range(4))
def test_stable_variance_fuzz(seed):
    rng = np.random.default_rng(200 + seed)
    T = int(rng.integers(5, 20))
    G = T * int(rng.integers(1, 4))
    gx, gy = float(rng.integers(-5, 5)), float(G + rng.integers(-2, 3))
    wkts = [_rand_poly(rng, gx, gx + G) for _ in range(10)]
    ops = ["variance(stable=true)", "stdev(stable=true)", "count",
           "vn=variance(stable=true,coverage_weight=none)",
           "vm=variance(stable=true,min_coverage_frac=0.5)",
           # stored cells of each key: the two-pass variance's input
           "c0=coverage", "cn=coverage(coverage_weight=none)",
           "cm=coverage(min_coverage_frac=0.5)"]
    kg, got, want = batch_and_reference(ops, wkts, *_raster(rng, G), tile=T,
                                        gx=gx, gy=gy)
    _assert_same(kg, got, want)
    # the pair states, merged per zone as extract.aggregate_partials
    # merges them in SQL, against a numpy two-pass variance of the
    # zone's cells
    checked = 0
    for i in range(len(kg)):
        p = f"k{i}_"
        for z in {r["zone_id"] for r in got}:
            rows = [r for r in got if r["zone_id"] == z
                    and not np.isnan(r[p + "var_k"])]
            if not rows:
                continue
            w, k, s, m2 = (np.array([r[p + c] for r in rows])
                           for c in ("sum_c", "var_k", "var_s", "var_m2"))
            tw = w.sum()
            mean = ((w * k).sum() + s.sum()) / tw
            d = (k - mean) + s / w
            merged = max((m2 + w * d * d).sum() / tw, 0.0)
            cells = np.concatenate([np.array(r[p + "cells"])[:, 1:3]
                                    for r in rows])
            x, c = cells[:, 0], cells[:, 1]
            mu = (c * x).sum() / c.sum()
            two_pass = (c * (x - mu) ** 2).sum() / c.sum()
            assert merged == pytest.approx(two_pass, rel=1e-12), (i, z)
            checked += 1
    assert checked > 0


@pytest.mark.parametrize("seed", range(4))
def test_stored_cells_fuzz(seed):
    rng = np.random.default_rng(300 + seed)
    T = int(rng.integers(5, 20))
    G = T * int(rng.integers(1, 4))
    gx, gy = float(rng.integers(-5, 5)), float(G + rng.integers(-2, 3))
    wkts = [_rand_poly(rng, gx, gx + G) for _ in range(10)]
    ops = ["cell_id", "values", "coverage", "center_x", "center_y", "count",
           "weights", "weighted_mean",
           "cn=coverage(coverage_weight=none)",
           "vd=values(default_value=3)",
           "wd=weights(default_weight=2)"]
    _assert_same(*batch_and_reference(ops, wkts, *_raster(rng, G), tile=T,
                                      gx=gx, gy=gy))


@pytest.mark.parametrize("seed", range(4))
def test_area_weights_fuzz(seed):
    """area_* coverage weights on a geographic grid (quarter-degree
    cells, northern and southern rows)."""
    rng = np.random.default_rng(400 + seed)
    T = int(rng.integers(5, 16))
    G = T * int(rng.integers(1, 4))
    d = 0.25
    gx, gy = float(rng.integers(-180, 170)), float(rng.integers(-60, 80))

    def place(m):  # a vertex in cell units -> grid coordinates
        return f"{gx + float(m[1]) * d} {gy - G * d + float(m[2]) * d}"
    wkts = [re.sub(r"([-+.\deE]+) ([-+.\deE]+)", place, _rand_poly(rng, 0, G))
            for _ in range(10)]
    ops = ["count", "sum", "mean", "min", "max", "variety",
           "ca=sum(coverage_weight=area_cartesian)",
           "m2=mean(coverage_weight=area_spherical_m2)",
           "k2=count(coverage_weight=area_spherical_km2)",
           "c2=coverage(coverage_weight=area_spherical_m2)",
           "c4=coverage(coverage_weight=area_cartesian)",
           "w2=weighted_sum(coverage_weight=area_spherical_km2)"]
    _assert_same(*batch_and_reference(ops, wkts, *_raster(rng, G), tile=T,
                                      gx=gx, gy=gy, dx=d, dy=d))


@pytest.mark.parametrize("seed", range(4))
def test_large_rectangles_fuzz(seed):
    """Rectangles whose tile windows exceed 512 cells, on a grid whose
    origin and resolution are not exactly representable."""
    rng = np.random.default_rng(500 + seed)
    T = int(rng.integers(32, 48))
    G = T * int(rng.integers(1, 3))
    d = 0.3
    gx, gy = -7.1, 3.7 + G * d
    wkts = [_rand_rect(rng, gx, gy - G * d, G * d) for _ in range(6)]
    ops = ["count", "sum", "mean", "min", "max", "median",
           "weighted_sum", "coverage", "cell_id",
           "mc=count(min_coverage_frac=0.5)"]
    kg, got, want = batch_and_reference(ops, wkts, *_raster(rng, G), tile=T,
                                        gx=gx, gy=gy, dx=d, dy=d)
    assert max(len(r["k0_cells"]) for r in want) > 512
    _assert_same(kg, got, want)
