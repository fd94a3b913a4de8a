"""Coverage must not depend on where a window is cropped.

The scanline kernels sum full-width strips from the right edge of the
window.  Strips of edges that enter and leave a row to the right of a
cell cancel in exact arithmetic, but their float sum used to leave
residues of 1e-16..3e-16 on cells no ring touches, and which cells
carried one depended on the crop — so per-tile windows and the
whole-zone window disagreed on the covered-cell set that min/max (and
every op keyed on covered cells) read.  Both kernels now zero a cell
whose value lies within the suffix sum's rounding bound, with the same
rule, so they stay bit-identical."""

import numpy as np
import pytest

from exactextract_spark.batchkernel import _poly_coverage
from exactextract_spark.geom import parse_wkt, parse_wkt_batch
from exactextract_spark.kernel import coverage_fraction
from test_wkt_parser import star_wkts

# zone p12500 of the benchmark's seed-105 zone set (20000 star zones on
# a 4096² grid, 64-cell tiles): 11 residue cells per-tile, 0 whole-window
P12500 = ("POLYGON ((1167.2472 2386.1927, 1161.9673 2388.8457, 1156.0951 2388.7340, "
          "1152.4664 2387.0156, 1153.1607 2382.6977, 1151.5935 2381.0112, "
          "1145.5406 2376.6055, 1150.3323 2376.6637, 1150.2571 2369.6968, "
          "1156.5518 2375.3549, 1157.8035 2377.8902, 1165.9409 2379.7538, "
          "1167.2472 2386.1927))")


def tile_windows(bbox, tile, origin=(0.0, 0.0), top=4096.0):
    """(whole window, per-tile crops) in grid cells for a unit-cell grid
    whose x origin is origin[0] and whose top edge is ``top``; tile
    boundaries are offset by origin[1] cells from the grid edge."""
    x0, y0, x1, y1 = bbox
    gx, off = origin
    c0, c1 = int(np.floor(x0 - gx)), int(np.ceil(x1 - gx))
    r0, r1 = int(np.floor(top - y1)), int(np.ceil(top - y0))
    crops = []
    edges_r = [r0] + [t for t in range(r0 + 1, r1) if (t - off) % tile == 0] + [r1]
    edges_c = [c0] + [t for t in range(c0 + 1, c1) if (t - off) % tile == 0] + [c1]
    for a, b in zip(edges_r[:-1], edges_r[1:]):
        for c, d in zip(edges_c[:-1], edges_c[1:]):
            crops.append((a, b, c, d))
    return (r0, r1, c0, c1), crops


def per_tile_and_whole(g, tile, origin=(0.0, 0.0), top=4096.0):
    (r0, r1, c0, c1), crops = tile_windows(g.bbox, tile, origin, top)
    gx = origin[0]
    whole = coverage_fraction(g, gx + c0, top - r0, 1.0, 1.0, r1 - r0, c1 - c0)
    tiled = np.zeros_like(whole)
    for a, b, c, d in crops:
        tiled[a - r0:b - r0, c - c0:d - c0] = coverage_fraction(
            g, gx + c, top - a, 1.0, 1.0, b - a, d - c)
    return whole, tiled, crops


def test_p12500_per_tile_equals_whole_window():
    whole, tiled, _ = per_tile_and_whole(parse_wkt(P12500), 64)
    assert ((whole > 0) == (tiled > 0)).all()
    # no residue-sized values survive anywhere
    assert not ((tiled > 0) & (tiled < 1e-12)).any()
    assert not ((whole > 0) & (whole < 1e-12)).any()


def batch_coverage(zones, zone_of_pair, windows, gx=0.0, top=4096.0):
    """The batch kernel's coverage for (zone, window) pairs, returned
    per pair with rows top-down like coverage_fraction."""
    w = np.array(windows, dtype=np.int64)
    r0, r1, c0, c1 = w.T
    nrw, ncw = r1 - r0, c1 - c0
    xmin_w = gx + c0 * 1.0
    ymin_w = (top - r0 * 1.0) - nrw * 1.0
    idx = np.arange(len(windows))
    cov2d, off = _poly_coverage(np.asarray(zone_of_pair), zones, idx, nrw, ncw,
                                xmin_w, ymin_w, 1.0, 1.0)
    return [cov2d[off[p]:off[p] + nrw[p], :ncw[p]][::-1] for p in idx]


def test_p12500_batch_kernel_bit_identical():
    zones = parse_wkt_batch([P12500])
    g = zones.geometry(0)
    _, crops = tile_windows(g.bbox, 64)
    got = batch_coverage(zones, np.zeros(len(crops), dtype=np.int64), crops)
    for (a, b, c, d), cov in zip(crops, got):
        want = coverage_fraction(g, float(c), 4096.0 - a, 1.0, 1.0, b - a, d - c)
        assert cov.dtype == want.dtype == np.float32
        assert (cov.view(np.int32) == want.view(np.int32)).all()


@pytest.mark.parametrize("seed", [1, 105, 7])
def test_star_zones_non_aligned_tilings(seed):
    """Star polygons on tilings whose tile size and tile-grid offset do
    not line up with the zones (and a non-integer grid origin): the
    covered-cell set per tile equals the whole-window set, and the
    batch kernel reproduces the per-pair coverage bit for bit."""
    rng = np.random.default_rng(seed)
    wkts = star_wkts(seed, 300)
    zones = parse_wkt_batch(wkts)
    for i in range(len(wkts)):
        g = zones.geometry(i)
        tile = int(rng.integers(3, 41))
        origin = (float(rng.choice([0.0, 0.25, 0.5])), int(rng.integers(0, tile)))
        whole, tiled, crops = per_tile_and_whole(g, tile, origin)
        assert ((whole > 0) == (tiled > 0)).all(), (i, tile, origin)
        got = batch_coverage(zones, np.full(len(crops), i), crops, gx=origin[0])
        for (a, b, c, d), cov in zip(crops, got):
            want = coverage_fraction(g, origin[0] + c, 4096.0 - a, 1.0, 1.0,
                                     b - a, d - c)
            assert (cov.view(np.int32) == want.view(np.int32)).all(), (i, a, c)
