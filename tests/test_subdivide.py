"""subdivide: per-cell covered polygons (reference subdivide.cpp).
Verified by area conservation against the exact coverage kernel and by
closed-form intersection rectangles."""

import numpy as np
import pytest

from exactextract_spark.geom import parse_wkt, ring_signed_area
from exactextract_spark.io import tiles_from_array
from exactextract_spark.subdivide import subdivide


def _wkt_area(wkt: str) -> float:
    g = parse_wkt(wkt)
    # rings normalized exterior-CCW / holes-CW by the parser
    return sum(ring_signed_area(r) for r in g.rings)


def test_subdivide_rect_closed_form(spark):
    tiles = tiles_from_array(spark, np.zeros((10, 10)))
    zones = spark.createDataFrame(
        [("z", "POLYGON ((1.25 2.5, 4.75 2.5, 4.75 6.25, 1.25 6.25, 1.25 2.5))")],
        ["zone_id", "geometry"])
    rows = subdivide(zones, tiles).collect()
    # covered columns 1..4 (x 1.25..4.75), cell rows for y 2.5..6.25
    # span [2,3)..[6,7) -> 5 rows x 4 cols
    assert len(rows) == 20
    tot = sum(r["coverage"] for r in rows)
    assert tot == pytest.approx(3.5 * 3.75)
    for r in rows:
        # bbox == zone ∩ cell, and the WKT area matches the coverage
        gr, gc = divmod(r["cell_id"], 10)
        cx0, cy1 = float(gc), 10.0 - gr
        assert r["x0"] == pytest.approx(max(1.25, cx0))
        assert r["x1"] == pytest.approx(min(4.75, cx0 + 1))
        assert r["y0"] == pytest.approx(max(2.5, cy1 - 1))
        assert r["y1"] == pytest.approx(min(6.25, cy1))
        assert _wkt_area(r["wkt"]) == pytest.approx(r["coverage"])


def test_subdivide_polygon_area_conservation(spark):
    tiles = tiles_from_array(spark, np.zeros((20, 20)), tile=8)
    wkt = ("POLYGON ((2 2, 17 3, 18 16, 9 18, 3 14, 2 2), "
           "(6 6, 11 6, 11 10, 6 10, 6 6))")
    zones = spark.createDataFrame([("p", wkt)], ["zone_id", "geometry"])
    rows = subdivide(zones, tiles).collect()
    g = parse_wkt(wkt)
    want_area = sum(ring_signed_area(r) for r in g.rings)
    got_area = sum(r["coverage"] for r in rows)  # dx=dy=1
    assert got_area == pytest.approx(want_area, rel=1e-9)
    # per-cell: clipped-polygon area == kernel coverage (float32 tol)
    for r in rows:
        assert _wkt_area(r["wkt"]) == pytest.approx(r["coverage"], abs=1e-6)
    # cells are unique and within the zone bbox
    assert len({r["cell_id"] for r in rows}) == len(rows)


def test_subdivide_multitile_equals_singletile(spark):
    z = [("a", "POLYGON ((1 1, 14 2, 12 13, 2 12, 1 1))")]
    zones = spark.createDataFrame(z, ["zone_id", "geometry"])
    small = subdivide(zones, tiles_from_array(spark, np.zeros((16, 16)), tile=4))
    big = subdivide(zones, tiles_from_array(spark, np.zeros((16, 16)), tile=64))
    a = {r["cell_id"]: r["coverage"] for r in small.collect()}
    b = {r["cell_id"]: r["coverage"] for r in big.collect()}
    assert a == b


def test_subdivide_concave_reentry_multipolygon(spark):
    """A concave (U-shaped) zone exits and re-enters a cell: the cell's
    piece must be a true MULTIPOLYGON (reference cell.cpp:186-190 via
    left_hand_rings), not a single bridged ring."""
    tiles = tiles_from_array(spark, np.zeros((2, 2)), tile=2, dx=10.0, dy=10.0)
    # grid: 2x2 cells of 10x10, x in [0,20], y in [0,20]
    # U shape inside cell (0..10, 10..20): prongs x[1,3] and x[6,9],
    # connected below y=12 inside the lower cell
    wkt = ("POLYGON ((1 2, 9 2, 9 17, 6 17, 6 8, 3 8, 3 18, 1 18, 1 2))")
    zones = spark.createDataFrame([("u", wkt)], ["zone_id", "geometry"])
    rows = {r["cell_id"]: r for r in subdivide(zones, tiles).collect()}
    g = parse_wkt(wkt)
    want_area = sum(ring_signed_area(r) for r in g.rings)
    got_area = sum(r["coverage"] * 100.0 for r in rows.values())
    assert got_area == pytest.approx(want_area, rel=1e-6)
    top_left = rows[0]  # cell row 0, col 0 -> y [10,20], x [0,10]
    assert top_left["wkt"].startswith("MULTIPOLYGON")
    # two prongs: x[1,3] y[10,18] = 16, x[6,9] y[10,17] = 21
    assert _wkt_area(top_left["wkt"]) == pytest.approx(37.0, rel=1e-9)
    assert top_left["coverage"] * 100.0 == pytest.approx(37.0, abs=1e-4)
    # every piece's WKT area matches its coverage
    for r in rows.values():
        assert _wkt_area(r["wkt"]) == pytest.approx(
            r["coverage"] * 100.0, abs=1e-3)


def test_subdivide_shuffle_strategy_equals_broadcast(spark):
    tiles = tiles_from_array(spark, np.zeros((16, 16)), tile=8)
    zones = spark.createDataFrame(
        [("a", "POLYGON ((1 1, 14 2, 12 13, 2 12, 1 1))"),
         ("b", "POLYGON ((3.5 3.5, 9.5 3.5, 9.5 9.5, 3.5 9.5, 3.5 3.5))")],
        ["zone_id", "geometry"])
    bc = subdivide(zones, tiles, strategy="broadcast").collect()
    sh = subdivide(zones, tiles, strategy="shuffle").collect()
    key = lambda r: (r["zone_id"], r["cell_id"])
    assert sorted(map(tuple, bc), key=lambda t: (t[0], t[1])) == \
        sorted(map(tuple, sh), key=lambda t: (t[0], t[1]))


def test_subdivide_cli(spark, tmp_path):
    from exactextract_spark.cli import main
    from exactextract_spark.io import tiles_from_array

    zones = spark.createDataFrame(
        [("z", "POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))")],
        ["zone_id", "geometry"])
    zones.write.parquet(str(tmp_path / "z.parquet"))
    tiles_from_array(spark, np.zeros((4, 4))).write.parquet(str(tmp_path / "t.parquet"))
    rc = main(["--polygons", str(tmp_path / "z.parquet"),
               "--raster", f"v={tmp_path}/t.parquet", "--subdivide",
               "--output", str(tmp_path / "o.parquet"), "--cores", "8"])
    assert rc == 0
    rows = spark.read.parquet(str(tmp_path / "o.parquet")).collect()
    assert len(rows) == 9
    assert sum(r["coverage"] for r in rows) == pytest.approx(4.0)


def test_batch_polygons_wkt_matches_scalar():
    """_batch_polygons_wkt must encode the same geometry as
    polygons_wkt — including the MULTIPOLYGON and hole (multi-ring)
    branches, exercised explicitly below since boundary cells of
    grid-aligned fixtures rarely produce them (string formatting may
    differ — shortest repr vs %.17g — but the PARSED coordinates must
    be identical floats)."""
    import numpy as np

    from exactextract_spark.kernel import coverage_fraction
    from exactextract_spark.subdivide import _batch_polygons_wkt, _offsets
    from traversal_reference import covered_polygons, polygons_wkt

    def compare(cells_polys):
        want = [polygons_wkt(p) for p in cells_polys]
        cell_np, poly_nr, ring_nc, cx, cy = [], [], [], [], []
        for polys in cells_polys:
            cell_np.append(len(polys))
            for poly in polys:
                poly_nr.append(len(poly))
                for ring in poly:
                    ring_nc.append(len(ring))
                    xs, ys = zip(*ring)
                    cx.extend(xs)
                    cy.extend(ys)
        got = _batch_polygons_wkt(
            _offsets(cell_np), _offsets(poly_nr), _offsets(ring_nc),
            np.asarray(cx), np.asarray(cy)).to_pylist()
        assert len(got) == len(want)
        for g_wkt, w_wkt in zip(got, want):
            gg, gw = parse_wkt(g_wkt), parse_wkt(w_wkt)
            assert len(gg.rings) == len(gw.rings), (g_wkt, w_wkt)
            for ra, rb in zip(gg.rings, gw.rings):
                assert np.array_equal(ra, rb), (g_wkt, w_wkt)
        return got

    # explicit structural coverage: single poly / poly+hole /
    # MULTIPOLYGON / MULTIPOLYGON with a hole in the second part
    sq = [(0.1, 0.2), (0.9, 0.2), (0.9, 0.8), (0.1, 0.8), (0.1, 0.2)]
    sq2 = [(x + 2, y) for x, y in sq]
    hole = [(0.3, 0.4), (0.3, 0.6), (0.6, 0.6), (0.6, 0.4), (0.3, 0.4)]
    got = compare([
        [[sq]],
        [[sq, hole]],
        [[sq], [sq2]],
        [[sq], [sq2, [(x + 2, y) for x, y in hole]]],
    ])
    assert got[0].startswith("POLYGON ((")
    assert got[1].count("(") == 3  # shell + hole
    assert got[2].startswith("MULTIPOLYGON (((")
    assert got[3].startswith("MULTIPOLYGON")

    # plus every boundary cell of a real concave+hole polygon through
    # the actual traversal pipeline (off-gridline coords so concave
    # re-entry cells genuinely occur)
    wkt = ("POLYGON ((1.2 2.3, 9.4 2.3, 9.4 17.3, 6.4 17.3, 6.4 8.3, "
           "3.4 8.3, 3.4 17.7, 1.2 17.7, 1.2 2.3), "
           "(1.5 3.1, 2.5 3.1, 2.5 4.6, 1.5 4.6, 1.5 3.1))")
    g = parse_wkt(wkt)
    G = 20
    cov = coverage_fraction(g, 0.0, float(G), 1.0, 1.0, G, G)
    cells_polys = []
    for r in range(G):
        for c in range(G):
            if not (0.0 < cov[r, c] < 1.0):
                continue
            box = (float(c), float(G - 1 - r), float(c + 1), float(G - r))
            try:
                polys = covered_polygons(g.rings, *box)
            except ValueError:
                continue
            if polys:
                cells_polys.append(polys)
    assert cells_polys
    compare(cells_polys)


def test_subdivide_long_chord_zone(spark):
    """A triangle with ~50-cell chords through the FULL pipeline (the
    scanline edge expansion path): per-cell WKT area must equal the
    kernel coverage for every boundary piece, and total area must be
    conserved."""
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.subdivide import subdivide

    G = 64
    data = np.arange(G * G, dtype=np.float64).reshape(G, G)
    tiles = tiles_from_array(spark, data)
    wkt = "POLYGON ((1.3 1.7, 62.4 5.2, 30.8 61.1, 1.3 1.7))"
    zones = spark.createDataFrame([("t", wkt)], ["zone_id", "geometry"])
    rows = subdivide(zones, tiles).collect()
    assert len(rows) > 1000
    total = 0.0
    for r in rows:
        total += r["coverage"]
        if 0.0 < r["coverage"] < 1.0:
            assert _wkt_area(r["wkt"]) == pytest.approx(
                r["coverage"], abs=2e-6), r["cell_id"]
    from exactextract_spark.geom import parse_wkt as _p
    from exactextract_spark.traversal import ring_area
    shell = _p(wkt).rings[0]
    want = abs(ring_area([tuple(p) for p in shell]))
    assert total == pytest.approx(want, rel=1e-6)


def _star(rng, cx, cy, m, rmin, rmax):
    ang = (np.arange(m) + rng.uniform(0.05, 0.95, m)) * (2 * np.pi / m)
    rad = rng.uniform(rmin, rmax, m)
    return list(zip(cx + rad * np.cos(ang), cy + rad * np.sin(ang)))


def _ring(pts):
    return "(" + ", ".join(f"{x!r} {y!r}" for x, y in pts + pts[:1]) + ")"


def _fuzz_zones(rng, gx, gy, d, G):
    """Stars (8-13 vertices), stars with a square hole, concave
    multi-prong U shapes and rectangles inside a G x G grid of cell
    size ``d`` with top-left (gx, gy)."""
    zones = []
    for i in range(12):
        cx = gx + rng.uniform(0.3, 0.7) * G * d
        cy = gy - rng.uniform(0.3, 0.7) * G * d
        kind = i % 4
        if kind == 0:
            wkt = "POLYGON (" + _ring(_star(rng, cx, cy, int(rng.integers(8, 14)),
                                            1.0 * d, 9.0 * d)) + ")"
        elif kind == 1:
            shell = _star(rng, cx, cy, int(rng.integers(8, 14)), 4.0 * d, 9.0 * d)
            # corners within half the shell's min radius: inside the star
            h = 1.4 * d
            hole = [(cx - h, cy - h), (cx - h, cy + h), (cx + h, cy + h), (cx + h, cy - h)]
            wkt = "POLYGON (" + _ring(shell) + ", " + _ring(hole) + ")"
        elif kind == 2:
            w = d * rng.uniform(0.4, 2.5)
            x, top = cx, cy + 8 * d
            pts = [(cx, cy)]
            for _ in range(int(rng.integers(2, 5))):
                pts += [(x + w, cy + rng.uniform(0.2, 1.0) * d), (x + w, top),
                        (x + 2 * w, top), (x + 2 * w, cy - rng.uniform(0.0, 1.0) * d)]
                x += 2 * w
            pts += [(x + w, cy - 3 * d), (cx, cy - 3 * d)]
            wkt = "POLYGON (" + _ring(pts) + ")"
        else:
            x0, y0 = cx - rng.uniform(0.2, 6) * d, cy - rng.uniform(0.2, 6) * d
            x1, y1 = cx + rng.uniform(0.2, 6) * d, cy + rng.uniform(0.2, 6) * d
            wkt = "POLYGON (" + _ring([(x0, y0), (x1, y0), (x1, y1), (x0, y1)]) + ")"
        zones.append((f"z{i}", wkt))
    return zones


def _box_wkt(x0, y0, x1, y1):
    return f"POLYGON (({x0!r} {y0!r}, {x1!r} {y0!r}, {x1!r} {y1!r}, {x0!r} {y1!r}, {x0!r} {y0!r}))"


@pytest.mark.parametrize("gx,gy,d,tile", [(0.0, 40.0, 1.0, 7),
                                          (0.0, 40.0, 1.0, 64),
                                          (-13.37, 50.3, 0.3, 16)])
def test_subdivide_matches_per_cell_reference(spark, gx, gy, d, tile):
    """subdivide (pair windows, the zonal kernel's coverage stream,
    vectorized box pieces, batched boundary chains) equals a per-cell
    reference: coverage_fraction over each zone's whole window, the
    zone bbox ∩ cell box for rectangles and full cells, and the scalar
    traversal producer (covered_polygons) for boundary cells.  Cell
    sets and coverage bits are identical and the WKT parses to the same
    coordinates."""
    from exactextract_spark.geom import parse_wkt_batch
    from exactextract_spark.kernel import coverage_fraction
    from traversal_reference import covered_polygons, polygons_wkt
    import pyarrow as pa

    G = 40
    zones = _fuzz_zones(np.random.default_rng(int(d * 10) + tile), gx, gy, d, G)
    tiles = tiles_from_array(spark, np.zeros((G, G)), xmin=gx, ymax=gy,
                             dx=d, dy=d, tile=tile)
    got = {(r["zone_id"], r["cell_id"]): r for r in
           subdivide(spark.createDataFrame(zones, ["zone_id", "geometry"]),
                     tiles).collect()}
    za = parse_wkt_batch(pa.array([w for _, w in zones]))
    want = {}
    for o, (zid, _) in enumerate(zones):
        g = za.geometry(o)
        bx0, by0, bx1, by1 = g.bbox
        c0 = max(int(np.floor((bx0 - gx) / d)), 0)
        c1 = min(int(np.ceil((bx1 - gx) / d)), G)
        r0 = max(int(np.floor((gy - by1) / d)), 0)
        r1 = min(int(np.ceil((gy - by0) / d)), G)
        cov = coverage_fraction(g, gx + c0 * d, gy - r0 * d, d, d, r1 - r0, c1 - c0)
        for rr, cc in zip(*np.nonzero(cov > 0)):
            gr, gc = r0 + int(rr), c0 + int(cc)
            x0 = gx + gc * d
            y1 = gy - gr * d
            x1, y0 = x0 + d, y1 - d
            cv = float(cov[rr, cc])
            if g.is_rectangle():
                wkt = _box_wkt(max(bx0, x0), max(by0, y0), min(bx1, x1), min(by1, y1))
            elif cv >= 1.0:
                wkt = _box_wkt(x0, y0, x1, y1)
            else:
                wkt = polygons_wkt(covered_polygons(g.rings, x0, y0, x1, y1))
            want[(zid, gr * G + gc)] = (cv, wkt)
    assert set(got) == set(want)
    assert {r["zone_id"] for r in got.values()} == {z for z, _ in zones}
    for key, (cv, wkt) in want.items():
        r = got[key]
        assert r["coverage"] == cv, key
        ga, gb = parse_wkt(r["wkt"]), parse_wkt(wkt)
        assert len(ga.rings) == len(gb.rings), (key, r["wkt"], wkt)
        for a, b in zip(ga.rings, gb.rings):
            assert np.array_equal(a, b), (key, r["wkt"], wkt)
        assert (r["x0"], r["y0"], r["x1"], r["y1"]) == gb.bbox, key


def test_subdivide_clip_fallback(spark):
    """A vertex 2 ulps inside a cell's right edge: the edge entering
    the cell through that edge clips to a single parameter value and is
    dropped, so the cell's only chain starts at the vertex, off the box
    boundary, and left_hand_rings cannot assemble it.  subdivide then
    emits the cell's Sutherland–Hodgman piece, whose area equals the
    kernel coverage.  (Found by fuzzing boundary cells of stars, coasts
    and holed zones with near-gridline vertices on non-unit grids.)"""
    from exactextract_spark.traversal import grid_cell_chains, left_hand_rings

    gx, gy, dx, dy = -13.37, 1000.7, 0.25, 0.7
    wkt = ("POLYGON ((-1.8699999999999994 973.8597657774253, "
           "-3.0931066703165757 974.926211179045, "
           "-3.4069088262989187 973.3398497191356, "
           "-6.391217253050561 973.7327668303981, "
           "-6.177324142948299 972.4471240220197, "
           "-3.6199999999999997 969.2, "
           "-2.1226533951536206 970.7844510419535, "
           "-0.6199999999999993 970.6000000000001, "
           "-1.8699999999999994 973.8597657774253))")
    gr, gc = 38, 45
    x0, y1 = gx + gc * dx, gy - gr * dy
    box = (x0, y1 - dy, x0 + dx, y1)
    chains = grid_cell_chains(parse_wkt(wkt).rings, np.array([gr]),
                              np.array([gc]), gx, gy, dx, dy)[0]
    with pytest.raises(ValueError, match="not on box boundary"):
        left_hand_rings(box, chains)

    tiles = tiles_from_array(spark, np.zeros((60, 60)), xmin=gx, ymax=gy,
                             dx=dx, dy=dy, tile=16)
    zones = spark.createDataFrame([("s", wkt)], ["zone_id", "geometry"])
    rows = {r["cell_id"]: r for r in subdivide(zones, tiles).collect()}
    r = rows[gr * 60 + gc]
    assert 0.0 < r["coverage"] < 1.0
    assert _wkt_area(r["wkt"]) == pytest.approx(r["coverage"] * dx * dy, rel=1e-6)
    assert box[0] <= r["x0"] < r["x1"] <= box[2]
    assert box[1] <= r["y0"] < r["y1"] <= box[3]
    want = sum(ring_signed_area(ring) for ring in parse_wkt(wkt).rings)
    got = sum(v["coverage"] for v in rows.values()) * dx * dy
    assert got == pytest.approx(want, rel=1e-6)
