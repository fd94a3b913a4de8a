"""Transcribed goldens from the reference's traversal-areas tests
(/root/reference/test/test_traversal_areas.cpp) for the left-hand-ring
reassembly used by subdivide.

The reference compares with GEOSEquals (topological equality); here
polygons are compared by (area, bbox) per part plus total covered
area, and — where the expected WKT is a plain ring — by cyclic vertex
sequence.
"""

import numpy as np
import pytest

from exactextract_spark.traversal import left_hand_rings, ring_area
from traversal_reference import box_traversals, covered_polygons, polygons_wkt

BOX = (0.0, 0.0, 10.0, 10.0)


def _poly_area(poly):
    return ring_area(poly[0]) + sum(ring_area(h) for h in poly[1:])


def _total_area(polys):
    return sum(abs(ring_area(p[0])) - sum(abs(ring_area(h)) for h in p[1:])
               for p in polys)


def _bbox(coords):
    xs = [p[0] for p in coords]
    ys = [p[1] for p in coords]
    return (min(xs), min(ys), max(xs), max(ys))


def _cyclic_equal(got, want):
    """Ring equality up to rotation and direction (closed coord lists)."""
    g = [tuple(p) for p in got[:-1]]
    w = [tuple(p) for p in want[:-1]]
    if len(g) != len(w):
        return False
    for d in (g, list(reversed(g))):
        for r in range(len(d)):
            if d[r:] + d[:r] == w:
                return True
    return False


def _ring(*pts):
    return [tuple(map(float, p)) for p in pts]


def test_exit_same_side_as_entry():
    t = _ring((7, 0), (7, 1), (6, 1), (6, 0))
    polys = left_hand_rings(BOX, [t])
    assert _total_area(polys) == 1
    assert len(polys) == 1 and len(polys[0]) == 1
    assert _cyclic_equal(polys[0][0],
                         _ring((6, 0), (7, 0), (7, 1), (6, 1), (6, 0)))

    polys = left_hand_rings(BOX, [list(reversed(t))])
    assert _total_area(polys) == 99
    assert _cyclic_equal(polys[0][0],
                         _ring((0, 0), (6, 0), (6, 1), (7, 1), (7, 0),
                               (10, 0), (10, 10), (0, 10), (0, 0)))


def test_enter_bottom_exit_left():
    t = _ring((5, 0), (5, 5), (0, 5))
    polys = left_hand_rings(BOX, [t])
    assert _total_area(polys) == 25
    assert _cyclic_equal(polys[0][0],
                         _ring((0, 0), (5, 0), (5, 5), (0, 5), (0, 0)))


def test_enter_bottom_exit_top():
    t = _ring((4, 0), (4, 10))
    polys = left_hand_rings(BOX, [t])
    assert _total_area(polys) == 40
    assert _cyclic_equal(polys[0][0],
                         _ring((0, 0), (4, 0), (4, 10), (0, 10), (0, 0)))


def test_multiple_traversals_basic():
    t1 = _ring((2, 10), (2, 0))
    t2 = _ring((4, 0), (4, 10))
    polys = left_hand_rings(BOX, [t1, t2])
    assert _total_area(polys) == 20
    assert _cyclic_equal(polys[0][0],
                         _ring((2, 0), (4, 0), (4, 10), (2, 10), (2, 0)))


def test_multiple_traversals():
    t1 = _ring((2, 0), (2, 2), (0, 2))
    t2 = _ring((3, 10), (3, 0))
    t3 = _ring((5, 0), (5, 10))
    t4 = _ring((8, 10), (10, 8))
    t5 = _ring((10, 6), (8, 6), (8, 3), (10, 3))
    t6 = _ring((10, 4), (9, 4), (9, 5), (10, 5))
    t7 = _ring((10, 3), (8, 3), (8, 0))
    polys = left_hand_rings(BOX, [t1, t2, t3, t4, t5, t6, t7])
    assert _total_area(polys) == 4 + 20 + 2 + 6 - 1 + 6
    # MULTIPOLYGON with 4 parts (reference golden), matched by (area, bbox)
    assert len(polys) == 4
    got = sorted((round(_poly_area(p), 9), _bbox(p[0])) for p in polys)
    want = sorted([(4.0, (0.0, 0.0, 2.0, 2.0)),
                   (20.0, (3.0, 0.0, 5.0, 10.0)),
                   (2.0, (8.0, 8.0, 10.0, 10.0)),
                   (11.0, (8.0, 0.0, 10.0, 6.0))])
    assert got == want


def test_no_traversals_raises():
    with pytest.raises(ValueError):
        left_hand_rings(BOX, [])


def test_point_traversal_raises():
    with pytest.raises(ValueError):
        left_hand_rings(BOX, [_ring((4, 0), (4, 0))])


def test_closed_ring_ccw():
    t = _ring((1, 1), (2, 1), (2, 2), (1, 2), (1, 1))
    polys = left_hand_rings(BOX, [t])
    assert _total_area(polys) == 1
    assert _cyclic_equal(polys[0][0], t)


def test_closed_ring_ccw_overlapping_edge():
    t = _ring((1, 0), (2, 1), (1, 1), (1, 0))
    polys = left_hand_rings(BOX, [t])
    assert _total_area(polys) == 0.5
    assert _cyclic_equal(polys[0][0], _ring((1, 0), (1, 1), (2, 1), (1, 0)))


def test_closed_ring_cw():
    t = _ring((1, 1), (1, 2), (2, 2), (2, 1), (1, 1))
    polys = left_hand_rings(BOX, [t])
    assert _total_area(polys) == 99
    assert len(polys) == 1 and len(polys[0]) == 2
    assert _cyclic_equal(polys[0][0],
                         _ring((0, 0), (10, 0), (10, 10), (0, 10), (0, 0)))
    assert _cyclic_equal(polys[0][1], t)


def test_closed_ring_cw_with_point_traversal():
    t1 = _ring((1, 1), (1, 2), (2, 2), (2, 1), (1, 1))
    t2 = _ring((10, 5), (10, 5))
    polys = left_hand_rings(BOX, [t1, t2])
    assert _total_area(polys) == 99


def test_closed_ring_cw_touching_edge_at_node():
    t = _ring((0, 0), (2, 2), (3, 2), (0, 0))
    polys = left_hand_rings(BOX, [t])
    assert _total_area(polys) == 99


def test_closed_ring_cw_touching_edge_interior():
    t = _ring((1, 0), (2, 2), (3, 2), (1, 0))
    polys = left_hand_rings(BOX, [t])
    assert _total_area(polys) == 99


def test_closed_ring_cw_overlapping_edge():
    t = _ring((1, 0), (1, 1), (2, 1), (1, 0))
    polys = left_hand_rings(BOX, [t])
    assert _total_area(polys) == 99.5


def test_edge_traversal_interior_left():
    t = _ring((4, 0), (10, 0))
    polys = left_hand_rings(BOX, [t])
    assert _total_area(polys) == 100


def test_edge_traversal_interior_right():
    box = (2.0, 2.0, 3.0, 3.0)
    t = _ring((2, 2), (2, 2.5), (2, 2.5))
    polys = left_hand_rings(box, [t])
    assert polys == []
    assert polygons_wkt(polys) == "POLYGON EMPTY"


# --- box_traversals producer + end-to-end covered_polygons ------------

def test_box_traversals_simple_crossing():
    ring = np.array([(-1.0, 2.0), (11.0, 2.0), (11.0, 4.0), (-1.0, 4.0),
                     (-1.0, 2.0)])
    chains, closed = box_traversals(ring, *BOX)
    assert closed == []
    assert len(chains) == 2
    for c in chains:
        # endpoints snapped exactly onto the boundary
        for p in (c[0], c[-1]):
            assert p[0] in (0.0, 10.0) or p[1] in (0.0, 10.0)


def test_box_traversals_fully_inside():
    ring = np.array([(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0),
                     (1.0, 1.0)])
    chains, closed = box_traversals(ring, *BOX)
    assert chains == [] and len(closed) == 1


def test_covered_polygons_concave_reentry_multipolygon():
    """A concave polygon (U shape) exits and re-enters the cell: the
    covered region must come back as TWO separate polygons (the former
    Sutherland–Hodgman path produced one bridged ring)."""
    # U over cell [0,10]x[0,10]: two prongs of width 2, connected below y=-5
    ring = np.array([(1.0, -5.0), (3.0, -5.0), (3.0, 8.0), (1.0, 8.0),
                     (1.0, -5.0)])
    ring2 = np.array([(6.0, -5.0), (9.0, -5.0), (9.0, 7.0), (6.0, 7.0),
                      (6.0, -5.0)])
    u = np.array([(1.0, -5.0), (9.0, -5.0), (9.0, 7.0), (6.0, 7.0),
                  (6.0, -2.0), (3.0, -2.0), (3.0, 8.0), (1.0, 8.0),
                  (1.0, -5.0)])
    polys = covered_polygons([u], *BOX)
    assert len(polys) == 2
    areas = sorted(round(_poly_area(p), 9) for p in polys)
    assert areas == [2 * 8.0, 3 * 7.0]
    wkt = polygons_wkt(polys)
    assert wkt.startswith("MULTIPOLYGON")


def test_covered_polygons_hole_inside_cell():
    shell = np.array([(-5.0, -5.0), (15.0, -5.0), (15.0, 15.0), (-5.0, 15.0),
                      (-5.0, -5.0)])
    hole = np.array([(2.0, 2.0), (2.0, 4.0), (4.0, 4.0), (4.0, 2.0),
                     (2.0, 2.0)])  # CW = hole
    polys = covered_polygons([shell, hole], *BOX)
    assert len(polys) == 1 and len(polys[0]) == 2
    assert _total_area(polys) == 100 - 4


# --- differential fuzz: assembled polygon area == kernel coverage ------

def _simple(xs, ys) -> bool:
    """No two non-adjacent edges intersect (VALID input only: for a
    self-intersecting ring, the kernel's signed winding and the
    assembly's even-odd regions legitimately disagree — like the
    reference, whose behavior on invalid geometry is undefined)."""
    V = np.column_stack([np.append(xs, xs[0]), np.append(ys, ys[0])])
    n = len(V) - 1
    for i in range(n):
        for j in range(i + 2, n):
            if i == 0 and j == n - 1:
                continue
            p, q, r, s = V[i], V[i + 1], V[j], V[j + 1]
            d1 = np.cross(q - p, r - p)
            d2 = np.cross(q - p, s - p)
            d3 = np.cross(s - r, p - r)
            d4 = np.cross(s - r, q - r)
            if d1 * d2 < 0 and d3 * d4 < 0:
                return False
    return True


@pytest.mark.parametrize("seed", range(10))
def test_covered_polygons_area_matches_kernel_fuzz(seed):
    """For random VALID polygons (holes included), the left-hand-ring
    assembly's area per cell must equal the scanline kernel's exact
    coverage fraction — two independent computations of the same
    quantity (float64 shoelace vs float32 kernel ⇒ 1e-6 abs tol).
    Invalid draws (self-intersecting ring / hole escaping the shell —
    the star construction does not guarantee simplicity) are
    resampled: both engines' behavior on invalid input is undefined,
    as in the reference."""
    from exactextract_spark.geom import parse_wkt
    from exactextract_spark.spatial import points_in_geom
    from exactextract_spark.kernel import coverage_fraction
    from exactextract_spark.geom import Geometry

    rng = np.random.default_rng(seed)
    G = 12
    for _attempt in range(50):
        m = int(rng.integers(3, 14))
        cx, cy = rng.uniform(2, G - 2, 2)
        ang = np.sort(rng.uniform(0, 2 * np.pi, m))
        rad = rng.uniform(0.8, G / 2, m)
        xs = cx + rad * np.cos(ang)
        ys = cy + rad * np.sin(ang)
        if not _simple(xs, ys):
            continue
        pts = ", ".join(f"{x} {y}" for x, y in zip(xs, ys))
        wkt = f"POLYGON (({pts}, {xs[0]} {ys[0]}))"
        if rng.random() < 0.5 and rad.min() > 1.0:
            hr = rad.min() / 3
            hx = [cx - hr, cx + hr, cx + hr, cx - hr]
            hy = [cy - hr, cy - hr, cy + hr, cy + hr]
            shell = Geometry("areal", [parse_wkt(wkt).rings[0]])
            if not points_in_geom(shell, np.array(hx), np.array(hy)).all():
                continue  # hole escapes the shell: invalid polygon
            hole = ", ".join(f"{x} {y}" for x, y in zip(hx, hy))
            wkt = (f"POLYGON (({pts}, {xs[0]} {ys[0]}), "
                   f"({hole}, {hx[0]} {hy[0]}))")
        break
    else:
        pytest.skip("no valid polygon drawn")
    g = parse_wkt(wkt)
    cov = coverage_fraction(g, 0.0, float(G), 1.0, 1.0, G, G)
    for r in range(G):
        for c in range(G):
            cell = (float(c), float(G - 1 - r), float(c + 1), float(G - r))
            cv = float(cov[r, c])
            if cv <= 0.0 or cv >= 1.0:
                continue  # interior/exterior handled by the fast paths
            try:
                polys = covered_polygons(g.rings, *cell)
            except ValueError:
                continue  # no traversals: coverage is 0 or 100%
            area = _total_area(polys)
            assert area == pytest.approx(cv, abs=2e-6), (seed, r, c)


@pytest.mark.parametrize("seed", range(12))
def test_grid_cell_chains_matches_per_cell_fuzz(seed):
    """The batched incidence producer must yield EXACTLY the same
    coord_lists per cell (same floats, same order) as running
    box_traversals per (ring, cell) — the subdivide boundary-cell
    scale path is a pure reorganization, not an approximation."""
    from exactextract_spark.geom import Geometry, parse_wkt
    from exactextract_spark.spatial import points_in_geom
    from exactextract_spark.traversal import grid_cell_chains

    rng = np.random.default_rng(100 + seed)
    G = 12
    for _attempt in range(50):
        m = int(rng.integers(3, 14))
        cx, cy = rng.uniform(2, G - 2, 2)
        ang = np.sort(rng.uniform(0, 2 * np.pi, m))
        rad = rng.uniform(0.8, G / 2, m)
        xs = cx + rad * np.cos(ang)
        ys = cy + rad * np.sin(ang)
        if not _simple(xs, ys):
            continue
        pts = ", ".join(f"{x} {y}" for x, y in zip(xs, ys))
        wkt = f"POLYGON (({pts}, {xs[0]} {ys[0]}))"
        if rng.random() < 0.5 and rad.min() > 1.0:
            hr = rad.min() / 3
            hx = [cx - hr, cx + hr, cx + hr, cx - hr]
            hy = [cy - hr, cy - hr, cy + hr, cy + hr]
            shell = Geometry("areal", [parse_wkt(wkt).rings[0]])
            if not points_in_geom(shell, np.array(hx), np.array(hy)).all():
                continue
            hole = ", ".join(f"{x} {y}" for x, y in zip(hx, hy))
            wkt = (f"POLYGON (({pts}, {xs[0]} {ys[0]}), "
                   f"({hole}, {hx[0]} {hy[0]}))")
        break
    else:
        pytest.skip("no valid polygon drawn")
    g = parse_wkt(wkt)

    # every cell of the grid, including pure-interior and pure-exterior
    gr = np.repeat(np.arange(G, dtype=np.int64), G)
    gc = np.tile(np.arange(G, dtype=np.int64), G)
    got = grid_cell_chains(g.rings, gr, gc, 0.0, float(G), 1.0, 1.0)
    for i in range(G * G):
        r, c = int(gr[i]), int(gc[i])
        cell = (float(c), float(G - 1 - r), float(c + 1), float(G - r))
        exp = []
        for ring in g.rings:
            chains, closed = box_traversals(ring, *cell)
            exp.extend(chains)
            exp.extend(closed)
        assert got[i] == exp, (seed, r, c)


def test_grid_cell_chains_tiny_ring_inside_cell():
    """A ring entirely inside one target cell must surface as its full
    closed coordinate list in that cell (and nowhere else)."""
    from exactextract_spark.geom import parse_wkt
    from exactextract_spark.traversal import grid_cell_chains

    g = parse_wkt("POLYGON ((2.2 2.2, 2.8 2.2, 2.8 2.8, 2.2 2.8, 2.2 2.2))")
    gr = np.array([0, 1, 2], dtype=np.int64)   # rows: y in [4,5],[3,4],[2,3]
    gc = np.array([2, 2, 2], dtype=np.int64)
    got = grid_cell_chains(g.rings, gr, gc, 0.0, 5.0, 1.0, 1.0)
    assert got[0] == [] and got[1] == []
    assert len(got[2]) == 1
    coords = got[2][0]
    assert coords[0] == coords[-1] == (2.2, 2.2)
    assert len(coords) == 5


@pytest.mark.parametrize("seed", range(8))
def test_single_chain_fast_path_matches_generic(seed):
    """visit_rings (with its single-chain fast path) must return
    exactly what the generic corner-chain walk (_corner_walk) returns,
    for every boundary cell of a fuzzed polygon (the exact-equality
    fuzz above runs both sides through the SAME visit_rings)."""
    import exactextract_spark.traversal as tv
    from exactextract_spark.geom import parse_wkt
    from exactextract_spark.kernel import coverage_fraction

    rng = np.random.default_rng(300 + seed)
    G = 12
    for _attempt in range(50):
        m = int(rng.integers(3, 14))
        cx, cy = rng.uniform(2, G - 2, 2)
        ang = np.sort(rng.uniform(0, 2 * np.pi, m))
        rad = rng.uniform(0.8, G / 2, m)
        xs = cx + rad * np.cos(ang)
        ys = cy + rad * np.sin(ang)
        if _simple(xs, ys):
            break
    else:
        pytest.skip("no valid polygon drawn")
    pts = ", ".join(f"{x} {y}" for x, y in zip(xs, ys))
    g = parse_wkt(f"POLYGON (({pts}, {xs[0]} {ys[0]}))")
    cov = coverage_fraction(g, 0.0, float(G), 1.0, 1.0, G, G)
    n_single = 0
    for r in range(G):
        for c in range(G):
            if not (0.0 < cov[r, c] < 1.0):
                continue
            cell = (float(c), float(G - 1 - r), float(c + 1), float(G - r))
            lists = []
            for ring in g.rings:
                chains, closed = box_traversals(ring, *cell)
                lists.extend(chains)
                lists.extend(closed)
            n_single += len(lists) == 1 and lists[0][0] != lists[0][-1]
            assert tv.visit_rings(cell, lists) == tv._corner_walk(cell, lists), \
                (seed, r, c)
    assert n_single > 0, seed


def test_grid_cell_chains_huge_coordinates():
    """±1e30 vertices must not overflow the integer bin cast: the
    batched producer must match per-cell box_traversals on a triangle
    with two far-away vertices whose edges sweep through the window."""
    from exactextract_spark.geom import parse_wkt
    from exactextract_spark.traversal import grid_cell_chains

    g = parse_wkt("POLYGON ((1.5 1.5, 1e30 1.7, 1.5 3.5, 1.5 1.5))")
    G = 6
    gr = np.repeat(np.arange(G, dtype=np.int64), G)
    gc = np.tile(np.arange(G, dtype=np.int64), G)
    got = grid_cell_chains(g.rings, gr, gc, 0.0, float(G), 1.0, 1.0)
    any_nonempty = False
    for i in range(G * G):
        r, c = int(gr[i]), int(gc[i])
        cell = (float(c), float(G - 1 - r), float(c + 1), float(G - r))
        exp = []
        for ring in g.rings:
            chains, closed = box_traversals(ring, *cell)
            exp.extend(chains)
            exp.extend(closed)
        assert got[i] == exp, (r, c)
        any_nonempty = any_nonempty or bool(exp)
    assert any_nonempty
