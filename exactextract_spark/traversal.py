"""Exact per-cell covered-polygon reassembly (the reference's
"left-hand rings" construction, /root/reference/src/traversal_areas.cpp:94-258,
perimeter_distance.cpp:20-66, cell.cpp:186-190) — subdivide's
boundary-cell path.

Given a cell box and the portions of a polygon's rings that pass
through it ("traversals": entry point on the box boundary → path →
exit point, plus rings fully contained in the box), reassemble the
covered region as proper polygons:

- each traversal chain is parameterized by the perimeter distance of
  its endpoints (measured from the bottom-left corner, increasing up
  the left edge, then along the top, down the right, and back along
  the bottom — the reference convention);
- starting from any unvisited chain, the next chain is the one whose
  entry point is nearest COUNTER-clockwise (decreasing measure) from
  the current exit point; the four box corners participate as
  single-point chains, so the walk picks up box-boundary arcs between
  an exit and the next entry.  The result is a set of CCW rings
  bounding the covered region (the "left-hand rule": polygon interior
  lies left of the ring direction);
- closed rings fully inside the box keep their own orientation (CCW
  shell / CW hole);
- holes with no shell mean the box boundary itself is the shell.

A concave polygon that exits and re-enters the cell yields a true
MultiPolygon (no degenerate bridging edges) — matching the reference's
WKT output (test_traversal_areas.cpp goldens transcribed in
tests/test_traversal.py).

The traversals come from grid_cell_chains: one batched edge→cell
incidence pass per ring for all of a zone's boundary cells, clipping
with a vectorized parametric (Liang–Barsky-style) segment clip whose
crossing points are snapped exactly onto the box boundary, so the
perimeter parameterization's exact ==-comparisons hold.  Its per-cell
scalar twin (box_traversals, covered_polygons) is the differential
reference in tests/traversal_reference.py.
"""

from __future__ import annotations

import numpy as np

__all__ = ["perimeter_distance", "visit_rings", "left_hand_rings",
           "ring_area", "grid_cell_chains"]


def perimeter_distance(x0: float, y0: float, x1: float, y1: float,
                       x: float, y: float) -> float:
    """Perimeter measure of a boundary point: 0 at the bottom-left
    corner, increasing up the left edge → top → right → bottom
    (reference perimeter_distance.cpp:20-44; note this direction is
    CLOCKWISE in x/y, so CCW travel means decreasing measure)."""
    if x == x0:
        return y - y0
    if y == y1:
        return (y1 - y0) + (x - x0)
    if x == x1:
        return (x1 - x0) + (y1 - y0) + (y1 - y)
    if y == y0:
        return (x1 - x0) + 2.0 * (y1 - y0) + (x1 - x)
    raise ValueError(f"point ({x}, {y}) not on box boundary")


def _ccw_distance(m_exit: float, m_entry: float, perimeter: float) -> float:
    """CCW perimeter distance from an exit measure to an entry measure
    (reference perimeter_distance.cpp:58-66)."""
    if m_entry <= m_exit:
        return m_exit - m_entry
    return perimeter + m_exit - m_entry


def ring_area(coords) -> float:
    """Signed shoelace area of a closed coordinate list (CCW > 0)."""
    a = 0.0
    for i in range(len(coords) - 1):
        a += coords[i][0] * coords[i + 1][1] - coords[i + 1][0] * coords[i][1]
    return 0.5 * a


class _Chain:
    __slots__ = ("start", "stop", "coords", "visited")

    def __init__(self, start, stop, coords):
        self.start = start
        self.stop = stop
        self.coords = coords
        self.visited = False


def visit_rings(box, coord_lists):
    """Identify the CCW rings formed by the coordinate lists and the
    box boundary (reference traversal_areas.cpp:94-158).  Yields
    (coords, is_ccw) pairs; closed input rings keep their own
    orientation.  Returns (rings, found_any)."""
    live = [c for c in coord_lists if any(p != c[0] for p in c[1:])]
    if len(live) != 1 or live[0][0] == live[0][-1]:
        return _corner_walk(box, live)
    # fast path for the overwhelmingly common boundary-cell shape (one
    # traversal in, one out): the generic walk with only corner chains
    # left reduces to "append the corners that lie strictly CCW-before
    # the chain's own entry, nearest first" — tie order matches the
    # generic scan (the chain precedes the corners in list order,
    # corners keep bl/tl/tr/br order)
    x0, y0, x1, y1 = box
    height = y1 - y0
    width = x1 - x0
    perimeter = 2.0 * (height + width)
    chain = live[0]
    start = perimeter_distance(x0, y0, x1, y1, *chain[0])
    stop = perimeter_distance(x0, y0, x1, y1, *chain[-1])
    d_ref = _ccw_distance(stop, start, perimeter)
    sel = []
    for m, pt in ((0.0, (x0, y0)), (height, (x0, y1)),
                  (height + width, (x1, y1)),
                  (2.0 * height + width, (x1, y0))):
        d = _ccw_distance(stop, m, perimeter)
        if d < d_ref:
            sel.append((d, pt))
    sel.sort(key=lambda t: t[0])
    coords = chain + [pt for _, pt in sel]
    coords.append(coords[0])
    if any(p != coords[0] for p in coords[1:]):
        return [(coords, True)], True
    return [], False


def _corner_walk(box, coord_lists):
    """visit_rings' generic walk over non-degenerate coordinate lists:
    closed lists are rings as they are; open traversals and the four
    box corners (single-point chains) are chained CCW, each traversal
    followed to its nearest successor along the box perimeter until
    the walk closes.  Returns (rings, found_any)."""
    x0, y0, x1, y1 = box
    rings: list[tuple[list, bool]] = []
    chains: list[_Chain] = []
    found = False
    for coords in coord_lists:
        if coords[0] == coords[-1]:
            found = True
            rings.append((coords, ring_area(coords) > 0.0))
        else:
            chains.append(_Chain(
                perimeter_distance(x0, y0, x1, y1, *coords[0]),
                perimeter_distance(x0, y0, x1, y1, *coords[-1]),
                coords))

    height = y1 - y0
    width = x1 - x0
    perimeter = 2.0 * (height + width)
    # box corners as single-point chains
    chains.append(_Chain(0.0, 0.0, [(x0, y0)]))
    chains.append(_Chain(height, height, [(x0, y1)]))
    chains.append(_Chain(height + width, height + width, [(x1, y1)]))
    chains.append(_Chain(2.0 * height + width, 2.0 * height + width, [(x1, y0)]))

    def next_chain(cur, kill):
        best = None
        best_d = float("inf")
        for cand in chains:
            if cand.visited and cand is not kill:
                continue
            d = _ccw_distance(cur.stop, cand.start, perimeter)
            if d < best_d:
                best_d = d
                best = cand
        return best

    for chain_ref in chains:
        if chain_ref.visited or len(chain_ref.coords) == 1:
            continue
        coords: list[tuple[float, float]] = []
        chain = chain_ref
        while True:
            chain.visited = True
            coords.extend(chain.coords)
            chain = next_chain(chain, chain_ref)
            if chain is chain_ref:
                break
        coords.append(coords[0])
        if any(p != coords[0] for p in coords[1:]):
            found = True
            rings.append((coords, True))
    return rings, found


def _point_in_ring(x, y, coords) -> bool:
    """Even-odd test (hole-to-shell assignment)."""
    inside = False
    for i in range(len(coords) - 1):
        (ax, ay), (bx, by) = coords[i], coords[i + 1]
        if (ay > y) != (by > y) and x < (bx - ax) * (y - ay) / (by - ay) + ax:
            inside = not inside
    return inside


def left_hand_rings(box, coord_lists):
    """Assemble the covered region inside ``box`` bounded by the
    traversals/rings of ``coord_lists`` into polygons — the reference
    left_hand_rings (traversal_areas.cpp:191-256).

    Returns a list of polygons, each ``[shell, hole, ...]`` coordinate
    lists; an empty list when the covered region is empty.  Raises
    ValueError when no ring can be formed (coverage is either 0 or
    100% and cannot be determined from the traversals alone)."""
    rings, found = visit_rings(box, coord_lists)
    if not found:
        raise ValueError(
            "Cannot determine coverage fraction (it is either 0 or 100%)")
    shells = []
    holes = []
    for coords, is_ccw in rings:
        if ring_area(coords) == 0.0:
            continue
        (shells if is_ccw else holes).append(coords)

    x0, y0, x1, y1 = box
    if not shells and holes:
        # only holes: the box boundary is the shell (CCW)
        shells.append([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)])

    if not shells:
        return []
    if not holes:
        return [[s] for s in shells]
    if len(shells) == 1:
        return [[shells[0], *holes]]
    # multiple shells + holes: assign each hole to the shell containing
    # one of its vertices (reference uses GEOSPolygonize_valid).  A
    # vertex lying exactly on a shell edge makes the even-odd test
    # indeterminate, so try successive vertices; if NO vertex of the
    # hole tests inside any shell, raise so the caller's
    # Sutherland–Hodgman fallback kicks in instead of silently
    # dropping the hole (which would overstate the covered area).
    polys = [[s] for s in shells]
    for h in holes:
        owner = None
        for hx, hy in h[:-1]:
            for poly in polys:
                if _point_in_ring(hx, hy, poly[0]):
                    owner = poly
                    break
            if owner is not None:
                break
        if owner is None:
            raise ValueError(
                "cannot assign hole to a shell (every hole vertex sits "
                "on a shell boundary)")
        owner.append(h)
    return polys


def _clip_segments_batch(ax, ay, bx, by, x0, y0, x1, y1):
    """Clip parallel arrays of segments a→b to their closed boxes:
    Liang–Barsky parametrization with crossing coordinates snapped
    exactly onto the box boundary and clamped (interpolation on the
    free axis can land an ulp outside), in numpy where-arithmetic.
    Returns (valid, plox, ploy, phix, phiy) — coordinates only
    meaningful where ``valid`` (a segment that misses the box or only
    grazes it at a single parameter value is invalid).  Bit-identical
    to the scalar _clip_segment in tests/traversal_reference.py."""
    dx = bx - ax
    dy = by - ay
    dx0 = dx == 0.0
    dy0 = dy == 0.0
    bad = (dx0 & ((ax < x0) | (ax > x1))) | (dy0 & ((ay < y0) | (ay > y1)))

    with np.errstate(divide="ignore", invalid="ignore"):
        ta_x = np.where(dx0, 0.0, (x0 - ax) / np.where(dx0, 1.0, dx))
        tb_x = np.where(dx0, 1.0, (x1 - ax) / np.where(dx0, 1.0, dx))
        ta_y = np.where(dy0, 0.0, (y0 - ay) / np.where(dy0, 1.0, dy))
        tb_y = np.where(dy0, 1.0, (y1 - ay) / np.where(dy0, 1.0, dy))
    xswap = ta_x > tb_x
    t_xlo = np.where(xswap, tb_x, ta_x)
    t_xhi = np.where(xswap, ta_x, tb_x)
    b_xlo = np.where(xswap, x1, x0)
    b_xhi = np.where(xswap, x0, x1)
    yswap = ta_y > tb_y
    t_ylo = np.where(yswap, tb_y, ta_y)
    t_yhi = np.where(yswap, ta_y, tb_y)
    b_ylo = np.where(yswap, y1, y0)
    b_yhi = np.where(yswap, y0, y1)

    t_lo = np.maximum(np.maximum(t_xlo, t_ylo), 0.0)
    t_hi = np.minimum(np.minimum(t_xhi, t_yhi), 1.0)
    valid = ~bad & (t_hi > t_lo)

    snap_xlo = (t_lo == t_xlo) & ~dx0 & (t_lo > 0.0)
    snap_ylo = (t_lo == t_ylo) & ~dy0 & (t_lo > 0.0)
    snap_xhi = (t_hi == t_xhi) & ~dx0 & (t_hi < 1.0)
    snap_yhi = (t_hi == t_yhi) & ~dy0 & (t_hi < 1.0)
    plox = np.minimum(np.maximum(
        np.where(snap_xlo, b_xlo, ax + t_lo * dx), x0), x1)
    ploy = np.minimum(np.maximum(
        np.where(snap_ylo, b_ylo, ay + t_lo * dy), y0), y1)
    phix = np.minimum(np.maximum(
        np.where(snap_xhi, b_xhi, ax + t_hi * dx), x0), x1)
    phiy = np.minimum(np.maximum(
        np.where(snap_yhi, b_yhi, ay + t_hi * dy), y0), y1)
    return valid, plox, ploy, phix, phiy


def _walk_chains(pair_edges, xs, ys, a_in_g, b_in_g,
                 cv_g, plox_g, ploy_g, phix_g, phiy_g, v0_in: bool):
    """Chain walk for ONE cell over its incident edges of ONE ring —
    the inner loop of the scalar box_traversals
    (tests/traversal_reference.py), fed by the batched incidence
    stream (clip points precomputed by _clip_segments_batch) instead
    of per-cell numpy scans.  ``pair_edges`` are the ring's edge
    indices incident to this cell (ascending); all inputs are plain
    Python lists (converted once, C-level, by the caller)."""
    chains: list[list[tuple[float, float]]] = []
    cur: list[tuple[float, float]] | None = None
    for t in range(len(pair_edges)):
        i = pair_edges[t]
        a_in, b_in = a_in_g[t], b_in_g[t]
        if a_in and b_in:
            if cur is None:
                cur = [(xs[i], ys[i])]
            cur.append((xs[i + 1], ys[i + 1]))
            continue
        if not cv_g[t]:
            if cur is not None:
                chains.append(cur)
                cur = None
            continue
        if a_in:
            if cur is None:
                cur = [(xs[i], ys[i])]
            cur.append((phix_g[t], phiy_g[t]))
            chains.append(cur)
            cur = None
        elif b_in:
            if cur is not None:
                chains.append(cur)
            cur = [(plox_g[t], ploy_g[t]), (xs[i + 1], ys[i + 1])]
        else:
            if cur is not None:
                chains.append(cur)
                cur = None
            chains.append([(plox_g[t], ploy_g[t]), (phix_g[t], phiy_g[t])])
    if cur is not None:
        if chains and v0_in and chains[0][0] == (xs[0], ys[0]):
            chains[0] = cur[:-1] + chains[0]
        else:
            chains.append(cur)
    return [c for c in chains if any(p != c[0] for p in c[1:])]


def grid_cell_chains(geom_rings, gr, gc, gx, gy, dx, dy):
    """The traversals of MANY grid cells at once — the subdivide
    boundary-cell path (per-cell scalar twin: box_traversals in
    tests/traversal_reference.py).

    For each ring, the (edge -> cell) incidence is computed as one
    vectorized pass (conservative integer bin ranges from the edge
    bboxes, then the EXACT closed-interval edge-bbox/box overlap
    comparison of the scalar producer), so a 20k-edge coastline ring costs O(edges +
    incidences) total instead of O(edges) numpy work PER CELL.  The
    per-cell chain walk then runs only over each cell's few incident
    edges.

    gr/gc: global row/col arrays of the target cells on the grid with
    top-left (gx, gy) and cell size (dx, dy) — the cell boxes are
    derived with the same arithmetic as the caller
    (x0 = gx + gc*dx, y1 = gy - gr*dy, x1 = x0 + dx, y0 = y1 - dy).

    Returns a list (len == gr.size) of coord_lists per cell, feedable
    to left_hand_rings; behavior-identical to running box_traversals
    per (ring, cell), including rings fully inside one cell (their
    full closed coordinate list appears as a closed chain)."""
    B = int(gr.size)
    out: list[list] = [[] for _ in range(B)]
    if B == 0:
        return out
    gr = np.asarray(gr, dtype=np.int64)
    gc = np.asarray(gc, dtype=np.int64)
    rmin, rmax = int(gr.min()), int(gr.max())
    cmin, cmax = int(gc.min()), int(gc.max())
    ordmap = np.full((rmax - rmin + 1, cmax - cmin + 1), -1, dtype=np.int64)
    ordmap[gr - rmin, gc - cmin] = np.arange(B)
    bx0 = gx + gc * dx
    by1 = gy - gr * dy
    bx1 = bx0 + dx
    by0 = by1 - dy

    for ring in geom_rings:
        xs, ys = ring[:, 0], ring[:, 1]
        eax, eay = xs[:-1], ys[:-1]
        ebx, eby = xs[1:], ys[1:]
        minx, maxx = np.minimum(eax, ebx), np.maximum(eax, ebx)
        miny, maxy = np.minimum(eay, eby), np.maximum(eay, eby)
        # conservative ranges widened by one cell (float rounding at
        # exact gridlines), clamped to the target window; the exact
        # overlap comparison below restores bit-identical candidacy.
        # Clamp in FLOAT space BEFORE the int cast: ±1e300 coordinates
        # would overflow the int64 cast (robustness corpus has them);
        # NaN endpoints drop the edge, matching the original per-cell
        # comparisons (NaN never satisfies the overlap predicate)
        c_lo = np.clip(np.floor((minx - gx) / dx) - 1,
                       cmin, cmax + 1)
        c_hi = np.clip(np.floor((maxx - gx) / dx) + 1,
                       cmin - 1, cmax)
        r_lo = np.clip(np.floor((gy - maxy) / dy) - 1,
                       rmin, rmax + 1)
        r_hi = np.clip(np.floor((gy - miny) / dy) + 1,
                       rmin - 1, rmax)
        finite = (np.isfinite(c_lo) & np.isfinite(c_hi)
                  & np.isfinite(r_lo) & np.isfinite(r_hi))
        c_lo = np.where(finite, c_lo, 0.0).astype(np.int64)
        c_hi = np.where(finite, c_hi, -1.0).astype(np.int64)
        r_lo = np.where(finite, r_lo, 0.0).astype(np.int64)
        r_hi = np.where(finite, r_hi, -1.0).astype(np.int64)
        nh = r_hi - r_lo + 1
        valid = (c_hi >= c_lo) & (nh > 0)
        ei = np.flatnonzero(valid)
        if ei.size == 0:
            continue
        # --- scanline expansion, level 1: edges × rows.  A long
        # diagonal chord's bbox RECT is quadratically conservative
        # (a 50-cell chord touches ~100 cells but its bbox holds 2500);
        # clipping the segment to each row band and expanding only that
        # band's column interval keeps the stream near the true
        # supercover.  Dropped (edge, cell) pairs are provably no-ops
        # in the walk: an edge can only affect a cell's chains when an
        # endpoint lies in the cell or the segment intersects it, and
        # both imply a non-empty clipped interval in that cell's row. ---
        nh_e = nh[ei]
        n_er = int(nh_e.sum())
        e1 = np.repeat(ei, nh_e)
        k1 = np.arange(n_er, dtype=np.int64) - np.repeat(
            np.cumsum(nh_e) - nh_e, nh_e)
        rr1 = r_lo[e1] + k1
        yhi_b = gy - rr1 * dy
        ylo_b = yhi_b - dy
        ax1, ay1 = eax[e1], eay[e1]
        bx_1, by_1 = ebx[e1], eby[e1]
        dye = by_1 - ay1
        dy0m = dye == 0.0
        with np.errstate(divide="ignore", invalid="ignore"):
            t1 = np.where(dy0m, 0.0,
                          (ylo_b - ay1) / np.where(dy0m, 1.0, dye))
            t2 = np.where(dy0m, 1.0,
                          (yhi_b - ay1) / np.where(dy0m, 1.0, dye))
        tlo = np.maximum(np.minimum(t1, t2), 0.0)
        thi = np.minimum(np.maximum(t1, t2), 1.0)
        # closed comparisons keep grazing contacts; horizontal edges
        # are in a band iff their y is (closed-interval)
        band_ok = np.where(dy0m, (ay1 >= ylo_b) & (ay1 <= yhi_b),
                           thi >= tlo)
        dxe = bx_1 - ax1
        x1r = ax1 + tlo * dxe
        x2r = ax1 + thi * dxe
        c_lo_r = np.clip(np.floor((np.minimum(x1r, x2r) - gx) / dx) - 1,
                         cmin, cmax + 1)
        c_hi_r = np.clip(np.floor((np.maximum(x1r, x2r) - gx) / dx) + 1,
                         cmin - 1, cmax)
        ok_r = band_ok & np.isfinite(c_lo_r) & np.isfinite(c_hi_r)
        c_lo_r = np.where(ok_r, c_lo_r, 0.0).astype(np.int64)
        c_hi_r = np.where(ok_r, c_hi_r, -1.0).astype(np.int64)
        nw_r = c_hi_r - c_lo_r + 1
        pr = np.flatnonzero(nw_r > 0)
        if pr.size == 0:
            continue
        # --- level 2: (edge, row) × columns ---
        nw_p = nw_r[pr]
        total = int(nw_p.sum())
        p2 = np.repeat(pr, nw_p)
        k2 = np.arange(total, dtype=np.int64) - np.repeat(
            np.cumsum(nw_p) - nw_p, nw_p)
        idx = e1[p2]
        rr = rr1[p2]
        cc = c_lo_r[p2] + k2
        o = ordmap[rr - rmin, cc - cmin]
        keep = o >= 0
        idx, o = idx[keep], o[keep]
        if idx.size == 0:
            continue
        px0, px1 = bx0[o], bx1[o]
        py0, py1 = by0[o], by1[o]
        # EXACT closed-interval bbox-overlap — identical comparisons to
        # the scalar producer's `overlap` pre-filter
        keep = ((maxx[idx] >= px0) & (minx[idx] <= px1) &
                (maxy[idx] >= py0) & (miny[idx] <= py1))
        idx, o = idx[keep], o[keep]
        if idx.size == 0:
            continue
        order = np.lexsort((idx, o))
        idx, o = idx[order], o[order]
        px0, px1 = bx0[o], bx1[o]
        py0, py1 = by0[o], by1[o]
        pax, pay = eax[idx], eay[idx]
        pbx, pby = ebx[idx], eby[idx]
        a_in = (pax >= px0) & (pax <= px1) & (pay >= py0) & (pay <= py1)
        b_in = (pbx >= px0) & (pbx <= px1) & (pby >= py0) & (pby <= py1)
        # one vectorized Liang–Barsky pass over the whole incidence
        # stream — no per-pair Python clip calls in the walk below
        cv, plox, ploy, phix, phiy = _clip_segments_batch(
            pax, pay, pbx, pby, px0, py0, px1, py1)
        v0x, v0y = float(xs[0]), float(ys[0])
        starts = np.flatnonzero(np.r_[True, o[1:] != o[:-1]])
        ends = np.r_[starts[1:], o.size]
        # single C-level conversion to Python lists: the walk below
        # touches every element exactly once, and list indexing is ~5x
        # cheaper than numpy scalar extraction in a tight Python loop
        xl, yl = xs.tolist(), ys.tolist()
        idx_l, cv_l = idx.tolist(), cv.tolist()
        a_l, b_l = a_in.tolist(), b_in.tolist()
        plox_l, ploy_l = plox.tolist(), ploy.tolist()
        phix_l, phiy_l = phix.tolist(), phiy.tolist()
        for s, e in zip(starts.tolist(), ends.tolist()):
            cell = int(o[s])
            v0_in = (bx0[cell] <= v0x <= bx1[cell]
                     and by0[cell] <= v0y <= by1[cell])
            out[cell].extend(_walk_chains(
                idx_l[s:e], xl, yl, a_l[s:e], b_l[s:e],
                cv_l[s:e], plox_l[s:e], ploy_l[s:e],
                phix_l[s:e], phiy_l[s:e], v0_in))
    return out
