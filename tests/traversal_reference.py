"""Scalar traversal producer, kept as the differential reference for
``exactextract_spark.traversal.grid_cell_chains`` (the batched
producer subdivide uses) and as the per-cell oracle of the subdivide
tests: clip each ring against ONE cell box with a parametric
(Liang–Barsky-style) segment clip whose crossing points are snapped
exactly onto the box boundary, so the perimeter parameterization's
exact ==-comparisons hold, then assemble with the package's
left_hand_rings."""

import numpy as np

from exactextract_spark.traversal import left_hand_rings


def _clip_segment(ax, ay, bx, by, x0, y0, x1, y1):
    """Clip segment a→b to the closed box.  Returns
    ((cx0, cy0), (cx1, cy1), t_lo, t_hi) with crossing coordinates
    snapped exactly onto the box boundary, or None when the segment
    misses the box (or only grazes it at a single parameter value)."""
    dx = bx - ax
    dy = by - ay
    if dx == 0.0:
        if ax < x0 or ax > x1:
            return None
        t_xlo, t_xhi = 0.0, 1.0
        b_xlo = b_xhi = None
    else:
        ta = (x0 - ax) / dx
        tb = (x1 - ax) / dx
        if ta <= tb:
            t_xlo, t_xhi, b_xlo, b_xhi = ta, tb, x0, x1
        else:
            t_xlo, t_xhi, b_xlo, b_xhi = tb, ta, x1, x0
    if dy == 0.0:
        if ay < y0 or ay > y1:
            return None
        t_ylo, t_yhi = 0.0, 1.0
        b_ylo = b_yhi = None
    else:
        ta = (y0 - ay) / dy
        tb = (y1 - ay) / dy
        if ta <= tb:
            t_ylo, t_yhi, b_ylo, b_yhi = ta, tb, y0, y1
        else:
            t_ylo, t_yhi, b_ylo, b_yhi = tb, ta, y1, y0

    t_lo = max(t_xlo, t_ylo, 0.0)
    t_hi = min(t_xhi, t_yhi, 1.0)
    if t_hi <= t_lo:
        return None

    def _pt(t, snap_x, snap_y):
        px = snap_x if snap_x is not None else ax + t * dx
        py = snap_y if snap_y is not None else ay + t * dy
        # clamp: interpolation on the free axis can land an ulp outside
        return (min(max(px, x0), x1), min(max(py, y0), y1))

    p_lo = _pt(t_lo,
               b_xlo if (t_lo == t_xlo and dx != 0.0 and t_lo > 0.0) else None,
               b_ylo if (t_lo == t_ylo and dy != 0.0 and t_lo > 0.0) else None)
    p_hi = _pt(t_hi,
               b_xhi if (t_hi == t_xhi and dx != 0.0 and t_hi < 1.0) else None,
               b_yhi if (t_hi == t_yhi and dy != 0.0 and t_hi < 1.0) else None)
    return p_lo, p_hi, t_lo, t_hi


def box_traversals(ring: np.ndarray, x0: float, y0: float,
                   x1: float, y1: float):
    """Split one closed ring into its traversals of the box.

    Returns (chains, closed): ``chains`` is a list of coordinate lists
    whose first/last points lie exactly on the box boundary; ``closed``
    is [ring] when the ring lies entirely inside the (closed) box."""
    xs, ys = ring[:, 0], ring[:, 1]
    inside = (xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1)
    if inside.all():
        return [], [[(float(x), float(y)) for x, y in ring]]
    chains: list[list[tuple[float, float]]] = []
    cur: list[tuple[float, float]] | None = None
    # candidate pre-filter (vectorized): an edge can only contribute
    # when an endpoint is inside or its bbox overlaps the box.  A
    # skipped edge never carries an open chain (an open `cur` implies
    # the previous edge ended inside, i.e. this edge's start is
    # inside), so iterating only candidates is behavior-identical —
    # and turns a 20k-edge coastline ring into a handful of loop
    # iterations per cell instead of 20k.
    eax, eay = xs[:-1], ys[:-1]
    ebx, eby = xs[1:], ys[1:]
    overlap = ((np.maximum(eax, ebx) >= x0) & (np.minimum(eax, ebx) <= x1) &
               (np.maximum(eay, eby) >= y0) & (np.minimum(eay, eby) <= y1))
    cand = np.flatnonzero(inside[:-1] | inside[1:] | overlap)
    for i in cand:
        ax, ay, bx, by = float(xs[i]), float(ys[i]), float(xs[i + 1]), float(ys[i + 1])
        a_in, b_in = bool(inside[i]), bool(inside[i + 1])
        if a_in and b_in:
            if cur is None:
                cur = [(ax, ay)]
            cur.append((bx, by))
            continue
        seg = _clip_segment(ax, ay, bx, by, x0, y0, x1, y1)
        if seg is None:
            if cur is not None:
                chains.append(cur)
                cur = None
            continue
        p_lo, p_hi, t_lo, t_hi = seg
        if a_in:
            # exits the box at p_hi
            if cur is None:
                cur = [(ax, ay)]
            cur.append(p_hi)
            chains.append(cur)
            cur = None
        elif b_in:
            # enters the box at p_lo
            if cur is not None:
                chains.append(cur)
            cur = [p_lo, (bx, by)]
        else:
            # passes through
            if cur is not None:
                chains.append(cur)
                cur = None
            chains.append([p_lo, p_hi])
    if cur is not None:
        # the ring wraps: the open tail continues into the first chain
        if chains and inside[0] and chains[0][0] == (float(xs[0]), float(ys[0])):
            chains[0] = cur[:-1] + chains[0]
        else:
            chains.append(cur)
    # drop degenerate chains (single unique coordinate)
    out = []
    for c in chains:
        if any(p != c[0] for p in c[1:]):
            out.append(c)
    return out, []


def covered_polygons(geom_rings, x0, y0, x1, y1):
    """Covered polygons of a cell box for an areal geometry given as a
    list of orientation-normalized rings (geom.Geometry.rings).
    Returns a polygon list as in left_hand_rings."""
    coord_lists = []
    for ring in geom_rings:
        chains, closed = box_traversals(ring, x0, y0, x1, y1)
        coord_lists.extend(chains)
        coord_lists.extend(closed)
    return left_hand_rings((x0, y0, x1, y1), coord_lists)


def polygons_wkt(polys) -> str:
    """WKT of a polygon list (POLYGON / MULTIPOLYGON)."""
    def _poly(rings):
        return "(" + ", ".join(
            "(" + ", ".join(f"{x:.17g} {y:.17g}" for x, y in r) + ")"
            for r in rings) + ")"
    if not polys:
        return "POLYGON EMPTY"
    if len(polys) == 1:
        return "POLYGON " + _poly(polys[0])
    return "MULTIPOLYGON (" + ", ".join(_poly(p) for p in polys) + ")"
