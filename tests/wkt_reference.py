"""Differential reference for the WKT parser: the engine's former
per-string regex parser, kept only to cross-check
``exactextract_spark.geom.parse_wkt`` / ``parse_wkt_batch``
(tests/test_wkt_parser.py).  Returns ``Geometry`` objects with the
same ring normalization (exterior CCW, holes CW, polygon rings closed)."""

from __future__ import annotations

import re

import numpy as np

from exactextract_spark.geom import Geometry, ring_signed_area

_NUM = r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?"
_COORD_RE = re.compile(_NUM)


def _parse_coord_seq(body: str) -> np.ndarray:
    nums = [float(t) for t in _COORD_RE.findall(body)]
    if len(nums) % 2 != 0:
        raise ValueError(f"odd coordinate count in WKT fragment: {body[:80]}")
    return np.asarray(nums, dtype=np.float64).reshape(-1, 2)


def _split_top_level(body: str) -> list[str]:
    """Split a comma-separated list at paren depth 0."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[start:i])
            start = i + 1
    parts.append(body[start:])
    return [p.strip() for p in parts if p.strip()]


def _strip_outer_parens(s: str) -> str:
    s = s.strip()
    if not (s.startswith("(") and s.endswith(")")):
        raise ValueError(f"expected parenthesized WKT body: {s[:80]}")
    return s[1:-1]


def _normalize_polygon_rings(rings: list[np.ndarray]) -> list[np.ndarray]:
    out = []
    for i, ring in enumerate(rings):
        if len(ring) < 4:
            raise ValueError("polygon ring with < 4 points")
        if ring[0, 0] != ring[-1, 0] or ring[0, 1] != ring[-1, 1]:
            ring = np.vstack([ring, ring[:1]])
        a = ring_signed_area(ring)
        want_ccw = i == 0  # exterior CCW, holes CW
        if (a < 0) == want_ccw:
            ring = ring[::-1].copy()
        out.append(ring)
    return out


def _head(s: str):
    m = re.match(r"\s*([A-Za-z]+)\s*", s)
    if not m:
        raise ValueError(f"bad WKT: {s[:80]}")
    return m.group(1).upper(), s[m.end():].strip()


def reference_parse_wkt(wkt: str) -> Geometry:
    tag, rest = _head(wkt)
    if rest.upper().startswith("EMPTY"):
        kind = "linear" if "LINESTRING" in tag else "areal"
        return Geometry(kind=kind, rings=[])
    if tag == "POLYGON":
        body = _strip_outer_parens(rest)
        rings = [_parse_coord_seq(p) for p in _split_top_level(body)]
        return Geometry("areal", _normalize_polygon_rings(rings))
    if tag == "MULTIPOLYGON":
        body = _strip_outer_parens(rest)
        rings: list[np.ndarray] = []
        for poly in _split_top_level(body):
            pb = _strip_outer_parens(poly)
            rings.extend(_normalize_polygon_rings([_parse_coord_seq(p) for p in _split_top_level(pb)]))
        return Geometry("areal", rings)
    if tag == "LINESTRING":
        body = _strip_outer_parens(rest)
        return Geometry("linear", [_parse_coord_seq(body)])
    if tag == "MULTILINESTRING":
        body = _strip_outer_parens(rest)
        return Geometry("linear", [_parse_coord_seq(_strip_outer_parens(p) if p.startswith("(") else p)
                                   for p in _split_top_level(body)])
    if tag == "GEOMETRYCOLLECTION":
        body = _strip_outer_parens(rest)
        kinds, rings = set(), []
        for part in _split_top_level(body):
            g = reference_parse_wkt(part)
            kinds.add(g.kind)
            rings.extend(g.rings)
        if len(kinds) > 1:
            # reference rejects mixed areal/linear collections
            # (raster_cell_intersection.cpp:269-279)
            raise ValueError("GeometryCollection mixing areal and linear parts is unsupported")
        return Geometry(kinds.pop() if kinds else "areal", rings)
    raise ValueError(f"unsupported geometry type: {tag}")
