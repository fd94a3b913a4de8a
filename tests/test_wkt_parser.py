"""The batch WKT parser (geom.parse_wkt_batch, and parse_wkt — the same
parser on a batch of one) against the former per-string regex parser
kept in tests/wkt_reference.py.  Kind, rings and bbox must be
bit-identical on the WKT literals of this test suite, on the property
fuzz corpus and on hand-picked shapes; the inputs the engine does not
support must still be rejected."""

import re
from pathlib import Path

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from exactextract_spark.geom import INVALID, parse_wkt, parse_wkt_batch
from wkt_reference import reference_parse_wkt


def _bits(a):
    return np.asarray(a, dtype=np.float64).view(np.int64)


def assert_same(wkt):
    """parse_wkt and the reference agree bit for bit, or both reject."""
    try:
        want = reference_parse_wkt(wkt)
    except (ValueError, IndexError):
        with pytest.raises(ValueError):
            parse_wkt(wkt)
        return
    got = parse_wkt(wkt)
    assert got.kind == want.kind, wkt
    assert len(got.rings) == len(want.rings), wkt
    for a, b in zip(got.rings, want.rings):
        assert a.shape == b.shape, wkt
        assert (_bits(a) == _bits(b)).all(), wkt
    if want.rings:
        assert (_bits(got.bbox) == _bits(want.bbox)).all(), wkt
    else:
        assert got.bbox == want.bbox, wkt
    assert got.is_rectangle() == want.is_rectangle(), wkt


HAND = [
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))",
    "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
    "POLYGON((0 0,0 1,1 1,1 0))",                       # unclosed, CW
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5),"
    " (5.2 5.1, 5.8 5.1, 5.8 5.5, 5.2 5.1)))",
    "LINESTRING (0 0, 1 1, 2 0)",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 2))",
    "POLYGON EMPTY", "LINESTRING EMPTY", "MULTIPOLYGON EMPTY",
    "MULTILINESTRING EMPTY", "GEOMETRYCOLLECTION EMPTY",
    "GEOMETRYCOLLECTION (POLYGON ((0 0, 1 0, 1 1, 0 0)),"
    " MULTIPOLYGON (((3 3, 4 3, 4 4, 3 3))))",
    "GEOMETRYCOLLECTION (LINESTRING (0 0, 1 1), GEOMETRYCOLLECTION"
    " (MULTILINESTRING ((2 2, 3 3))))",
    "GEOMETRYCOLLECTION (POLYGON EMPTY, POLYGON ((0 0, 1 0, 1 1, 0 0)))",
    "polygon ((1e2 -2.5E-1, +3 .5, 4. 6, 1e2 -2.5E-1))",  # exponent forms
    "POLYGON ((1.5e-3 2E+2, 4.25e1 2E+2, 4.25e1 3e2, 1.5e-3 2E+2))",
    "POLYGON\t((0 0, 2 0, 2 2, 0 2, 0 0))",
    "POLYGON\n(( 0 0 ,2 0,  2 2 , 0 2,0 0 ))",
    # near-degenerate: collinear, zero-area, sliver and huge-offset rings
    "POLYGON ((0 0, 1 1, 2 2, 0 0))",
    "POLYGON ((0 0, 1 0, 2 0, 1 0, 0 0))",
    "POLYGON ((0 0, 1 1e-300, 2 0, 0 0))",
    "POLYGON ((1e15 1e15, 1e15 1.0000000000000002e15, 1.0000000000000002e15 1e15, 1e15 1e15))",
    "POLYGON ((0.1 0.1, 0.30000000000000004 0.1, 0.2 0.1000000000000001, 0.1 0.1))",
    "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0), (1 1, 1 1, 1 1, 1 1))",
    "POLYGON ((-2.5 -2.5, -0.5 -2.5, -0.5 -0.5, -2.5 -0.5, -2.5 -2.5))",
    # mixed signed zeros: the bbox carries +0.0 whatever the ring order
    "MULTILINESTRING ((0 0, 0 0), (0 0, 0 -0.0))",
    "MULTILINESTRING ((-0.0 -0.0, -0.0 -0.0), (0 0, 0 0))",
]

REJECT = [
    "POINT (0 0)", "MULTIPOINT ((0 0), (1 1))",
    "POLYGON Z ((0 0 1, 2 0 1, 2 2 1, 0 0 1))",
    "POLYGON ZM ((0 0 1 2, 2 0 1 2, 2 2 1 2, 0 0 1 2))",
    "POLYGON M ((0 0 1, 2 0 1, 2 2 1, 0 0 1))",
    "LINESTRING Z (0 0 1, 2 2 1)",
    "LINESTRING (0 0, 1)",                               # odd token count
    "LINESTRING (0 0 1, 1 1 1)",                         # 3-D tuples
    "POLYGON ((0 0, 1 0, 1 1, 0 0 5))",
    "GEOMETRYCOLLECTION (POLYGON ((0 0, 1 0, 1 1, 0 0)), LINESTRING (0 0, 1 1))",
    "GEOMETRYCOLLECTION (POLYGON EMPTY, LINESTRING (0 0, 1 1))",
    "GEOMETRYCOLLECTION (POINT (0 0))",
    "POLYGON ((0 0, 1 0, 1 1, 0 0)",                     # unbalanced
    "POLYGON ((0 0, 1 0, 1 1, 0 0)))",
    "POLYGON ((not wkt",
    "POLYGON ((0 0, 1 0, 1 1))",                         # < 4 points
    "POLYGON (0 0, 1 0, 1 1, 0 0)",                      # missing ring level
    "POLYGON ((0 0, 1 0, 1 1, 0 0),)",
    "POLYGON ((0 0, 1 0, 1 1, 0 0)) trailing",
    "POLYGON ((0 0, 1 0, 1-1 1, 0 0))",
    "POLYGON ((0 0, 1 0, -inf 1, 0 0))",
    "LINESTRING ()", "POLYGON", "EMPTY", "", "   ",
]


@pytest.mark.parametrize("wkt", HAND)
def test_hand_shapes_match_reference(wkt):
    assert_same(wkt)


@pytest.mark.parametrize("wkt", REJECT)
def test_unsupported_and_malformed_rejected(wkt):
    with pytest.raises(ValueError):
        parse_wkt(wkt)


def test_rejection_messages():
    with pytest.raises(ValueError, match="unsupported geometry type: POINT"):
        parse_wkt("POINT (0 0)")
    with pytest.raises(ValueError, match="mixing"):
        parse_wkt("GEOMETRYCOLLECTION (POLYGON ((0 0, 1 0, 1 1, 0 0)),"
                  " LINESTRING (0 0, 1 1))")
    with pytest.raises(ValueError, match="< 4 points"):
        parse_wkt("POLYGON ((0 0, 1 0, 1 1))")


def _suite_literals():
    """Every complete WKT string literal in this test suite (the golden
    and fixture shapes the other tests run the engine on).  Fragments of
    literals split across source lines are skipped: the reference
    tolerates trailing text, the engine does not."""
    lit = re.compile(r'"((?:MULTI)?(?:POLYGON|LINESTRING|POINT)[^"{}\n]*'
                     r'|GEOMETRYCOLLECTION[^"{}\n]*)"')
    out = set()
    for f in sorted(Path(__file__).parent.glob("*.py")):
        if f.name not in (Path(__file__).name, "wkt_reference.py"):
            out.update(w for w in lit.findall(f.read_text())
                       if w.count("(") == w.count(")")
                       and w.rstrip().endswith((")", "EMPTY")))
    return sorted(out)


def test_suite_literals_match_reference():
    wkts = _suite_literals()
    assert len(wkts) > 50
    for w in wkts:
        assert_same(w)


def test_batch_equals_one_at_a_time():
    """One batch over mixed valid/invalid/NULL entries parses each entry
    exactly like a batch of one (no state leaks across zone boundaries)."""
    wkts = HAND + REJECT + _suite_literals() + [None]
    za = parse_wkt_batch(wkts)
    for i, w in enumerate(wkts):
        if w is None:
            assert za.kind[i] == INVALID
            continue
        try:
            want = parse_wkt(w)
        except ValueError:
            assert za.kind[i] == INVALID, w
            continue
        got = za.geometry(i)
        assert got.kind == want.kind and len(got.rings) == len(want.rings), w
        for a, b in zip(got.rings, want.rings):
            assert (_bits(a) == _bits(b)).all(), w
        assert got.bbox == want.bbox, w


def star_wkts(seed, n, verts=12, lo=16.0, hi=4080.0):
    """Irregular star polygons with 4-decimal vertices (the benchmark's
    zone recipe)."""
    rng = np.random.default_rng([seed, 1])
    centers = rng.uniform(lo, hi, (n, 2))
    radii = rng.uniform(2.0, 14.0, (n, verts))
    ang = (np.arange(verts) + rng.uniform(0.05, 0.95, (n, verts))) * (2 * np.pi / verts)
    xs = np.clip(centers[:, :1] + radii * np.cos(ang), 0, 4096).round(4)
    ys = np.clip(centers[:, 1:] + radii * np.sin(ang), 0, 4096).round(4)
    return [f"POLYGON (({', '.join(f'{a:.4f} {b:.4f}' for a, b in zip(x + x[:1], y + y[:1]))}))"
            for x, y in zip(xs.tolist(), ys.tolist())]


@pytest.mark.parametrize("seed", [1, 105])
def test_star_zones_bit_identical(seed):
    wkts = star_wkts(seed, 4000)
    za = parse_wkt_batch(wkts)
    for i, w in enumerate(wkts):
        want = reference_parse_wkt(w)
        got = za.geometry(i)
        assert (_bits(got.rings[0]) == _bits(want.rings[0])).all()
        assert got.bbox == want.bbox


coord = st.floats(min_value=-1e4, max_value=1e4, allow_nan=False,
                  allow_infinity=False)


@given(st.lists(st.tuples(coord, coord), min_size=3, max_size=12),
       st.sampled_from(["", " ", "  "]), st.booleans())
@settings(max_examples=300, deadline=None)
def test_fuzz_polygons_match_reference(pts, pad, close):
    body = ",".join(f"{pad}{x} {y}" for x, y in pts)
    tail = f", {pts[0][0]} {pts[0][1]}" if close else ""
    assert_same(f"POLYGON (({body}{tail}))")


@given(st.lists(st.lists(st.tuples(coord, coord), min_size=2, max_size=6),
                min_size=1, max_size=3))
@settings(max_examples=150, deadline=None)
def test_fuzz_multilinestrings_match_reference(paths):
    body = ", ".join("(" + ", ".join(f"{x:.6e} {y!r}" for x, y in p) + ")"
                     for p in paths)
    assert_same(f"MULTILINESTRING ({body})")
