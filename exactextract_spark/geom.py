"""Geometry model + batch WKT parser (no GEOS/shapely dependency).

Re-expresses the reference's Feature geometry surface
(/root/reference/src/feature.h:25-235, geometry via GEOS) for a pure
numpy engine.  Supported, matching the reference's kernel
(/root/reference/src/raster_cell_intersection.cpp:133-155, 269-279):

- POLYGON / MULTIPOLYGON        -> areal (coverage fraction per cell)
- LINESTRING / MULTILINESTRING  -> linear (traversal length per cell)
- GEOMETRYCOLLECTION            -> recursed; mixed areal+linear rejected
- POINT / MULTIPOINT            -> rejected ("unsupported geometry")

``parse_wkt_batch`` parses a whole batch of WKT strings at once: the
batch's bytes are tokenized with numpy, numeric tokens are converted by
one Arrow string->double cast, and the grammar is checked with
vectorized neighbour/depth tests.  Its result, ``ZoneArrays``, holds
every zone's rings as flat float64 coordinates with ring and zone
offsets, indexed by a dense zone ordinal.  ``parse_wkt`` is the same
parser on a batch of one and returns a ``Geometry``: ``kind`` in
{"areal","linear"} and ``rings``, a list of (N,2) float64 arrays.

For areal geometries the ring orientation is normalized so that
accumulating the signed scanline area directly yields
exterior-minus-holes coverage (exterior rings CCW in x/y, holes CW),
mirroring the reference's normalization at
raster_cell_intersection.cpp:459-488.  Unclosed polygon rings are
closed by repeating their first vertex.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

__all__ = ["Geometry", "ZoneArrays", "parse_wkt", "parse_wkt_batch",
           "ring_signed_area", "bbox_of", "GEOM_COLS"]

# zone-table columns carrying the parsed geometry (extract.attach_bbox)
GEOM_COLS = ("_geom_kind", "_geom_xy", "_geom_rings")

AREAL, LINEAR, INVALID = 0, 1, -1
_KIND_NAMES = {AREAL: "areal", LINEAR: "linear"}


@dataclass
class Geometry:
    kind: str  # "areal" | "linear"
    # areal: each element is one ring (closed, orientation-normalized:
    #   exterior CCW => positive signed area; holes CW => negative).
    # linear: each element is one open linestring path.
    rings: list = field(default_factory=list)
    _bbox: tuple | None = None
    _is_rect: bool | None = None

    @property
    def bbox(self):
        if self._bbox is None:
            self._bbox = bbox_of(self.rings)
        return self._bbox

    def is_rectangle(self) -> bool:
        """Axis-aligned single-rectangle test -> rectangle fast path
        (cf. reference raster_cell_intersection.cpp:425-428)."""
        if self._is_rect is None:
            self._is_rect = self.kind == "areal" and len(self.rings) == 1 \
                and bool(_rect_test(self.rings[0][None]))
        return self._is_rect


def _rect_test(r5: np.ndarray) -> np.ndarray:
    """Rectangle test over a stack of 5-point rings (k, 5, 2): closed,
    and the edges alternate axis-parallel with two moving in x and two
    in y."""
    if r5.shape[1] != 5:
        return np.zeros(len(r5), dtype=bool)
    xs, ys = r5[:, :, 0], r5[:, :, 1]
    dx, dy = np.diff(xs, axis=1), np.diff(ys, axis=1)
    return ((xs[:, 0] == xs[:, 4]) & (ys[:, 0] == ys[:, 4])
            & np.all((dx == 0) | (dy == 0), axis=1)
            & ((dx != 0).sum(axis=1) == 2) & ((dy != 0).sum(axis=1) == 2))


def ring_signed_area(ring: np.ndarray) -> float:
    """Shoelace signed area in x/y coordinates (CCW positive)."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def bbox_of(rings) -> tuple[float, float, float, float]:
    if not rings:
        # empty geometry: an inverted bbox makes every tile-range
        # predicate false, so the zone flows through to the final left
        # join and gets empty-stat defaults (like the reference writing
        # a row for every feature)
        return float("inf"), float("inf"), float("-inf"), float("-inf")
    xmin = min(float(r[:, 0].min()) for r in rings)
    xmax = max(float(r[:, 0].max()) for r in rings)
    ymin = min(float(r[:, 1].min()) for r in rings)
    ymax = max(float(r[:, 1].max()) for r in rings)
    # + 0.0 turns -0.0 into 0.0: which zero a min/max over mixed
    # signed zeros returns depends on reduction order, so the bbox
    # always carries +0.0 (ZoneArrays does the same)
    return xmin + 0.0, ymin + 0.0, xmax + 0.0, ymax + 0.0


def _excl_cumsum(a: np.ndarray) -> np.ndarray:
    out = np.zeros(len(a) + 1, dtype=np.int64)
    np.cumsum(a, out=out[1:])
    return out


def _gather_ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Indices of the concatenated ranges [s, s + l)."""
    offs = _excl_cumsum(lens)
    return np.repeat(starts - offs[:-1], lens) + np.arange(offs[-1])


class ZoneArrays:
    """Parsed geometry of a batch of zones, indexed by a dense zone
    ordinal ``0..n-1``:

    - ``kind``: int8, AREAL / LINEAR, INVALID for unparseable WKT
      (message in ``errors[ordinal]``);
    - ``ring_off`` (n+1): zone i owns rings ring_off[i]:ring_off[i+1];
    - ``pt_off`` (R+1): ring r owns points pt_off[r]:pt_off[r+1];
    - ``xy`` (P, 2): the ring coordinates, final (closed and
      orientation-normalized for areal zones);
    - ``bbox`` (n, 4): xmin, ymin, xmax, ymax (inverted infinities for
      EMPTY, NaN for invalid);
    - ``zone_id``: optional zone ids (object array), by ordinal; ids
      may repeat (each row keeps its own geometry).

    Derived arrays the kernels gather by ordinal (``is_rect``,
    ``segments``) are computed once, on first use."""

    def __init__(self, kind, ring_off, pt_off, xy, *, errors=None,
                 zone_id=None):
        self.kind = np.asarray(kind, dtype=np.int8)
        self.ring_off = np.asarray(ring_off, dtype=np.int64)
        self.pt_off = np.asarray(pt_off, dtype=np.int64)
        self.xy = np.asarray(xy, dtype=np.float64).reshape(-1, 2)
        self.errors = errors or {}
        self.zone_id = zone_id
        n = len(self.kind)
        zpt = self.pt_off[self.ring_off]
        bbox = np.empty((n, 4))
        bbox[:, :2] = np.inf
        bbox[:, 2:] = -np.inf
        bbox[self.kind == INVALID] = np.nan
        ne = np.flatnonzero(zpt[1:] > zpt[:-1])
        if ne.size:
            s = zpt[ne]
            x, y = self.xy[:, 0], self.xy[:, 1]
            bbox[ne, 0] = np.minimum.reduceat(x, s)
            bbox[ne, 1] = np.minimum.reduceat(y, s)
            bbox[ne, 2] = np.maximum.reduceat(x, s)
            bbox[ne, 3] = np.maximum.reduceat(y, s)
        bbox += 0.0          # signed zeros -> +0.0, as in bbox_of
        self.bbox = bbox

    def __len__(self) -> int:
        return len(self.kind)

    def n_rings(self) -> np.ndarray:
        return np.diff(self.ring_off)

    def geometry(self, i: int) -> Geometry:
        """Zone ``i`` as a Geometry (rings are views into ``xy``);
        raises ValueError for invalid WKT."""
        k = int(self.kind[i])
        if k == INVALID:
            raise ValueError(self.errors.get(i, "invalid WKT"))
        po = self.pt_off[self.ring_off[i]:self.ring_off[i + 1] + 1]
        rings = [self.xy[a:b] for a, b in zip(po[:-1].tolist(), po[1:].tolist())]
        return Geometry(_KIND_NAMES[k], rings,
                        _bbox=tuple(float(v) for v in self.bbox[i]))

    @cached_property
    def is_rect(self) -> np.ndarray:
        """Per-zone axis-aligned-rectangle flag (Geometry.is_rectangle)."""
        r0 = self.ring_off[:-1]
        cand = np.flatnonzero((self.kind == AREAL) & (self.n_rings() == 1))
        cand = cand[self.pt_off[r0[cand] + 1] - self.pt_off[r0[cand]] == 5]
        got = np.zeros(len(self), dtype=bool)
        if cand.size:
            idx = self.pt_off[r0[cand]][:, None] + np.arange(5)
            got[cand] = _rect_test(self.xy[idx])
        return got

    @cached_property
    def segments(self):
        """(seg_off, seg): the non-horizontal ring edges (x0, y0, x1,
        y1) of every areal zone, zone i owning seg[seg_off[i]:
        seg_off[i+1]] in ring order.  Horizontal edges contribute no
        signed scanline area."""
        P = len(self.xy)
        zone_of_pt = np.repeat(np.arange(len(self)), np.diff(self.pt_off[self.ring_off]))
        ok = np.zeros(P, dtype=bool)
        ok[:P - 1] = True
        ends = self.pt_off[1:]
        ok[ends[ends > 0] - 1] = False  # last point of each ring
        x, y = self.xy[:, 0], self.xy[:, 1]
        ok[:P - 1] &= y[:-1] != y[1:]
        ok &= self.kind[zone_of_pt] == AREAL
        s = np.flatnonzero(ok)
        seg = np.stack([x[s], y[s], x[s + 1], y[s + 1]], axis=1)
        return _excl_cumsum(np.bincount(zone_of_pt[s], minlength=len(self))), seg

    def segments_of(self, zo: np.ndarray):
        """(segments, count per zone) of the zones with ordinals ``zo``,
        concatenated in that order."""
        seg_off, seg = self.segments
        counts = seg_off[zo + 1] - seg_off[zo]
        return seg[_gather_ranges(seg_off[zo], counts)], counts

    # -- Arrow / Spark columns (GEOM_COLS) --------------------------------
    def to_arrow(self):
        """(kind int8, xy list<double> of interleaved x,y, rings
        list<int32> of per-ring end offsets in points relative to the
        zone's first point), NULL for invalid zones."""
        bad = pa.array(self.kind == INVALID)
        zpt = self.pt_off[self.ring_off]
        kind = pa.array(self.kind, mask=self.kind == INVALID)
        xy = pa.ListArray.from_arrays(pa.array((2 * zpt).astype(np.int32)),
                                      pa.array(self.xy.ravel()), mask=bad)
        ring_zone = np.repeat(np.arange(len(self)), self.n_rings())
        rel = (self.pt_off[1:] - zpt[:-1][ring_zone]).astype(np.int32)
        rings = pa.ListArray.from_arrays(pa.array(self.ring_off.astype(np.int32)),
                                         pa.array(rel, type=pa.int32()), mask=bad)
        return kind, xy, rings

    @classmethod
    def from_arrow(cls, kind, xy, rings, zone_id=None) -> "ZoneArrays":
        """Inverse of ``to_arrow`` (chunked or plain Arrow arrays)."""
        def plain(a):
            return a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a

        kind, xy, rings = plain(kind), plain(xy), plain(rings)
        k = kind.fill_null(INVALID).to_numpy(zero_copy_only=False)
        xy_len = pc.list_value_length(xy).fill_null(0).to_numpy(zero_copy_only=False)
        r_len = pc.list_value_length(rings).fill_null(0).to_numpy(zero_copy_only=False)
        zid = None
        if zone_id is not None:
            zid = plain(zone_id).to_numpy(zero_copy_only=False)
        return cls._from_parts(k, xy.flatten().to_numpy(zero_copy_only=False),
                               xy_len, rings.flatten().to_numpy(zero_copy_only=False),
                               r_len, zid)

    @classmethod
    def _from_parts(cls, kind, xy_flat, xy_len, ring_ends, ring_count, zone_id):
        ring_off = _excl_cumsum(ring_count)
        zpt = _excl_cumsum(np.asarray(xy_len, dtype=np.int64) // 2)
        ring_zone = np.repeat(np.arange(len(kind)), ring_count)
        pt_off = np.concatenate([[0], np.asarray(ring_ends, dtype=np.int64)
                                 + zpt[:-1][ring_zone]])
        return cls(kind, ring_off, pt_off, np.asarray(xy_flat, dtype=np.float64),
                   zone_id=zone_id)


# --- batch WKT parser ------------------------------------------------------

_TAGS = ("POLYGON", "MULTIPOLYGON", "LINESTRING", "MULTILINESTRING",
         "GEOMETRYCOLLECTION", "EMPTY")
_TAG_SET = pa.array(_TAGS)
_GC, _EMPTY = 4, 5
# paren depth of the coordinate tuples under each leaf tag
_RING_DEPTH = np.array([2, 3, 1, 2, 0, 0])
_NUM_RE = r"^[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?$"

# byte classes: 0 token char, 1 whitespace, 2 '(', 3 ')', 4 ','
_CLS = np.zeros(256, dtype=np.int8)
_CLS[[9, 10, 11, 12, 13, 32]] = 1
_CLS[ord("(")], _CLS[ord(")")], _CLS[ord(",")] = 2, 3, 4
_IS_ALPHA = np.zeros(256, dtype=bool)
_IS_ALPHA[ord("A"):ord("Z") + 1] = True
_IS_ALPHA[ord("a"):ord("z") + 1] = True
_NUM_CHAR = np.zeros(256, dtype=bool)
_NUM_CHAR[[ord(c) for c in "0123456789+-.eE"]] = True
LP, RP, CM, NUM, WORD = 0, 1, 2, 3, 4
_START, _END = -1, -2

_E_EMPTY = "empty or NULL WKT"
_E_SYNTAX = "invalid WKT syntax"
_E_TUPLE = "coordinate tuple with other than two values (x y)"
_E_RING = "polygon ring with < 4 points"
_E_MIXED = "GeometryCollection mixing areal and linear parts is unsupported"


def _substrings(data_buf, starts: np.ndarray, ends: np.ndarray) -> pa.Array:
    """Arrow string array of data[starts[i]:ends[i]] (ordered,
    non-overlapping ranges): a string array over the interleaved
    offsets holds each range at an even slot and the gap after it at
    the following odd slot."""
    if starts.size == 0:
        return pa.array([], type=pa.large_string())
    offs = np.empty(2 * starts.size, dtype=np.int64)
    offs[0::2] = starts
    offs[1::2] = ends
    arr = pa.Array.from_buffers(pa.large_string(), offs.size - 1,
                                [None, pa.py_buffer(offs), data_buf])
    return arr.take(pa.array(np.arange(0, offs.size - 1, 2)))


def _string_buffers(wkts):
    if isinstance(wkts, pa.ChunkedArray):
        wkts = wkts.combine_chunks()
    if not isinstance(wkts, pa.Array):
        wkts = pa.array(list(wkts), type=pa.string())
    if wkts.type not in (pa.string(), pa.large_string()):
        wkts = wkts.cast(pa.large_string())
    n = len(wkts)
    otype = np.int32 if wkts.type == pa.string() else np.int64
    bufs = wkts.buffers()
    offs = np.frombuffer(bufs[1], dtype=otype)[wkts.offset:wkts.offset + n + 1] \
        .astype(np.int64)
    data_buf = bufs[2] if bufs[2] is not None else pa.py_buffer(b"")
    data = np.frombuffer(data_buf, dtype=np.uint8)
    null = wkts.is_null().to_numpy(zero_copy_only=False) if wkts.null_count \
        else np.zeros(n, dtype=bool)
    return offs, data_buf, data, null


def parse_wkt_batch(wkts, zone_id=None) -> ZoneArrays:
    """Parse a batch of WKT strings (list, Arrow array or chunked array)
    into ``ZoneArrays``; invalid entries get kind INVALID and an error
    message instead of raising."""
    offs, data_buf, data, null = _string_buffers(wkts)
    kind, errs, rz, rxy, rlen = _parse(offs, data_buf, data, null)
    order = np.argsort(rz, kind="stable")
    ring_off = _excl_cumsum(np.bincount(rz, minlength=len(kind)))
    pstart = _excl_cumsum(rlen)
    xy = rxy[_gather_ranges(pstart[:-1][order], rlen[order])]
    return ZoneArrays(kind, ring_off, _excl_cumsum(rlen[order]), xy,
                      errors=errs, zone_id=zone_id)


def _parse(offs, data_buf, data, null):
    """Core of parse_wkt_batch.  Returns (kind per zone, {zone: error},
    ring zone, ring coordinates (P, 2), ring point counts); rings come
    out grouped by zone in input order."""
    n = len(offs) - 1
    kind = np.full(n, INVALID, dtype=np.int8)
    err = np.zeros(n, dtype=object)
    lo, hi = int(offs[0]), int(offs[-1])
    cls = _CLS[data[lo:hi]]
    L = hi - lo
    zs = offs[:-1] - lo  # zone byte starts, relative
    # --- tokens: maximal runs of token chars, never crossing a zone start
    tok = cls == 0
    brk = np.zeros(L + 1, dtype=bool)
    brk[zs[zs < L]] = True
    prev_tok = np.zeros(L, dtype=bool)
    prev_tok[1:] = tok[:-1]
    run_start = tok & ~(prev_tok & ~brk[:L])
    next_tok = np.zeros(L, dtype=bool)
    next_tok[:-1] = tok[1:]
    run_end = tok & ~(next_tok & ~brk[1:])
    rs = np.flatnonzero(run_start)
    re_ = np.flatnonzero(run_end) + 1
    # runs holding a byte that cannot occur in a number (word letters,
    # stray symbols); a run starting with a letter is a word
    odd_run = np.zeros(rs.size, dtype=bool)
    odd_run[np.searchsorted(rs, np.flatnonzero(tok & ~_NUM_CHAR[data[lo:hi]]),
                            side="right") - 1] = True
    is_word = _IS_ALPHA[data[lo + rs]]

    ev = np.flatnonzero(run_start | (cls >= 2))
    typ = (cls[ev] - 2).astype(np.int8)
    ev_run = typ < 0
    run_of_ev = np.cumsum(ev_run) - 1
    typ[ev_run] = np.where(is_word[run_of_ev[ev_run]], WORD, NUM)
    z = np.searchsorted(zs, ev, side="right") - 1
    E = ev.size

    # tag codes of words; numeric values of numbers (one Arrow cast)
    tag = np.full(E, -1, dtype=np.int64)
    wi = np.flatnonzero(typ == WORD)
    words = None
    if wi.size:
        r = run_of_ev[wi]
        words = _substrings(data_buf, lo + rs[r], lo + re_[r])
        tag[wi] = pc.index_in(pc.ascii_upper(words), value_set=_TAG_SET) \
            .fill_null(-1).to_numpy(zero_copy_only=False)
    ni = np.flatnonzero(typ == NUM)
    val = np.zeros(ni.size)
    num_ok = ~odd_run[run_of_ev[ni]]
    if ni.size:
        r = run_of_ev[ni]
        s = _substrings(data_buf, lo + rs[r], lo + re_[r])
        try:
            val = pc.cast(pc.if_else(pa.array(num_ok), s, "0"),
                          pa.float64()).to_numpy()
        except pa.ArrowInvalid:
            # some token is malformed: validate each against the grammar
            ok = pc.and_(pa.array(num_ok), pc.match_substring_regex(s, _NUM_RE))
            num_ok = ok.to_numpy(zero_copy_only=False)
            val = pc.cast(pc.if_else(ok, s, "0"), pa.float64()).to_numpy()

    def fail(mask_z, msg):
        m = mask_z & (err == 0)
        err[m] = msg

    zidx = np.arange(n)
    zstart = np.searchsorted(z, zidx, side="left")
    zend = np.searchsorted(z, zidx, side="right")
    nev = zend - zstart
    fail(null | (nev == 0), _E_EMPTY)
    has = nev > 0
    head = np.full(n, -1, dtype=np.int64)
    head[has] = np.where(typ[zstart[has]] == WORD, tag[zstart[has]], -1)
    unsupported = has & ((head < 0) | (head == _EMPTY)) & (err == 0)
    for i in np.flatnonzero(unsupported):
        e0 = zstart[i]
        name = (words[int(np.searchsorted(wi, e0))].as_py().upper()
                if typ[e0] == WORD else "")
        err[i] = f"unsupported geometry type: {name}" if name else _E_SYNTAX

    pos = np.arange(E) - zstart[z] if E else np.zeros(0, dtype=np.int64)
    delta = np.where(typ == LP, 1, np.where(typ == RP, -1, 0))
    cum = np.cumsum(delta)
    base = np.zeros(n, dtype=np.int64)
    base[has] = cum[zstart[has]] - delta[zstart[has]]
    d_after = cum - base[z]
    d_before = d_after - delta
    prev_t = np.full(E, _START, dtype=np.int64)
    prev_t[1:] = typ[:-1]
    prev_t[pos == 0] = _START
    next_t = np.full(E, _END, dtype=np.int64)
    next_t[:-1] = typ[1:]
    next_t[pos == nev[z] - 1] = _END

    # EMPTY form: exactly "<TAG> EMPTY"
    empty_form = nev == 2
    sec = zstart[empty_form] + 1
    empty_form[empty_form] = (typ[sec] == WORD) & (tag[sec] == _EMPTY)
    is_gc = head == _GC
    body = has & (head >= 0) & (head < _EMPTY) & ~empty_form
    # shared structure: "<TAG> ( ... )" with depth >= 1 inside and the
    # closing paren last
    bad = np.zeros(E, dtype=bool)
    inz = body[z]
    bad |= inz & (pos == 1) & (typ != LP)
    bad |= inz & (pos >= 2) & (d_before < 1)
    bad |= inz & (pos >= 1) & (typ == RP) & (prev_t == LP)  # empty group
    last_ok = np.zeros(n, dtype=bool)
    last_ok[has] = (typ[zend[has] - 1] == RP) & (d_after[zend[has] - 1] == 0)
    leaf = body & ~is_gc
    rd = _RING_DEPTH[np.maximum(head, 0)][z]
    lz = leaf[z]
    t = typ
    bad |= lz & (pos >= 1) & (t == WORD)
    bad |= lz & (t == LP) & (pos >= 2) & ~((prev_t == LP) | (prev_t == CM))
    bad |= lz & (t == LP) & (d_before > rd - 1)
    bad |= lz & (t == RP) & ~((prev_t == NUM) | (prev_t == RP))
    ring_cm = t == CM
    bad |= lz & ring_cm & (d_before == rd) & ~((prev_t == NUM) & (next_t == NUM))
    bad |= lz & ring_cm & (d_before != rd) & ~((prev_t == RP) & (next_t == LP))
    bad |= lz & (t == NUM) & ((d_before != rd) | ~((prev_t == LP) | (prev_t == CM)
                                                   | (prev_t == NUM)))
    num_bad = np.zeros(E, dtype=bool)
    num_bad[ni] = ~num_ok
    bad |= num_bad
    zbad = np.bincount(z[bad], minlength=n) > 0 if E else np.zeros(n, dtype=bool)
    fail(body & (zbad | ~last_ok), _E_SYNTAX)
    # exactly two numbers per coordinate tuple
    tup = np.cumsum(t != NUM)[ni]
    tbad = np.zeros(n, dtype=bool)
    tbad[z[ni[np.bincount(tup)[tup] != 2]]] = True
    fail(leaf & tbad, _E_TUPLE)

    # --- EMPTY forms and leaf kinds
    ok_empty = empty_form & (err == 0)
    kind[ok_empty] = np.where((head[ok_empty] == 2) | (head[ok_empty] == 3),
                              LINEAR, AREAL)
    areal_head = (head == 0) | (head == 1)

    # --- leaf rings (valid zones only: the NUM stream pairs up per ring)
    good = leaf & (err == 0)
    ge = good[z]
    ring_open = ge & (t == LP) & (d_before == rd - 1)
    ro = np.flatnonzero(ring_open)
    gn = ni[ge[ni]]
    vals = val[ge[ni]]
    rid = np.cumsum(ring_open)[gn[0::2]] - 1
    rz = z[ro]
    npts = np.bincount(rid, minlength=ro.size)
    rxy = np.stack([vals[0::2], vals[1::2]], axis=1)
    ring_areal = areal_head[rz]
    short = np.zeros(n, dtype=bool)
    short[rz[ring_areal & (npts < 4)]] = True
    fail(good & short, _E_RING)
    good &= err == 0
    kind[good] = np.where(areal_head[good], AREAL, LINEAR)
    keep = good[rz]
    exterior = prev_t[ro] == LP
    rz, rxy, rlen = _normalize_rings(rz[keep], rxy, npts, keep,
                                     ring_areal[keep], exterior[keep])

    # --- GEOMETRYCOLLECTION: parse the members as a batch, recursively
    gcz = np.flatnonzero(body & is_gc & (err == 0))
    if gcz.size:
        sep = np.flatnonzero(is_gc[z] & body[z] & (err[z] == 0)
                             & (((t == LP) & (pos == 1))
                                | ((t == CM) & (d_before == 1))
                                | ((t == RP) & (pos == nev[z] - 1))))
        # each separator opens a member that ends at the next one
        opens = sep[:-1][z[sep[:-1]] == z[sep[1:]]]
        closes = sep[1:][z[sep[:-1]] == z[sep[1:]]]
        parent = z[opens]
        mstart = lo + ev[opens] + 1
        mend = lo + ev[closes]
        members = _substrings(data_buf, mstart, mend)
        m_offs, m_buf, m_data, m_null = _string_buffers(members)
        mk, merr, mrz, mrxy, mrlen = _parse(m_offs, m_buf, m_data, m_null)
        # a member error or mixed kinds invalidates the collection
        for m in np.flatnonzero(mk == INVALID):
            if err[parent[m]] == 0:
                err[parent[m]] = merr[m]
        kinds_seen = np.zeros((n, 2), dtype=bool)
        valid_m = mk != INVALID
        kinds_seen[parent[valid_m], mk[valid_m]] = True
        fail(is_gc & kinds_seen.all(axis=1), _E_MIXED)
        okgc = np.zeros(n, dtype=bool)
        okgc[gcz] = True
        okgc &= err == 0
        kind[okgc] = np.where(kinds_seen[okgc, LINEAR], LINEAR, AREAL)
        mkeep = okgc[parent[mrz]]
        mstarts = _excl_cumsum(mrlen)[:-1][mkeep]
        rxy = np.concatenate([rxy, mrxy[_gather_ranges(mstarts, mrlen[mkeep])]])
        rz = np.concatenate([rz, parent[mrz[mkeep]]])
        rlen = np.concatenate([rlen, mrlen[mkeep]])

    errors = {int(i): str(err[i]) for i in np.flatnonzero(err != 0)}
    kind[err != 0] = INVALID
    return kind, errors, rz, rxy, rlen


def _normalize_rings(rz, rxy, npts, keep, areal, exterior):
    """Close unclosed polygon rings and orient them (exterior CCW,
    holes CW); linear paths pass through.  Returns the kept rings'
    (zone, coordinates, point counts)."""
    start = _excl_cumsum(npts)[:-1][keep]
    n = npts[keep]
    first, last = rxy[start], rxy[start + n - 1]
    closed = (first[:, 0] == last[:, 0]) & (first[:, 1] == last[:, 1])
    L = np.where(areal & ~closed, n + 1, n)
    k = np.arange(int(L.sum())) - np.repeat(_excl_cumsum(L)[:-1], L)
    src = np.repeat(start, L) + np.where(k < np.repeat(n, L), k, 0)
    ring_xy = rxy[src]
    if areal.any():
        # shoelace sign per ring; sequential and pairwise sums agree in
        # sign outside the rounding bound, and rings inside it take the
        # exact ring_signed_area path
        x, y = ring_xy[:, 0], ring_xy[:, 1]
        term = np.zeros(ring_xy.shape[0])
        term[:-1] = x[:-1] * y[1:] - x[1:] * y[:-1]
        rstart = _excl_cumsum(L)[:-1]
        term[rstart[1:] - 1] = 0.0  # no term across ring boundaries
        if term.size:
            term[-1] = 0.0
        ai = np.flatnonzero(areal)
        area = np.add.reduceat(term, rstart)[ai]
        mag = np.add.reduceat(np.abs(term), rstart)[ai]
        unsure = (np.abs(area) <= L[ai] * np.finfo(float).eps * mag) \
            | (np.abs(area) < 1e-300)
        for j in np.flatnonzero(unsure):
            r = ai[j]
            area[j] = ring_signed_area(ring_xy[rstart[r]:rstart[r] + L[r]])
        flip = np.zeros(len(L), dtype=bool)
        flip[ai] = (area < 0) == exterior[ai]
        if flip.any():
            kk = np.where(np.repeat(flip, L), np.repeat(L, L) - 1 - k, k)
            ring_xy = ring_xy[np.repeat(rstart, L) + kk]
    return rz, ring_xy, L


def parse_wkt(wkt: str) -> Geometry:
    """Parse one WKT string (the batch parser on a batch of one)."""
    za = parse_wkt_batch([wkt])
    if za.kind[0] == INVALID:
        raise ValueError(f"{za.errors.get(0, _E_SYNTAX)}: {str(wkt)[:80]!r}")
    return za.geometry(0)
