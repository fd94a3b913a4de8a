"""The zonal-statistics planner: zones ⋈ tiles → kernel → mergeable
partial states → groupBy(zone).agg → finalize.

This is the Spark-native re-expression of the reference's processors
(/root/reference/src/feature_sequential_processor.cpp:58-125,
raster_parallel_processor.cpp:83-232).  The reference's 5-stage oneTBB
pipeline maps onto the Spark plan one-to-one:

  1. subgrid work list            -> the tile table (one row per tile)
  2. STRtree feature-hit query    -> zone bbox → tile range, as one
                                     numpy CSR of zone ordinals per tile
                                     key (tile_hits); the grid itself is
                                     the spatial index
  3. raster window read           -> tile payload column scan
  4. coverage + block-local stats -> mapInArrow kernel emitting
                                     partial-state rows as Arrow batches
  5. serial merge                 -> groupBy(zone_id).agg(...) — Spark's
                                     partial+final aggregation, which is
                                     also the skew answer: a zone touching
                                     100k tiles is pre-aggregated map-side
                                     per partition before the (tiny) final
                                     shuffle, so no salting is needed for
                                     the scalar states (they are all
                                     associative-commutative by design).

Zone prep parses every zone's WKT exactly once: attach_bbox is one
vectorized mapInArrow pass (geom.parse_wkt_batch) that adds the bbox
and the flat geometry arrays (GEOM_COLS: kind, interleaved x/y
coordinates, ring offsets).  Nothing downstream parses WKT again.

Join strategies:
- "broadcast" (default for small/medium zone sets): zone prep is ONE
  Spark job — a collect of the parsed zones that counts them, picks
  the strategy, validates them and feeds tile_hits.  The zone geometry
  (geom.ZoneArrays, indexed by a dense zone ordinal) and the tile
  hit-list CSR travel as one SparkContext broadcast straight to the
  kernel.  There is no join: the tiles are filtered by a predicate
  holding the hit tile keys as a bitmap literal, and the kernel
  gathers each tile's zone ordinals from the CSR by key.  The big tile
  payloads are NEVER shuffled — the kernel runs in the same stage as
  the tile scan.
- "shuffle": for huge zone tables; zone_tile_pairs explodes each zone
  to its tiles (the same tile ranges as tile_hits, as JVM
  expressions), the per-tile zone lists carry the geometry arrays
  (not WKT) and the join shuffles by tile key (payloads move exactly
  once).  AQE handles skewed tile keys.

Pairs are keyed by zone ordinal (one per zone ROW) on both strategies:
zones sharing a zone_id each contribute their own geometry, and their
partial states merge under that id.

Variance is carried as (Σc, Σcx, Σcx²) so partial states merge exactly —
lifting the reference's parallel-strategy restriction
(raster_parallel_processor.cpp:91-95, raster_stats.h:113-115); the
opt-in stable variance's pivot-shifted state merges in SQL too.  No
Python runs after the kernel except a user's custom python op.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from .geom import GEOM_COLS, INVALID, ZoneArrays, _gather_ranges, parse_wkt_batch
from .grid import resolve_grid
from .io import decode_value_tile
from .ops import Op, group_ops_by_key, parse_ops

__all__ = ["exact_extract", "attach_bbox", "zone_tile_pairs", "run_kernel",
           "crs_matches", "raise_on_invalid_zones", "prepare_zones",
           "tile_hits", "zone_lists", "join_zone_lists", "tile_pairs"]

BROADCAST_ZONE_LIMIT = 200_000
# hex digits of TileHits.tile_filter's bitmap literal (4 tile keys each)
_FILTER_DIGITS = 1 << 16


def crs_matches(crs_a: str | None, crs_b: str | None) -> bool:
    """CRS equivalence with the reference's semantics
    (exact_extract.py:297-336): unknown (None) matches anything; equal
    strings match; otherwise defer to pyproj when available, else
    report a mismatch."""
    if crs_a is None or crs_b is None:
        return True
    if crs_a == crs_b:
        return True
    try:
        from pyproj import CRS
    except ImportError:
        # no pyproj: string-unequal CRSs cannot be proven equivalent —
        # report a mismatch (feeds a WARN-only path), like the
        # reference's crs_matches swallowing only ImportError
        return False
    # an unparseable CRS string propagates (reference exact_extract.py
    # crs_matches lets pyproj parse errors raise) — a genuine parse
    # failure should not masquerade as a CRS mismatch warning
    return CRS.from_user_input(crs_a) == CRS.from_user_input(crs_b)


def _table_crs(df: DataFrame) -> str | None:
    if "crs" not in df.columns:
        return None
    row = df.select("crs").first()
    return row[0] if row is not None else None


def _warn_on_crs_mismatch(vec_crs, tiles, grid, weight_tiles):
    """Reference warn_on_crs_mismatch (exact_extract.py:338-360):
    RuntimeWarning when the vector CRS does not match the value raster
    or the weighting raster."""
    import warnings

    rast_crs = grid.get("crs") or _table_crs(tiles)
    if not crs_matches(vec_crs, rast_crs):
        warnings.warn(
            "Spatial reference system of input features does not exactly "
            "match raster.", RuntimeWarning, stacklevel=3)
    if weight_tiles is not None:
        w_crs = _table_crs(weight_tiles)
        if not crs_matches(vec_crs, w_crs):
            warnings.warn(
                "Spatial reference system of input features does not "
                "exactly match weighting raster.", RuntimeWarning,
                stacklevel=3)

_CELLS_T = T.ArrayType(T.StructType([
    T.StructField("cell_id", T.LongType()),
    T.StructField("v", T.DoubleType()),
    T.StructField("cov", T.DoubleType()),
    T.StructField("w", T.DoubleType()),
    T.StructField("x", T.DoubleType()),
    T.StructField("y", T.DoubleType()),
]))


_GEOM_FIELDS = [T.StructField("_geom_kind", T.ByteType()),
                T.StructField("_geom_xy", T.ArrayType(T.DoubleType())),
                T.StructField("_geom_rings", T.ArrayType(T.IntegerType()))]
_BBOX = ("xmin", "ymin", "xmax", "ymax")
# the grid every tile of one extraction shares (tile_pairs checks it)
_GRID_COLS = ("grid_xmin", "grid_ymax", "dx", "dy", "grid_ncols")


def attach_bbox(zones: DataFrame) -> DataFrame:
    """The zone-prep pass: parse every zone's WKT once and add
    (xmin, ymin, xmax, ymax) — the bbox pre-filter that feeds
    tile-range pruning, reference feature_sequential_processor.cpp:72-76
    — plus the parsed geometry as flat arrays (GEOM_COLS: kind,
    interleaved x/y coordinates, per-ring end offsets), which the
    kernels consume instead of WKT.

    One mapInArrow over the zone table: each Arrow batch is parsed by
    geom.parse_wkt_batch (numpy tokenizer + one Arrow string->double
    cast), so the Python cost is per batch, not per row.  EMPTY
    geometries get the inverted bbox (every tile-range predicate false;
    the zone flows to the final left join like the reference writing a
    row for every feature).  Invalid WKT (unsupported POINT zones,
    garbage, unbalanced parentheses, odd coordinate counts, Z/M
    coordinates) gets NULL bbox and geometry columns here; consumers
    fail loudly via prepare_zones() / raise_on_invalid_zones().
    The Python stage is opaque to the optimizer, so no raising
    expression can be reordered onto rows a filter below it drops.

    A caller-supplied bbox (xmin.. columns already present) is kept;
    the geometry is still parsed for the kernels."""
    if GEOM_COLS[0] in zones.columns:
        return zones
    had_bbox = "xmin" in zones.columns
    add = [] if had_bbox else [T.StructField(c, T.DoubleType()) for c in _BBOX]
    schema = T.StructType(zones.schema.fields + add + _GEOM_FIELDS)
    gi = zones.columns.index("geometry")

    def prep(batches):
        for b in batches:
            za = parse_wkt_batch(b.column(gi))
            bad = za.kind == INVALID
            cols = list(b.columns)
            if not had_bbox:
                cols += [pa.array(za.bbox[:, k], mask=bad) for k in range(4)]
            cols += za.to_arrow()
            yield pa.RecordBatch.from_arrays(cols, names=schema.names)

    return zones.mapInArrow(prep, schema)


def raise_on_invalid_zones(zones_b: DataFrame) -> None:
    """Fail loudly on invalid zone geometry like the reference
    (test_exact_extract.py:1264-1274 semantics): a NULL geometry kind
    marks WKT the zone-prep parser rejected (attach_bbox).  One
    column-pruned driver-side action."""
    bad = zones_b.where(F.col("_geom_kind").isNull()) \
                 .select("geometry").limit(1).collect()
    if bad:
        _raise_invalid(bad[0][0])


def _raise_invalid(wkt) -> None:
    raise ValueError(f"invalid zone geometry {str(wkt)[:80]!r}")


@dataclass
class TileHits:
    """Zone ordinals per tile as a CSR over the sorted tile keys
    ``tile_row * ntc + tile_col`` of an (ntr, ntc) tile lattice: tile
    ``key[k]`` is hit by the zones ``zone[off[k]:off[k + 1]]``, in
    ascending ordinal order."""
    ntr: int
    ntc: int
    key: np.ndarray    # int64, sorted, unique
    off: np.ndarray    # int64, len(key) + 1
    zone: np.ndarray   # int64 zone ordinals

    @property
    def tile_row(self) -> np.ndarray:
        return (self.key // self.ntc).astype(np.int32)

    @property
    def tile_col(self) -> np.ndarray:
        return (self.key % self.ntc).astype(np.int32)

    def gather(self, tile_row, tile_col) -> tuple[np.ndarray, np.ndarray]:
        """(query index, zone ordinal) of every pair of the queried
        tiles, grouped by query in query order; a tile without hits
        (or off the lattice) yields no pair."""
        r = np.asarray(tile_row, dtype=np.int64)
        c = np.asarray(tile_col, dtype=np.int64)
        if not self.key.size:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        q = np.where((r >= 0) & (r < self.ntr) & (c >= 0) & (c < self.ntc),
                     r * self.ntc + c, -1)
        pos = np.minimum(np.searchsorted(self.key, q), self.key.size - 1)
        lo = self.off[pos]
        cnt = np.where(self.key[pos] == q, self.off[pos + 1] - lo, 0)
        return (np.repeat(np.arange(q.size), cnt),
                self.zone[_gather_ranges(lo, cnt)])

    def tile_filter(self) -> Column:
        """A Spark predicate on (tile_row, tile_col) that keeps every
        hit tile, evaluated per row with no job: the hit keys as a
        bitmap in a hex-string literal, four keys per digit.  When the
        hit keys span more than ``4 * _FILTER_DIGITS`` keys, each bit
        stands for a run of consecutive keys, so the filter keeps a
        superset (the kernel finds no pairs for the extra tiles)."""
        if not self.key.size:
            return F.lit(False)
        lo = int(self.key[0])
        step = -(-(int(self.key[-1]) - lo + 1) // (4 * _FILTER_DIGITS))
        on = (self.key - lo) // step
        bits = np.zeros(-(-int(on[-1] + 1) // 4) * 4, dtype=np.int64)
        bits[on] = 1
        digits = bits.reshape(-1, 4) @ np.array([1, 2, 4, 8])
        hexs = "".join(np.array(list("0123456789abcdef"))[digits])
        k = f"(cast(tile_row as bigint) * {self.ntc} + tile_col - {lo})"
        b = f"({k} div {step})"
        return F.expr(
            f"tile_row >= 0 AND tile_row < {self.ntr} AND tile_col >= 0 "
            f"AND tile_col < {self.ntc} AND {k} BETWEEN 0 AND {int(self.key[-1]) - lo} AND "
            f"bit_get(cast(conv(substring('{hexs}', {b} div 4 + 1, 1), 16, 10)"
            f" AS int), pmod({b}, 4)) = 1")


def tile_hits(bbox: np.ndarray, grid: dict, tile: int) -> TileHits:
    """The tiles each zone's bbox overlaps (the STRtree-query analog,
    raster_parallel_processor.cpp:142-162) as a numpy CSR: on a regular
    grid the query is arithmetic.  ``bbox`` is (n, 4) xmin, ymin, xmax,
    ymax per zone ordinal (NaN for a NULL bbox: no tile).  Same float
    ops as zone_tile_pairs — the grid-overlap predicate, the clamps and
    the ``- 1e-12`` nudge of the right/bottom edge — so both give the
    same (tile, zone) pairs."""
    gx, gy = float(grid["grid_xmin"]), float(grid["grid_ymax"])
    dx, dy = float(grid["dx"]), float(grid["dy"])
    ntr = (int(grid["grid_nrows"]) + tile - 1) // tile
    ntc = (int(grid["grid_ncols"]) + tile - 1) // tile
    tw, th = dx * tile, dy * tile

    xmin, ymin, xmax, ymax = np.asarray(bbox, dtype=np.float64).reshape(-1, 4).T
    with np.errstate(invalid="ignore"):
        z = np.flatnonzero((xmax > gx) & (xmin < gx + ntc * tw) &
                           (ymax > gy - ntr * th) & (ymin < gy))
    tc0 = np.maximum(0, np.floor((xmin[z] - gx) / tw))
    tc1 = np.minimum(ntc - 1, np.floor((xmax[z] - gx) / tw - 1e-12))
    tr0 = np.maximum(0, np.floor((gy - ymax[z]) / th))
    tr1 = np.minimum(ntr - 1, np.floor((gy - ymin[z]) / th - 1e-12))
    ok = (tr1 >= tr0) & (tc1 >= tc0)
    z = z[ok]
    tr0, tr1, tc0, tc1 = (a[ok].astype(np.int64) for a in (tr0, tr1, tc0, tc1))

    ncol = tc1 - tc0 + 1
    cnt = (tr1 - tr0 + 1) * ncol
    k = _gather_ranges(np.zeros_like(cnt), cnt)  # index within each zone
    ncol_p = np.repeat(ncol, cnt)
    key = (np.repeat(tr0, cnt) + k // ncol_p) * ntc + np.repeat(tc0, cnt) + k % ncol_p
    order = np.argsort(key, kind="stable")
    key, zone = key[order], np.repeat(z, cnt)[order].astype(np.int64)
    first = np.flatnonzero(np.diff(key, prepend=-1))
    return TileHits(ntr, ntc, key[first],
                    np.append(first, key.size).astype(np.int64), zone)


@dataclass
class PreparedZones:
    zones_b: DataFrame   # zone table + bbox + GEOM_COLS
    strategy: str        # "broadcast" | "shuffle"
    lookup: object       # Broadcast[(ZoneArrays, TileHits | None)] or None
    n_zones: int | None  # known on the broadcast strategy
    grid: dict | None    # tile lattice of the hit-lists (zone_lists)
    tile: int | None
    bbox: np.ndarray | None = None  # (n, 4) xmin.. per ordinal (broadcast)
    hits: TileHits | None = None    # driver copy of the broadcast CSR

    def unpersist(self) -> None:
        self.zones_b.unpersist()
        if self.lookup is not None:
            self.lookup.unpersist()


def prepare_zones(zones: DataFrame, strategy: str = "auto", *,
                  grid: dict | None = None, tile: int | None = None,
                  limit: int | None = None, with_ord: bool = False,
                  persist: bool = False) -> PreparedZones:
    """Zone prep shared by every geometry consumer: attach_bbox (one
    parse per zone), then ONE collect of the parsed zones —
    ``limit(limit + 1).toArrow()`` (default limit
    BROADCAST_ZONE_LIMIT; no limit for an explicit "broadcast") — that
    counts them, picks the strategy, validates them (ValueError on the
    first invalid WKT, before any kernel job) and, given the tile
    lattice (``grid``, ``tile``), feeds tile_hits.  The broadcast
    strategy ships the parsed geometry (geom.ZoneArrays) and the tile
    hit-list CSR as one SparkContext broadcast.

    Above ``limit`` zones (or for an explicit "shuffle") nothing is
    kept on the driver: one validating action checks the whole table
    and the geometry arrays ride the per-tile zone lists instead.

    ``with_ord`` adds ``_zone_ord`` (input row order, for
    preserve_order output); ``persist`` caches the zone table so the
    parse runs once across the collect, the pair jobs and the final
    join."""
    if strategy not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"unknown strategy {strategy!r}: "
                         "expected 'auto', 'broadcast' or 'shuffle'")
    zones_b = attach_bbox(zones)
    if with_ord:
        zones_b = zones_b.withColumn("_zone_ord", F.monotonically_increasing_id())
    if persist:
        zones_b = zones_b.persist()
    t = None
    if strategy != "shuffle":
        limit = BROADCAST_ZONE_LIMIT if limit is None else limit
        q = zones_b.select("zone_id", *_BBOX, *GEOM_COLS, F.when(
            F.col(GEOM_COLS[0]).isNull(), F.col("geometry")).alias("_bad"))
        t = (q.limit(limit + 1) if strategy == "auto" else q).toArrow()
        bad = pc.drop_null(t.column("_bad"))
        if len(bad):
            _raise_invalid(bad[0].as_py())
        if strategy == "auto" and t.num_rows > limit:
            strategy, t = "shuffle", None
    if t is None:
        raise_on_invalid_zones(zones_b)
        return PreparedZones(zones_b, "shuffle", None, None, grid, tile)
    za = ZoneArrays.from_arrow(*(t.column(c) for c in GEOM_COLS),
                               zone_id=t.column("zone_id"))
    bbox = np.stack([t.column(c).to_numpy() for c in _BBOX], axis=1)
    hits = tile_hits(bbox, grid, tile) if grid is not None else None
    # derived arrays are computed once here, not per executor
    za.is_rect, za.segments
    lookup = zones_b.sparkSession.sparkContext.broadcast((za, hits))
    return PreparedZones(zones_b, "broadcast", lookup, t.num_rows, grid, tile,
                         bbox, hits)


def zone_lists(prep: PreparedZones) -> DataFrame:
    """Shuffle strategy's zone side of the tile join: one row per tile
    (tile_row, tile_col) with ``zone_structs``, the list of (zone_id,
    GEOM_COLS) of its zones — the JVM explode of zone_tile_pairs
    (the same tile ranges as tile_hits), grouped per tile so each tile
    payload crosses the shuffle once."""
    pairs = zone_tile_pairs(prep.zones_b.select("zone_id", *GEOM_COLS, *_BBOX),
                            prep.grid, prep.tile)
    return pairs.groupBy("tile_row", "tile_col").agg(
        F.collect_list(F.struct("zone_id", *GEOM_COLS)).alias("zone_structs"))


def join_zone_lists(tiles: DataFrame, prep: PreparedZones,
                    lists: DataFrame | None = None) -> DataFrame:
    """Tiles with their zones.  Broadcast strategy: the tiles filtered
    to the hit tiles (TileHits.tile_filter, no job); the kernel
    gathers each tile's zone ordinals from the broadcast CSR by key
    (pair_zones).  Shuffle strategy: the join to the per-tile zone
    structs (``lists`` = zone_lists(prep), built here when omitted)."""
    if prep.strategy == "broadcast":
        return tiles.where(prep.hits.tile_filter())
    if lists is None:
        lists = zone_lists(prep)
    return tiles.join(lists, ["tile_row", "tile_col"])


def pair_zones(batch: pa.RecordBatch, lookup) -> tuple:
    """Kernel side of join_zone_lists: (ZoneArrays, tile-row index per pair,
    zone ordinal per pair) for an Arrow batch of tile rows.  No WKT is
    parsed: on the broadcast strategy each tile's ordinals are gathered
    from the broadcast CSR by (tile_row, tile_col); on the shuffle
    strategy the ``zone_structs`` lists carry the geometry arrays,
    decoded by ZoneArrays.from_arrow over their flattened children.
    Pairs are keyed by zone ordinal, so zones sharing a zone_id keep
    their own geometry."""
    if "zone_structs" in batch.schema.names:
        lists = batch.column("zone_structs")
        lens = pc.list_value_length(lists).fill_null(0).to_numpy()
        rows = np.repeat(np.arange(len(lists)), lens)
        zs = {f.name: a for f, a in zip(lists.type.value_type, lists.flatten().flatten())}
        za = ZoneArrays.from_arrow(*(zs[c] for c in GEOM_COLS),
                                   zone_id=zs["zone_id"])
        return za, rows, np.arange(rows.size)
    za, hits = lookup.value
    rows, zo = hits.gather(batch.column("tile_row").to_numpy(),
                           batch.column("tile_col").to_numpy())
    return za, rows, zo


@dataclass
class TilePairs:
    """One batch of tile rows flattened to (zone, tile) pairs, each
    with its crop window inside the tile, plus the batch's one grid.
    ``chunks`` are (lo, hi) pair ranges cut between tile rows."""
    zones: ZoneArrays
    tile: np.ndarray     # tile row of each pair
    zone: np.ndarray     # zone ordinal of each pair
    r0: np.ndarray       # crop window rows [r0, r1), cols [c0, c1)
    r1: np.ndarray
    c0: np.ndarray
    c1: np.ndarray
    row0: np.ndarray     # per tile row: tile origin in the grid
    col0: np.ndarray
    grid: dict           # grid_xmin, grid_ymax, dx, dy (float), grid_ncols
    chunks: list

    def chunk(self, lo: int, hi: int) -> dict:
        """The pairs [lo, hi) as the dict batchkernel reads."""
        bj = self.tile[lo:hi]
        return {"zone": self.zone[lo:hi], "tile": bj,
                "r0": self.r0[lo:hi], "r1": self.r1[lo:hi],
                "c0": self.c0[lo:hi], "c1": self.c1[lo:hi],
                "row0": self.row0[bj], "col0": self.col0[bj]}


def tile_pairs(batch: pa.RecordBatch, lookup, chunk_cells: int) -> TilePairs:
    """Pair assembly shared by the zonal and subdivide kernels, for a
    non-empty Arrow batch of tile rows with zone hit-lists.

    Every pair's window is the zone-bbox ∩ tile crop (the reference's
    crop/shrink_to_fit, grid.h:145-238), computed with numpy from the
    zones' parsed bboxes, so kernel work scales with the zone, not the
    tile.  Zones without rings (EMPTY) cover nothing and are dropped.
    Chunks hold at least ``chunk_cells`` window cells each (bounding
    decoded-tile and stream memory); a tile's pairs stay in one chunk.
    All tiles must share one grid (``_GRID_COLS``): tiles were assigned
    to zones with the first tile's grid, so a batch whose tiles
    disagree raises ValueError."""
    mixed = [c for c in _GRID_COLS
             if pc.count_distinct(batch.column(c)).as_py() > 1]
    if mixed:
        raise ValueError(
            "tiles of one extraction must share one grid; these "
            f"columns differ between tiles: {', '.join(mixed)}")
    n_rows = batch.num_rows
    za, prow, zo = pair_zones(batch, lookup)
    g = lambda c: batch.column(c).to_numpy().astype(np.int64)
    nr_a, nc_a, r0_a, c0_a = g("nrows"), g("ncols"), g("row0"), g("col0")
    gx, gy, dx, dy = (float(batch.column(c)[0].as_py()) for c in _GRID_COLS[:4])
    grid = {"grid_xmin": gx, "grid_ymax": gy, "dx": dx, "dy": dy,
            "grid_ncols": int(batch.column("grid_ncols")[0].as_py())}

    live = za.ring_off[zo + 1] > za.ring_off[zo]
    prow, zo = prow[live], zo[live]
    xmin_r = gx + c0_a * dx
    ymax_r = gy - r0_a * dy
    bb = za.bbox[zo]
    xm, ym = xmin_r[prow], ymax_r[prow]
    ncp, nrp = nc_a[prow], nr_a[prow]
    c0z = np.clip(np.floor((bb[:, 0] - xm) / dx), 0, ncp - 1)
    c1z = np.minimum(np.maximum(np.ceil((bb[:, 2] - xm) / dx), c0z + 1), ncp)
    r0z = np.clip(np.floor((ym - bb[:, 3]) / dy), 0, nrp - 1)
    r1z = np.minimum(np.maximum(np.ceil((ym - bb[:, 1]) / dy), r0z + 1), nrp)
    c0z, c1z, r0z, r1z = (a.astype(np.int64) for a in (c0z, c1z, r0z, r1z))

    row_cells = np.bincount(prow, weights=(r1z - r0z) * (c1z - c0z),
                            minlength=n_rows)
    bounds, acc = [0], 0
    for j in range(n_rows):
        acc += row_cells[j]
        if acc >= chunk_cells:
            bounds.append(j + 1)
            acc = 0
    if bounds[-1] != n_rows:
        bounds.append(n_rows)
    pair_lo = np.searchsorted(prow, bounds)
    chunks = [(int(lo), int(hi)) for lo, hi in zip(pair_lo[:-1], pair_lo[1:])
              if lo < hi]
    return TilePairs(za, prow, zo, r0z, r1z, c0z, c1z, r0_a, c0_a, grid, chunks)


def prepare_weight_frame(weight_tiles: DataFrame, grid: dict,
                         tile_size: int) -> DataFrame:
    """Weight tile payloads renamed to the w_* columns the kernel
    consumes, with transparent common-grid handling (reference consumes
    a coarser weight raster lazily via common_grid + RasterView,
    grid.h:278-305, raster.h:327-395): a weight table on a
    different-resolution/offset grid is regridded onto the value grid
    automatically.  Shared by the batch extractor and the streaming
    writer (which prepares it once and joins per micro-batch)."""
    from .regrid import grids_equal, regrid_to
    wmeta = weight_tiles.select(
        "grid_xmin", "grid_ymax", "dx", "dy",
        "grid_nrows", "grid_ncols").first().asDict()
    vgrid = {k: grid.get(k) for k in wmeta}
    if None not in vgrid.values() and not grids_equal(wmeta, vgrid):
        weight_tiles = regrid_to(weight_tiles, vgrid, tile=tile_size)
    wextra = [F.col(c).alias(f"w_{c}") for c in
              ("scale", "offset", "mask_values")
              if c in weight_tiles.columns]
    return weight_tiles.select(
        F.col("tile_row").alias("w_tile_row"), F.col("tile_col").alias("w_tile_col"),
        F.col("values").alias("w_values"), F.col("dtype").alias("w_dtype"),
        F.col("nodata").alias("w_nodata"), *wextra)


def join_weight_frame(tiles: DataFrame, w: DataFrame) -> DataFrame:
    """Left-join prepared w_* payloads onto value tiles (missing weight
    tile → NULL w_values → undefined weighted stats, reference NaN
    semantics)."""
    return tiles.join(
        w, (F.col("tile_row") == F.col("w_tile_row")) &
           (F.col("tile_col") == F.col("w_tile_col")), "left") \
        .drop("w_tile_row", "w_tile_col")


def zone_tile_pairs(zones_bbox: DataFrame, grid: dict, tile: int) -> DataFrame:
    """bbox → covered tile-index range → explode.  Pure JVM expressions;
    Catalyst folds the constants.  Equivalent of Grid::crop +
    subdivide (grid.h:145-238, grid.cpp:92-119) as a relational op."""
    gx, gy = float(grid["grid_xmin"]), float(grid["grid_ymax"])
    dx, dy = float(grid["dx"]), float(grid["dy"])
    ntr = (int(grid["grid_nrows"]) + tile - 1) // tile
    ntc = (int(grid["grid_ncols"]) + tile - 1) // tile
    tw, th = dx * tile, dy * tile

    tc0 = F.greatest(F.lit(0), F.floor((F.col("xmin") - gx) / tw)).cast("int")
    tc1 = F.least(F.lit(ntc - 1), F.floor((F.col("xmax") - gx) / tw - 1e-12)).cast("int")
    tr0 = F.greatest(F.lit(0), F.floor((gy - F.col("ymax")) / th)).cast("int")
    tr1 = F.least(F.lit(ntr - 1), F.floor((gy - F.col("ymin")) / th - 1e-12)).cast("int")

    z = zones_bbox.where((F.col("xmax") > gx) & (F.col("xmin") < gx + ntc * tw) &
                         (F.col("ymax") > gy - ntr * th) & (F.col("ymin") < gy))
    z = z.withColumn("_tr0", tr0).withColumn("_tr1", tr1) \
         .withColumn("_tc0", tc0).withColumn("_tc1", tc1) \
         .where((F.col("_tr1") >= F.col("_tr0")) & (F.col("_tc1") >= F.col("_tc0")))
    return (z.withColumn("tile_row", F.explode(F.sequence("_tr0", "_tr1")))
             .withColumn("tile_col", F.explode(F.sequence("_tc0", "_tc1")))
             .drop("_tr0", "_tr1", "_tc0", "_tc1"))


def _partial_schema(keygroups, passthrough=()) -> T.StructType:
    fields = [T.StructField("zone_id", T.StringType())]
    fields += [T.StructField(c, T.IntegerType()) for c in passthrough]
    for i, (_, req, _) in enumerate(keygroups):
        p = f"k{i}_"
        fields += [T.StructField(p + "n", T.LongType()),
                   T.StructField(p + "sum_c", T.DoubleType()),
                   T.StructField(p + "sum_cx", T.DoubleType())]
        if req.variance:
            fields.append(T.StructField(p + "sum_cx2", T.DoubleType()))
        if req.stable_variance:
            fields += [T.StructField(p + "var_k", T.DoubleType()),
                       T.StructField(p + "var_s", T.DoubleType()),
                       T.StructField(p + "var_m2", T.DoubleType())]
        if req.weighted:
            fields += [T.StructField(p + "sum_cw", T.DoubleType()),
                       T.StructField(p + "sum_cxw", T.DoubleType()),
                       T.StructField(p + "w_undef", T.BooleanType())]
            if req.weighted_variance:
                fields.append(T.StructField(p + "sum_cx2w", T.DoubleType()))
        if req.minmax:
            fields += [T.StructField(p + "min_v", T.DoubleType()),
                       T.StructField(p + "min_cell", T.LongType()),
                       T.StructField(p + "max_v", T.DoubleType()),
                       T.StructField(p + "max_cell", T.LongType())]
            if req.store_xy:
                fields += [T.StructField(p + n, T.DoubleType())
                           for n in ("min_x", "min_y", "max_x", "max_y")]
        if req.histogram:
            # per-pair histogram as three PARALLEL PRIMITIVE ARRAYS.
            # Measured against one flat row per (pair, value) bucket at
            # 150k zones × 16k-cell windows (97 value buckets): 97× the
            # partial rows through the boundary and HashAggregate were
            # 2.5× slower at scale.  The kernel builds each column as
            # one ListArray over the flat bucket stream; the
            # aggregation explodes arrays_zip JVM-side.  NaN inside the
            # arrays stays NaN (the reference's poisoning of weighted
            # bucket sums); a top-level NaN partial is written as NULL.
            fields += [T.StructField(p + "hist_v", T.ArrayType(T.DoubleType())),
                       T.StructField(p + "hist_ci", T.ArrayType(T.DoubleType())),
                       T.StructField(p + "hist_ciw", T.ArrayType(T.DoubleType()))]
        if req.xy_moments or req.xy_change:
            # explicit undefined-y flag: a top-level NaN partial is
            # written as NULL, which sum/max silently skip — same
            # mechanism as w_undef
            fields.append(T.StructField(p + "y_undef", T.BooleanType()))
        if req.xy_moments:
            fields += [T.StructField(p + "sum_cy", T.DoubleType()),
                       T.StructField(p + "sum_cy2", T.DoubleType()),
                       T.StructField(p + "sum_cxy", T.DoubleType())]
        if req.xy_change:
            fields += [T.StructField(p + "chg_c", T.DoubleType()),
                       T.StructField(p + "chg_sd", T.DoubleType()),
                       T.StructField(p + "chg_maxad", T.DoubleType())]
        if req.pair_hist:
            # joint (value, y) histogram as parallel primitive arrays —
            # same per-row C-level Arrow conversion as the value
            # histogram above
            fields += [T.StructField(p + "hist2_v", T.ArrayType(T.DoubleType())),
                       T.StructField(p + "hist2_w", T.ArrayType(T.DoubleType())),
                       T.StructField(p + "hist2_c", T.ArrayType(T.DoubleType()))]
        if req.pair_topk:
            fields += [T.StructField(p + "topk_cell", T.ArrayType(T.LongType())),
                       T.StructField(p + "topk_v", T.ArrayType(T.DoubleType())),
                       T.StructField(p + "topk_cov", T.ArrayType(T.DoubleType()))]
        if req.cells:
            fields.append(T.StructField(p + "cells", _CELLS_T))
    return T.StructType(fields)


def op_keys(keygroups) -> str:
    """The op keys of ``keygroups`` as one canonical string.  Checkpoint
    and stream lineage rows carry it: op lists with the same partial
    columns can differ in their keys (``sum`` and
    ``sum(min_coverage_frac=0.5)`` both write k0_n/k0_sum_c/k0_sum_cx)."""
    return json.dumps([list(k) for k, _, _ in keygroups])


def check_partial_layout(stored: DataFrame, lineage: DataFrame, keygroups) -> None:
    """Raises ValueError unless ``stored`` partial rows (read back from
    a checkpoint or stream sink, lineage columns dropped) were written
    for ``keygroups``: every ``lineage`` row carries this op list's
    op_keys, and the partials have exactly the columns and types
    run_kernel writes for it.  Partials of another op list, or of an
    older partial layout (lineage without op_keys included), must not
    reach the merge."""
    keys = op_keys(keygroups)
    stored_keys = [r[0] for r in lineage.select("op_keys").distinct().collect()] \
        if "op_keys" in lineage.columns else [None]
    other = sorted((k for k in stored_keys if k != keys), key=str)
    want = {f.name: f.dataType.simpleString()
            for f in _partial_schema(keygroups).fields}
    have = {f.name: f.dataType.simpleString() for f in stored.schema.fields}
    missing = sorted(want.keys() - have.keys())
    unexpected = sorted(have.keys() - want.keys())
    retyped = sorted(f"{c} ({have[c]}, expected {want[c]})"
                     for c in want.keys() & have.keys() if have[c] != want[c])
    if missing or unexpected or retyped or other:
        raise ValueError(
            "stored partials do not match this op list (written by another "
            "op list or an older partial layout; recompute them into a "
            f"fresh path): missing columns {missing}, unexpected columns "
            f"{unexpected}, wrong types {retyped}, stored op keys {other}, "
            f"this op list's op keys {keys}")


def _tile_decoder(batch: pa.RecordBatch, pfx: str = ""):
    """Decode parameters of the tile payload columns ``{pfx}values``,
    ``{pfx}dtype``, ``{pfx}nodata`` and the optional on-read transform
    ``{pfx}scale`` (NULL = 1), ``{pfx}offset`` (NULL = 0) and
    ``{pfx}mask_values``, read per row as arrays.  Returns (decode(j)
    -> 2-D values of row j, or None for a NULL payload; the nodata the
    kernel compares against per row).  A transformed
    tile is decoded to float64 with undefined cells already NaN, so its
    kernel nodata is NaN (none)."""
    names = batch.schema.names

    def num(c, null):
        if pfx + c not in names:
            return np.full(batch.num_rows, null)
        return batch.column(pfx + c).fill_null(null).to_numpy()

    nd, sc, of = num("nodata", np.nan), num("scale", 1.0), num("offset", 0.0)
    mk = batch.column(pfx + "mask_values") if pfx + "mask_values" in names else None
    transformed = (sc != 1.0) | (of != 0.0)
    if mk is not None:
        transformed |= mk.is_valid().to_numpy(zero_copy_only=False)
    buf = batch.column(pfx + "values")
    dtypes = batch.column(pfx + "dtype").to_pylist()
    nr, nc = batch.column("nrows").to_numpy(), batch.column("ncols").to_numpy()

    def decode(j):
        if not buf[j].is_valid:
            return None
        m = mk[j] if mk is not None else None
        return decode_value_tile(
            buf[j].as_buffer(), dtypes[j], int(nr[j]), int(nc[j]),
            nodata=None if np.isnan(nd[j]) else float(nd[j]),
            scale=float(sc[j]), offset=float(of[j]),
            mask_buf=m.as_buffer() if m is not None and m.is_valid else None)

    return decode, np.where(transformed, np.nan, nd)


def run_kernel(joined: DataFrame, keygroups, *, geom_lookup=None,
               has_weights: bool, passthrough=(), progress_acc=None) -> DataFrame:
    """mapInArrow kernel: decode tile, compute coverage once, update
    every op-key's accumulator (read-once dedup of shared windows —
    reference feature_sequential_processor.cpp:85-113).  ``joined``
    has one row per tile (join_zone_lists): on the broadcast strategy
    a plain tile row whose zones ``geom_lookup`` — the broadcast
    geometry + tile hit-list CSR of prepare_zones — supplies by
    (tile_row, tile_col); on the shuffle strategy a tile row carrying
    its ``zone_structs``.  ``passthrough`` columns (e.g. tile ids for
    checkpoint lineage) are copied onto every partial row.

    Each Arrow batch is read column-wise: the decode parameters are
    per-row arrays (_tile_decoder), each tile is decoded once, and a
    fused multi-raster scan matches rows to op keys by comparing the
    raster_id column.  Pair assembly (tile_pairs) is vectorized: pairs,
    crop windows and chunks come as numpy arrays, and each chunk goes
    through batchkernel.accumulate_pairs_batch, the one statistics
    path: coverage + statistics for every pair — areal or linear, any
    window size, any op set — are flat numpy streams, and its partial
    rows come back as an Arrow batch of the partial schema, so Python
    dispatch cost is per chunk, not per pair.  Tiles of one batch must
    share one grid (tile_pairs raises ValueError otherwise)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from .batchkernel import CHUNK_CELLS, accumulate_pairs_batch

    schema = _partial_schema(keygroups, passthrough)
    arrow_schema = to_arrow_schema(schema)
    # key[0] is the logical raster name; when the joined rows carry a
    # raster_id column (fused multi-raster scan) each key only consumes
    # rows of its own raster
    key_specs = [(i, req, key[0], dict(
        min_coverage_frac=key[2], coverage_weight=key[3],
        default_value=key[4], default_weight=key[5], bin_width=key[6]))
        for i, (key, req, _) in enumerate(keygroups)]
    rasters = {k[0] for k, _, _ in keygroups}

    def kernel(batches):
        for b in batches:
            n_rows = b.num_rows
            if n_rows == 0:
                continue
            tp = tile_pairs(b, geom_lookup, CHUNK_CELLS)
            decode, nd_row = _tile_decoder(b)
            wdecode, wn_row = _tile_decoder(b, "w_") if has_weights \
                else (None, np.full(n_rows, np.nan))
            match = {r: pc.equal(b.column("raster_id"), r).fill_null(False)
                     .to_numpy(zero_copy_only=False) for r in rasters} \
                if len(rasters) > 1 else None
            pt_rows = np.stack([b.column(c).to_numpy() for c in passthrough], axis=1) \
                if passthrough else np.zeros((n_rows, 0), dtype=np.int32)

            for lo, hi in tp.chunks:
                pairs = tp.chunk(lo, hi)
                bj = pairs["tile"]
                decoded = {j: (decode(j), wdecode(j) if has_weights else None)
                           for j in np.unique(bj).tolist()}
                pairs.update(nodata=nd_row[bj], w_nodata=wn_row[bj], pt=pt_rows[bj],
                             raster_match=None if match is None
                             else {r: m[bj] for r, m in match.items()})
                out = accumulate_pairs_batch(
                    pairs, tp.zones, decoded, key_specs,
                    has_weights=has_weights, passthrough=passthrough,
                    schema=arrow_schema, **tp.grid)
                if out.num_rows:
                    yield out
            if progress_acc is not None:
                progress_acc.add(n_rows)

    return joined.mapInArrow(kernel, schema)


def _histogram_finalize(h: DataFrame, p: str, ops_in_key) -> DataFrame:
    """The one histogram finalize: ONE per-zone aggregation over the
    merged (zone, v, ci, ciw) histogram computes variety / majority /
    minority, the sorted histogram and its sums for unique / frac /
    weighted_frac, and every requested quantile together.  Quantiles
    are the reference's exact weighted quantile, digit-for-digit
    (weighted_quantiles.cpp:21-75: sort distinct values, s_i = i*w_i +
    (n-1)*cumsum_{i-1}, linear interpolation at q*(Σw)*(n-1)) — NOT
    percentile_approx; the histogram is exact and bounded by value
    variety, not cell count.  Their helper columns come from ONE window
    pass, run only when a median or quantile is asked for.  Measured on
    the q_hist bench shape (sf0.1, 32 cores), this shape (explode →
    (zone, v) agg → window → zone agg) took the quantile finalize from
    1.23 s to 0.82 s against persist(h) + a separate per-zone agg + a
    window sub-plan + two joins."""
    stats = {op.stat for op in ops_in_key}
    qops = [op for op in ops_in_key if op.stat in ("median", "quantile")]
    if qops:
        wo = Window.partitionBy("zone_id").orderBy("v")
        wp = Window.partitionBy("zone_id")
        h = h.select(
            "zone_id", "v", "ci", "ciw",
            (F.row_number().over(wo) - 1).alias("i"),
            F.sum("ci").over(wo.rowsBetween(Window.unboundedPreceding, -1))
             .alias("cumprev"),
            F.count("*").over(wp).alias("n"),
            F.sum("ci").over(wp).alias("sw"))
        h = h.select(
            "zone_id", "v", "ci", "ciw",
            (F.col("i") * F.col("ci")
             + (F.col("n") - 1) * F.coalesce(F.col("cumprev"), F.lit(0.0))).alias("s"),
            (F.col("sw") * (F.col("n") - 1)).alias("sn"))
        h = h.select(
            "zone_id", "v", "ci", "ciw", "s", "sn",
            F.lead("v").over(wo).alias("nx"),
            F.lead("s").over(wo).alias("ns"))
    aggs = []
    if "variety" in stats:
        aggs.append(F.count("*").alias(p + "variety"))
    if stats & {"majority", "mode"}:
        aggs.append(F.max_by("v", F.struct("ci", "v")).alias(p + "majority"))
    if "minority" in stats:
        aggs.append(F.min_by("v", F.struct("ci", "v")).alias(p + "minority"))
    if "frac" in stats:
        aggs.append(F.sum("ci").alias(p + "hist_sum_ci"))
    if "weighted_frac" in stats:
        aggs.append(F.sum("ciw").alias(p + "hist_sum_ciw"))
    if stats & {"unique", "frac", "weighted_frac"}:
        aggs.append(F.array_sort(F.collect_list(
            F.struct("v", "ci", "ciw"))).alias(p + "hist_sorted"))
    for op in qops:
        t = F.lit(0.5 if op.stat == "median" else op.q) * F.col("sn")
        hit = (F.col("s") <= t) & (F.col("ns").isNull() | (F.col("ns") > t))
        val = F.when(F.col("ns").isNull(), F.col("v")).otherwise(
            F.col("v") + (t - F.col("s")) * (F.col("nx") - F.col("v"))
            / (F.col("ns") - F.col("s")))
        aggs.append(F.max(F.when(hit, val)).alias(f"{p}q_{op.name}"))
    return h.groupBy("zone_id").agg(*aggs)


def _ieee_div(a: Column, b: Column) -> Column:
    """a / b with the IEEE result for a zero divisor (±inf, or NaN for
    0/0) that the reference's C++ division gives; Spark's ANSI mode
    would fail the query instead.  pow(±0, -1) is ±inf, so a * pow(b,
    -1) is exactly the IEEE quotient when b is a (signed) zero."""
    return F.when(b == 0, a * F.pow(b, -1.0)).otherwise(a / b)


def _python_op_udf(fn, weighted: bool, result_type: str):
    """Custom-op finalizer: calls the user function once per zone with
    masked numpy arrays — the reference PythonOperation contract
    (operation_bindings.cpp:75-99).  Skipped (NULL) for zones with no
    intersecting cells, like the reference never calling the op for
    non-intersecting features."""
    @F.pandas_udf(result_type)
    def u(cells: pd.Series) -> pd.Series:
        out = []
        for c in cells:
            if c is None or len(c) == 0:
                out.append(None)
                continue
            vals = np.ma.masked_array(np.array([e["v"] for e in c], dtype=np.float64))
            cov = np.array([e["cov"] for e in c], dtype=np.float64)
            if weighted:
                w = np.array([e["w"] for e in c], dtype=np.float64)
                r = fn(vals, cov, w)
            else:
                r = fn(vals, cov)
            if isinstance(r, np.ndarray):
                r = r.tolist()
            elif isinstance(r, np.generic):
                r = r.item()
            out.append(r)
        return pd.Series(out, dtype="object")
    return u


def _finalize_exprs(i: int, ops_in_key: list[Op], int_values: bool = False,
                    store_xy: bool = False,
                    dtype_results: bool = False) -> list[Column]:
    """dtype_results: cast cell-valued results (min/max/mode/minority/
    unique/values/median/quantile) to the integer cell dtype — the
    reference's result typing for integer rasters
    (operation.cpp:115-206).  Default float64 keeps ANSI-SQL-comparable
    output."""
    p = f"k{i}_"
    sum_c, sum_cx = F.col(p + "sum_c"), F.col(p + "sum_cx")
    mean = sum_cx / sum_c
    exprs = []
    for op in ops_in_key:
        s = op.stat
        if s == "count":
            e = F.coalesce(sum_c, F.lit(0.0))
        elif s == "sum":
            e = F.coalesce(sum_cx, F.lit(0.0))
        elif s == "mean":
            e = F.when(sum_c > 0, mean)
        elif s == "min":
            e = F.col(p + "mins.v") if store_xy else F.col(p + "min_v_agg")
        elif s == "max":
            e = F.col(p + "maxs.v") if store_xy else F.col(p + "max_v_agg")
        elif s == "min_center_x":
            e = F.col(p + "mins.x")
        elif s == "min_center_y":
            e = F.col(p + "mins.y")
        elif s == "max_center_x":
            e = F.col(p + "maxs.x")
        elif s == "max_center_y":
            e = F.col(p + "maxs.y")
        elif s in ("variance", "stdev", "coefficient_of_variation"):
            if op.stable:
                svw = F.col(p + "svar_w")
                var = F.greatest(F.col(p + "svar_m2") / svw, F.lit(0.0))
                if s == "variance":
                    e = F.when(svw > 0, var)
                elif s == "stdev":
                    e = F.when(svw > 0, F.sqrt(var))
                else:
                    e = F.when(svw > 0, _ieee_div(F.sqrt(var), F.col(p + "svar_mean")))
            else:
                var = F.greatest(F.col(p + "sum_cx2") / sum_c - mean * mean, F.lit(0.0))
                if s == "variance":
                    e = F.when(sum_c > 0, var)
                elif s == "stdev":
                    e = F.when(sum_c > 0, F.sqrt(var))
                else:
                    e = F.when(sum_c > 0, _ieee_div(F.sqrt(var), mean))
        elif s == "weighted_count":
            # any merged partial with an undefined weight (no default)
            # makes the weighted stats undefined (reference NaN
            # propagation, raster_stats.h:252-296)
            wok = ~F.coalesce(F.col(p + "w_undef"), F.lit(False))
            e = F.when(wok, F.coalesce(F.col(p + "sum_cw"), F.lit(0.0)))
        elif s == "weighted_sum":
            wok = ~F.coalesce(F.col(p + "w_undef"), F.lit(False))
            e = F.when(wok, F.coalesce(F.col(p + "sum_cxw"), F.lit(0.0)))
        elif s == "weighted_mean":
            wok = ~F.coalesce(F.col(p + "w_undef"), F.lit(False))
            e = F.when(wok & (F.col(p + "sum_cw") != 0),
                       F.col(p + "sum_cxw") / F.col(p + "sum_cw"))
        elif s in ("weighted_variance", "weighted_stdev"):
            wok = ~F.coalesce(F.col(p + "w_undef"), F.lit(False))
            wmean = F.col(p + "sum_cxw") / F.col(p + "sum_cw")
            wvar = F.greatest(F.col(p + "sum_cx2w") / F.col(p + "sum_cw") - wmean * wmean,
                              F.lit(0.0))
            e = F.when(wok & (F.col(p + "sum_cw") != 0),
                       wvar if s == "weighted_variance" else F.sqrt(wvar))
        elif s == "variety":
            e = F.coalesce(F.col(p + "variety"), F.lit(0).cast("long"))
        elif s in ("majority", "mode"):
            e = F.col(p + "majority")
        elif s == "minority":
            e = F.col(p + "minority")
        elif s == "unique":
            e = F.expr(f"transform({p}hist_sorted, s -> s.v)")
        elif s in ("frac", "weighted_frac"):
            f, tot = ("ci", "hist_sum_ci") if s == "frac" else ("ciw", "hist_sum_ciw")
            e = F.transform(F.col(p + "hist_sorted"),
                            lambda h: _ieee_div(h[f], F.col(p + tot)))
        elif s in ("median", "quantile"):
            e = F.col(f"{p}q_{op.name}")
            if int_values:
                # result type is the cell type (operation.cpp:115-206):
                # interpolated quantiles truncate toward zero for integer
                # rasters, like the reference's static_cast<T>
                e = e.cast("long").cast("double")
        elif s == "values":
            e = F.expr(f"transform({p}cells_sorted, s -> s.v)")
        elif s == "coverage":
            e = F.expr(f"transform({p}cells_sorted, s -> s.cov)")
        elif s == "weights":
            e = F.expr(f"transform({p}cells_sorted, s -> s.w)")
        elif s == "center_x":
            e = F.expr(f"transform({p}cells_sorted, s -> s.x)")
        elif s == "center_y":
            e = F.expr(f"transform({p}cells_sorted, s -> s.y)")
        elif s == "cell_id":
            e = F.expr(f"transform({p}cells_sorted, s -> s.cell_id)")
        elif s == "python":
            e = _python_op_udf(op.fn, op.weights is not None, op.result_type)(
                F.col(p + "cells_sorted"))
        else:
            raise ValueError(f"unhandled stat {s}")
        if dtype_results:
            if s in ("min", "max", "majority", "mode", "minority",
                     "median", "quantile"):
                e = e.cast("long")
            elif s in ("unique", "values"):
                e = F.transform(e, lambda x: x.cast("long"))
        exprs.append(e.alias(op.name))
    return exprs


class ZonalExtractor:
    """Reusable extraction context: zone bboxes, geometry broadcast and
    the tile⋈zone-list join are prepared once — on the broadcast
    strategy in one Spark job (the prepare_zones collect);
    ``extract(ops)`` can then run many op-sets against the same join
    (the reference reuses one processor across its Operation list the
    same way)."""

    def __init__(self, zones: DataFrame, tiles: DataFrame, *,
                 weight_tiles: DataFrame | None = None,
                 strategy: str = "auto",
                 grid: dict | None = None,
                 tile_size: int | None = None,
                 persist_joined: bool = False):
        grid, tile_size = resolve_grid(tiles, grid, tile_size)
        # CRS validation (reference exact_extract.py:297-360): a zones
        # table may carry a constant `crs` column; raster CRS comes from
        # the grid dict or a tile-table `crs` column.  Mismatches warn —
        # like the reference — because coordinates are not reprojected
        # anywhere in the engine.
        _warn_on_crs_mismatch(_table_crs(zones), tiles, grid, weight_tiles)
        values_dtype = grid.get("dtype")
        if values_dtype is None:
            values_dtype = tiles.select("dtype").first()[0]
        # scale/offset produce float values regardless of storage dtype,
        # so integer-raster result semantics (quantile truncation) are off
        self.int_values = np.dtype(values_dtype).kind in "iu" \
            and "scale" not in tiles.columns
        self.has_weights = weight_tiles is not None

        # zone prep is op-independent: parse once and cache it (used by
        # the one collect that feeds the geometry broadcast and the tile
        # hit-lists, AND by the final left join).  _zone_ord records the
        # input row order for preserve_order output (the reference's
        # pandas writer reindexes to the input GeoDataFrame,
        # exact_extract.py:497-501).
        prep = prepare_zones(zones, strategy, grid=grid, tile=tile_size,
                             with_ord=True, persist=True)
        self._prep = prep
        self.zones_b = prep.zones_b
        self.strategy = prep.strategy
        self.geom_lookup = prep.lookup

        tiles_in = tiles
        if self.has_weights:
            w = prepare_weight_frame(weight_tiles, grid, tile_size)
            tiles_in = join_weight_frame(tiles, w)

        # ship each tile payload across the JVM->Arrow boundary exactly
        # once: broadcast strategy, tiles are filtered to the hit keys
        # and the kernel gathers their zones from the broadcast CSR;
        # shuffle strategy, the lists are grouped BEFORE joining, so
        # each tile payload crosses the shuffle exactly once (joining
        # raw pairs would copy the payload once per matching zone — at
        # a 100k-zone hot tile that is GBs of duplication).
        self.joined = join_zone_lists(tiles_in, prep)
        self._joined_persisted = persist_joined
        if persist_joined:
            # materialize the tile⋈zone-list join once: repeated
            # extract() calls then skip the per-query join
            self.joined = self.joined.persist()

    def extract(self, ops, *, include_cols: list[str] | None = None,
                frac_as_map: bool = False, undefined: str = "null",
                dtype_results: bool = False, preserve_order: bool = False,
                compat: bool = False, _progress_acc=None) -> DataFrame:
        """Run an op list against the prepared join.

        frac_as_map: return each frac/weighted_frac column as a
          map<value, fraction> instead of parallel arrays, auto-adding
          the hidden unique op the reference adds
          (exact_extract.py:251-265).
        undefined: "null" (SQL-native, default) or "nan" — the
          reference writes NaN for undefined scalar statistics
          (test_exact_extract.py NaN expectations).
        dtype_results: return min/max/mode/minority/unique/values/
          median/quantile in the CELL dtype for integer rasters
          (operation.cpp:115-206) instead of float64.
        preserve_order: sort the output to the zones input row order
          (the reference's pandas writer reindexes to the input
          GeoDataFrame, exact_extract.py:497-501).  Default off: an
          unordered result avoids a full sort of the final (small)
          per-zone table.
        compat: reference-compatibility preset — turns on
          dtype_results, undefined="nan" and preserve_order, so output
          rows look like the reference's pandas output."""
        import dataclasses

        if compat:
            dtype_results = True
            undefined = "nan"
            preserve_order = True

        if not hasattr(self, "_caches"):
            # persisted intermediates (partials / merged histograms)
            # accumulated across extract() calls, released by close()
            # (ADVICE r5: they leaked for the session lifetime)
            self._caches = []
        wname = "weights" if self.has_weights else None
        op_list = parse_ops(ops, weights=wname) \
            if not all(isinstance(o, Op) for o in ops) else list(ops)
        frac_ops = [o for o in op_list if o.stat in ("frac", "weighted_frac")]
        uniq_of: dict = {}
        if frac_as_map and frac_ops:
            for o in op_list:
                if o.stat == "unique":
                    uniq_of[o.key] = o.name
            hidden = []
            for n, key in enumerate({o.key for o in frac_ops}):
                if key not in uniq_of:
                    proto = next(o for o in frac_ops if o.key == key)
                    h = dataclasses.replace(proto, stat="unique",
                                            name=f"__unique_{n}")
                    hidden.append(h)
                    uniq_of[key] = h.name
            op_list = op_list + hidden
        keygroups = group_ops_by_key(op_list)
        inc = list(include_cols or [])
        res = _assemble(self.zones_b, self.joined, keygroups,
                        geom_lookup=self.geom_lookup, has_weights=self.has_weights,
                        int_values=self.int_values,
                        include_cols=inc + (["_zone_ord"] if preserve_order else []),
                        dtype_results=self.int_values and dtype_results,
                        progress_acc=_progress_acc,
                        cache_registry=self._caches)
        if preserve_order:
            res = res.orderBy("_zone_ord").drop("_zone_ord")
        if frac_as_map and frac_ops:
            for o in frac_ops:
                res = res.withColumn(o.name, F.map_from_arrays(
                    F.col(uniq_of[o.key]), F.col(o.name)))
            res = res.drop(*[n for n in uniq_of.values()
                             if n.startswith("__unique_")])
        if undefined == "nan":
            # the reference writes NaN (not null) for undefined scalar
            # STATISTICS — zone_id / include_cols attributes keep their
            # legitimate NULLs.  dtype_results LongType columns cannot
            # hold NaN; they stay SQL NULL, which toPandas() renders as
            # a float64 column with NaN — exactly what the reference's
            # pandas output does when an integer-typed stat has missing
            # features (pandas has no nullable-int default either).
            op_names = {o.name for o in op_list}
            for f in res.schema.fields:
                if f.name in op_names and isinstance(f.dataType, T.DoubleType):
                    res = res.withColumn(
                        f.name, F.coalesce(F.col(f.name), F.lit(float("nan"))))
        return res

    def extract_collect(self, ops, *, progress=None, poll_interval: float = 0.5,
                        **kw) -> list:
        """Materialize results with a driver-side progress callback —
        the reference's progress reporting for plain (non-checkpointed)
        extraction (processor.h:124-136).  ``progress(fraction,
        message)`` is invoked from a monitor thread as tile rows
        complete; fraction reaches 1.0 when the action finishes."""
        if progress is None:
            return self.extract(ops, **kw).collect()
        import threading

        spark = self.zones_b.sparkSession
        acc = spark.sparkContext.accumulator(0)
        # the tile-row total only depends on the prepared join — compute
        # it once per extractor, not once per progress-enabled call
        if not hasattr(self, "_joined_total"):
            self._joined_total = self.joined.count()
        total = max(self._joined_total, 1)
        df = self.extract(ops, _progress_acc=acc, **kw)
        done = threading.Event()

        def monitor():
            last = -1
            while not done.wait(poll_interval):
                v = min(acc.value, total)
                if v != last:
                    progress(v / total, f"{v}/{total} tiles")
                    last = v

        t = threading.Thread(target=monitor, daemon=True)
        t.start()
        try:
            rows = df.collect()
        finally:
            done.set()
            t.join(timeout=2 * poll_interval)
        progress(1.0, f"{total}/{total} tiles")
        return rows

    def close(self) -> None:
        """Release cached state (zone table, pair join, geometry
        broadcast).  Long-lived sessions that build many extractors
        should call this (or use the context manager) once the last
        result derived from this extractor has been materialized."""
        self._prep.unpersist()
        for df in getattr(self, "_caches", ()):
            df.unpersist()
        if self._joined_persisted:
            self.joined.unpersist()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
        return False


def exact_extract(zones: DataFrame, tiles: DataFrame, ops, *,
                  weight_tiles: DataFrame | None = None,
                  include_cols: list[str] | None = None,
                  strategy: str = "auto",
                  grid: dict | None = None,
                  tile_size: int | None = None,
                  frac_as_map: bool = False,
                  undefined: str = "null",
                  dtype_results: bool = False,
                  preserve_order: bool = False,
                  compat: bool = False) -> DataFrame:
    """Compute zonal statistics — the engine's primary entry point
    (reference: python exact_extract,
    /root/reference/python/src/exactextract/exact_extract.py:363-502).

    zones: (zone_id string, geometry WKT string, ...).  Rows sharing a
           zone_id are one zone made of several geometries: each row's
           geometry contributes its own cells and the statistics merge
           them (cells covered by two rows count twice), on either
           strategy; the output has one row per input row, each
           carrying the merged statistics.
    tiles: tile table from io.tiles_from_docs (or equivalent schema)
    ops:   list of stat descriptors / Op objects (ops.parse_ops)
    frac_as_map / undefined / dtype_results: see ZonalExtractor.extract
    """
    return ZonalExtractor(zones, tiles, weight_tiles=weight_tiles,
                          strategy=strategy, grid=grid, tile_size=tile_size) \
        .extract(ops, include_cols=include_cols, frac_as_map=frac_as_map,
                 undefined=undefined, dtype_results=dtype_results,
                 preserve_order=preserve_order, compat=compat)


def _assemble(zones_b, joined, keygroups, *, geom_lookup, has_weights,
              int_values, include_cols, dtype_results=False, progress_acc=None,
              cache_registry=None):
    partials = run_kernel(joined, keygroups, geom_lookup=geom_lookup,
                          has_weights=has_weights, progress_acc=progress_acc)
    return aggregate_partials(zones_b, partials, keygroups,
                              int_values=int_values, include_cols=include_cols,
                              dtype_results=dtype_results,
                              cache_registry=cache_registry)


def aggregate_partials(zones_b, partials, keygroups, *, int_values=False,
                       include_cols=None, dtype_results=False,
                       cache_registry=None):
    """Merge partial states into final per-zone statistics.  Separated
    from the kernel so checkpoint/resume can merge stored partials
    (checkpoint.py) — the RasterStats::combine stage."""
    # --- scalar aggregation (partial+final merge; RasterStats::combine
    # analog, raster_stats.h:107-155).  Only the state the requested ops
    # actually read is aggregated — pure-histogram/array queries skip
    # the scalar branch (and its shuffle) entirely. ---
    _SCALAR_STATS = {"count", "sum", "mean", "variance", "stdev",
                     "coefficient_of_variation", "weighted_count", "weighted_sum",
                     "weighted_mean", "weighted_variance", "weighted_stdev"}
    # Persist the partials whenever a histogram/cells branch consumes
    # them — even single-consumer.  Measured at 150k zones × 97 value
    # buckets (local[16]): WITHOUT the persist, Catalyst fuses
    # the kernel map → explode → partial HashAggregate into one stage and
    # the histogram query runs 2× slower (34–49 s vs 17 s); cutting
    # the stage at the compact per-pair rows lets the Python kernel
    # stage and the explode+aggregate stage each run clean.  The
    # stable-variance window is a second consumer next to the scalar
    # aggregation: without the persist each would run the kernel.
    if any(req.histogram or req.cells or req.stable_variance
           for _, req, _ in keygroups):
        partials = partials.persist()
        if cache_registry is not None:
            cache_registry.append(partials)

    aggs = []
    for i, (_, req, ops_in_key) in enumerate(keygroups):
        p = f"k{i}_"
        needs_scalar = any(o.stat in _SCALAR_STATS for o in ops_in_key)
        if not (needs_scalar or req.minmax):
            continue
        aggs += [F.sum(p + "n").alias(p + "n"),
                 F.sum(p + "sum_c").alias(p + "sum_c"),
                 F.sum(p + "sum_cx").alias(p + "sum_cx")]
        if req.variance:
            aggs.append(F.sum(p + "sum_cx2").alias(p + "sum_cx2"))
        if req.weighted:
            aggs += [F.sum(p + "sum_cw").alias(p + "sum_cw"),
                     F.sum(p + "sum_cxw").alias(p + "sum_cxw"),
                     F.max(p + "w_undef").alias(p + "w_undef")]
            if req.weighted_variance:
                aggs.append(F.sum(p + "sum_cx2w").alias(p + "sum_cx2w"))
        if req.minmax and not req.store_xy:
            # plain min/max need no tie-break state — scalar min/max
            # keeps the merge in whole-stage-codegen HashAggregate
            # (struct-valued min/max forces SortAggregate)
            aggs.append(F.min(p + "min_v").alias(p + "min_v_agg"))
            aggs.append(F.max(p + "max_v").alias(p + "max_v_agg"))
        elif req.minmax:
            xy_min = [F.col(p + "min_x").alias("x"), F.col(p + "min_y").alias("y")]
            xy_max = [F.col(p + "max_x").alias("x"), F.col(p + "max_y").alias("y")]
            # ties resolve to lowest cell_id = first-seen in row-major
            # scan order (raster_stats.h:299-311)
            aggs.append(F.min(F.when(F.col(p + "min_v").isNotNull(), F.struct(
                F.col(p + "min_v").alias("v"), F.col(p + "min_cell").alias("cell"),
                *xy_min))).alias(p + "mins"))
            aggs.append(F.max(F.when(F.col(p + "max_v").isNotNull(), F.struct(
                F.col(p + "max_v").alias("v"), (-F.col(p + "max_cell")).alias("negcell"),
                *xy_max))).alias(p + "maxs"))
    result = zones_b.select("zone_id", *(include_cols or []))
    if aggs:
        scalar = partials.groupBy("zone_id").agg(*aggs)
        result = result.join(scalar, "zone_id", "left")

    # --- stable-variance branch: pivot-shifted pair states (var_k = K,
    # var_s = Σc(x-K), var_m2 = Σc((x-K) - s/w)², w = sum_c) merged in
    # SQL (Chan, Golub & LeVeque 1983): W = Σw, M = (Σw·K + Σs)/W, and
    # M2 = Σ(m2 + w·((K-M) + s/w)²).  K - M is exact for nearby values,
    # and M's rounding enters M2 only at second order. ---
    for i, (_, req, _) in enumerate(keygroups):
        p = f"k{i}_"
        if req.stable_variance:
            wz = Window.partitionBy("zone_id")
            w, k, s = F.col("w"), F.col("k"), F.col("s")
            sv = (partials.where(F.col(p + "var_k").isNotNull())
                  .select("zone_id", F.col(p + "sum_c").alias("w"),
                          F.col(p + "var_k").alias("k"),
                          F.col(p + "var_s").alias("s"),
                          F.col(p + "var_m2").alias("m2"))
                  .withColumn("tw", F.sum(w).over(wz))
                  .withColumn("mean", (F.sum(w * k).over(wz) + F.sum(s).over(wz))
                              / F.col("tw"))
                  .withColumn("d", (k - F.col("mean")) + s / w)
                  .groupBy("zone_id")
                  .agg(F.first("tw").alias(p + "svar_w"),
                       F.first("mean").alias(p + "svar_mean"),
                       F.sum(F.col("m2") + w * F.col("d") * F.col("d"))
                       .alias(p + "svar_m2")))
            result = result.join(sv, "zone_id", "left")

    # --- histogram branch: per-pair parallel arrays explode JVM-SIDE
    # (arrays_zip + explode are whole-stage-codegen generators over the
    # small per-pair row set), then merge key-wise (mergeable
    # histogram; raster_stats.h:752-757 merged as in combine()).  NaN
    # weighted sums propagate through F.sum (NaN is a value, not NULL,
    # in Spark SQL — reference NaN poisoning).  Only the aggregates
    # the requested ops actually read are built: without a
    # sorted-histogram consumer the per-zone agg stays a cheap scalar
    # aggregation instead of an ObjectHashAggregate collect_list. ---
    for i, (_, req, ops_in_key) in enumerate(keygroups):
        p = f"k{i}_"
        if req.histogram:
            h = (partials.where(F.col(p + "hist_v").isNotNull())
                 .select("zone_id", F.explode(F.arrays_zip(
                     F.col(p + "hist_v").alias("v"),
                     F.col(p + "hist_ci").alias("ci"),
                     F.col(p + "hist_ciw").alias("ciw"))).alias("h"))
                 .groupBy("zone_id", F.col("h.v").alias("v"))
                 .agg(F.sum("h.ci").alias("ci"), F.sum("h.ciw").alias("ciw")))
            result = result.join(_histogram_finalize(h, p, ops_in_key),
                                 "zone_id", "left")
        if req.cells:
            cz = (partials.select("zone_id", F.explode(p + "cells").alias("c"))
                  .groupBy("zone_id")
                  .agg(F.array_sort(F.collect_list(F.struct(
                      "c.cell_id", "c.v", "c.cov", "c.w", "c.x", "c.y"))).alias(p + "cells_sorted")))
            result = result.join(cz, "zone_id", "left")

    final_cols = [F.col("zone_id"), *[F.col(c) for c in (include_cols or [])]]
    for i, (_, req, ops_in_key) in enumerate(keygroups):
        final_cols += _finalize_exprs(i, ops_in_key, int_values, req.store_xy,
                                      dtype_results)
    return result.select(*final_cols)
