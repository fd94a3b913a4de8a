"""Zone prep: the numpy tile hit-lists (extract.tile_hits) against the
relational explode (extract.zone_tile_pairs), the jobs a fresh
extractor runs, and zones that share a zone_id."""

import uuid

import numpy as np
import pytest

from exactextract_spark.extract import (ZonalExtractor, attach_bbox, exact_extract,
                                        prepare_zones, run_kernel, tile_hits,
                                        zone_tile_pairs)
from exactextract_spark.io import tiles_from_array
from exactextract_spark.ops import FLT_MIN, StatRequirements
from exactextract_spark.spatial import point_in_polygon
from exactextract_spark.subdivide import subdivide

from conftest import rect_wkt

_BBOX = ("xmin", "ymin", "xmax", "ymax")


def _hit_set(h):
    rows = np.repeat(h.tile_row, np.diff(h.off))
    cols = np.repeat(h.tile_col, np.diff(h.off))
    return set(zip(rows.tolist(), cols.tolist(), h.zone.tolist()))


def _spark_pairs(spark, bbox, grid, tile):
    data = [(i, *[None if np.isnan(v) else float(v) for v in b])
            for i, b in enumerate(bbox)]
    df = spark.createDataFrame(
        data, "zone long, xmin double, ymin double, xmax double, ymax double")
    return {(r.tile_row, r.tile_col, r.zone)
            for r in zone_tile_pairs(df, grid, tile).collect()}


def _fuzz_bboxes(rng, grid, tile, n):
    """Bboxes that stress the tile-range arithmetic: edges on tile
    boundaries and one ulp either side (where the 1e-12 nudge
    decides), bboxes overflowing or outside the grid, EMPTY (inverted
    infinities), NULL, degenerate and free-floating ones."""
    gx, gy, dx, dy = grid["grid_xmin"], grid["grid_ymax"], grid["dx"], grid["dy"]
    tw, th = dx * tile, dy * tile
    ntc = -(-grid["grid_ncols"] // tile)
    ntr = -(-grid["grid_nrows"] // tile)
    w, h = ntc * tw, ntr * th

    def xs(k):
        kind = rng.integers(0, 4, k)
        v = gx + rng.uniform(-0.3, 1.3, k) * w
        edge = gx + rng.integers(-1, ntc + 2, k) * tw
        v = np.where(kind == 1, edge, v)
        v = np.where(kind == 2, np.nextafter(edge, np.inf), v)
        return np.where(kind == 3, np.nextafter(edge, -np.inf), v)

    def ys(k):
        kind = rng.integers(0, 4, k)
        v = gy - rng.uniform(-0.3, 1.3, k) * h
        edge = gy - rng.integers(-1, ntr + 2, k) * th
        v = np.where(kind == 1, edge, v)
        v = np.where(kind == 2, np.nextafter(edge, np.inf), v)
        return np.where(kind == 3, np.nextafter(edge, -np.inf), v)

    x = np.sort(np.stack([xs(n), xs(n)], axis=1), axis=1)
    y = np.sort(np.stack([ys(n), ys(n)], axis=1), axis=1)
    bbox = np.stack([x[:, 0], y[:, 0], x[:, 1], y[:, 1]], axis=1)
    special = np.array([
        [np.inf, np.inf, -np.inf, -np.inf],          # EMPTY
        [np.nan, np.nan, np.nan, np.nan],            # NULL bbox
        [gx - 5 * w, gy - 5 * h, gx + 5 * w, gy + 5 * h],  # overflows
        [gx + 2 * w, gy - h / 2, gx + 3 * w, gy],    # right of the grid
        [gx, gy, gx + tw, gy + th],                  # above the grid
        [gx, gy - th, gx + tw, gy],                  # exactly one tile
        [gx + tw, gy - 2 * th, gx + tw, gy - th],    # zero width, on an edge
        [-1e300, -1e300, 1e300, 1e300],
    ])
    return np.concatenate([bbox, special])


GRIDS = [
    # non-integer origin, dx != dy, partial edge tiles
    (dict(grid_xmin=-13.37, grid_ymax=50.3, dx=0.3, dy=0.7,
          grid_nrows=61, grid_ncols=45), 8),
    (dict(grid_xmin=0.0, grid_ymax=64.0, dx=1.0, dy=1.0,
          grid_nrows=64, grid_ncols=64), 16),
    (dict(grid_xmin=0.1, grid_ymax=-0.2, dx=0.1, dy=0.25,
          grid_nrows=10, grid_ncols=37), 7),
    (dict(grid_xmin=1e5 + 0.5, grid_ymax=2e5, dx=30.0, dy=2.5,
          grid_nrows=5, grid_ncols=3), 64),     # one tile
]


@pytest.mark.parametrize("gi", range(len(GRIDS)))
def test_tile_hits_equals_zone_tile_pairs(spark, gi):
    grid, tile = GRIDS[gi]
    rng = np.random.default_rng(100 + gi)
    bbox = _fuzz_bboxes(rng, grid, tile, 600)
    h = tile_hits(bbox, grid, tile)
    assert np.all(np.diff(h.key) > 0)
    want = _spark_pairs(spark, bbox, grid, tile)
    assert want, "fuzz produced no pairs"
    assert _hit_set(h) == want
    # ordinals ascend within each tile
    for k in range(len(h.key)):
        z = h.zone[h.off[k]:h.off[k + 1]]
        assert np.all(np.diff(z) > 0)


def test_tile_hits_gather_by_key():
    grid, tile = GRIDS[0]
    bbox = _fuzz_bboxes(np.random.default_rng(7), grid, tile, 200)
    h = tile_hits(bbox, grid, tile)
    # query tiles in scrambled order, plus tiles nobody hits
    q = np.random.default_rng(8).permutation(len(h.key))
    rows = np.concatenate([h.tile_row[q], [9999, -1]])
    cols = np.concatenate([h.tile_col[q], [0, 5]])
    qi, zone = h.gather(rows, cols)
    assert np.all(np.diff(qi) >= 0)
    got = set(zip(rows[qi].tolist(), cols[qi].tolist(), zone.tolist()))
    assert got == _hit_set(h)
    empty = tile_hits(np.zeros((0, 4)), grid, tile)
    assert empty.key.size == 0
    assert [a.size for a in empty.gather(rows, cols)] == [0, 0]


def test_tile_filter_keeps_the_hit_tiles(spark):
    """The job-free tile predicate keeps exactly the hit tiles, or a
    superset of them inside the lattice when its bitmap is coarsened."""
    grid, tile = GRIDS[0]
    rng = np.random.default_rng(9)
    x = grid["grid_xmin"] + rng.uniform(0, grid["grid_ncols"] * grid["dx"], 9)
    y = grid["grid_ymax"] - rng.uniform(0, grid["grid_nrows"] * grid["dy"], 9)
    h = tile_hits(np.stack([x, y - 2, x + 2, y], axis=1), grid, tile)
    cells = [(r, c) for r in range(-2, h.ntr + 2) for c in range(-2, h.ntc + 2)]
    tiles = spark.createDataFrame(cells + [(0, 2**31 - 1), (2**31 - 1, 0)],
                                  "tile_row int, tile_col int")
    hit = set(zip(h.tile_row.tolist(), h.tile_col.tolist()))
    assert 0 < len(hit) < h.ntr * h.ntc
    assert {tuple(r) for r in tiles.where(h.tile_filter()).collect()} == hit
    none = tile_hits(np.zeros((0, 4)), grid, tile)
    assert tiles.where(none.tile_filter()).count() == 0


def test_tile_filter_coarsens_a_wide_key_span(spark):
    """Hit keys 5 and 1,000,000 of a one-row lattice 2**20 tiles wide
    span more keys than the bitmap literal holds (4 per hex digit), so
    each bit covers a run of 4 keys: the filter keeps both runs and
    nothing else."""
    grid = dict(grid_xmin=0.0, grid_ymax=1.0, dx=1.0, dy=1.0,
                grid_nrows=1, grid_ncols=2**20)
    h = tile_hits(np.array([[5.2, 0.2, 5.8, 0.8],
                            [1e6 + 0.2, 0.2, 1e6 + 0.8, 0.8]]), grid, 1)
    assert h.key.tolist() == [5, 1_000_000]
    cols = [*range(-2, 13), *range(999_990, 2**20 + 2), 500_000]
    cells = [(r, c) for r in (-1, 0, 1) for c in cols]
    tiles = spark.createDataFrame(cells, "tile_row int, tile_col int")
    kept = {tuple(r) for r in tiles.where(h.tile_filter()).collect()}
    assert kept == {(0, c) for c in (5, 6, 7, 8, *range(999_997, 1_000_001))}


def test_caller_supplied_bbox_drives_the_hit_lists(spark):
    """A zone table that already carries xmin..ymax keeps them: the
    hit-lists follow those columns, not the parsed geometry's bbox."""
    grid, tile = GRIDS[0]
    rng = np.random.default_rng(11)
    bbox = _fuzz_bboxes(rng, grid, tile, 80)
    bbox = bbox[np.isfinite(bbox).all(axis=1)]
    rows = [(f"z{i}", rect_wkt(0, 0, 1, 1), *map(float, b))
            for i, b in enumerate(bbox)]
    zones = spark.createDataFrame(
        rows, "zone_id string, geometry string, xmin double, ymin double, "
              "xmax double, ymax double")
    prep = prepare_zones(zones, "broadcast", grid=grid, tile=tile)
    try:
        ords = {z: i for i, z in enumerate(prep.lookup.value[0].zone_id)}
        want = {(r.tile_row, r.tile_col, ords[r.zone_id]) for r in
                zone_tile_pairs(attach_bbox(zones), grid, tile).collect()}
        assert want and _hit_set(prep.hits) == want
    finally:
        prep.unpersist()


def _zonal_input(spark):
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 100, (48, 40)).astype(np.float64)
    tiles = tiles_from_array(spark, arr, tile=8).cache()
    tiles.count()
    zs = []
    for i in range(40):
        x, y = rng.uniform(0, 36, 2)
        w, h = rng.uniform(0.5, 12, 2)
        zs.append((f"z{i}", rect_wkt(x, y, x + w, y + h)))
    zones = spark.createDataFrame(zs, ["zone_id", "geometry"])
    grid = dict(grid_xmin=0.0, grid_ymax=48.0, dx=1.0, dy=1.0, grid_nrows=48,
                grid_ncols=40, tile=8, dtype="float64")
    return tiles, zones, grid


def test_filtered_tiles_gather_every_pair(spark):
    """The (tile, zone) pairs the broadcast kernel sees — TileHits.gather
    over the tiles tile_filter keeps — are exactly the relational
    explode's pairs, counted and compared as sets."""
    tiles, zones, grid = _zonal_input(spark)
    prep = prepare_zones(zones, "broadcast", grid=grid, tile=8)
    try:
        kept = tiles.where(prep.hits.tile_filter()) \
                    .select("tile_row", "tile_col").collect()
        rows = np.array([r.tile_row for r in kept])
        cols = np.array([r.tile_col for r in kept])
        qi, zo = prep.hits.gather(rows, cols)
        ids = prep.lookup.value[0].zone_id
        got = list(zip(rows[qi].tolist(), cols[qi].tolist(), ids[zo].tolist()))
        want = zone_tile_pairs(prep.zones_b, grid, 8) \
            .select("tile_row", "tile_col", "zone_id").collect()
        assert len(got) == len(want) > 40
        assert set(got) == {tuple(r) for r in want}
    finally:
        prep.unpersist()
        tiles.unpersist()


def test_fresh_extractor_job_counts(spark):
    """Broadcast strategy: a fresh extractor runs ONE job (the zone
    collect), and extractor + one count/sum query at most 4 (11 before
    the hit-lists moved to numpy).  The tiles reach the kernel with no
    join and no per-tile collect_list, and close() leaves no persisted
    RDD behind."""
    sc = spark.sparkContext
    tiles, zones, grid = _zonal_input(spark)
    persisted = sc._jsc.getPersistentRDDs().size()
    tracker = sc.statusTracker()
    ctor, query = (f"zone-prep-{uuid.uuid4().hex}" for _ in range(2))
    try:
        sc.setJobGroup(ctor, "fresh extractor")
        ext = ZonalExtractor(zones, tiles, grid=grid)
        sc.setJobGroup(query, "count/sum")
        rows = ext.extract(["count", "sum"]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    try:
        assert ext.strategy == "broadcast"
        assert len(tracker.getJobIdsForGroup(ctor)) == 1
        assert len(tracker.getJobIdsForGroup(ctor)) \
            + len(tracker.getJobIdsForGroup(query)) <= 4
        plan = ext.joined._jdf.queryExecution().optimizedPlan().toString()
        assert "collect_list" not in plan and "Join" not in plan
        assert len(rows) == 40
    finally:
        ext.close()
        tiles.unpersist()
    assert sc._jsc.getPersistentRDDs().size() == persisted - 1


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_duplicate_zone_ids_use_each_rows_geometry(spark, strategy):
    """Two rows share zone_id "a": one-cell squares over values 1 and
    16.  Each row's geometry counts on both strategies (count 2, sum
    17), and every input row gets the merged statistics."""
    arr = np.arange(1, 17, dtype=np.float64).reshape(4, 4)
    tiles = tiles_from_array(spark, arr, tile=2)
    zones = spark.createDataFrame(
        [("a", rect_wkt(0, 3, 1, 4)), ("a", rect_wkt(3, 0, 4, 1)),
         ("b", rect_wkt(1, 1, 3, 3))], ["zone_id", "geometry"])
    got = sorted(tuple(r) for r in exact_extract(
        zones, tiles, ["count", "sum"], strategy=strategy).collect())
    assert got == [("a", 2.0, 17.0), ("a", 2.0, 17.0), ("b", 4.0, 34.0)]

    pieces = sorted((r.zone_id, r.cell_id, r.coverage) for r in subdivide(
        zones, tiles, strategy=strategy).collect())
    assert pieces == [("a", 0, 1.0), ("a", 15, 1.0), ("b", 5, 1.0),
                      ("b", 6, 1.0), ("b", 9, 1.0), ("b", 10, 1.0)]

    pts = spark.createDataFrame([(1, 0.5, 3.5), (2, 3.5, 0.5), (3, 2.5, 1.5)],
                                ["point_id", "x", "y"])
    lim = 100 if strategy == "broadcast" else 0
    hits = sorted(tuple(r) for r in point_in_polygon(
        pts, zones, broadcast_limit=lim).collect())
    assert hits == [(1, "a"), (2, "a"), (3, "b")]


def _stars(rng, n, G):
    out = []
    for _ in range(n):
        m = int(rng.integers(5, 12))
        ang = (np.arange(m) + rng.uniform(0.05, 0.95, m)) * (2 * np.pi / m)
        rad = rng.uniform(0.4, 6.0, m)
        cx, cy = rng.uniform(-2, G + 2, 2)
        pts = [(cx + r * np.cos(a), cy + r * np.sin(a)) for r, a in zip(rad, ang)]
        out.append("POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in pts + pts[:1]) + "))")
    return out


def test_shuffle_strategy_equals_broadcast(spark):
    """The shuffle strategy decodes the per-tile ``zone_structs`` lists
    instead of reading the broadcast geometry: on fuzzed stars (two rows
    sharing a zone_id, NaN/nodata values, NaN weights) its results are
    bit-identical to the broadcast strategy's — every statistic with
    and without weights, the kernel's partial rows with every partial
    family on, and point_in_polygon."""
    rng = np.random.default_rng(11)
    G = 40
    vals = rng.integers(0, 9, (G, G)).astype(np.float64)
    vals[rng.random((G, G)) < 0.05] = -1.0
    vals[rng.random((G, G)) < 0.03] = np.nan
    w = rng.uniform(0, 3, (G, G))
    w[rng.random((G, G)) < 0.05] = np.nan
    tiles = tiles_from_array(spark, vals, tile=8, nodata=-1.0)
    wt = tiles_from_array(spark, w, tile=8, raster_id="w")
    wkts = _stars(rng, 30, G)
    ids = [f"s{i}" for i in range(30)]
    ids[7] = ids[3]
    zones = spark.createDataFrame(list(zip(ids, wkts)), ["zone_id", "geometry"])
    ops = ["count", "sum", "mean", "variance", "sv=variance(stable=true)",
           "min", "max", "min_center_x", "max_center_y", "median", "unique",
           "frac", "values", "coverage", "cell_id", "center_x",
           "mc=sum(min_coverage_frac=0.5)"]
    w_ops = ["weighted_mean", "weighted_variance", "weighted_frac", "weights"]
    req = StatRequirements(
        basic=True, weighted=True, variance=True, weighted_variance=True,
        stable_variance=True, minmax=True, store_xy=True, histogram=True,
        cells=True, cells_weights=True, xy_moments=True, xy_change=True,
        pair_hist=True, pair_topk=3)
    kg = [(("values", "weights", FLT_MIN, "fraction", None, None, None), req, [])]

    def rows(df):
        return sorted(map(repr, df.collect()))

    got = {}
    for strategy in ("broadcast", "shuffle"):
        with ZonalExtractor(zones, tiles, strategy=strategy) as ext:
            plain = rows(ext.extract(ops))
        with ZonalExtractor(zones, tiles, weight_tiles=wt, strategy=strategy) as ext:
            assert ext.strategy == strategy
            got[strategy] = (plain, rows(ext.extract(ops + w_ops)), rows(run_kernel(
                ext.joined, kg, geom_lookup=ext.geom_lookup, has_weights=True)))
    assert got["shuffle"] == got["broadcast"]
    assert any("nan" in r for r in got["broadcast"][1])

    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(-3, G + 3, (600, 2)))],
        ["point_id", "x", "y"])
    shuffled = rows(point_in_polygon(pts, zones, broadcast_limit=0))
    assert shuffled == rows(point_in_polygon(pts, zones)) and len(shuffled) > 100
