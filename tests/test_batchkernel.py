"""The batch kernel (batchkernel.accumulate_pairs_batch, the one zonal
statistics path) must produce exactly the per-pair reference's partial
states (kernel.coverage_for_window + tests/accumulate_reference.py)
across the full stat surface, and its chunking must not change results.
The ZOO raster is integer-valued, so even the float sums are exact."""

import numpy as np
import pytest

from pyspark.sql.pandas.types import to_arrow_schema

from accumulate_reference import batch_and_reference
from exactextract_spark.batchkernel import accumulate_pairs_batch
from exactextract_spark.extract import _partial_schema, exact_extract
from exactextract_spark.geom import parse_wkt_batch
from exactextract_spark.io import tiles_from_array
from exactextract_spark.ops import FLT_MIN, StatRequirements
from exactextract_spark.subdivide import _SCHEMA, _chunk_pieces

ZOO = [
    ("rect", "POLYGON ((0.5 0.5, 7.25 0.5, 7.25 6.75, 0.5 6.75, 0.5 0.5))"),
    ("rect_band", "POLYGON ((3 3, 18.5 3, 18.5 19.5, 3 19.5, 3 3))"),
    ("tri", "POLYGON ((1 10, 9 10, 5 18, 1 10))"),
    ("star", "POLYGON ((10 2, 14 6, 19 5, 15 10, 18 15, 12 13, 8 18, "
             "8.5 12, 3 11, 9 8, 10 2))"),
    ("hole", "POLYGON ((2 2, 12 2, 12 12, 2 12, 2 2), (5 5, 9 5, 9 9, 5 5))"),
    ("mp", "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), "
           "((15 15, 19 15, 19 19, 15 19, 15 15)))"),
    ("offgrid", "POLYGON ((-5 -5, 4.5 -5, 4.5 4.25, -5 4.25, -5 -5))"),
    ("tiny", "POLYGON ((6.1 6.1, 6.4 6.1, 6.25 6.35, 6.1 6.1))"),
    ("outside", "POLYGON ((40 40, 45 40, 45 45, 40 45, 40 40))"),
]

OPS = ["count", "sum", "mean", "min", "max", "variance", "stdev",
       "weighted_mean", "weighted_sum", "weighted_variance",
       "min_center_x", "min_center_y", "max_center_x", "max_center_y",
       "variety", "majority", "minority", "median", "quantile(q=0.3)",
       "sum_mc=sum(min_coverage_frac=0.6)",
       "cnt_none=count(coverage_weight=none)",
       "sum_dv=sum(default_value=5)",
       "hist_bw=variety(bin_width=10)"]


def _zoo_raster():
    rng = np.random.default_rng(7)
    data = rng.integers(0, 50, size=(20, 20)).astype(np.float64)
    data[3, 4] = -999
    data[11, 7] = np.nan
    w = (np.arange(400, dtype=np.float64) % 7).reshape(20, 20)
    return data, w


def _same(a, b) -> bool:
    if b is None or (isinstance(b, float) and np.isnan(b)):
        return a is None or (isinstance(a, float) and np.isnan(a))
    return a == b


@pytest.mark.parametrize("tile", [6, 32])
def test_batch_equals_perpair(tile):
    data, w = _zoo_raster()
    kg, got, want = batch_and_reference(OPS, [g for _, g in ZOO], data, w,
                                        tile=tile, gx=0.0, gy=20.0)
    assert len(got) == len(want)
    for out_row, rec in zip(got, want):
        assert out_row["zone_id"] == rec["zone_id"]
        for c, a in out_row.items():
            if "_hist_" in c:
                continue
            assert _same(a, rec.get(c)), (rec["zone_id"], rec["_tile"], c, a, rec.get(c))
        for i, (_, req, _) in enumerate(kg):
            h = rec.get(f"k{i}_hist")
            if not req.histogram or h is None:
                continue
            for sfx, arr in zip(("hist_v", "hist_ci", "hist_ciw"), h):
                np.testing.assert_array_equal(out_row[f"k{i}_{sfx}"], arr)


def test_batch_equals_perpair_unweighted_with_chunking(spark, monkeypatch):
    """Tiny chunk budget forces multiple flushes per partition; the
    results equal the default one-chunk run."""
    import exactextract_spark.batchkernel as bk

    data = np.arange(1, 401, dtype=np.float64).reshape(20, 20)
    zdf = spark.createDataFrame(ZOO, ["zone_id", "geometry"])
    t = tiles_from_array(spark, data, tile=6)
    ops = ["count", "sum", "min", "max", "median"]
    want = {r["zone_id"]: r.asDict() for r in exact_extract(zdf, t, ops).collect()}
    monkeypatch.setattr(bk, "CHUNK_CELLS", 64)
    got = {r["zone_id"]: r.asDict() for r in exact_extract(zdf, t, ops).collect()}
    assert got == want


# every partial family on: two keys, the second needing near-full cells
_REQ_ALL = StatRequirements(
    basic=True, weighted=True, variance=True, weighted_variance=True,
    stable_variance=True, minmax=True, store_xy=True, histogram=True,
    cells=True, cells_weights=True, xy_moments=True, xy_change=True,
    pair_hist=True, pair_topk=3)
_KG_ALL = [(("values", "weights", cov, "fraction", None, None, None), _REQ_ALL, [])
           for cov in (FLT_MIN, 0.999)]


@pytest.mark.parametrize("chunk", ["normal", "second_key_inactive", "none_active"])
def test_arrow_schemas_pinned(chunk):
    """mapInArrow rejects a batch whose types differ from the declared
    schema only at run time: the kernel's batch must be exactly the
    partial schema as Arrow (and subdivide's pieces its _SCHEMA) — with
    every partial family on, when a key is inactive on every pair, and
    when no pair is active."""
    wkts = {"normal": [ZOO[0][1], ZOO[3][1], ZOO[7][1]],
            "second_key_inactive": [ZOO[7][1]],
            "none_active": [ZOO[0][1], ZOO[7][1]]}[chunk]
    data, w = _zoo_raster()
    w[2:6, 2:6] = np.nan
    if chunk == "none_active":
        data[:] = np.nan
    zones = parse_wkt_batch(wkts, zone_id=np.array(wkts, dtype=object))
    P = len(wkts)
    full = np.full(P, 20)
    pairs = {"zone": np.arange(P), "tile": np.zeros(P, dtype=np.int64),
             "r0": np.zeros(P, dtype=np.int64), "r1": full,
             "c0": np.zeros(P, dtype=np.int64), "c1": full,
             "row0": np.zeros(P, dtype=np.int64), "col0": np.zeros(P, dtype=np.int64),
             "nodata": np.full(P, np.nan), "w_nodata": np.full(P, np.nan),
             "pt": np.zeros((P, 2), dtype=np.int64), "raster_match": None}
    grid = dict(grid_xmin=0.0, grid_ymax=20.0, dx=1.0, dy=1.0)
    passthrough = ("tile_row", "tile_col")
    want = to_arrow_schema(_partial_schema(_KG_ALL, passthrough))
    key_specs = [(i, req, key[0], dict(min_coverage_frac=key[2], coverage_weight=key[3],
                                       default_value=None, default_weight=None,
                                       bin_width=None))
                 for i, (key, req, _) in enumerate(_KG_ALL)]
    got = accumulate_pairs_batch(pairs, zones, {0: (data, w)}, key_specs,
                                 has_weights=True, passthrough=passthrough,
                                 schema=want, grid_ncols=20, **grid)
    assert got.schema == want
    rows = {"normal": 3, "second_key_inactive": 1, "none_active": 0}[chunk]
    assert got.num_rows == rows
    if chunk == "second_key_inactive":
        assert all(got.column(f.name).null_count == 1 for f in want
                   if f.name.startswith("k1_"))

    pieces = _chunk_pieces(pairs, zones, {**grid, "grid_ncols": 20}, np.float32(0))
    assert pieces.schema == to_arrow_schema(_SCHEMA)
