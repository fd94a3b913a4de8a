"""The batch kernel (batchkernel.accumulate_pairs_batch, the one zonal
statistics path) must produce exactly the per-pair reference's partial
states (kernel.coverage_for_window + tests/accumulate_reference.py)
across the full stat surface, and its chunking must not change results.
The ZOO raster is integer-valued, so even the float sums are exact."""

import numpy as np
import pytest

from accumulate_reference import batch_and_reference
from exactextract_spark.extract import exact_extract
from exactextract_spark.io import tiles_from_array

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
