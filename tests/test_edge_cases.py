"""API edge cases: empty inputs, include_cols projection, invalid
geometry errors, duplicate names."""

import numpy as np
import pytest

from exactextract_spark.extract import exact_extract
from exactextract_spark.io import tiles_from_array
from exactextract_spark.subdivide import subdivide

ARANGE9 = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
SQ = "POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))"


def test_empty_zones(spark):
    tiles = tiles_from_array(spark, ARANGE9)
    zones = spark.createDataFrame([], "zone_id string, geometry string")
    out = exact_extract(zones, tiles, ["count", "mean"])
    assert out.count() == 0
    assert set(out.columns) == {"zone_id", "count", "mean"}


def test_include_cols_projection(spark):
    tiles = tiles_from_array(spark, ARANGE9)
    zones = spark.createDataFrame(
        [("z0", SQ, "farmland")], ["zone_id", "geometry", "landuse"])
    r = exact_extract(zones, tiles, ["mean"], include_cols=["landuse"]).collect()[0]
    assert r["landuse"] == "farmland"
    assert r["mean"] == pytest.approx(5.0)


def test_invalid_wkt_raises(spark):
    """Malformed WKT fails in zone prep, before any kernel job: the
    error comes from building the query, not from collecting it."""
    tiles = tiles_from_array(spark, ARANGE9)
    for wkt in ("POLYGON ((not wkt",
                "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)",      # unbalanced
                "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))"):
        zones = spark.createDataFrame([("z0", wkt)], ["zone_id", "geometry"])
        with pytest.raises(ValueError, match="invalid zone geometry"):
            exact_extract(zones, tiles, ["count"])


def test_duplicate_output_names_rejected(spark):
    tiles = tiles_from_array(spark, ARANGE9)
    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    with pytest.raises(ValueError, match="duplicate"):
        exact_extract(zones, tiles, ["mean", "mean"])


def test_zone_bigger_than_raster(spark):
    tiles = tiles_from_array(spark, ARANGE9)
    zones = spark.createDataFrame(
        [("big", "POLYGON ((-10 -10, 20 -10, 20 20, -10 20, -10 -10))")],
        ["zone_id", "geometry"])
    r = exact_extract(zones, tiles, ["count", "sum"]).collect()[0]
    assert r["count"] == pytest.approx(9.0)
    assert r["sum"] == pytest.approx(45.0)


def test_multipolygon_zone(spark):
    tiles = tiles_from_array(spark, ARANGE9)
    zones = spark.createDataFrame(
        [("mp", "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 2, 3 2, 3 3, 2 3, 2 2)))")],
        ["zone_id", "geometry"])
    r = exact_extract(zones, tiles, ["count", "sum"]).collect()[0]
    assert r["count"] == pytest.approx(2.0)
    assert r["sum"] == pytest.approx(7.0 + 3.0)  # cells value 7 (r2c0) and 3 (r0c2)


def test_tile_stride_inference_wide_grid(spark):
    """Regression (ADVICE r1): a grid with fewer rows than the tile
    stride (60x200, tile=64) must still infer stride 64 — max(nrows)
    alone would infer 60 and silently drop tiles from the join."""
    arr = np.arange(60 * 200, dtype=np.float64).reshape(60, 200)
    tiles = tiles_from_array(spark, arr, tile=64)
    # a zone sitting entirely in the second tile column (cols 64..164)
    zones = spark.createDataFrame(
        [("z0", "POLYGON ((100 10, 110 10, 110 20, 100 20, 100 10))")],
        ["zone_id", "geometry"])
    r = exact_extract(zones, tiles, ["count", "sum"]).collect()[0]
    assert r["count"] == pytest.approx(100.0)
    rows = np.arange(40, 50)  # y 10..20 -> rows 40..50 (ymax=60)
    cols = np.arange(100, 110)
    assert r["sum"] == pytest.approx(float(arr[np.ix_(rows, cols)].sum()))


def test_tile_stride_inference_tall_grid(spark):
    """Transposed variant: 200x60 grid, tile=64."""
    arr = np.arange(200 * 60, dtype=np.float64).reshape(200, 60)
    tiles = tiles_from_array(spark, arr, tile=64)
    zones = spark.createDataFrame(
        [("z0", "POLYGON ((10 100, 20 100, 20 110, 10 110, 10 100))")],
        ["zone_id", "geometry"])
    r = exact_extract(zones, tiles, ["count", "sum"]).collect()[0]
    assert r["count"] == pytest.approx(100.0)
    rows = np.arange(90, 100)  # y 100..110 -> rows 90..100 (ymax=200)
    cols = np.arange(10, 20)
    assert r["sum"] == pytest.approx(float(arr[np.ix_(rows, cols)].sum()))


def test_zone_props_value_with_equals(spark):
    """Regression (ADVICE r1): property values containing '=' must not
    be truncated by the span parser."""
    from exactextract_spark.io import zones_from_docs

    docs = spark.createDataFrame(
        [("d0", [("text", "zone:z0", "", 0),
                 ("text", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "", 1),
                 ("text", "url=https://x/?a=b&c=d", "", 2)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    props = zones_from_docs(docs).collect()[0]["props"]
    assert props["url"] == "https://x/?a=b&c=d"


def test_checkpoint_finalize_before_step_raises(spark, tmp_path):
    from exactextract_spark.checkpoint import CheckpointedExtraction
    from exactextract_spark.extract import ZonalExtractor

    tiles = tiles_from_array(spark, ARANGE9)
    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    ck = CheckpointedExtraction(ZonalExtractor(zones, tiles), ["count"],
                                str(tmp_path / "ck"))
    with pytest.raises(ValueError, match="lineage"):
        ck.finalize()


def test_salted_sum_deterministic(spark):
    from pyspark.sql import functions as F

    from exactextract_spark.tiling import salted_sum

    df = spark.range(1000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v"))
    out = {r["k"]: r["s"] for r in
           salted_sum(df, "k", [F.sum("v").alias("s")]).collect()}
    assert out == {0: sum(range(0, 1000, 3)), 1: sum(range(1, 1000, 3)),
                   2: sum(range(2, 1000, 3))}


@pytest.mark.parametrize("split", [0, 1])
def test_scale_offset_mask(spark, split):
    """On-read transform semantics (reference raster.py:102-127,
    raster.h:108-127): nodata and mask evaluated on RAW values, then
    value = raw*scale + offset.  Identical whether the raster is one
    tile (split=0) or four tiles whose partial states merge (split=1)."""
    raw = np.arange(16, dtype=np.int16).reshape(4, 4)
    raw[1, 1] = -1                       # nodata in raw units
    mask = np.ones((4, 4), dtype=np.uint8)
    mask[2, 2] = 0                       # masked out
    tiles = tiles_from_array(spark, raw, nodata=-1, scale=0.5, offset=10.0,
                             mask=mask, tile=2 if split else 4)
    zones = spark.createDataFrame(
        [("z", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")], ["zone_id", "geometry"])
    r = exact_extract(zones, tiles, ["count", "sum", "mean", "min", "max"]).collect()[0]
    vals = raw.astype(float) * 0.5 + 10.0
    keep = np.ones((4, 4), dtype=bool)
    keep[1, 1] = keep[2, 2] = False
    assert r["count"] == pytest.approx(14.0)
    assert r["sum"] == pytest.approx(float(vals[keep].sum()))
    assert r["min"] == pytest.approx(float(vals[keep].min()))
    assert r["max"] == pytest.approx(float(vals[keep].max()))


@pytest.mark.parametrize("split", [0, 1])
def test_undefined_weight_nulls_weighted_stats(spark, split):
    """A single undefined weight (no default_weight) makes the weighted
    stats undefined for the zone — even when other TILES of the zone
    have fully-defined weights (split=1: the reference's NaN propagation
    must survive the partial-state merge).  With one tile (split=0) the
    undefined cell shares the tile with the defined-only zone, which
    must stay defined."""
    from exactextract_spark.io import tiles_from_array

    vals = np.arange(64, dtype=np.float64).reshape(8, 8)
    w = np.ones((8, 8))
    w[1, 6] = -9  # weight nodata in the SECOND tile column when split
    tile = 4 if split else 8
    tiles = tiles_from_array(spark, vals, tile=tile)
    wt = tiles_from_array(spark, w, tile=tile, raster_id="w", nodata=-9)
    zones = spark.createDataFrame(
        [("z", "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))"),
         ("ok", "POLYGON ((0 4, 4 4, 4 8, 0 8, 0 4))")],  # defined-only area
        ["zone_id", "geometry"])
    from exactextract_spark.extract import exact_extract
    got = {r["zone_id"]: r.asDict() for r in exact_extract(
        zones, tiles, ["weighted_count", "weighted_sum", "weighted_mean",
                       "weighted_variance"], weight_tiles=wt).collect()}
    for k in ("weighted_count", "weighted_sum", "weighted_mean",
              "weighted_variance"):
        assert got["z"][k] is None, k
    assert got["ok"]["weighted_count"] == pytest.approx(16.0)
    assert got["ok"]["weighted_sum"] == pytest.approx(float(vals[:4, :4].sum()))

    # default_weight restores definedness
    got2 = exact_extract(zones, tiles, ["weighted_count=weighted_count(default_weight=2)"],
                         weight_tiles=wt).collect()
    got2 = {r["zone_id"]: r["weighted_count"] for r in got2}
    assert got2["z"] == pytest.approx(63.0 + 2.0)



def test_undefined_weight_stays_nan_in_arrays(spark):
    """An undefined weight is NaN, not NULL, inside the array partials:
    it poisons weighted_frac for every value (Σciwi(v) / Σciwi,
    raster_stats.h:554-564), is kept in the stored weights
    (raster_stats.h:759-765) and in the weight column of the joint
    (value, weight) histogram."""
    from exactextract_spark.api import zonal_crosstab

    def nan(x):
        return x is not None and x != x

    tiles = tiles_from_array(spark, np.array([[1.0, 2.0], [3.0, 3.0]]))
    wt = tiles_from_array(spark, np.array([[1.0, np.nan], [2.0, 1.0]]),
                          raster_id="w")
    zones = spark.createDataFrame(
        [("z", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")], ["zone_id", "geometry"])
    r = exact_extract(zones, tiles, ["unique", "weighted_frac", "weights"],
                      weight_tiles=wt).first()
    assert r["unique"] == [1.0, 2.0, 3.0]
    assert len(r["weighted_frac"]) == 3 and all(map(nan, r["weighted_frac"]))
    assert r["weights"][0] == 1.0 and nan(r["weights"][1]) \
        and r["weights"][2:] == [2.0, 1.0]
    ct = [(x["value"], x["weight"]) for x in zonal_crosstab(zones, tiles, wt).collect()]
    assert sorted(c for c in ct if c[0] != 2.0) == [(1.0, 1.0), (3.0, 1.0), (3.0, 2.0)]
    assert [nan(w) for v, w in ct if v == 2.0] == [True]

def test_mixed_grids_raise(spark):
    """Tiles of one extraction share one grid (tiles are assigned to
    zones with the first tile's grid), so a tile table mixing two
    resolutions fails, naming the differing column, instead of
    computing statistics (or subdivide pieces) on cells the zone does
    not cover."""
    fine = tiles_from_array(spark, np.ones((8, 8)), tile=4)
    coarse = tiles_from_array(spark, np.full((8, 8), 2.0), tile=4, dx=2.0)
    zones = spark.createDataFrame(
        [("z", "POLYGON ((1 1, 7 1, 7 7, 1 7, 1 1))")], ["zone_id", "geometry"])
    # one partition: both grids reach the kernel in one Arrow batch
    tiles = fine.unionByName(coarse).coalesce(1)
    with pytest.raises(Exception, match="differ between tiles: dx"):
        exact_extract(zones, tiles, ["count", "sum"],
                      strategy="broadcast").collect()
    # subdivide takes its pairs and windows from the same helper
    with pytest.raises(Exception, match="differ between tiles: dx"):
        subdivide(zones, tiles, strategy="broadcast").collect()


def test_empty_geometry_yields_empty_stats(spark):
    """POLYGON EMPTY is a valid feature: it must flow through to the
    output with empty-stat defaults (count 0, mean NULL), not crash."""
    tiles = tiles_from_array(spark, ARANGE9)
    zones = spark.createDataFrame(
        [("e", "POLYGON EMPTY"), ("z", SQ)], ["zone_id", "geometry"])
    got = {r["zone_id"]: r.asDict() for r in
           exact_extract(zones, tiles, ["count", "mean"]).collect()}
    assert got["e"]["count"] == 0.0 and got["e"]["mean"] is None
    assert got["z"]["count"] == pytest.approx(4.0)


def test_weighted_stats_on_linear_zones(spark):
    """Weighted stats over LINE zones: the weight applies per traversal
    length (reference supports weighted stats for linear features)."""
    vals = np.tile(np.arange(4, dtype=np.float64), (4, 1))  # col index
    w = np.full((4, 4), 2.0)
    w[:, 3] = 6.0
    tiles = tiles_from_array(spark, vals)
    wt = tiles_from_array(spark, w, raster_id="w")
    zones = spark.createDataFrame(
        [("l", "LINESTRING (0.5 1.5, 3.75 1.5)")], ["zone_id", "geometry"])
    r = exact_extract(zones, tiles, ["count", "weighted_sum", "weighted_mean"],
                      weight_tiles=wt).collect()[0]
    # lengths per col: 0.5, 1, 1, 0.75
    assert r["count"] == pytest.approx(3.25)
    want_ws = 0.5*0*2 + 1*1*2 + 1*2*2 + 0.75*3*6
    assert r["weighted_sum"] == pytest.approx(want_ws)
    want_wc = 0.5*2 + 1*2 + 1*2 + 0.75*6
    assert r["weighted_mean"] == pytest.approx(want_ws / want_wc)


def test_unsupported_geometry_type_raises_even_outside_raster(spark):
    """A POINT zone (unsupported type) must raise loudly even when its
    bbox intersects no tile — validation is a driver-side action over
    the materialized zone table (raise_on_invalid_zones), so it cannot
    be skipped by bbox pruning nor misfire on pre-filter rows."""
    tiles = tiles_from_array(spark, ARANGE9)
    zones = spark.createDataFrame(
        [("z0", SQ), ("pt", "POINT (200 200)")], ["zone_id", "geometry"])
    with pytest.raises(ValueError, match="invalid zone geometry"):
        exact_extract(zones, tiles, ["count"])


def test_dimension_qualified_wkt_raises(spark):
    """'POLYGON Z ((...))' / 'POLYGON ZM' must raise loudly (ADVICE r4):
    with an even total token count the x/y/z parity mixing used to
    yield a plausible-but-wrong bbox that could prune the zone to zero
    tiles and silently emit an empty-stats row instead of raising."""
    tiles = tiles_from_array(spark, ARANGE9)
    for wkt in (
        # 4 vertices x 3 coords = 12 tokens (even) — the silent case
        "POLYGON Z ((0 0 1, 2 0 1, 2 2 1, 0 0 1))",
        "POLYGON ZM ((0 0 1 2, 2 0 1 2, 2 2 1 2, 0 0 1 2))",
        "LINESTRING Z (0 0 1, 2 2 1)",
    ):
        zones = spark.createDataFrame(
            [("z0", SQ), ("zdim", wkt)], ["zone_id", "geometry"])
        with pytest.raises(ValueError, match="invalid zone geometry"):
            exact_extract(zones, tiles, ["count"])


def test_plain_wkt_heads_still_accepted(spark):
    """The tightened head check must keep accepting tag-adjacent '(',
    spaced '(', and EMPTY forms."""
    tiles = tiles_from_array(spark, ARANGE9)
    zones = spark.createDataFrame(
        [("a", "POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))"),
         ("b", "POLYGON  ((0 0, 2 0, 2 2, 0 2, 0 0))"),
         ("c", "POLYGON EMPTY"),
         ("d", "POLYGON\t((0 0, 2 0, 2 2, 0 2, 0 0))"),
         ("e", "POLYGON\n((0 0, 2 0, 2 2, 0 2, 0 0))")],
        ["zone_id", "geometry"])
    got = {r["zone_id"]: r["count"]
           for r in exact_extract(zones, tiles, ["count"]).collect()}
    assert got["a"] == pytest.approx(4.0)
    assert got["b"] == pytest.approx(4.0)
    assert got["c"] == 0.0
    assert got["d"] == pytest.approx(4.0)  # tab/newline after tag is valid WKT
    assert got["e"] == pytest.approx(4.0)


def test_zero_divisor_finalize_gives_ieee_quotients(spark, extract_mem):
    """Finalize divisions return the reference's IEEE quotient (C++
    stdev()/mean(), ci/Σci) instead of failing the query under Spark's
    ANSI mode: ±inf for x/0, NaN for 0/0."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    sq2 = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    r = extract_mem([[-1.0, 1.0], [-2.0, 2.0]], sq2,
                    ["mean", "cv=coefficient_of_variation",
                     "cvs=coefficient_of_variation(stable=true)"])
    assert r["mean"] == 0.0
    assert r["cv"] == np.inf and r["cvs"] == np.inf
    r = extract_mem(-np.ones((2, 2)) + 1.0, sq2,
                    ["cv=coefficient_of_variation",
                     "cvs=coefficient_of_variation(stable=true)"])
    assert np.isnan(r["cv"]) and np.isnan(r["cvs"])
    r = extract_mem(ARANGE9[:2, :2], sq2, ["frac", "weighted_frac"],
                    weights=np.zeros((2, 2)))
    assert r["frac"] == [0.25] * 4
    assert len(r["weighted_frac"]) == 4
    assert all(np.isnan(f) for f in r["weighted_frac"])
