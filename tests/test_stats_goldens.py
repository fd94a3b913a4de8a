"""Stat goldens transcribed from the reference pytest suite
(/root/reference/python/tests/test_exact_extract.py) — the primary
parity gate (FIXTURES.md F1–F7).

Deviation note: where the reference returns NaN for undefined scalars
(e.g. mean of an all-nodata zone) this engine returns SQL NULL (None);
where the reference preserves the raster's integer dtype we return
float64.  Both are documented representational choices."""

import math

import numpy as np
import pytest

ARANGE9 = np.arange(1, 10, dtype=np.int32).reshape(3, 3)
SQ = "POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))"


@pytest.fixture(scope="module")
def f1(extract_mem):
    """All F1 stats in one engine run (test_exact_extract.py:61-124)."""
    ops = ["count", "mean", "median", "min", "max", "mode", "majority",
           "minority", "quantile(q=0.25)", "quantile(q=0.75)", "variety",
           "variance", "stdev", "coefficient_of_variation", "values",
           "coverage", "center_x", "center_y", "cell_id", "min_center_x",
           "min_center_y", "max_center_x", "max_center_y", "unique", "sum"]
    return extract_mem(ARANGE9, SQ, ops)


@pytest.mark.parametrize("stat,expected", [
    ("count", 4), ("mean", 5), ("median", 5), ("min", 1), ("max", 9),
    ("mode", 5), ("majority", 5), ("minority", 1),
    ("quantile_25", 3), ("quantile_75", 6), ("variety", 9),
    ("variance", 5), ("stdev", math.sqrt(5)),
    ("coefficient_of_variation", math.sqrt(5) / 5),
    ("min_center_x", 0.5), ("min_center_y", 2.5),
    ("max_center_x", 2.5), ("max_center_y", 0.5),
    ("sum", 20.0),
])
def test_basic_scalar(f1, stat, expected):
    assert f1[stat] == pytest.approx(expected)


@pytest.mark.parametrize("stat,expected", [
    ("values", [1, 2, 3, 4, 5, 6, 7, 8, 9]),
    ("coverage", [0.25, 0.5, 0.25, 0.5, 1.0, 0.5, 0.25, 0.5, 0.25]),
    ("center_x", [0.5, 1.5, 2.5, 0.5, 1.5, 2.5, 0.5, 1.5, 2.5]),
    ("center_y", [2.5, 2.5, 2.5, 1.5, 1.5, 1.5, 0.5, 0.5, 0.5]),
    ("cell_id", [0, 1, 2, 3, 4, 5, 6, 7, 8]),
])
def test_basic_arrays(f1, stat, expected):
    assert list(f1[stat]) == pytest.approx(expected)


def test_unique(f1):
    assert set(f1["unique"]) == {1, 2, 3, 4, 5, 6, 7, 8, 9}


def test_coverage_ignore_fraction(extract_mem):
    # test_exact_extract.py:126-138
    r = extract_mem(ARANGE9, "POLYGON ((0.5 1.0, 2.5 1.0, 2.5 2.5, 0.5 2.5, 0.5 1.0))",
                    ["mean(coverage_weight=none)", "count(coverage_weight=none)"])
    assert r["count"] == 6.0
    assert r["mean"] == 3.5


def test_min_coverage(extract_mem):
    # test_exact_extract.py:141-153
    r = extract_mem(ARANGE9, SQ,
                    ["cell_id(min_coverage_frac=0.49)", "count(min_coverage_frac=0.49)"])
    assert list(r["cell_id"]) == [1, 3, 4, 5, 7]
    assert r["count"] == 3.0


def test_min_coverage_zero_overridden(extract_mem):
    # min_coverage_frac=0 quietly becomes FLT_MIN (operation.cpp:416-425)
    r = extract_mem(ARANGE9, SQ,
                    ["cell_id(min_coverage_frac=0,coverage_weight=none)",
                     "sum(min_coverage_frac=0,coverage_weight=none)"])
    assert list(r["cell_id"]) == list(range(9))
    assert r["sum"] == 45.0


def test_coverage_area_relations(extract_mem):
    # test_exact_extract.py:174-196
    r = extract_mem(ARANGE9, SQ, [
        "m1=mean", "m2=mean(coverage_weight=area_spherical_m2)",
        "c1=coverage", "c2=coverage(coverage_weight=area_spherical_m2)",
        "c3=coverage(coverage_weight=area_spherical_km2)",
        "c4=coverage(coverage_weight=area_cartesian)"])
    assert r["m2"] > r["m1"]
    np.testing.assert_allclose(np.array(r["c3"]), np.array(r["c2"]) * 1e-6, rtol=1e-5)
    assert list(r["c4"]) == list(r["c1"])


@pytest.mark.parametrize("stat", ("mean", "sum", "stdev", "variance"))
def test_weighted_equal_weights(extract_mem, stat):
    # test_exact_extract.py:218-230
    r = extract_mem(ARANGE9, SQ, [stat, f"weighted_{stat}"],
                    weights=np.ones((3, 3)))
    assert r[stat] == pytest.approx(r[f"weighted_{stat}"])


@pytest.mark.parametrize("stat,expected", [
    ("weighted_mean", (0.25 * 7 + 0.5 * 8 + 0.25 * 9) / (0.25 + 0.5 + 0.25)),
    ("weighted_sum", 0.25 * 7 + 0.5 * 8 + 0.25 * 9),
    ("weighted_stdev", 0.7071068),
    ("weighted_variance", 0.5),
])
def test_weighted_unequal(extract_mem, stat, expected):
    # test_exact_extract.py:233-250
    w = np.array([[0, 0, 0], [0, 0, 0], [1, 1, 1]], dtype=np.float64)
    r = extract_mem(ARANGE9, SQ, [stat], weights=w)
    assert r[stat] == pytest.approx(expected)


def test_weights_array(extract_mem):
    w = np.array([[0, 0, 0], [0, 0, 0], [1, 1, 1]], dtype=np.float64)
    r = extract_mem(ARANGE9, SQ, ["weights"], weights=w)
    assert list(r["weights"]) == [0, 0, 0, 0, 0, 0, 1, 1, 1]


def test_frac(extract_mem):
    # test_exact_extract.py:253-268
    rast = np.array([[1, 1, 1], [2, 2, 2], [3, 3, 3]], dtype=np.float64)
    rows = extract_mem(rast, {
        "a": "POLYGON ((0.5 0.5, 1 0.5, 1 1, 0.5 1, 0.5 0.5))",
        "b": SQ}, ["count", "unique", "frac"])
    a, b = rows["a"], rows["b"]
    assert dict(zip(a["unique"], a["frac"])) == {3: 1.0}
    assert dict(zip(b["unique"], b["frac"])) == {1: 0.25, 2: 0.5, 3: 0.25}


def test_weighted_frac(extract_mem):
    # test_exact_extract.py:271-291
    rast = np.array([[1, 1, 1], [2, 2, 2], [3, 3, 3]], dtype=np.float64)
    w = np.array([[3, 3, 3], [2, 2, 2], [1, 1, 1]], dtype=np.float64)
    rows = extract_mem(rast, {
        "a": "POLYGON ((0.5 0.5, 1 0.5, 1 1, 0.5 1, 0.5 0.5))",
        "b": SQ}, ["weighted_frac", "sum", "unique"], weights=w)
    a, b = rows["a"], rows["b"]
    assert a["sum"] == 0.75
    assert dict(zip(a["unique"], a["weighted_frac"])) == {3: 1.0}
    assert b["sum"] == 8.0
    assert dict(zip(b["unique"], b["weighted_frac"])) == {1: 0.375, 2: 0.5, 3: 0.125}


def test_nodata(extract_mem):
    # test_exact_extract.py:461-479 (F4)
    data = np.arange(1, 101, dtype=np.float64).reshape(10, 10)
    data[6:10, 0:4] = -999
    r = extract_mem(data, "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))",
                    ["sum", "mean"], nodata=-999)
    assert r["sum"] == 0.0
    assert r["mean"] is None  # reference: NaN
    r2 = extract_mem(data, "POLYGON ((3.5 3.5, 4.5 3.5, 4.5 4.5, 3.5 4.5, 3.5 3.5))",
                     ["sum", "mean"], nodata=-999)
    assert r2["sum"] == pytest.approx(43.5)
    assert r2["mean"] == pytest.approx(58)


def test_all_nodata(extract_mem):
    # test_exact_extract.py:526-551
    data = np.full((3, 3), -999.0)
    r = extract_mem(data, SQ, ["mean", "mode", "variety"], nodata=-999)
    assert r["mean"] is None
    assert r["mode"] is None
    assert r["variety"] == 0


def test_default_value(extract_mem):
    # test_exact_extract.py:599-... default_value substitutes nodata
    data = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
    data[1, 1] = -999
    r = extract_mem(data, SQ, ["sum_d=sum(default_value=5)", "sum"], nodata=-999)
    # without default: center cell (value 5, cov 1) dropped
    assert r["sum"] == pytest.approx(20 - 5.0)
    assert r["sum_d"] == pytest.approx(20.0)


def test_default_weight(extract_mem):
    w = np.full((3, 3), np.nan)
    r = extract_mem(ARANGE9, SQ,
                    ["weighted_mean(default_weight=1)", "mean"], weights=w)
    assert r["weighted_mean"] == pytest.approx(r["mean"])


def test_linear_geom(extract_mem):
    # test_exact_extract.py:1239-1261 (F7)
    r = extract_mem(ARANGE9, "LINESTRING (0.5 0.5, 1.5 1.5, 2.5 0.5)",
                    ["count", "mean"])
    assert r["count"] == pytest.approx(2 * math.sqrt(2))
    assert r["mean"] == pytest.approx(0.5 * 5 + 0.25 * 7 + 0.25 * 9)


def test_multiband_fanout(extract_mem, spark):
    # F6 (test_exact_extract.py:294-458): naming via explicit descriptors
    from exactextract_spark.extract import exact_extract
    from exactextract_spark.io import tiles_from_array

    a = tiles_from_array(spark, ARANGE9, raster_id="a")
    b = tiles_from_array(spark, 2 * ARANGE9, raster_id="b")
    zdf = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    ra = exact_extract(zdf, a, ["a_mean=mean"]).collect()[0]
    rb = exact_extract(zdf, b, ["b_count=count", "b_mean=mean"]).collect()[0]
    assert ra["a_mean"] == pytest.approx(5.0)
    assert rb["b_count"] == pytest.approx(4.0)
    assert rb["b_mean"] == pytest.approx(10.0)


def test_strategy_equivalence(extract_mem):
    """broadcast vs shuffle join strategies agree (reference strategy
    parametrization, test_exact_extract.py:173)."""
    r1 = extract_mem(ARANGE9, SQ, ["count", "mean", "variety"], strategy="broadcast")
    r2 = extract_mem(ARANGE9, SQ, ["count", "mean", "variety"], strategy="shuffle")
    assert r1 == r2


def test_tiled_merge_equivalence(extract_mem):
    """Tiny tiles force cross-tile partial-state merges — including
    variance, which the reference's parallel strategy refuses
    (raster_parallel_processor.cpp:91-95); here it merges exactly."""
    data = np.arange(1, 101, dtype=np.float64).reshape(10, 10)
    z = "POLYGON ((0.5 0.5, 9.5 0.5, 9.5 9.5, 0.5 9.5, 0.5 0.5))"
    ops = ["count", "sum", "mean", "min", "max", "variance", "stdev",
           "median", "variety", "mode", "quantile(q=0.25)"]
    whole = extract_mem(data, z, ops, tile=64)
    tiled = extract_mem(data, z, ops, tile=3)
    for k in whole:
        assert tiled[k] == pytest.approx(whole[k]), k


def _reference_quantiles(ext, qs):
    """{zone_id: (quantile at each q of qs)} by the numpy reference over
    the engine's merged per-zone histogram."""
    from quantile_reference import weighted_quantile, zone_histograms

    return {z: tuple(weighted_quantile(xs, ws, q) for q in qs)
            for z, (xs, ws) in zone_histograms(ext).items()}


def test_median_same_with_and_without_array_consumers(spark):
    """median/quantile must not change when an array consumer (frac)
    joins the op list: both runs equal the numpy reference quantile
    (tests/quantile_reference.py) over the engine's merged histogram,
    bit for bit."""
    from exactextract_spark.fixtures import SynthConfig, build_docs
    from exactextract_spark import io as eio
    from exactextract_spark.extract import ZonalExtractor

    cfg = SynthConfig(G=96, Z=25)
    docs = build_docs(spark, cfg).cache()
    zones = eio.zones_from_docs(docs)
    meta = {r["raster_id"]: r.asDict()
            for r in eio.raster_meta_from_docs(docs).collect()}
    tiles = eio.tiles_from_docs(docs, "r0", meta["r0"])
    grid = cfg.grid_dict()
    grid["dtype"] = "float64"
    ext = ZonalExtractor(zones, tiles, grid=grid)
    ops = ["median", "q25=quantile(q=0.25)", "q9=quantile(q=0.9)"]
    ref = _reference_quantiles(ext, (0.5, 0.25, 0.9))
    assert ref
    for extra in ([], ["frac"]):
        got = {r["zone_id"]: (r["median"], r["q25"], r["q9"])
               for r in ext.extract(ops + extra)
               .select("zone_id", "median", "q25", "q9").collect()
               if r["median"] is not None}
        assert got == ref, extra  # exact equality, no tolerance


def test_quantile_window_vs_udf_fuzz(spark):
    """Differential fuzz of the window quantile against the numpy
    reference (tests/quantile_reference.py, the engine's former
    pandas-UDF finalizer) on random rasters with heavy value repeats,
    nodata holes, and irregular polygon zones — guards the window
    formulation's edge cases (single-value zones, duplicate s
    positions, q at the extremes) beyond the quarter-aligned fixture.
    An array consumer (unique) in the op list must not change it."""
    import numpy as np
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.extract import ZonalExtractor

    rng = np.random.default_rng(42)
    for trial in range(4):
        n = 40
        # few distinct values -> many duplicate histogram buckets
        vals = rng.integers(0, 6, size=(n, n)).astype(np.float64)
        vals[rng.random((n, n)) < 0.15] = -1  # nodata holes
        tiles = tiles_from_array(spark, vals, nodata=-1.0, tile=16)
        zones = []
        for z in range(12):
            m = 6
            ang = (np.arange(m) + rng.uniform(0.1, 0.9, m)) * (2 * np.pi / m)
            rad = rng.uniform(1.5, 12.0, m)
            cx, cy = rng.uniform(5, n - 5, 2)
            xs = np.clip(cx + rad * np.cos(ang), 0, n)
            ys = np.clip(cy + rad * np.sin(ang), 0, n)
            pts = ", ".join(f"{x:.3f} {y:.3f}" for x, y in zip(xs, ys))
            zones.append((f"z{z}", f"POLYGON (({pts}, {xs[0]:.3f} {ys[0]:.3f}))"))
        zdf = spark.createDataFrame(zones, ["zone_id", "geometry"])
        qa, qb = sorted(rng.uniform(0.01, 0.99, 2))
        ops = ["median", f"qa=quantile(q={qa:.4f})", f"qb=quantile(q={qb:.4f})"]
        ext = ZonalExtractor(zdf, tiles)
        ref = _reference_quantiles(ext, (0.5, float(f"{qa:.4f}"),
                                         float(f"{qb:.4f}")))
        for extra in ([], ["unique"]):
            got = {r["zone_id"]: (r["median"], r["qa"], r["qb"])
                   for r in ext.extract(ops + extra)
                   .select("zone_id", "median", "qa", "qb").collect()
                   if r["median"] is not None}
            assert got == ref, (trial, qa, qb, extra)  # exact, no tolerance


def test_quantile_window_path_with_bin_width(spark):
    """bin_width-quantized histograms flow through the window quantile
    path too — both routes must agree exactly."""
    import numpy as np
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.extract import exact_extract

    vals = (np.arange(81, dtype=np.float64) % 13).reshape(9, 9)
    tiles = tiles_from_array(spark, vals)
    zones = spark.createDataFrame(
        [("z", "POLYGON ((0.25 0.25, 8.5 0.25, 8.5 8.5, 0.25 8.5, 0.25 0.25))")],
        ["zone_id", "geometry"])
    ops = ["m=median(bin_width=3)", "q=quantile(q=0.7,bin_width=3)"]
    a = exact_extract(zones, tiles, ops).collect()[0]
    b = exact_extract(zones, tiles, ops + ["u=unique(bin_width=3)"]).collect()[0]
    assert (a["m"], a["q"]) == (b["m"], b["q"])


def _python_nodes(df):
    """(distinct MapInPandas/MapInArrow nodes as (node, function name),
    the other Python node types present) in ``df``'s optimized plan.  A
    cached relation prints its plan once per reference, so map nodes are
    told apart by their expression id."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    maps = set(re.findall(r"(MapIn(?:Pandas|Arrow)) (\w+)\(.*?\)#(\d+)", plan))
    others = [n for n in ("FlatMapGroupsInPandas", "ArrowEvalPython",
                          "BatchEvalPython", "AggregateInPandas",
                          "WindowInPandas") if n in plan]
    return sorted((node, name) for node, name, _ in maps), others


def test_merge_has_no_python_stage(spark):
    """The zonal merge is SQL: an extraction with the stable variance and
    every histogram finalize (median, quantile, unique, frac) plans one
    Python node after zone prep, the kernel's MapInArrow (the zone-prep
    MapInArrow sits under the cached zone table, which the extractor
    materializes before any query).  A custom python op adds its own
    node, as its contract requires."""
    import numpy as np
    from exactextract_spark.extract import exact_extract
    from exactextract_spark.io import tiles_from_array

    def py_sum(values, coverage):
        return float(np.sum(values))

    tiles = tiles_from_array(spark, ARANGE9)
    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    ops = ["variance(stable=true)", "median", "unique", "frac",
           "quantile(q=0.9)"]
    maps = [("MapInArrow", "kernel"), ("MapInArrow", "prep")]
    assert _python_nodes(exact_extract(zones, tiles, ops)) == (maps, [])
    assert _python_nodes(exact_extract(zones, tiles, ops + [py_sum])) \
        == (maps, ["ArrowEvalPython"])
