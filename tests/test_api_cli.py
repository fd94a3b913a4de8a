"""Multi-raster fan-out naming, unnest, frac_as_map, and the CLI."""

import numpy as np
import pytest

ARANGE9 = np.arange(1, 10, dtype=np.float64).reshape(3, 3)
SQ = "POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))"


def test_multi_raster_naming(spark):
    # F6 naming: {src}_{stat} (test_exact_extract.py:294-458)
    from exactextract_spark.api import exact_extract_multi
    from exactextract_spark.io import tiles_from_array

    rasters = {"a": tiles_from_array(spark, ARANGE9, raster_id="a"),
               "b": tiles_from_array(spark, 2 * ARANGE9, raster_id="b")}
    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    r = exact_extract_multi(zones, rasters, ["mean", "count"]).collect()[0]
    assert r["a_mean"] == pytest.approx(5.0)
    assert r["b_mean"] == pytest.approx(10.0)
    assert r["a_count"] == r["b_count"] == pytest.approx(4.0)


def test_fused_multi_raster_single_pass(spark):
    """Fused scan == per-raster loop, including histogram stats and
    per-raster nodata."""
    from exactextract_spark.api import exact_extract_fused, exact_extract_multi
    from exactextract_spark.io import tiles_from_array

    a = ARANGE9.copy()
    b = 3 * ARANGE9
    b[0, 0] = -1
    rasters = {"a": tiles_from_array(spark, a, raster_id="a"),
               "b": tiles_from_array(spark, b, raster_id="b", nodata=-1)}
    zones = spark.createDataFrame(
        [("z0", SQ), ("z1", "POLYGON ((0 0, 1.5 0, 1.5 1.5, 0 1.5, 0 0))")],
        ["zone_id", "geometry"])
    ops = ["count", "mean", "variety", "median", "min", "max"]
    fused = {r["zone_id"]: r.asDict()
             for r in exact_extract_fused(zones, rasters, ops).collect()}
    loop = {r["zone_id"]: r.asDict()
            for r in exact_extract_multi(zones, rasters, ops).collect()}
    assert set(fused) == set(loop)
    for z in loop:
        for k, v in loop[z].items():
            if v is None:
                assert fused[z][k] is None, (z, k)
            else:
                assert fused[z][k] == pytest.approx(v), (z, k)


def test_unnest_arrays(spark):
    from exactextract_spark.api import unnest_arrays
    from exactextract_spark.extract import exact_extract
    from exactextract_spark.io import tiles_from_array

    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    res = exact_extract(zones, tiles_from_array(spark, ARANGE9),
                        ["values", "coverage", "cell_id"])
    rows = unnest_arrays(res, ["cell_id", "values", "coverage"]).collect()
    assert len(rows) == 9
    assert [r["cell_id"] for r in rows] == list(range(9))
    assert rows[4]["values"] == 5.0 and rows[4]["coverage"] == 1.0


def test_frac_as_map(spark):
    from exactextract_spark.api import frac_as_map
    from exactextract_spark.extract import exact_extract
    from exactextract_spark.io import tiles_from_array

    rast = np.array([[1, 1, 1], [2, 2, 2], [3, 3, 3]], dtype=np.float64)
    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    res = frac_as_map(exact_extract(zones, tiles_from_array(spark, rast),
                                    ["unique", "frac"]))
    m = res.collect()[0]["frac_map"]
    assert m == {1.0: 0.25, 2.0: 0.5, 3.0: 0.25}


def test_cli_roundtrip(spark, tmp_path):
    from exactextract_spark.cli import main
    from exactextract_spark.io import tiles_from_array

    zones = spark.createDataFrame(
        [("z0", SQ), ("z1", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        ["zone_id", "geometry"])
    zones.write.parquet(str(tmp_path / "zones.parquet"))
    tiles_from_array(spark, ARANGE9).write.parquet(str(tmp_path / "tiles.parquet"))

    rc = main(["--polygons", str(tmp_path / "zones.parquet"),
               "--raster", f"v={tmp_path}/tiles.parquet",
               "--stat", "mean", "--stat", "count",
               "--id-name", "fid",
               "--output", str(tmp_path / "out.parquet"),
               "--cores", "8"])
    assert rc == 0
    out = {r["fid"]: r for r in spark.read.parquet(str(tmp_path / "out.parquet")).collect()}
    assert out["z0"]["mean"] == pytest.approx(5.0)
    assert out["z1"]["count"] == pytest.approx(1.0)


def test_cli_docs_input(spark, tmp_path):
    from exactextract_spark.cli import main
    from exactextract_spark.fixtures import SynthConfig, build_docs

    build_docs(spark, SynthConfig(G=64, Z=10)).write.parquet(str(tmp_path / "docs.parquet"))
    rc = main(["--docs", str(tmp_path / "docs.parquet"), "--raster", "r0",
               "--stat", "count", "--stat", "mean",
               "--output", str(tmp_path / "out.parquet"), "--cores", "8"])
    assert rc == 0
    rows = spark.read.parquet(str(tmp_path / "out.parquet")).collect()
    assert len(rows) == 10


def test_multi_band_naming(spark):
    # bands: {src}_band_{b}_{stat} (reference exact_extract.py:28-38)
    from exactextract_spark.api import exact_extract_multi
    from exactextract_spark.io import tiles_from_array

    b0 = tiles_from_array(spark, ARANGE9, raster_id="m", band=0)
    b1 = tiles_from_array(spark, 10 * ARANGE9, raster_id="m", band=1)
    tiles = b0.unionByName(b1)
    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    r = exact_extract_multi(zones, {"m": tiles}, ["mean"]).collect()[0]
    assert r["m_band_0_mean"] == pytest.approx(5.0)
    assert r["m_band_1_mean"] == pytest.approx(50.0)


def test_cli_weights_path(spark, tmp_path):
    from exactextract_spark.cli import main
    from exactextract_spark.io import tiles_from_array

    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    zones.write.parquet(str(tmp_path / "z.parquet"))
    tiles_from_array(spark, ARANGE9).write.parquet(str(tmp_path / "t.parquet"))
    w = np.array([[0, 0, 0], [0, 0, 0], [1, 1, 1]], dtype=np.float64)
    tiles_from_array(spark, w, raster_id="w").write.parquet(str(tmp_path / "w.parquet"))
    rc = main(["--polygons", str(tmp_path / "z.parquet"),
               "--raster", f"v={tmp_path}/t.parquet",
               "--weights", f"w={tmp_path}/w.parquet",
               "--stat", "weighted_mean", "--stat", "weighted_sum",
               "--output", str(tmp_path / "o.parquet"), "--cores", "8"])
    assert rc == 0
    r = spark.read.parquet(str(tmp_path / "o.parquet")).collect()[0]
    assert r["weighted_mean"] == pytest.approx(8.0)
    assert r["weighted_sum"] == pytest.approx(8.0)


def test_multiband_fused_single_scan(spark):
    """exact_extract_multiband: one fused scan over all bands, results
    equal to the per-band loop, reference column naming."""
    import numpy as np
    from pyspark.sql import functions as F

    from exactextract_spark.api import exact_extract_multi, exact_extract_multiband
    from exactextract_spark.io import tiles_from_array

    b0 = np.arange(100, dtype=np.float64).reshape(10, 10)
    b1 = (b0 * 3 + 1) % 17
    t0 = tiles_from_array(spark, b0, raster_id="m", band=0)
    t1 = tiles_from_array(spark, b1, raster_id="m", band=1)
    tiles = t0.unionByName(t1)
    zones = spark.createDataFrame(
        [("z0", "POLYGON ((0.5 0.5, 6.5 0.5, 6.5 6.5, 0.5 6.5, 0.5 0.5))"),
         ("z1", "POLYGON ((2 2, 9 2, 5 9, 2 2))")],
        ["zone_id", "geometry"])

    fused = exact_extract_multiband(zones, tiles, ["count", "sum", "mean"])
    assert sorted(c for c in fused.columns if c != "zone_id") == sorted(
        f"m_band_{b}_{s}" for b in (0, 1) for s in ("count", "sum", "mean"))
    got = {r["zone_id"]: r.asDict() for r in fused.collect()}

    want = {r["zone_id"]: r.asDict() for r in exact_extract_multi(
        zones, {"m": tiles}, ["count", "sum", "mean"]).collect()}
    for z in want:
        for k, v in want[z].items():
            assert got[z][k] == v, (z, k, got[z][k], v)

    # exactly ONE kernel scan (one mapInArrow over the fused table; the
    # zone-prep mapInArrow, named prep, sits under the cached zone
    # table); AQE prints the plan twice (final + initial), take the
    # final part
    plan = fused._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInArrow kernel(") == 1


def test_frac_as_map_auto_unique(spark):
    """frac_as_map must not require the caller to request unique
    (reference exact_extract.py:251-265 adds the hidden op)."""
    import numpy as np

    from exactextract_spark.extract import exact_extract
    from exactextract_spark.io import tiles_from_array

    data = np.array([[1, 1, 2], [2, 2, 3], [3, 3, 3]], dtype=np.float64)
    tiles = tiles_from_array(spark, data)
    zones = spark.createDataFrame(
        [("z", "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))")], ["zone_id", "geometry"])
    r = exact_extract(zones, tiles, ["frac"], frac_as_map=True).collect()[0]
    assert set(r.asDict()) == {"zone_id", "frac"}
    m = r["frac"]
    assert m[1.0] == pytest.approx(2 / 9)
    assert m[2.0] == pytest.approx(3 / 9)
    assert m[3.0] == pytest.approx(4 / 9)


def test_undefined_nan_option(spark):
    import math

    import numpy as np

    from exactextract_spark.extract import exact_extract
    from exactextract_spark.io import tiles_from_array

    tiles = tiles_from_array(spark, np.ones((4, 4)))
    zones = spark.createDataFrame(
        [("out", "POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))")],
        ["zone_id", "geometry"])
    r0 = exact_extract(zones, tiles, ["mean"]).collect()[0]
    assert r0["mean"] is None
    r1 = exact_extract(zones, tiles, ["mean"], undefined="nan").collect()[0]
    assert r1["mean"] is not None and math.isnan(r1["mean"])


def test_dtype_results_integer_raster(spark):
    """operation.cpp:115-206: cell-valued results come back in the cell
    dtype for integer rasters when dtype_results is on."""
    import numpy as np

    from exactextract_spark.extract import exact_extract
    from exactextract_spark.io import tiles_from_array

    data = np.arange(16, dtype=np.int32).reshape(4, 4)
    tiles = tiles_from_array(spark, data)
    zones = spark.createDataFrame(
        [("z", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")], ["zone_id", "geometry"])
    df = exact_extract(zones, tiles, ["min", "max", "majority", "median", "unique"],
                       dtype_results=True)
    types = dict(df.dtypes)
    assert types["min"] == "bigint" and types["max"] == "bigint"
    assert types["majority"] == "bigint" and types["median"] == "bigint"
    assert types["unique"] == "array<bigint>"
    r = df.collect()[0]
    assert r["min"] == 0 and r["max"] == 15
    # float raster: flag is a no-op
    ftiles = tiles_from_array(spark, data.astype(np.float64))
    fdf = exact_extract(zones, ftiles, ["min"], dtype_results=True)
    assert dict(fdf.dtypes)["min"] == "double"


def test_extract_collect_progress(spark):
    import numpy as np

    from exactextract_spark.extract import ZonalExtractor
    from exactextract_spark.io import tiles_from_array

    data = np.arange(900, dtype=np.float64).reshape(30, 30)
    tiles = tiles_from_array(spark, data, tile=8)
    zones = spark.createDataFrame(
        [("z", "POLYGON ((1 1, 29 1, 29 29, 1 29, 1 1))")], ["zone_id", "geometry"])
    ext = ZonalExtractor(zones, tiles)
    seen = []
    rows = ext.extract_collect(["count", "sum"],
                               progress=lambda f, msg: seen.append(f),
                               poll_interval=0.05)
    assert len(rows) == 1 and rows[0]["count"] == pytest.approx(28.0 * 28.0)
    assert seen and seen[-1] == 1.0
    assert all(0.0 <= f <= 1.0 for f in seen)


def test_read_docs_path_and_table(spark, tmp_path):
    from exactextract_spark.fixtures import SynthConfig, build_docs
    from exactextract_spark.io import read_docs

    docs = build_docs(spark, SynthConfig(G=64, Z=5))
    p = str(tmp_path / "docs.parquet")
    docs.write.parquet(p)
    assert read_docs(spark, p).count() == docs.count()
    # catalog-table resolution (temp view stands in for an Iceberg table)
    docs.createOrReplaceTempView("docs_view")
    assert read_docs(spark, "docs_view").count() == docs.count()
    # loud failure on a non-docs table
    spark.range(3).createOrReplaceTempView("not_docs")
    with pytest.raises(ValueError, match="interleaved-document"):
        read_docs(spark, "not_docs")


def test_zones_from_geojson(spark, tmp_path):
    import json

    from exactextract_spark.extract import exact_extract
    from exactextract_spark.io import tiles_from_array, zones_from_geojson

    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "id": "a",
         "geometry": {"type": "Polygon", "coordinates":
                      [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]]},
         "properties": {"name": "alpha", "pop": 10}},
        {"type": "Feature",
         "geometry": {"type": "MultiPolygon", "coordinates":
                      [[[[3, 3], [4, 3], [4, 4], [3, 4], [3, 3]]],
                       [[[5, 5], [6, 5], [6, 6], [5, 6], [5, 5]]]]},
         "properties": {"name": "beta"}},
    ]}
    # driver-side dict
    z1 = zones_from_geojson(spark, fc)
    rows = {r["zone_id"]: r for r in z1.collect()}
    assert rows["a"]["props"]["name"] == "alpha"
    assert rows["a"]["geometry"].startswith("POLYGON")
    assert [r for r in rows.values() if "MULTIPOLYGON" in r["geometry"]]

    # whole-file FeatureCollection
    p = tmp_path / "zones.geojson"
    p.write_text(json.dumps(fc))
    z2 = zones_from_geojson(spark, str(p), id_property="name")
    ids = {r["zone_id"] for r in z2.collect()}
    assert ids == {"alpha", "beta"}

    # NDJSON line-parallel
    p2 = tmp_path / "zones.jsonl"
    p2.write_text("\n".join(json.dumps(f) for f in fc["features"]))
    z3 = zones_from_geojson(spark, str(p2))
    assert z3.count() == 2

    # end-to-end: GeoJSON zones drive a real extraction
    import numpy as np
    tiles = tiles_from_array(spark, np.arange(64.0).reshape(8, 8))
    res = {r["zone_id"]: r["count"] for r in
           exact_extract(z2.select("zone_id", "geometry"), tiles,
                         ["count"]).collect()}
    assert res["alpha"] == 4.0 and res["beta"] == 2.0


def test_cli_multi_raster_and_include_geom(spark, tmp_path):
    from exactextract_spark.cli import main
    from exactextract_spark.fixtures import SynthConfig, build_docs

    build_docs(spark, SynthConfig(G=64, Z=6)).write.parquet(
        str(tmp_path / "docs.parquet"))
    rc = main(["--docs", str(tmp_path / "docs.parquet"),
               "--raster", "r0", "--raster", "i0",
               "--stat", "mean", "--stat", "count",
               "--include-geom",
               "--output", str(tmp_path / "o.parquet"), "--cores", "8"])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "o.parquet"))
    cols = set(out.columns)
    assert {"r0_mean", "r0_count", "i0_mean", "i0_count",
            "geometry"} <= cols
    rows = out.collect()
    assert len(rows) == 6
    for r in rows:
        assert r["geometry"].startswith("POLYGON")
        # same generator values on both rasters -> identical means
        assert r["r0_mean"] == r["i0_mean"]


def test_write_geojson_roundtrip(spark, tmp_path):
    import json

    import numpy as np
    from exactextract_spark.extract import exact_extract
    from exactextract_spark.io import (tiles_from_array, write_geojson,
                                       zones_from_geojson)

    tiles = tiles_from_array(spark, np.arange(64.0).reshape(8, 8))
    zones = spark.createDataFrame(
        [("a", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
         ("b", "MULTIPOLYGON (((3 3, 4 3, 4 4, 3 4, 3 3)), "
               "((5 5, 6 5, 6 6, 5 6, 5 5)))"),
         ("h", "POLYGON ((0 4, 4 4, 4 8, 0 8, 0 4), "
               "(1 5, 3 5, 3 7, 1 7, 1 5))")],
        ["zone_id", "geometry"])
    res = exact_extract(zones, tiles, ["count", "mean", "unique"],
                        include_cols=["geometry"])
    out = tmp_path / "out.geojsonl"
    write_geojson(res, str(out))
    feats = [json.loads(line) for f in sorted(out.glob("part-*"))
             for line in f.read_text().splitlines() if line]
    assert len(feats) == 3
    by_id = {f["id"]: f for f in feats}
    # array-valued stats serialize as JSON lists
    assert isinstance(by_id["a"]["properties"]["unique"], list)
    assert len(by_id["a"]["properties"]["unique"]) >= 2
    assert by_id["a"]["geometry"]["type"] == "Polygon"
    assert by_id["b"]["geometry"]["type"] == "MultiPolygon"
    assert by_id["h"]["geometry"]["type"] == "Polygon"
    assert len(by_id["h"]["geometry"]["coordinates"]) == 2  # shell + hole
    assert by_id["a"]["properties"]["count"] == 4.0
    # the written features parse straight back in as a zones source
    files = sorted(out.glob("part-*"))
    p2 = tmp_path / "zones.jsonl"
    p2.write_text("\n".join(f.read_text().strip() for f in files))
    z3 = zones_from_geojson(spark, str(p2))
    res2 = exact_extract(z3.select("zone_id", "geometry"), tiles,
                         ["count"])
    got = {r["zone_id"]: r["count"] for r in res2.collect()}
    # ids become the GeoJSON Feature id (strings preserved)
    assert got["a"] == 4.0 and got["b"] == 2.0 and got["h"] == 12.0


def test_cli_csv_golden(spark, tmp_path):
    """Transcribed reference CLI golden
    (/root/reference/test/test_cli.py:519-545 test_coverage_fractions):
    coverage+values over arange(9), CSV output — array stats unnest to
    one row per cell (gdal_feature_unnester semantics), scalars repeat."""
    import csv

    from exactextract_spark.cli import main
    from exactextract_spark.io import tiles_from_array

    data = np.arange(9, dtype=np.float64).reshape(3, 3)
    zones = spark.createDataFrame(
        [("1", "POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))")],
        ["zone_id", "geometry"])
    zones.write.parquet(str(tmp_path / "zones.parquet"))
    tiles_from_array(spark, data).write.parquet(str(tmp_path / "tiles.parquet"))

    out = tmp_path / "out.csv"
    rc = main(["--polygons", str(tmp_path / "zones.parquet"),
               "--raster", f"v={tmp_path}/tiles.parquet",
               "--stat", "coverage", "--stat", "values",
               "--output", str(out), "--cores", "8"])
    assert rc == 0
    with open(out) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 9
    assert list(rows[0].keys()) == ["zone_id", "coverage", "values"]
    assert [r["zone_id"] for r in rows] == ["1"] * 9
    # reference golden fractions (row-major over the 3x3 window)
    assert [float(r["coverage"]) for r in rows] == \
        [0.25, 0.5, 0.25, 0.5, 1.0, 0.5, 0.25, 0.5, 0.25]
    assert [float(r["values"]) for r in rows] == [float(v) for v in range(9)]


def test_cli_csv_scalar_stats(spark, tmp_path):
    """CSV output without array stats: plain one-row-per-zone file."""
    import csv

    from exactextract_spark.cli import main
    from exactextract_spark.io import tiles_from_array

    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    zones.write.parquet(str(tmp_path / "zones.parquet"))
    tiles_from_array(spark, ARANGE9).write.parquet(str(tmp_path / "tiles.parquet"))
    out = tmp_path / "stats.csv"
    rc = main(["--polygons", str(tmp_path / "zones.parquet"),
               "--raster", f"v={tmp_path}/tiles.parquet",
               "--stat", "mean", "--stat", "count",
               "--output", str(out), "--cores", "8"])
    assert rc == 0
    with open(out) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 1
    assert float(rows[0]["mean"]) == 5.0


def test_cli_subdivide_rejects_unsupported_flags(spark, tmp_path):
    from exactextract_spark.cli import main
    from exactextract_spark.io import tiles_from_array

    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    zones.write.parquet(str(tmp_path / "zones.parquet"))
    tiles_from_array(spark, ARANGE9).write.parquet(str(tmp_path / "tiles.parquet"))
    rc = main(["--polygons", str(tmp_path / "zones.parquet"),
               "--raster", f"v={tmp_path}/tiles.parquet",
               "--subdivide", "--include-geom",
               "--output", str(tmp_path / "out.parquet"), "--cores", "8"])
    assert rc == 2


def test_bad_strategy_rejected(spark):
    from exactextract_spark.extract import exact_extract
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.subdivide import subdivide

    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    tiles = tiles_from_array(spark, ARANGE9)
    with pytest.raises(ValueError, match="strategy"):
        exact_extract(zones, tiles, ["mean"], strategy="brodcast")
    with pytest.raises(ValueError, match="strategy"):
        subdivide(zones, tiles, strategy="brodcast")


def test_cli_csv_keeps_empty_zone_row(spark, tmp_path):
    """A zone intersecting no raster cell must still write one CSV row
    (explode_outer in the unnester — the reference writes a row per
    feature)."""
    import csv

    from exactextract_spark.cli import main
    from exactextract_spark.io import tiles_from_array

    zones = spark.createDataFrame(
        [("in", SQ), ("out", "POLYGON ((100 100, 101 100, 101 101, 100 101, 100 100))")],
        ["zone_id", "geometry"])
    zones.write.parquet(str(tmp_path / "zones.parquet"))
    tiles_from_array(spark, ARANGE9).write.parquet(str(tmp_path / "tiles.parquet"))
    out = tmp_path / "o.csv"
    rc = main(["--polygons", str(tmp_path / "zones.parquet"),
               "--raster", f"v={tmp_path}/tiles.parquet",
               "--stat", "values", "--stat", "coverage",
               "--output", str(out), "--cores", "8"])
    assert rc == 0
    with open(out) as f:
        rows = list(csv.DictReader(f))
    ids = {r["zone_id"] for r in rows}
    assert ids == {"in", "out"}
    empty = [r for r in rows if r["zone_id"] == "out"]
    assert len(empty) == 1 and empty[0]["values"] == ""


def test_cli_subdivide_geojson_carries_geometry(spark, tmp_path):
    """--subdivide to .geojson must put the covered piece's polygon in
    the Feature geometry (the wkt column), not leave geometry null."""
    import glob
    import json

    from exactextract_spark.cli import main
    from exactextract_spark.io import tiles_from_array

    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    zones.write.parquet(str(tmp_path / "zones.parquet"))
    tiles_from_array(spark, ARANGE9).write.parquet(str(tmp_path / "tiles.parquet"))
    out = tmp_path / "cells.geojson"
    rc = main(["--polygons", str(tmp_path / "zones.parquet"),
               "--raster", f"v={tmp_path}/tiles.parquet",
               "--subdivide", "--output", str(out), "--cores", "8"])
    assert rc == 0
    feats = []
    for part in glob.glob(str(out) + "/part-*"):
        with open(part) as f:
            feats += [json.loads(line) for line in f if line.strip()]
    assert feats
    for ft in feats:
        assert ft["geometry"] is not None
        assert ft["geometry"]["type"] in ("Polygon", "MultiPolygon")
        assert "wkt" not in ft["properties"] or ft["properties"]["wkt"] is None
