"""Engine-vs-DuckDB-oracle parity — the same comparison the driver's
correctness gate performs, but asserting BIT-EXACT equality (the
quarter-aligned fixture makes every double exact)."""

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from exactextract_spark.fixtures import SynthConfig
from exactextract_spark.oracles import ZONAL_ORACLES

SF_DIR = "/root/testdata/sf0.01"
CFG = SynthConfig.from_sf_dir(SF_DIR)


def _tupleize(df):
    for c in df.columns:
        if df[c].dtype == object and len(df) and \
                isinstance(df[c].iloc[0], (list, np.ndarray)):
            df[c] = df[c].map(lambda v: tuple(v) if v is not None else None)
    return df


def _compare(name, spark):
    eng = _tupleize(entry_mod.queries()[name](spark, SF_DIR).toPandas())
    ora = _tupleize(duckdb.sql(ZONAL_ORACLES[name](CFG)).df())
    keyish = [c for c in ("zone_id", "point_id", "value", "tile_row", "tile_col", "rank")
              if c in eng.columns]
    sort_cols = keyish + [c for c in eng.columns
                          if c not in keyish and eng[c].dtype != object]
    eng = eng.sort_values(sort_cols).reset_index(drop=True)[sorted(eng.columns)]
    ora = ora.sort_values(sort_cols).reset_index(drop=True)[sorted(ora.columns)]
    assert list(eng.columns) == list(ora.columns), (list(eng.columns), list(ora.columns))
    assert len(eng) == len(ora), (name, len(eng), len(ora))
    for c in eng.columns:
        a, b = eng[c], ora[c]
        # dtype-strict like the driver's hash (int64 vs float64 with
        # equal values is a driver FAIL); 'u' folds to 'i', object
        # columns exempt
        ka = {"u": "i"}.get(a.dtype.kind, a.dtype.kind)
        kb = {"u": "i"}.get(b.dtype.kind, b.dtype.kind)
        if "O" not in (ka, kb):
            assert ka == kb, (name, c, a.dtype, b.dtype)
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = ((a == b) | (a.isna() & b.isna())).all()
            assert ok, (name, c, (a - b).abs().max(),
                        a[~((a == b) | (a.isna() & b.isna()))].head(),
                        b[~((a == b) | (a.isna() & b.isna()))].head())
        else:
            assert (a.astype(object) == b.astype(object)).all() or \
                   (a.isna() & b.isna()).any() is not None and \
                   ((a == b) | (a.isna() & b.isna())).all(), (name, c)


@pytest.mark.parametrize("name", sorted(ZONAL_ORACLES))
def test_oracle_parity(name, spark):
    _compare(name, spark)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "zone_id" in df.columns and "mean" in df.columns


def test_queries_have_oracles():
    q = set(entry_mod.queries())
    o = set(entry_mod.oracle_sql())
    assert o <= q
    # every zonal query is oracle-checked
    assert {n for n in q if n.startswith(("zonal", "tile"))} <= o


def test_span_roundtrip(spark):
    """Per-row span-sequence equality (kind, text, media_ref, order) —
    BASELINE.json input_hint invariant."""
    from exactextract_spark.fixtures import build_docs
    from exactextract_spark.io import spans_roundtrip

    docs = build_docs(spark, SynthConfig(G=64, Z=20))
    src = docs.select("doc_id", "spans").toPandas()
    rt = spans_roundtrip(docs).toPandas()
    for _, row in src.iterrows():
        got = rt[rt.doc_id == row.doc_id].sort_values("pos")
        spans = row.spans
        assert len(got) == len(spans)
        for (_, g), s in zip(got.iterrows(), spans):
            assert (g["kind"], g["text"], g["media_ref"], g["offset"]) == \
                   (s["kind"], s["text"], s["media_ref"], s["offset"])


def test_band_math_nodata_and_guard(spark):
    """band_math: nodata in EITHER band poisons the output cell; the
    0-denominator guard yields NaN; defined cells carry the exact
    quantized ratio; the derived table runs through exact_extract."""
    import numpy as np

    from exactextract_spark.bandmath import (band_math,
                                             normalized_difference_q20)
    from exactextract_spark.io import decode_tile, tiles_from_array

    a = np.array([[1.0, -1.0], [3.0, 0.0]])
    arr = np.stack([a])  # band 0
    t0 = tiles_from_array(spark, a, nodata=-1.0, tile=2, raster_id="bm",
                          band=0)
    # band 1: [[1, 5], [6, 0]] -> cell (1,1) hits the 0-denominator guard
    b = np.array([[1.0, 5.0], [6.0, 0.0]])
    t1 = tiles_from_array(spark, b, nodata=-1.0, tile=2, raster_id="bm",
                          band=1)
    tiles = t0.unionByName(t1, allowMissingColumns=True)
    out = band_math(tiles, normalized_difference_q20).collect()
    assert len(out) == 1
    vals = decode_tile(out[0]["values"], "float64", 2, 2)
    assert vals[0, 0] == 0.0                        # (1-1)/(1+1) -> 0
    assert np.isnan(vals[0, 1])                     # band-0 nodata
    assert vals[1, 0] == np.floor(((6 - 3) / 9) * 1048576.0)
    assert np.isnan(vals[1, 1])                     # 0 denominator
    assert out[0]["band"] == 0 and out[0]["dtype"] == "float64"


# (rows, simpleString, {column: NULL count}) of the raster frames on
# sf0.01; every other column has no NULL, and no float column holds NaN.
# The comparator above treats NaN and NULL alike, so this pins what the
# Arrow boundary writes.
_RASTER_FRAMES = {
    "focal_mean": (40000, "struct<cell_id:bigint,r:int,c:int,focal_n:bigint,"
                   "focal_sum:double,focal_mean:double,focal_min:double,"
                   "focal_max:double>", {}),
    "focal_convolve": (40000, "struct<cell_id:bigint,r:int,c:int,wsum:bigint,"
                       "conv:double,smooth:double>", {}),
    "raster_proximity": (40000, "struct<cell_id:bigint,r:int,c:int,d2:bigint,"
                         "dist:double>", {}),
    "raster_gradient": (40000, "struct<cell_id:bigint,r:int,c:int,gx:double,"
                        "gy:double,slope_sq:double>",
                        {"gx": 16136, "gy": 16136, "slope_sq": 16136}),
    "raster_histogram": (97, "struct<value:double,n:bigint>", {}),
    "raster_overview": (2500, "struct<ov_r:int,ov_c:int,n:bigint,sum:double,"
                        "mean:double,min:double,max:double>", {}),
    "point_sample": (100, "struct<point_id:bigint,x:double,y:double,r:int,"
                     "c:int,v_nearest:double,v_bilinear:double>",
                     {"v_nearest": 4, "v_bilinear": 19}),
    "zonal_bandmath": (16, "struct<band:int,tile_row:int,tile_col:int,"
                       "row0:int,col0:int,nrows:int,ncols:int,values:binary,"
                       "raster_id:string,grid_xmin:double,grid_ymax:double,"
                       "dx:double,dy:double,grid_nrows:int,grid_ncols:int,"
                       "dtype:string,nodata:double>", {"nodata": 16}),
}


@pytest.mark.parametrize("name", sorted(_RASTER_FRAMES))
def test_raster_frame_schema_and_nulls(name, spark):
    """Schema, row count and per-column NULL/NaN counts of the raster
    operator frames (zonal_bandmath: band_math's derived tiles)."""
    from pyspark.sql import functions as F, types as T

    from exactextract_spark import io as eio
    from exactextract_spark.bandmath import band_math, normalized_difference_q20
    from exactextract_spark.fixtures import build_docs

    if name == "zonal_bandmath":
        docs = build_docs(spark, CFG)
        meta = {r["raster_id"]: r.asDict()
                for r in eio.raster_meta_from_docs(docs).collect()}
        df = band_math(eio.tiles_from_docs(docs, "mb0", meta["mb0"]),
                       normalized_difference_q20)
    else:
        df = entry_mod.queries()[name](spark, SF_DIR)
    rows, schema, nulls = _RASTER_FRAMES[name]
    assert df.schema.simpleString() == schema
    aggs = [F.count("*").alias("_rows")]
    for f in df.schema.fields:
        aggs.append(F.sum(F.col(f.name).isNull().cast("long")).alias(f.name))
        if isinstance(f.dataType, T.DoubleType):
            aggs.append(F.sum(F.isnan(f.name).cast("long")).alias(f"{f.name}_nan"))
    got = df.agg(*aggs).first().asDict()
    assert got.pop("_rows") == rows
    assert got == {**{k: 0 for k in got}, **nulls}
