"""Quadkey index properties and salted aggregation equivalence."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from exactextract_spark.tiling import add_quadkey, morton, quadkey, salted_sum


def _morton_py(r, c, bits=16):
    m = 0
    for b in range(bits):
        m |= ((r >> b) & 1) << (2 * b + 1)
        m |= ((c >> b) & 1) << (2 * b)
    return m


def test_morton_matches_reference_impl(spark):
    df = spark.range(64).select(
        (F.col("id") / 8).cast("int").alias("tile_row"),
        (F.col("id") % 8).cast("int").alias("tile_col"))
    got = df.withColumn("m", morton("tile_row", "tile_col")).collect()
    for r in got:
        assert r["m"] == _morton_py(r["tile_row"], r["tile_col"])


def test_quadkey_prefix_hierarchy(spark):
    """A level-L key is the bit-prefix (parent) of its level-(L+1) keys:
    coarse equality predicates prune subtrees."""
    df = spark.range(256).select(
        (F.col("id") / 16).cast("int").alias("tile_row"),
        (F.col("id") % 16).cast("int").alias("tile_col"))
    df = add_quadkey(df, level=3, out="q3", max_level=4)
    df = add_quadkey(df, level=4, out="q4", max_level=4)
    for r in df.collect():
        assert r["q3"] == r["q4"] >> 2


def test_quadkey_locality(spark):
    """The 4 children of one parent are exactly a 2x2 tile block."""
    df = spark.range(256).select(
        (F.col("id") / 16).cast("int").alias("tile_row"),
        (F.col("id") % 16).cast("int").alias("tile_col"))
    rows = add_quadkey(df, level=3, out="q", max_level=4).collect()
    groups = {}
    for r in rows:
        groups.setdefault(r["q"], []).append((r["tile_row"], r["tile_col"]))
    for q, cells in groups.items():
        assert len(cells) == 4
        rs = {r for r, _ in cells}
        cs = {c for _, c in cells}
        assert len(rs) == 2 and len(cs) == 2
        assert max(rs) - min(rs) == 1 and max(cs) - min(cs) == 1


def test_salted_sum_equivalence(spark):
    """Salted two-stage aggregation == plain aggregation, including a
    hot key carrying 90% of rows."""
    import pandas as pd

    rng = np.random.default_rng(0)
    n = 10000
    keys = np.where(rng.uniform(size=n) < 0.9, "hot", "k" + pd.Series(rng.integers(0, 50, n)).astype(str))
    pdf = pd.DataFrame({"k": keys, "v": np.arange(n, dtype=np.float64) / 16})
    df = spark.createDataFrame(pdf)
    plain = {r["k"]: (r["s"], r["n"]) for r in
             df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").cast("double").alias("n")).collect()}
    salted = {r["k"]: (r["s"], r["n"]) for r in
              salted_sum(df, "k", [F.sum("v").alias("s"),
                                   F.count("*").cast("double").alias("n")]).collect()}
    assert set(plain) == set(salted)
    for k in plain:
        assert salted[k][0] == pytest.approx(plain[k][0])
        assert salted[k][1] == plain[k][1]


def test_bucketed_band_join_is_shuffle_free(spark, tmp_path):
    """100 TB co-location evidence: when the tile table is BUCKETED by
    the tile key, band_math's band-alignment join plans with ZERO
    Exchange operators (scan -> SortMergeJoin on bucket layout ->
    MapInArrow) — the 'pre-bucketed at production scale' claim in the
    module docstring, asserted on the physical plan."""
    import numpy as np

    from exactextract_spark.bandmath import (band_math,
                                             normalized_difference_q20)
    from exactextract_spark.io import tiles_from_array

    a = np.arange(64.0).reshape(8, 8)
    t0 = tiles_from_array(spark, a, tile=4, raster_id="bk", band=0)
    t1 = tiles_from_array(spark, a * 2 + 1, tile=4, raster_id="bk", band=1)
    tiles = t0.unionByName(t1, allowMissingColumns=True)
    tab = f"bk_tiles_{abs(hash(str(tmp_path))) % 10**8}"
    (tiles.write.mode("overwrite")
     .bucketBy(4, "raster_id", "tile_row", "tile_col")
     .sortBy("raster_id", "tile_row", "tile_col")
     .format("parquet").saveAsTable(tab))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        derived = band_math(spark.table(tab), normalized_difference_q20)
        plan = derived._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # and the result is still correct through the bucketed path
        rows = derived.collect()
        assert len(rows) == 4  # 8x8 grid, 4x4 tiles, band-aligned
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {tab}")


def test_resolve_grid_reads_the_table_once(spark):
    """grid.resolve_grid: the grid dict comes from the tile table's first
    row and the stride is inferred from it; a grid that carries 'tile'
    (or an explicit tile) runs no Spark job."""
    import uuid

    from exactextract_spark.grid import resolve_grid
    from exactextract_spark.io import tiles_from_array

    tiles = tiles_from_array(spark, np.zeros((10, 12)), tile=4)
    grid, tile = resolve_grid(tiles)
    assert tile == 4
    assert grid == dict(grid_xmin=0.0, grid_ymax=10.0, dx=1.0, dy=1.0,
                        grid_nrows=10, grid_ncols=12)
    sc = spark.sparkContext
    group = f"resolve-grid-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "resolve_grid with a known stride")
        assert resolve_grid(tiles, {**grid, "tile": 4}) == ({**grid, "tile": 4}, 4)
        assert resolve_grid(tiles, grid, 4) == (grid, 4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
