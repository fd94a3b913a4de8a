"""Semantic tests for the session-5 operators: rasterize (vector→raster
burn + round trip), zonal crosstab, funnel, and rolling features."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _zdf(spark, zones):
    return spark.createDataFrame(list(zones.items()), ["zone_id", "geometry"])


# --- rasterize -------------------------------------------------------------

def test_rasterize_burn_unit_square(spark):
    """A zone exactly covering one cell burns 1.0 there and nothing
    else; overlapping zones sum."""
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.rasterize import rasterize_burn

    tiles = tiles_from_array(spark, np.zeros((8, 8)), tile=8)
    zones = _zdf(spark, {
        "a": "POLYGON((2 5, 3 5, 3 6, 2 6, 2 5))",     # cell r=2,c=2
        "b": "POLYGON((2 5, 3 5, 3 6, 2 6, 2 5))",     # same cell
        "c": "POLYGON((2.5 5, 3 5, 3 6, 2.5 6, 2.5 5))",  # right half
    })
    rows = {r["cell_id"]: r for r in rasterize_burn(zones, tiles).collect()}
    assert set(rows) == {2 * 8 + 2}
    r = rows[18]
    assert r["n_zones"] == 3 and r["burn"] == 2.5
    assert (r["r"], r["c"]) == (2, 2)


def test_rasterize_roundtrip_through_extract(spark):
    """burn_to_tiles output is a first-class raster: zonal sum over the
    burned layer equals the burn total exactly (vector→raster→zonal)."""
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.rasterize import burn_to_tiles, rasterize_burn
    from exactextract_spark.extract import exact_extract

    g = 16
    tiles = tiles_from_array(spark, np.zeros((g, g)), tile=8)
    zones = _zdf(spark, {
        "a": "POLYGON((1.25 2, 5.5 2, 5.5 9.75, 1.25 9.75, 1.25 2))",
        "b": "POLYGON((4 4, 12 4, 12 12, 4 12, 4 4))",
    })
    grid = dict(grid_xmin=0.0, grid_ymax=float(g), dx=1.0, dy=1.0,
                grid_nrows=g, grid_ncols=g, tile=8)
    burn = rasterize_burn(zones, tiles, grid=grid).cache()
    total = burn.agg(F.sum("burn")).first()[0]
    n_cells = burn.count()

    burned_tiles = burn_to_tiles(burn, grid)
    whole = _zdf(spark, {"all": f"POLYGON((0 0, {g} 0, {g} {g}, 0 {g}, 0 0))"})
    res = exact_extract(whole, burned_tiles, ["sum", "count"],
                        grid=grid).first()
    # sum over the burned raster == total burn (cells outside any zone
    # inside a touched tile contribute 0); count == full cells of every
    # touched tile (payloads are dense, nodata-free)
    assert res["sum"] == total
    n_tiles = burned_tiles.count()
    assert res["count"] == n_tiles * 64.0
    assert n_cells > 0 and total > 0


def test_burn_to_tiles_payload_values(spark):
    """Decoded payload holds the burn at (r, c) and 0 elsewhere."""
    from exactextract_spark.io import decode_tile, tiles_from_array
    from exactextract_spark.rasterize import burn_to_tiles, rasterize_burn

    tiles = tiles_from_array(spark, np.zeros((8, 8)), tile=8)
    zones = _zdf(spark, {"h": "POLYGON((2.5 5, 3 5, 3 6, 2.5 6, 2.5 5))"})
    grid = dict(grid_xmin=0.0, grid_ymax=8.0, dx=1.0, dy=1.0,
                grid_nrows=8, grid_ncols=8, tile=8)
    out = burn_to_tiles(rasterize_burn(zones, tiles, grid=grid), grid).collect()
    assert len(out) == 1
    t = out[0]
    arr = decode_tile(t["values"], t["dtype"], t["nrows"], t["ncols"])
    assert arr[2, 2] == 0.5
    assert arr.sum() == 0.5 and t["nodata"] is None


# --- crosstab --------------------------------------------------------------

def test_crosstab_consistency_with_count_and_frac(spark):
    """Per-zone crosstab totals equal the scalar count stat bit-exactly;
    fracs sum to 1 within fp tolerance."""
    from exactextract_spark.api import zonal_crosstab
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.extract import exact_extract

    rng = np.random.RandomState(7)
    vals = rng.randint(0, 4, (16, 16)).astype(float)
    wgts = rng.randint(0, 3, (16, 16)).astype(float)
    tiles = tiles_from_array(spark, vals, tile=8)
    wt = tiles_from_array(spark, wgts, tile=8, raster_id="w")
    zones = _zdf(spark, {
        "a": "POLYGON((0.25 0.25, 10.5 0.25, 10.5 7.75, 0.25 7.75, 0.25 0.25))",
        "b": "POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))",
    })
    ct = zonal_crosstab(zones, tiles, wt).cache()
    totals = {r["zone_id"]: r["t"] for r in
              ct.groupBy("zone_id").agg(F.sum("count").alias("t")).collect()}
    counts = {r["zone_id"]: r["count"] for r in
              exact_extract(zones, tiles, ["count"]).collect()}
    assert totals == counts
    fs = {r["zone_id"]: r["f"] for r in
          ct.groupBy("zone_id").agg(F.sum("frac").alias("f")).collect()}
    for v in fs.values():
        assert abs(v - 1.0) < 1e-12
    # joint cells carry both rasters' values
    cats = {(r["value"], r["weight"]) for r in ct.collect()}
    assert len(cats) > 4  # genuinely joint, not one-dimensional


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_pair_partials_leave_no_persisted_rdd(spark, strategy):
    """zonal_crosstab (like zonal_correlation, zonal_change and
    zonal_topk_cells) releases the extractor's cached zone table:
    repeated calls end with the session's persisted-RDD count where it
    started, and return the same rows each time."""
    from exactextract_spark.api import zonal_crosstab
    from exactextract_spark.io import tiles_from_array

    sc = spark.sparkContext
    rng = np.random.RandomState(11)
    tiles = tiles_from_array(spark, rng.randint(0, 4, (16, 16)).astype(float),
                             tile=8)
    wt = tiles_from_array(spark, rng.randint(0, 3, (16, 16)).astype(float),
                          tile=8, raster_id="w")
    zones = _zdf(spark, {
        "a": "POLYGON((0.25 0.25, 10.5 0.25, 10.5 7.75, 0.25 7.75, 0.25 0.25))",
        "b": "POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))",
    })
    before = sc._jsc.getPersistentRDDs().size()
    runs = [sorted(zonal_crosstab(zones, tiles, wt, strategy=strategy).collect())
            for _ in range(3)]
    assert runs[0] and runs[0] == runs[1] == runs[2]
    assert sc._jsc.getPersistentRDDs().size() == before


# --- funnel ----------------------------------------------------------------

def test_funnel_semantics(spark):
    """Step ordering is at-or-after; out-of-order steps don't count;
    stage is the deepest prefix reached."""
    from exactextract_spark.pipeline.events_analytics import funnel

    rows = [
        # user 1: purchase@5 precedes the first valid click -> ignored;
        # click@10 ties the first view (at-or-after counts); purchase@20 ok
        (1, "purchase", 5), (1, "view", 10), (1, "click", 10), (1, "purchase", 20),
        # user 2: clicks only before the first view -> stage 1
        (2, "click", 5), (2, "view", 10), (2, "click", 7), (2, "purchase", 8),
        # user 3: no funnel step at all -> stage 0
        (3, "error", 1),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_type", "us"]) \
        .select("user_id", "event_type",
                F.timestamp_micros(F.col("us")).alias("ts"))
    out = {r["user_id"]: r for r in
           funnel(ev, ["view", "click", "purchase"]).collect()}
    assert (out[1]["t_view"], out[1]["t_click"], out[1]["t_purchase"],
            out[1]["funnel_stage"]) == (10, 10, 20, 3)
    assert (out[2]["t_view"], out[2]["t_click"], out[2]["funnel_stage"]) \
        == (10, None, 1)
    assert out[3]["funnel_stage"] == 0


def test_funnel_single_shuffle_plan(spark):
    """All funnel steps stack on ONE exchange: the window operators and
    the final aggregate share the user_id hash partitioning."""
    from exactextract_spark.pipeline.events_analytics import funnel

    ev = spark.createDataFrame([(1, "view", 1)], ["user_id", "event_type", "us"]) \
        .select("user_id", "event_type",
                F.timestamp_micros(F.col("us")).alias("ts"))
    plan = funnel(ev, ["view", "click", "purchase"]) \
        ._jdf.queryExecution().executedPlan().toString()
    import re
    exchanges = [l for l in plan.splitlines() if "Exchange" in l
                 and "Broadcast" not in l]
    assert len(exchanges) == 1, plan


# --- rolling features ------------------------------------------------------

def test_rolling_window_boundary(spark):
    """Trailing window is (t - W, t]: exactly t-W is out, t is in,
    equal-timestamp peers are in."""
    from exactextract_spark.pipeline.events_analytics import rolling_features

    rows = [(1, 0, 1.0), (1, 999, 2.0), (1, 1000, 4.0), (1, 2000, 8.0),
            (1, 999, 16.0)]
    ev = spark.createDataFrame(rows, ["user_id", "us", "value"]) \
        .select("user_id", F.timestamp_micros(F.col("us")).alias("ts"), "value")
    out = rolling_features(ev, window_us=1000)
    got = {(r["user_id"], r["_tsl"], float(r["value"])): (r["_n"], float(r["_s"]))
           for r in out.collect()}
    assert got[(1, 0, 1.0)] == (1, 1.0)
    # both ts=999 rows are peers: each sees the other
    assert got[(1, 999, 2.0)] == (3, 19.0)
    assert got[(1, 999, 16.0)] == (3, 19.0)
    # ts=1000: frame (0, 1000] excludes the t-W row at 0
    assert got[(1, 1000, 4.0)] == (3, 22.0)
    # ts=2000: frame (1000, 2000] keeps only 2000 itself... and 1000? no:
    # 1000 == t - W exactly -> excluded
    assert got[(1, 2000, 8.0)] == (1, 8.0)


# --- focal statistics --------------------------------------------------------

def _brute_focal(arr, rad):
    """Reference implementation: per-cell clipped-window stats over a
    NaN-masked array."""
    nr, nc = arr.shape
    out = {}
    for r in range(nr):
        for c in range(nc):
            w = arr[max(0, r - rad):r + rad + 1, max(0, c - rad):c + rad + 1]
            v = w[~np.isnan(w)]
            out[(r, c)] = (len(v),
                           v.sum() if len(v) else None,
                           v.sum() / len(v) if len(v) else None,
                           v.min() if len(v) else None,
                           v.max() if len(v) else None)
    return out


def test_focal_matches_bruteforce_across_tile_edges(spark):
    """9×10 grid on 4-cell tiles (ragged edges + interior tile corners)
    against the brute-force window: halo strips must supply every
    cross-tile neighbor exactly once."""
    from exactextract_spark.focal import focal_stats
    from exactextract_spark.io import tiles_from_array

    rng = np.random.RandomState(3)
    arr = rng.randint(0, 50, (9, 10)).astype(float)
    arr[rng.rand(9, 10) < 0.2] = -1.0          # nodata sentinel
    tiles = tiles_from_array(spark, arr, tile=4, nodata=-1.0)
    grid = dict(grid_xmin=0.0, grid_ymax=9.0, dx=1.0, dy=1.0,
                grid_nrows=9, grid_ncols=10, tile=4)
    got = {(r["r"], r["c"]): (r["focal_n"], r["focal_sum"], r["focal_mean"],
                              r["focal_min"], r["focal_max"])
           for r in focal_stats(tiles, radius=2, grid=grid).collect()}
    ref = _brute_focal(np.where(arr == -1.0, np.nan, arr), 2)
    assert set(got) == set(ref)
    for k in ref:
        assert got[k] == ref[k], (k, got[k], ref[k])


def test_focal_boundary_clipping_and_all_nodata_window(spark):
    """Corner windows clip to (R+1)²; a window of pure nodata yields
    n=0 and NULL stats."""
    from exactextract_spark.focal import focal_stats
    from exactextract_spark.io import tiles_from_array

    arr = np.full((6, 6), -1.0)
    arr[5, 5] = 7.0                             # one defined cell
    tiles = tiles_from_array(spark, arr, tile=8, nodata=-1.0)
    grid = dict(grid_xmin=0.0, grid_ymax=6.0, dx=1.0, dy=1.0,
                grid_nrows=6, grid_ncols=6, tile=8)
    rows = {(r["r"], r["c"]): r
            for r in focal_stats(tiles, radius=1, grid=grid).collect()}
    assert len(rows) == 36
    z = rows[(0, 0)]
    assert z["focal_n"] == 0 and z["focal_sum"] is None \
        and z["focal_mean"] is None and z["focal_min"] is None
    hit = rows[(4, 4)]                          # window includes (5,5)
    assert hit["focal_n"] == 1 and hit["focal_sum"] == 7.0 \
        and hit["focal_min"] == 7.0 and hit["focal_max"] == 7.0


def test_focal_roundtrip_through_extract(spark):
    """focal_to_tiles output is a first-class raster: zonal mean of the
    smoothed layer over the whole grid equals the mean of focal_mean."""
    from exactextract_spark.extract import exact_extract
    from exactextract_spark.focal import focal_stats, focal_to_tiles
    from exactextract_spark.io import tiles_from_array

    arr = (np.arange(64, dtype=float) % 23).reshape(8, 8)
    tiles = tiles_from_array(spark, arr, tile=4)
    grid = dict(grid_xmin=0.0, grid_ymax=8.0, dx=1.0, dy=1.0,
                grid_nrows=8, grid_ncols=8, tile=4)
    cells = focal_stats(tiles, radius=1, grid=grid).cache()
    sm = focal_to_tiles(cells, grid)
    whole = _zdf(spark, {"all": "POLYGON((0 0, 8 0, 8 8, 0 8, 0 0))"})
    res = exact_extract(whole, sm, ["mean", "count"], grid=grid).first()
    exp = cells.agg(F.avg("focal_mean")).first()[0]
    assert res["count"] == 64.0
    assert abs(res["mean"] - exp) < 1e-12


def test_focal_radius_guard(spark):
    from exactextract_spark.focal import focal_stats
    from exactextract_spark.io import tiles_from_array

    tiles = tiles_from_array(spark, np.zeros((8, 8)), tile=4)
    grid = dict(grid_xmin=0.0, grid_ymax=8.0, dx=1.0, dy=1.0,
                grid_nrows=8, grid_ncols=8, tile=4)
    with pytest.raises(ValueError, match="exceeds tile size"):
        focal_stats(tiles, radius=5, grid=grid)
    with pytest.raises(ValueError, match="radius"):
        focal_stats(tiles, radius=0, grid=grid)


# --- raster overviews --------------------------------------------------------

def test_overview_matches_bruteforce(spark):
    """2× overview of a ragged 7×9 raster on 4-cell tiles vs per-block
    numpy, including clipped edge blocks and an all-nodata block.
    (factor 2 divides tile 4; edge blocks clip at the raster bounds)."""
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.pyramid import overview

    rng = np.random.RandomState(11)
    arr = rng.randint(0, 30, (7, 9)).astype(float)
    arr[0:2, 0:2] = -1.0                       # one all-nodata 2x2 block
    tiles = tiles_from_array(spark, arr, tile=4, nodata=-1.0)
    grid = dict(grid_xmin=0.0, grid_ymax=7.0, dx=1.0, dy=1.0,
                grid_nrows=7, grid_ncols=9, tile=4)
    got = {(r["ov_r"], r["ov_c"]): (r["n"], r["sum"], r["mean"],
                                    r["min"], r["max"])
           for r in overview(tiles, factor=2, grid=grid).collect()}
    m = np.where(arr == -1.0, np.nan, arr)
    assert set(got) == {(i, j) for i in range(4) for j in range(5)}
    for (i, j), row in got.items():
        blk = m[2 * i:2 * i + 2, 2 * j:2 * j + 2]
        v = blk[~np.isnan(blk)]
        exp = (len(v), v.sum() if len(v) else None,
               v.sum() / len(v) if len(v) else None,
               v.min() if len(v) else None, v.max() if len(v) else None)
        assert row == exp, ((i, j), row, exp)


def test_overview_plan_is_shuffle_free(spark):
    """The whole overview computes map-only: no Exchange anywhere in
    the executed plan."""
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.pyramid import overview

    tiles = tiles_from_array(spark, np.zeros((8, 8)), tile=4)
    grid = dict(grid_xmin=0.0, grid_ymax=8.0, dx=1.0, dy=1.0,
                grid_nrows=8, grid_ncols=8, tile=4)
    plan = overview(tiles, factor=2, grid=grid) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_overview_pyramid_chain_and_extract(spark):
    """overview_tiles output is a first-class raster on the coarse
    grid: a second overview pass consumes it (pyramid chaining), and
    exact_extract over it reproduces the level-1 means."""
    from exactextract_spark.extract import exact_extract
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.pyramid import coarse_grid, overview, overview_tiles

    arr = np.arange(64, dtype=float).reshape(8, 8)
    tiles = tiles_from_array(spark, arr, tile=4)
    grid = dict(grid_xmin=0.0, grid_ymax=8.0, dx=1.0, dy=1.0,
                grid_nrows=8, grid_ncols=8, tile=4)
    lvl1 = overview(tiles, factor=2, grid=grid).cache()
    t1 = overview_tiles(lvl1, grid, factor=2)
    cg = coarse_grid(grid, 2)
    # chain: a further 2x overview of the level-1 raster == 4x blocks
    lvl2 = {(r["ov_r"], r["ov_c"]): r["mean"]
            for r in overview(t1, factor=2, grid=cg).collect()}
    for i in range(2):
        for j in range(2):
            exp = arr[4 * i:4 * i + 4, 4 * j:4 * j + 4] \
                .reshape(2, 2, 2, 2).mean(axis=(1, 3)).mean()
            assert lvl2[(i, j)] == exp
    # zonal over the level-1 raster: whole-grid mean == mean of means
    whole = _zdf(spark, {"all": "POLYGON((0 0, 8 0, 8 8, 0 8, 0 0))"})
    res = exact_extract(whole, t1, ["mean"], grid=cg).first()
    assert res["mean"] == arr.mean()


def test_overview_factor_guard(spark):
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.pyramid import overview

    tiles = tiles_from_array(spark, np.zeros((8, 8)), tile=4)
    grid = dict(grid_xmin=0.0, grid_ymax=8.0, dx=1.0, dy=1.0,
                grid_nrows=8, grid_ncols=8, tile=4)
    with pytest.raises(ValueError, match="does not divide"):
        overview(tiles, factor=3, grid=grid)
    with pytest.raises(ValueError, match="factor"):
        overview(tiles, factor=1, grid=grid)


# --- corpus pipeline ---------------------------------------------------------

def test_corpus_pipeline_semantics(spark, tmp_path):
    """Filter drops junk, dedup keeps the lowest doc_id, packing is the
    exclusive prefix sum in md5 order — verified against a brute-force
    pandas recomputation."""
    import hashlib

    from exactextract_spark.pipeline.corpus_pipeline import (
        BUDGET, corpus_pipeline)

    good = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the wide open field all day long")
    rows = [
        (1, good + " one", "en"),
        (2, good + " one", "en"),          # exact dup of 1 -> dropped
        (3, good + " two", "de"),
        (4, "short junk", "en"),           # fails n_tokens >= 10
        (5, good + " three", "fr"),
        (6, good + " one", "en"),          # another dup of 1
    ]
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    pdf["source"] = "t"
    pdf["n_chars"] = pdf["text"].str.len()
    pdf.to_parquet(tmp_path / "documents.parquet")

    out = corpus_pipeline(spark, str(tmp_path)).toPandas()

    # brute force: survivors 1, 3, 5 in md5(doc_id) order
    surv = [(i, rows[i - 1][1], rows[i - 1][2]) for i in (1, 3, 5)]
    surv.sort(key=lambda t: hashlib.md5(str(t[0]).encode()).hexdigest())
    start, exp = 0, {}
    for doc_id, text, lang in surv:
        sid = start // BUDGET
        n, tc, langs = exp.get(sid, (0, 0, set()))
        langs = set(langs) | {lang}
        exp[sid] = (n + 1, tc + len(text), langs)
        start += len(text)
    got = {r["shard_id"]: (r["n_docs"], r["total_chars"], r["n_langs"])
           for r in out.to_dict("records")}
    assert got == {k: (n, tc, len(ls)) for k, (n, tc, ls) in exp.items()}
    assert sum(n for n, _, _ in got.values()) == 3


def test_focal_raster_equals_cells_path(spark):
    """focal_raster's tile payloads hold exactly the focal_stats values
    (shared exchange, different output tail), and the result is a
    first-class raster: zonal count/sum over it match the cells frame."""
    from exactextract_spark.extract import exact_extract
    from exactextract_spark.focal import focal_raster, focal_stats
    from exactextract_spark.io import decode_tile, tiles_from_array

    rng = np.random.RandomState(5)
    arr = rng.randint(0, 40, (9, 10)).astype(float)
    arr[rng.rand(9, 10) < 0.15] = -1.0
    tiles = tiles_from_array(spark, arr, tile=4, nodata=-1.0)
    grid = dict(grid_xmin=0.0, grid_ymax=9.0, dx=1.0, dy=1.0,
                grid_nrows=9, grid_ncols=10, tile=4)
    cells = {(r["r"], r["c"]): r["focal_sum"]
             for r in focal_stats(tiles, radius=1, grid=grid).collect()}
    rt = focal_raster(tiles, radius=1, stat="sum", grid=grid).collect()
    seen = 0
    for t in rt:
        a = decode_tile(t["values"], t["dtype"], t["nrows"], t["ncols"])
        for i in range(t["nrows"]):
            for j in range(t["ncols"]):
                exp = cells[(t["row0"] + i, t["col0"] + j)]
                v = a[i, j]
                assert (exp is None and np.isnan(v)) or v == exp
                seen += 1
    assert seen == 90
    # first-class raster: extract consumes it on the same grid
    whole = _zdf(spark, {"all": "POLYGON((0 0, 10 0, 10 9, 0 9, 0 0))"})
    sm = focal_raster(tiles, radius=1, stat="sum", grid=grid)
    res = exact_extract(whole, sm, ["sum"], grid=grid).first()
    exp_total = sum(v for v in cells.values() if v is not None)
    assert res["sum"] == exp_total


def test_focal_convolve_bruteforce(spark):
    """5x5 binomial convolution vs brute force with nodata
    renormalization and edge clipping, across 4-cell tile edges."""
    from exactextract_spark.focal import focal_convolve
    from exactextract_spark.io import tiles_from_array

    rng = np.random.RandomState(9)
    arr = rng.randint(0, 20, (9, 11)).astype(float)
    arr[rng.rand(9, 11) < 0.2] = -1.0
    tiles = tiles_from_array(spark, arr, tile=4, nodata=-1.0)
    grid = dict(grid_xmin=0.0, grid_ymax=9.0, dx=1.0, dy=1.0,
                grid_nrows=9, grid_ncols=11, tile=4)
    got = {(r["r"], r["c"]): (r["wsum"], r["conv"], r["smooth"])
           for r in focal_convolve(tiles, grid=grid).collect()}
    b = [1, 4, 6, 4, 1]
    m = np.where(arr == -1.0, np.nan, arr)
    assert len(got) == 99
    for r in range(9):
        for c in range(11):
            ws, cv = 0, 0.0
            for dr in range(-2, 3):
                for dc in range(-2, 3):
                    rr, cc = r + dr, c + dc
                    if 0 <= rr < 9 and 0 <= cc < 11 and not np.isnan(m[rr, cc]):
                        w = b[dr + 2] * b[dc + 2]
                        ws += w
                        cv += w * m[rr, cc]
            exp = (ws, cv if ws else None, cv / ws if ws else None)
            assert got[(r, c)] == exp, ((r, c), got[(r, c)], exp)


def test_focal_convolve_kernel_guards(spark):
    from exactextract_spark.focal import focal_convolve
    from exactextract_spark.io import tiles_from_array

    tiles = tiles_from_array(spark, np.zeros((8, 8)), tile=4)
    grid = dict(grid_xmin=0.0, grid_ymax=8.0, dx=1.0, dy=1.0,
                grid_nrows=8, grid_ncols=8, tile=4)
    with pytest.raises(ValueError, match="odd"):
        focal_convolve(tiles, kernel=(1, 2), grid=grid)
    with pytest.raises(ValueError, match="non-negative"):
        focal_convolve(tiles, kernel=(1, -1, 1), grid=grid)


def test_focal_proximity_bruteforce(spark):
    """Square-window distance transform vs brute force, across tile
    edges: nearest target within ±R on both axes, NULL beyond."""
    from exactextract_spark.focal import focal_proximity
    from exactextract_spark.io import tiles_from_array

    rng = np.random.RandomState(13)
    arr = rng.randint(0, 100, (10, 12)).astype(float)
    tiles = tiles_from_array(spark, arr, tile=4)
    grid = dict(grid_xmin=0.0, grid_ymax=10.0, dx=1.0, dy=1.0,
                grid_nrows=10, grid_ncols=12, tile=4)
    R, T = 3, 90.0
    got = {(r["r"], r["c"]): (r["d2"], r["dist"])
           for r in focal_proximity(tiles, radius=R, target_min=T,
                                    grid=grid).collect()}
    assert len(got) == 120
    for r in range(10):
        for c in range(12):
            best = None
            for dr in range(-R, R + 1):
                for dc in range(-R, R + 1):
                    rr, cc = r + dr, c + dc
                    if 0 <= rr < 10 and 0 <= cc < 12 and arr[rr, cc] >= T:
                        d2 = dr * dr + dc * dc
                        best = d2 if best is None else min(best, d2)
            exp = (best, np.sqrt(best) if best is not None else None)
            assert got[(r, c)] == exp, ((r, c), got[(r, c)], exp)
    # a cell that IS a target has d2 == 0
    tr, tc = np.argwhere(arr >= T)[0]
    assert got[(int(tr), int(tc))] == (0, 0.0)


def test_focal_gradient_bruteforce(spark):
    """Horn gradient vs brute force across tile edges; NULL at raster
    edges and wherever the 3x3 window touches nodata."""
    from exactextract_spark.focal import focal_gradient
    from exactextract_spark.io import tiles_from_array

    rng = np.random.RandomState(21)
    arr = rng.randint(0, 50, (9, 10)).astype(float)
    arr[3, 4] = -1.0                            # one nodata hole
    tiles = tiles_from_array(spark, arr, tile=4, nodata=-1.0)
    grid = dict(grid_xmin=0.0, grid_ymax=9.0, dx=1.0, dy=1.0,
                grid_nrows=9, grid_ncols=10, tile=4)
    got = {(r["r"], r["c"]): (r["gx"], r["gy"], r["slope_sq"])
           for r in focal_gradient(tiles, grid=grid).collect()}
    m = np.where(arr == -1.0, np.nan, arr)
    assert len(got) == 90
    for r in range(9):
        for c in range(10):
            if r in (0, 8) or c in (0, 9) or \
                    np.isnan(m[r-1:r+2, c-1:c+2]).any():
                assert got[(r, c)] == (None, None, None), (r, c)
                continue
            gx = ((m[r-1, c+1] + 2*m[r, c+1] + m[r+1, c+1])
                  - (m[r-1, c-1] + 2*m[r, c-1] + m[r+1, c-1])) / 8.0
            gy = ((m[r+1, c-1] + 2*m[r+1, c] + m[r+1, c+1])
                  - (m[r-1, c-1] + 2*m[r-1, c] + m[r-1, c+1])) / 8.0
            assert got[(r, c)] == (gx, gy, gx*gx + gy*gy), (r, c)
    # every cell adjacent to the hole (incl. diagonals) is NULL
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            assert got[(3 + dr, 4 + dc)] == (None, None, None)


def test_zonal_correlation_semantics(spark):
    """corr(x, x) == 1, corr(x, -x-shape) == -1, constant band -> NULL;
    cov matches the numpy population covariance on a full-cell zone."""
    from exactextract_spark.api import zonal_correlation
    from exactextract_spark.io import tiles_from_array

    rng = np.random.RandomState(17)
    x = rng.randint(0, 50, (8, 8)).astype(float)
    grid = dict(grid_xmin=0.0, grid_ymax=8.0, dx=1.0, dy=1.0,
                grid_nrows=8, grid_ncols=8, tile=8)
    tx = tiles_from_array(spark, x, tile=8)
    zones = _zdf(spark, {"all": "POLYGON((0 0, 8 0, 8 8, 0 8, 0 0))"})

    r = zonal_correlation(zones, tx, tiles_from_array(spark, x, tile=8,
                                                      raster_id="x2"),
                          grid=grid).first()
    assert r["corr"] == 1.0 and r["n"] == 64.0

    r = zonal_correlation(zones, tx,
                          tiles_from_array(spark, 100.0 - x, tile=8,
                                           raster_id="nx"),
                          grid=grid).first()
    assert r["corr"] == -1.0

    r = zonal_correlation(zones, tx,
                          tiles_from_array(spark, np.full((8, 8), 3.0),
                                           tile=8, raster_id="k"),
                          grid=grid).first()
    assert r["corr"] is None and r["mean_y"] == 3.0

    y = rng.randint(0, 30, (8, 8)).astype(float)
    r = zonal_correlation(zones, tx, tiles_from_array(spark, y, tile=8,
                                                      raster_id="y"),
                          grid=grid).first()
    assert abs(r["cov"] - np.cov(x.ravel(), y.ravel(), bias=True)[0, 1]) < 1e-9


# --- raster point sampling ---------------------------------------------------

def test_sample_points_semantics(spark):
    """Nearest = containing-cell value; bilinear interpolates between
    cell centers (exact at centers, mean at the 4-center midpoint);
    NULL at nodata / outside-raster corners; off-grid points dropped."""
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.spatial import sample_points

    arr = np.array([[10.0, 20.0, 30.0, 40.0],
                    [50.0, 60.0, 70.0, 80.0],
                    [90.0, -1.0, 11.0, 12.0],
                    [13.0, 14.0, 15.0, 16.0]])
    tiles = tiles_from_array(spark, arr, tile=2, nodata=-1.0)
    grid = dict(grid_xmin=0.0, grid_ymax=4.0, dx=1.0, dy=1.0,
                grid_nrows=4, grid_ncols=4, tile=2)
    pts = spark.createDataFrame(
        [(0, 1.5, 3.5),    # center of cell (0,1): exact 20
         (1, 2.0, 3.0),    # midpoint of 4 top cells' centers -> mean
         (2, 1.25, 1.75),  # owning cell (2,1) = nodata
         (3, 0.25, 3.75),  # near top-left corner: bilinear needs r=-1
         (4, 9.0, 9.0),    # outside the raster -> dropped
         ],
        ["point_id", "x", "y"])
    out = {r["point_id"]: r for r in
           sample_points(pts, tiles, grid=grid).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[0]["v_nearest"] == 20.0 and out[0]["v_bilinear"] == 20.0
    # midpoint between centers of (0,1),(0,2),(1,1),(1,2)
    assert out[1]["v_bilinear"] == (20 + 30 + 60 + 70) / 4.0
    assert out[2]["v_nearest"] is None          # nodata cell
    assert out[2]["v_bilinear"] is None         # corner (2,1) is nodata
    assert out[3]["v_nearest"] == 10.0
    assert out[3]["v_bilinear"] is None         # needs row -1 / col -1
    # cross-tile bilinear: the 4 corners of point 1 span 2x2 tiles
    assert (out[1]["r"], out[1]["c"]) in {(1, 2)}


def test_zonal_topk_two_phase_plan(spark):
    """The top-k plan has a salted local Window before the final
    per-zone rank — no single window sorts a zone's full cell list."""
    import __spark_entry__ as E

    df = E.queries()["zonal_topk_cells"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2, plan
    assert "pmod(cell_id" in plan or "pmod" in plan, plan


def test_raster_histogram_and_user_profile(spark, tmp_path):
    """Histogram counts equal numpy bincount (nodata excluded);
    user profile aggregates and top-type tie-break are correct."""
    import pandas as pd
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.pyramid import raster_histogram
    from exactextract_spark.pipeline.events_analytics import event_user_profile

    arr = np.array([[1.0, 2.0, 2.0], [3.0, -1.0, 3.0], [3.0, 1.0, 2.0]])
    tiles = tiles_from_array(spark, arr, tile=2, nodata=-1.0)
    got = {r["value"]: r["n"] for r in raster_histogram(tiles).collect()}
    assert got == {1.0: 2, 2.0: 3, 3.0: 3}

    us = 1_000_000
    rows = [
        # user 1: 2 views, 2 clicks (tie) -> 'click' (lexicographic);
        # two events on day 0, one on day 2
        (1, 1, "view", 0, 1.5), (2, 1, "view", 10 * us, 2.5),
        (3, 1, "click", 20 * us, 0.0),
        (4, 1, "click", 2 * 86_400_000_000, 4.0),
        # user 2: single event
        (5, 2, "error", 42, 7.25),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id",
                                      "event_type", "us", "value"])
    ev = spark.createDataFrame(pdf) \
        .selectExpr("event_id", "CAST(user_id AS LONG) user_id",
                    "event_type", "timestamp_micros(us) AS ts",
                    "CAST(value AS DOUBLE) value", "'{}' AS props")
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r["user_id"]: r for r in
           event_user_profile(spark, str(tmp_path)).collect()}
    u1 = out[1]
    assert u1["n_events"] == 4 and u1["n_active_days"] == 2
    assert u1["top_type"] == "click"
    assert u1["total_value"] == 8.0
    assert u1["first_us"] == 0 and u1["last_us"] == 2 * 86_400_000_000
    u2 = out[2]
    assert u2["n_events"] == 1 and u2["tenure_days"] == 0.0 \
        and u2["top_type"] == "error"


# --- randomized differentials (focal family + sampling) ----------------------

@pytest.mark.parametrize("seed,shape,tile,rad,nodata_frac", [
    (101, (5, 7), 2, 1, 0.0),
    (202, (12, 9), 4, 3, 0.3),
    (303, (8, 8), 8, 2, 0.1),    # single tile (no halo traffic)
    (404, (17, 13), 4, 4, 0.5),  # rad == tile
])
def test_focal_fuzz_vs_bruteforce(spark, seed, shape, tile, rad,
                                  nodata_frac):
    """Randomized shapes/radii/tilings vs the brute-force window."""
    from exactextract_spark.focal import focal_stats
    from exactextract_spark.io import tiles_from_array

    rng = np.random.RandomState(seed)
    arr = rng.randint(0, 60, shape).astype(float)
    arr[rng.rand(*shape) < nodata_frac] = -1.0
    tiles = tiles_from_array(spark, arr, tile=tile, nodata=-1.0)
    grid = dict(grid_xmin=0.0, grid_ymax=float(shape[0]), dx=1.0, dy=1.0,
                grid_nrows=shape[0], grid_ncols=shape[1], tile=tile)
    got = {(r["r"], r["c"]): (r["focal_n"], r["focal_sum"],
                              r["focal_min"], r["focal_max"])
           for r in focal_stats(tiles, radius=rad, grid=grid).collect()}
    ref = _brute_focal(np.where(arr == -1.0, np.nan, arr), rad)
    assert set(got) == set(ref)
    for k, (n, s, m, mn, mx) in ref.items():
        assert got[k] == (n, s, mn, mx), (k, got[k])


def test_sample_points_fuzz_vs_bruteforce(spark):
    """200 random quarter-aligned points vs brute-force bilinear."""
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.spatial import sample_points

    rng = np.random.RandomState(77)
    G = 12
    arr = rng.randint(0, 40, (G, G)).astype(float)
    arr[rng.rand(G, G) < 0.15] = -1.0
    tiles = tiles_from_array(spark, arr, tile=4, nodata=-1.0)
    grid = dict(grid_xmin=0.0, grid_ymax=float(G), dx=1.0, dy=1.0,
                grid_nrows=G, grid_ncols=G, tile=4)
    m = np.where(arr == -1.0, np.nan, arr)
    xs = rng.randint(0, G * 4, 200) / 4.0 + 0.125
    ys = rng.randint(0, G * 4, 200) / 4.0 + 0.125
    pts = spark.createDataFrame(
        [(i, float(xs[i]), float(ys[i])) for i in range(200)],
        ["point_id", "x", "y"])
    got = {r["point_id"]: r for r in
           sample_points(pts, tiles, grid=grid).collect()}
    for i in range(200):
        x, y = xs[i], ys[i]
        r, c = int(np.floor(G - y)), int(np.floor(x))
        nearest = m[r, c]
        fx, fy = x - 0.5, (G - y) - 0.5
        gr, gc = int(np.floor(fy)), int(np.floor(fx))
        wr, wx = fy - gr, fx - gc
        def cell(rr, cc):
            if 0 <= rr < G and 0 <= cc < G:
                return m[rr, cc]
            return np.nan
        bl = ((1 - wr) * (1 - wx) * cell(gr, gc)
              + (1 - wr) * wx * cell(gr, gc + 1)
              + wr * (1 - wx) * cell(gr + 1, gc)
              + wr * wx * cell(gr + 1, gc + 1))
        g = got[i]
        assert (g["v_nearest"] is None) == bool(np.isnan(nearest))
        if not np.isnan(nearest):
            assert g["v_nearest"] == nearest
        assert (g["v_bilinear"] is None) == bool(np.isnan(bl))
        if not np.isnan(bl):
            assert g["v_bilinear"] == bl, (i, g["v_bilinear"], bl)


# --- r6: de-funneled two-raster analytics (no per-zone collect_list) -------

def test_analytics_giant_zone_no_funnel(spark):
    """One zone covering the WHOLE grid: correlation/change/crosstab/
    top-k produce numpy-exact results and none of their plans contains
    a per-zone collect_list (the r5 stored-array funnel) — the only
    collect_list allowed is the per-tile zone hit-list of the broadcast
    join.  This is the one-giant-zone skew shape: per-(zone, tile)
    partials bound every task regardless of zone size."""
    from exactextract_spark.api import (zonal_change, zonal_correlation,
                                        zonal_crosstab, zonal_topk_cells)
    from exactextract_spark.io import tiles_from_array

    rng = np.random.RandomState(5)
    G = 64
    x = rng.randint(0, 9, (G, G)).astype(float)
    y = rng.randint(0, 5, (G, G)).astype(float)
    tx = tiles_from_array(spark, x, tile=8)
    ty = tiles_from_array(spark, y, tile=8, raster_id="y")
    grid = dict(grid_xmin=0.0, grid_ymax=float(G), dx=1.0, dy=1.0,
                grid_nrows=G, grid_ncols=G, tile=8)
    zones = _zdf(spark, {"all": f"POLYGON((0 0, {G} 0, {G} {G}, 0 {G}, 0 0))"})

    def assert_no_zone_funnel(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "collect_list(struct" not in plan, plan

    r = zonal_correlation(zones, tx, ty, grid=grid)
    assert_no_zone_funnel(r)
    row = r.first()
    assert row["n"] == float(G * G)
    assert abs(row["cov"] - np.cov(x.ravel(), y.ravel(), bias=True)[0, 1]) < 1e-9
    expect_corr = np.corrcoef(x.ravel(), y.ravel())[0, 1]
    assert abs(row["corr"] - expect_corr) < 1e-9

    r = zonal_change(zones, tx, ty, grid=grid)
    assert_no_zone_funnel(r)
    row = r.first()
    assert row["changed_frac"] == float((x != y).mean())
    assert row["mean_delta"] == (x - y).mean()
    assert row["max_abs_delta"] == np.abs(x - y).max()

    r = zonal_crosstab(zones, tx, ty, grid=grid)
    assert_no_zone_funnel(r)
    ct = {(row["value"], row["weight"]): row["count"] for row in r.collect()}
    for (v, w), n in ct.items():
        assert n == float(((x == v) & (y == w)).sum())
    assert sum(ct.values()) == float(G * G)

    r = zonal_topk_cells(zones, tx, k=5, grid=grid)
    assert_no_zone_funnel(r)
    got = [(row["rank"], row["cell_id"], row["value"])
           for row in r.orderBy("rank").collect()]
    flat = x.ravel()
    order = np.lexsort((np.arange(flat.size), -flat))[:5]
    expect = [(i + 1, int(c), flat[c]) for i, c in enumerate(order)]
    assert got == expect


def test_sample_points_sparse_tile_table_keeps_rows(spark):
    """A point whose containing tile has no row in the tiles table
    keeps its output row with NaN values (GDAL / LEFT-JOIN oracle
    semantics) instead of being silently dropped (ADVICE r5)."""
    from exactextract_spark.io import tiles_from_array
    from exactextract_spark.spatial import sample_points

    arr = np.arange(16.0).reshape(4, 4)
    tiles = tiles_from_array(spark, arr, tile=2)
    # drop the tile containing cell (3, 3) -> sparse table
    sparse = tiles.where(~((F.col("tile_row") == 1) & (F.col("tile_col") == 1)))
    grid = dict(grid_xmin=0.0, grid_ymax=4.0, dx=1.0, dy=1.0,
                grid_nrows=4, grid_ncols=4, tile=2)
    pts = spark.createDataFrame(
        [(0, 0.5, 3.5), (1, 3.5, 0.5)], ["point_id", "x", "y"])
    out = {r["point_id"]: r for r in
           sample_points(pts, sparse, grid=grid).collect()}
    assert set(out) == {0, 1}
    assert out[0]["v_nearest"] == 0.0
    assert out[1]["v_nearest"] is None or np.isnan(out[1]["v_nearest"])


def test_focal_infers_stride_from_tiles(spark):
    """focal stats on a 32-stride tile table with a grid dict that
    lacks 'tile' infer the stride from the table instead of silently
    assuming 64 (ADVICE r5: wrong halo addressing at tile borders)."""
    from exactextract_spark.focal import focal_stats
    from exactextract_spark.io import tiles_from_array

    rng = np.random.RandomState(11)
    arr = rng.randint(0, 100, (64, 64)).astype(float)
    tiles = tiles_from_array(spark, arr, tile=32)
    grid = dict(grid_xmin=0.0, grid_ymax=64.0, dx=1.0, dy=1.0,
                grid_nrows=64, grid_ncols=64)  # no 'tile' key
    out = focal_stats(tiles, radius=2, grid=grid)
    got = {(r["r"], r["c"]): r["focal_mean"] for r in
           out.where((F.col("r").isin(31, 32)) & (F.col("c").isin(31, 32)))
              .collect()}
    # cross-tile windows at the 32-boundary must use true neighbors
    for (r, c), m in got.items():
        win = arr[max(r - 2, 0):r + 3, max(c - 2, 0):c + 3]
        assert m == win.mean(), (r, c, m, win.mean())


def test_correlation_change_nan_poison_on_undefined_y(spark):
    """A nodata cell in the SECOND raster under a defined value cell
    must poison the zone's y-dependent statistics with NaN (the
    stored-array path's semantics), not silently drop the pair — a
    top-level NaN partial would become SQL NULL at the Arrow boundary
    and be skipped by sum/max (code-review r6 finding)."""
    from exactextract_spark.api import zonal_change, zonal_correlation
    from exactextract_spark.io import tiles_from_array

    x = np.arange(16.0).reshape(4, 4) + 1.0
    y = (x * 2.0).copy()
    y[1, 1] = -9.0  # nodata sentinel in the second raster
    tx = tiles_from_array(spark, x, tile=2)
    ty = tiles_from_array(spark, y, tile=2, nodata=-9.0, raster_id="y")
    grid = dict(grid_xmin=0.0, grid_ymax=4.0, dx=1.0, dy=1.0,
                grid_nrows=4, grid_ncols=4, tile=2)
    zones = _zdf(spark, {"all": "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))"})

    r = zonal_correlation(zones, tx, ty, grid=grid).first()
    assert r["n"] == 16.0 and r["mean_x"] == x.mean()
    assert np.isnan(r["mean_y"]) and np.isnan(r["cov"])
    assert r["corr"] is None or np.isnan(r["corr"])

    r = zonal_change(zones, tx, ty, grid=grid).first()
    assert r["n"] == 16.0
    # the undefined-y cell still counts as changed (x != NaN is true)
    assert r["changed_frac"] == 1.0
    assert np.isnan(r["mean_delta"]) and np.isnan(r["max_abs_delta"])

    # a zone NOT touching the nodata cell stays fully defined
    z2 = _zdf(spark, {"br": "POLYGON((2 0, 4 0, 4 2, 2 2, 2 0))"})
    r = zonal_correlation(z2, tx, ty, grid=grid).first()
    assert not np.isnan(r["cov"]) and r["corr"] == 1.0
    r = zonal_change(z2, tx, ty, grid=grid).first()
    assert r["mean_delta"] == -(x[2:, 2:].mean())


# --- on-read semantics (nodata, mask band, scale/offset) ---------------------

def _scaled_raster(spark, seed=31, shape=(9, 10), band=0, raster_id="sc"):
    """An int16 raster with scale 0.5, offset 10, a nodata sentinel and a
    mask band on ragged 4-cell tiles, plus its reference decode
    (io.decode_value_tile over the whole array: nodata and mask on the
    raw values, then raw*scale + offset)."""
    from exactextract_spark.io import decode_value_tile, tiles_from_array

    rng = np.random.RandomState(seed)
    raw = rng.randint(0, 50, shape).astype(np.int16)
    raw[rng.rand(*shape) < 0.15] = -1              # nodata sentinel
    mask = rng.rand(*shape) >= 0.15                # mask band: 0 = undefined
    tiles = tiles_from_array(spark, raw, tile=4, nodata=-1, scale=0.5,
                             offset=10.0, mask=mask, band=band,
                             raster_id=raster_id)
    ref = decode_value_tile(raw.tobytes(), "int16", *shape, nodata=-1,
                            scale=0.5, offset=10.0,
                            mask_buf=mask.astype(np.uint8).tobytes())
    grid = dict(grid_xmin=0.0, grid_ymax=float(shape[0]), dx=1.0, dy=1.0,
                grid_nrows=shape[0], grid_ncols=shape[1], tile=4)
    return tiles, ref, grid


def _window(ref, r, c, rad):
    w = ref[max(0, r - rad):r + rad + 1, max(0, c - rad):c + rad + 1]
    return w[~np.isnan(w)]


def _check_focal_stats(spark, tiles, ref, grid):
    from exactextract_spark.extract import exact_extract
    from exactextract_spark.focal import focal_stats

    got = {(r["r"], r["c"]): r for r in
           focal_stats(tiles, radius=1, grid=grid).collect()}
    brute = _brute_focal(ref, 1)
    assert set(got) == set(brute)
    for k, (n, s, m, mn, mx) in brute.items():
        g = got[k]
        assert (g["focal_n"], g["focal_sum"], g["focal_mean"],
                g["focal_min"], g["focal_max"]) == (n, s, m, mn, mx), k
    # the zonal engine reads the same cells: count/sum of the window
    # polygon of cell (4, 4) (across a tile corner) equal focal n/sum
    nr = ref.shape[0]
    win = _zdf(spark, {"w": f"POLYGON((3 {nr - 6}, 6 {nr - 6}, 6 {nr - 3}, "
                            f"3 {nr - 3}, 3 {nr - 6}))"})
    z = exact_extract(win, tiles, ["count", "sum"], grid=grid).first()
    assert (z["count"], z["sum"]) == (got[(4, 4)]["focal_n"],
                                      got[(4, 4)]["focal_sum"])


def _check_focal_raster(spark, tiles, ref, grid):
    from exactextract_spark.focal import focal_raster
    from exactextract_spark.io import decode_tile

    seen = np.full(ref.shape, False)
    for t in focal_raster(tiles, radius=1, stat="sum", grid=grid).collect():
        a = decode_tile(t["values"], t["dtype"], t["nrows"], t["ncols"])
        for (i, j), v in np.ndenumerate(a):
            r, c = t["row0"] + i, t["col0"] + j
            w = _window(ref, r, c, 1)
            assert (np.isnan(v) and w.size == 0) or v == w.sum(), (r, c)
            seen[r, c] = True
    assert seen.all()


def _check_focal_convolve(spark, tiles, ref, grid):
    from exactextract_spark.focal import focal_convolve

    b = [1, 2, 1]
    got = {(r["r"], r["c"]): (r["wsum"], r["conv"]) for r in
           focal_convolve(tiles, kernel=b, grid=grid).collect()}
    nr, nc = ref.shape
    assert len(got) == nr * nc
    for r in range(nr):
        for c in range(nc):
            ws, cv = 0, 0.0
            for dr in (-1, 0, 1):
                for dc in (-1, 0, 1):
                    rr, cc = r + dr, c + dc
                    if 0 <= rr < nr and 0 <= cc < nc and not np.isnan(ref[rr, cc]):
                        ws += b[dr + 1] * b[dc + 1]
                        cv += b[dr + 1] * b[dc + 1] * ref[rr, cc]
            assert got[(r, c)] == (ws, cv if ws else None), (r, c)


def _check_overview(spark, tiles, ref, grid):
    from exactextract_spark.pyramid import overview

    got = {(r["ov_r"], r["ov_c"]): (r["n"], r["sum"], r["min"], r["max"])
           for r in overview(tiles, factor=2, grid=grid).collect()}
    assert len(got) == 5 * 5
    for (i, j), row in got.items():
        blk = ref[2 * i:2 * i + 2, 2 * j:2 * j + 2]
        v = blk[~np.isnan(blk)]
        assert row == (len(v), v.sum() if len(v) else None,
                       v.min() if len(v) else None,
                       v.max() if len(v) else None), (i, j)


def _check_raster_histogram(spark, tiles, ref, grid):
    from exactextract_spark.pyramid import raster_histogram

    got = {r["value"]: r["n"] for r in raster_histogram(tiles).collect()}
    uniq, cnt = np.unique(ref[~np.isnan(ref)], return_counts=True)
    assert got == dict(zip(uniq.tolist(), cnt.tolist()))


def _check_sample_points(spark, tiles, ref, grid):
    from exactextract_spark.spatial import sample_points

    nr, nc = ref.shape
    rng = np.random.RandomState(5)
    xs = rng.randint(0, nc * 4, 120) / 4.0 + 0.125
    ys = rng.randint(0, nr * 4, 120) / 4.0 + 0.125
    pts = spark.createDataFrame(
        [(i, float(xs[i]), float(ys[i])) for i in range(120)],
        ["point_id", "x", "y"])
    got = {r["point_id"]: r for r in
           sample_points(pts, tiles, grid=grid).collect()}

    def cell(rr, cc):
        return ref[rr, cc] if 0 <= rr < nr and 0 <= cc < nc else np.nan

    for i in range(120):
        fx, fy = xs[i] - 0.5, (nr - ys[i]) - 0.5
        gr, gc = int(np.floor(fy)), int(np.floor(fx))
        wr, wx = fy - gr, fx - gc
        near = cell(int(np.floor(nr - ys[i])), int(np.floor(xs[i])))
        bl = ((1 - wr) * (1 - wx) * cell(gr, gc) + (1 - wr) * wx * cell(gr, gc + 1)
              + wr * (1 - wx) * cell(gr + 1, gc) + wr * wx * cell(gr + 1, gc + 1))
        for col, exp in (("v_nearest", near), ("v_bilinear", bl)):
            assert got[i][col] == (None if np.isnan(exp) else exp), (i, col)


def _check_band_math(spark, tiles, ref, grid):
    from exactextract_spark.bandmath import band_math, normalized_difference
    from exactextract_spark.io import decode_tile

    t1, ref1, _ = _scaled_raster(spark, seed=32, band=1)
    out = band_math(tiles.unionByName(t1), normalized_difference).collect()
    assert len(out) == 9
    exp = normalized_difference(ref, ref1)
    exp[np.isnan(ref) | np.isnan(ref1)] = np.nan
    for t in out:
        a = decode_tile(t["values"], "float64", t["nrows"], t["ncols"])
        e = exp[t["row0"]:t["row0"] + t["nrows"], t["col0"]:t["col0"] + t["ncols"]]
        np.testing.assert_array_equal(a, e)


@pytest.mark.parametrize("op", ["focal_stats", "focal_raster",
                                "focal_convolve", "overview",
                                "raster_histogram", "sample_points",
                                "band_math"])
def test_raster_ops_apply_scale_offset_mask(spark, op):
    """Every raster operator reads a tile through the reference's
    on-read semantics — nodata and the mask band on the raw values,
    then raw*scale + offset — and matches brute force over the
    decode_value_tile-decoded array."""
    tiles, ref, grid = _scaled_raster(spark)
    assert np.isnan(ref).any() and not np.isnan(ref).all()
    globals()[f"_check_{op}"](spark, tiles, ref, grid)


def test_raster_ops_emit_no_warnings(spark):
    """The raster operators run without a UserWarning (applyInPandas
    warned on every call about its type hints)."""
    import warnings

    from exactextract_spark.bandmath import band_math, normalized_difference
    from exactextract_spark.focal import (focal_convolve, focal_gradient,
                                          focal_proximity, focal_raster,
                                          focal_stats)
    from exactextract_spark.pyramid import overview, raster_histogram
    from exactextract_spark.spatial import sample_points

    tiles, ref, grid = _scaled_raster(spark)
    t1, _, _ = _scaled_raster(spark, seed=32, band=1)
    pts = spark.createDataFrame([(0, 1.5, 2.5), (1, 4.0, 4.0)],
                                ["point_id", "x", "y"])
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        for df in (focal_stats(tiles, radius=1, grid=grid),
                   focal_raster(tiles, radius=1, grid=grid),
                   focal_convolve(tiles, grid=grid),
                   focal_proximity(tiles, radius=2, target_min=20.0, grid=grid),
                   focal_gradient(tiles, grid=grid),
                   overview(tiles, factor=2, grid=grid),
                   raster_histogram(tiles),
                   sample_points(pts, tiles, grid=grid),
                   band_math(tiles.unionByName(t1), normalized_difference)):
            assert df.count() > 0
