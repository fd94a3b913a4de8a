"""Driver contract for the spark-graft builder (PySpark target).

Engine: exactextract_spark — PySpark-native zonal statistics over an
interleaved text+media document table (see SURVEY.md §2, FIXTURES.md).

Every zonal query runs the FULL pipeline: synthesize the interleaved
docs table with JVM expressions → parse spans into zones + raster tile
metadata → materialize tile payloads from media_refs → bbox tile-range
explode → broadcast join → Arrow kernel → partial+final aggregation.
The DuckDB oracles recompute the same stats from first principles
(closed-form rectangle coverage over a range()-generated grid); the
quarter-cell-aligned fixture makes both sides bit-identical.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from exactextract_spark import io as eio
from exactextract_spark.extract import attach_bbox, exact_extract, zone_tile_pairs
from exactextract_spark.fixtures import SynthConfig, build_docs
from exactextract_spark.oracles import ZONAL_ORACLES
from exactextract_spark.pipeline import clustering as pclust
from exactextract_spark.pipeline import dedup as pdedup
from exactextract_spark.pipeline import multimodal as pmm
from exactextract_spark.pipeline import similarity as psim
from exactextract_spark.pipeline import corpus_pipeline as pcorpus
from exactextract_spark.pipeline import events_analytics as pevana
from exactextract_spark.pipeline import events_join as pevjoin
from exactextract_spark.pipeline import streaming_events as pstream_events
from exactextract_spark.pipeline import text as ptext

_ORACLE_CFG = SynthConfig.from_sf_dir("sf0.01")  # driver compares at sf=0.01


def _setup(spark: SparkSession, sf_dir: str):
    cfg = SynthConfig.from_sf_dir(sf_dir)
    docs = build_docs(spark, cfg)
    zones = eio.zones_from_docs(docs)
    meta = {r["raster_id"]: r.asDict()
            for r in eio.raster_meta_from_docs(docs).collect()}
    tiles = eio.tiles_from_docs(docs, "r0", meta["r0"])
    wtiles = eio.tiles_from_docs(docs, "w0", meta["w0"])
    grid = cfg.grid_dict()
    grid["dtype"] = "float64"
    return cfg, zones, tiles, wtiles, grid


def _zq(ops, weighted=False, post=None, strategy="broadcast"):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
        res = exact_extract(zones, tiles, ops,
                            weight_tiles=wtiles if weighted else None,
                            grid=grid, strategy=strategy)
        return post(res) if post else res
    return run


def _frac_post(res: DataFrame) -> DataFrame:
    return (res.select("zone_id",
                       F.explode(F.arrays_zip("unique", "frac", "weighted_frac")).alias("e"))
               .select("zone_id", F.col("e.unique").alias("value"),
                       F.col("e.frac").alias("frac"),
                       F.col("e.weighted_frac").alias("weighted_frac")))


def _zonal_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    res = exact_extract(zones, tiles, ["cell_id", "values", "coverage"],
                        grid=grid, strategy="broadcast")
    # posexplode to scalar rows: the driver's canonicalizer cannot sort
    # list columns; `pos` additionally verifies the arrays are stored in
    # global row-major (cell_id) order
    return (res.select(
                "zone_id",
                F.posexplode(F.arrays_zip("cell_id", "values", "coverage")).alias("pos", "e"))
            .select("zone_id", F.col("pos").cast("int").alias("pos"),
                    F.col("e.cell_id").alias("cell_id"),
                    F.col("e.values").alias("value"),
                    F.col("e.coverage").alias("coverage")))


def _zonal_weighted_regrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weights on a 4x coarser grid, regridded transparently by
    ZonalExtractor (reference common_grid + RasterView semantics)."""
    cfg = SynthConfig.from_sf_dir(sf_dir)
    docs = build_docs(spark, cfg)
    zones = eio.zones_from_docs(docs)
    meta = {r["raster_id"]: r.asDict()
            for r in eio.raster_meta_from_docs(docs).collect()}
    tiles = eio.tiles_from_docs(docs, "r0", meta["r0"])
    wc_tiles = eio.tiles_from_docs(docs, "wc0", meta["wc0"])
    grid = cfg.grid_dict()
    grid["dtype"] = "float64"
    return exact_extract(zones, tiles,
                         ["weighted_count", "weighted_sum", "weighted_mean"],
                         weight_tiles=wc_tiles, grid=grid, strategy="broadcast")


def _zonal_dtype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference result typing on an integer raster (int32 i0):
    min/max/majority in the cell dtype, median truncated toward zero
    (operation.cpp:115-206), via dtype_results=True."""
    cfg = SynthConfig.from_sf_dir(sf_dir)
    docs = build_docs(spark, cfg)
    zones = eio.zones_from_docs(docs)
    meta = {r["raster_id"]: r.asDict()
            for r in eio.raster_meta_from_docs(docs).collect()}
    tiles = eio.tiles_from_docs(docs, "i0", meta["i0"])
    grid = cfg.grid_dict()
    return exact_extract(zones, tiles, ["min", "max", "majority", "median"],
                         grid=grid, strategy="broadcast", dtype_results=True)


def _zonal_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int16 raster with on-read scale/offset and a 0/1 mask band
    (reference scale_and_offset + mask semantics)."""
    cfg = SynthConfig.from_sf_dir(sf_dir)
    docs = build_docs(spark, cfg)
    zones = eio.zones_from_docs(docs)
    meta = {r["raster_id"]: r.asDict()
            for r in eio.raster_meta_from_docs(docs).collect()}
    tiles = eio.tiles_from_docs(docs, "rs0", meta["rs0"])
    grid = cfg.grid_dict()
    return exact_extract(zones, tiles, ["count", "sum", "mean", "min", "max"],
                         grid=grid, strategy="broadcast")


def _zonal_multiband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-band raster extracted in ONE fused tile scan with reference
    column naming {src}_band_{b}_{stat}."""
    from exactextract_spark.api import exact_extract_multiband

    cfg = SynthConfig.from_sf_dir(sf_dir)
    docs = build_docs(spark, cfg)
    zones = eio.zones_from_docs(docs)
    meta = {r["raster_id"]: r.asDict()
            for r in eio.raster_meta_from_docs(docs).collect()}
    tiles = eio.tiles_from_docs(docs, "mb0", meta["mb0"])
    grid = cfg.grid_dict()
    grid["dtype"] = "float64"
    return exact_extract_multiband(zones, tiles, ["count", "sum", "mean"],
                                   grid=grid, strategy="broadcast")


def _subdivide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell covered pieces (reference subdivide CLI); the WKT
    column is dropped for the driver compare (float-formatted strings),
    the bbox columns carry the same information exactly."""
    from exactextract_spark.subdivide import subdivide

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return subdivide(zones, tiles, grid=grid).drop("wkt")


def _zonal_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exactextract_spark.fixtures import build_line_docs

    cfg = SynthConfig.from_sf_dir(sf_dir)
    docs = build_line_docs(spark, cfg)
    zones = eio.zones_from_docs(docs)
    # reuse the raster docs from the standard fixture
    rdocs = build_docs(spark, cfg)
    meta = {r["raster_id"]: r.asDict()
            for r in eio.raster_meta_from_docs(rdocs).collect()}
    tiles = eio.tiles_from_docs(rdocs, "r0", meta["r0"])
    grid = cfg.grid_dict()
    grid["dtype"] = "float64"
    return exact_extract(zones, tiles, ["count", "mean", "min", "max"],
                         grid=grid, strategy="broadcast")


def _zonal_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coverage_weight=area_cartesian over the COARSE raster wc0
    (dx=dy=4 → cell area float32(16.0), an exact power of two so the
    driver hash compare stays exact — reference raster_stats.h:277-296
    area-multiply semantics)."""
    cfg = SynthConfig.from_sf_dir(sf_dir)
    docs = build_docs(spark, cfg)
    zones = eio.zones_from_docs(docs)
    meta = {r["raster_id"]: r.asDict()
            for r in eio.raster_meta_from_docs(docs).collect()}
    tiles = eio.tiles_from_docs(docs, "wc0", meta["wc0"])
    from exactextract_spark.fixtures import REG_F
    gc = (cfg.G + REG_F - 1) // REG_F
    grid = dict(grid_xmin=0.0, grid_ymax=float(cfg.G),
                dx=float(REG_F), dy=float(REG_F),
                grid_nrows=gc, grid_ncols=gc, tile=cfg.tile, dtype="float64")
    return exact_extract(
        zones, tiles,
        ["area_count=count(coverage_weight=area_cartesian)",
         "area_sum=sum(coverage_weight=area_cartesian)",
         "area_mean=mean(coverage_weight=area_cartesian)"],
        grid=grid, strategy="broadcast")


def _rasterize_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector→raster: burn every zone's exact coverage onto the grid
    (gdal_rasterize direction).  Pure geometry — subdivide's kernel
    emits the (zone, cell) pieces inside the tile-scan stage, then ONE
    cell-keyed shuffle with map-side combine aggregates across zones
    (rasterize.py)."""
    from exactextract_spark.rasterize import rasterize_burn

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return rasterize_burn(zones, tiles, grid=grid, strategy="broadcast")


def _focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell neighborhood stats (radius-2 square window) via the
    halo-exchange stencil: one map-only scatter of ≤R-deep boundary
    strips + ONE tile-keyed shuffle; vectorized window evaluation
    (focal.py).  The oracle is the naive (2R+1)²-fan-out self-join —
    same numbers, 25× the shuffle volume."""
    from exactextract_spark.focal import focal_stats

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return focal_stats(tiles, radius=2, grid=grid)


def _focal_convolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binomial (integer-Gaussian) kernel smoothing via the same halo
    exchange as focal_mean, evaluated as two weighted shift-accumulate
    passes; weights renormalize over defined cells at nodata holes and
    raster edges (focal.py)."""
    from exactextract_spark.focal import focal_convolve

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return focal_convolve(tiles, kernel=(1, 4, 6, 4, 1), grid=grid)


def _raster_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius distance transform (gdal_proximity -maxdist
    shape): squared distance to the nearest high-value cell (val ≥ 90)
    within the radius-8 window, via the separable two-pass min on one
    halo exchange (focal.py)."""
    from exactextract_spark.focal import focal_proximity

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return focal_proximity(tiles, radius=8, target_min=90.0, grid=grid)


def _raster_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn-method surface gradient (gdaldem slope core) on the
    radius-1 halo exchange; NULL at edges and nodata neighborhoods
    (focal.py).  Exact dyadic outputs only — angle transforms stay out
    of the gate (libm rounding differs across engines)."""
    from exactextract_spark.focal import focal_gradient

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return focal_gradient(tiles, grid=grid)


def _raster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global raster value histogram (gdalinfo -hist shape): per-tile
    np.unique bincount in the map stage, one compact (value, count)
    hash aggregate (pyramid.raster_histogram)."""
    from exactextract_spark.pyramid import raster_histogram

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return raster_histogram(tiles, grid=grid)


def _raster_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4× overview level (gdaladdo -r average shape): f×f block stats,
    map-only with ZERO shuffles because the factor divides the tile
    size (pyramid.py; plan asserted shuffle-free in tests)."""
    from exactextract_spark.pyramid import overview

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return overview(tiles, factor=4, grid=grid)


def _rasterize_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full vector→raster→zonal round trip through the driver gate:
    burn all zones' coverage onto the grid (rasterize.py), materialize
    the burned layer as a first-class tile table (untouched cells in
    touched tiles = 0.0; untouched tiles absent — sparse
    rasterization), then extract count/sum/mean of the burn density
    per zone over that derived raster.  Every burn value is a multiple
    of 1/16 and every product burn×coverage a multiple of 1/256, so
    the sums are exact and the gate stays bit-exact."""
    from exactextract_spark.rasterize import burn_to_tiles, rasterize_burn

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    burn = rasterize_burn(zones, tiles, grid=grid, strategy="broadcast")
    burned = burn_to_tiles(burn, grid)
    return exact_extract(zones, burned, ["count", "sum", "mean"],
                         grid=grid, strategy="broadcast")


def _zonal_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone coverage-weighted covariance/correlation of the value
    raster against the weight raster (api.zonal_correlation) — exact
    moment sums, numerator-form statistics."""
    from exactextract_spark.api import zonal_correlation

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return zonal_correlation(zones, tiles, wtiles, grid=grid,
                             strategy="broadcast")


def _zonal_topk_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone hotspot extraction: the top-5 covered cells by value
    (ties → lowest cell_id) via kernel-local per-pair top-k + the
    two-phase salted rank (api.zonal_topk_cells) — no per-zone
    collect_list anywhere in the plan."""
    from exactextract_spark.api import zonal_topk_cells

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return zonal_topk_cells(zones, tiles, k=5, grid=grid,
                            strategy="broadcast")


def _zonal_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone change detection: value raster vs weight raster as the
    before/after pair (api.zonal_change) — changed fraction, mean
    signed delta, max absolute delta."""
    from exactextract_spark.api import zonal_change

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return zonal_change(zones, tiles, wtiles, grid=grid,
                        strategy="broadcast")


def _zonal_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-raster joint tabulation (value × weight-raster value) per
    zone with within-zone shares — the joint extension of frac
    (api.zonal_crosstab)."""
    from exactextract_spark.api import zonal_crosstab

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return zonal_crosstab(zones, tiles, wtiles, grid=grid,
                          strategy="broadcast")


def _zonal_weights_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored weights array (raster_stats.h:759-765) alongside
    cell_id/coverage, posexploded for the driver canonicalizer."""
    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    res = exact_extract(zones, tiles, ["cell_id", "weights", "coverage"],
                        weight_tiles=wtiles, grid=grid, strategy="broadcast")
    return (res.select(
                "zone_id",
                F.posexplode(F.arrays_zip("cell_id", "weights", "coverage"))
                 .alias("pos", "e"))
            .select("zone_id", F.col("pos").cast("int").alias("pos"),
                    F.col("e.cell_id").alias("cell_id"),
                    F.col("e.weights").alias("weight"),
                    F.col("e.coverage").alias("coverage")))


def _sumsq(values, cov):
    """Custom-op body: weighted sum of squares (exact in float64 on the
    quarter-aligned fixture, so the hash compare needs no tolerance)."""
    import numpy as np
    return float(np.sum(np.asarray(values, dtype=np.float64) ** 2 * cov))


def _zonal_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python operation through the full distributed pipeline —
    the reference PythonOperation contract (operation_bindings.cpp)."""
    from exactextract_spark.ops import wrap_callable

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return exact_extract(zones, tiles,
                         ["count", wrap_callable(_sumsq, name="sumsq")],
                         grid=grid, strategy="broadcast")


def _checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed extraction interrupted after 3 tiles, then resumed:
    the finalize must equal the one-shot batch result (exact partial
    merge; each commit maps to one Iceberg snapshot append —
    checkpoint.py:10-17)."""
    import tempfile

    from exactextract_spark.checkpoint import CheckpointedExtraction
    from exactextract_spark.extract import ZonalExtractor

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    ext = ZonalExtractor(zones, tiles, grid=grid, strategy="broadcast")
    ck = CheckpointedExtraction(ext, ["count", "sum", "mean"],
                                tempfile.mkdtemp(prefix="ee_ck_"))
    ck.step(limit_tiles=3)   # partial progress ("crash" after 3 tiles)
    ck.step()                # resume processes only the remainder
    return ck.finalize()


def _run_streaming(spark: SparkSession, sf_dir: str, ops: list[str],
                   weight_id: str | None = None) -> DataFrame:
    """Shared streaming-query plumbing: tile docs arriving as a
    two-file stream (availableNow); the snapshot over the committed
    micro-batches must equal the one-shot batch result."""
    import os
    import tempfile

    from exactextract_spark.streaming import (StreamingZonalWriter,
                                              stream_zonal_from_dir)

    cfg = SynthConfig.from_sf_dir(sf_dir)
    docs = build_docs(spark, cfg)
    zones = eio.zones_from_docs(docs)
    meta = {r["raster_id"]: r.asDict()
            for r in eio.raster_meta_from_docs(docs).collect()}
    grid = cfg.grid_dict()
    grid["dtype"] = "float64"
    wtiles = (eio.tiles_from_docs(docs, weight_id, meta[weight_id])
              if weight_id else None)

    base = tempfile.mkdtemp(prefix="ee_stream_")
    indir = os.path.join(base, "in")
    rdocs = docs.where(docs.doc_id.startswith("r0:"))
    n = rdocs.count()
    # deterministic split: an unordered limit() would re-evaluate to a
    # different subset inside subtract(), dropping/duplicating tiles —
    # write the first half, read it BACK, and subtract the materialized
    # rows so f1 ∪ f2 == rdocs exactly
    rdocs.limit(n // 2).write.parquet(os.path.join(indir, "f1.parquet"))
    a = spark.read.parquet(os.path.join(indir, "f1.parquet"))
    rdocs.join(a.select("doc_id"), "doc_id", "left_anti") \
        .write.parquet(os.path.join(indir, "f2.parquet"))

    writer = StreamingZonalWriter(zones, grid, ops,
                                  os.path.join(base, "state"), "r0",
                                  meta["r0"], weight_tiles=wtiles)
    stream_zonal_from_dir(spark, indir + "/*", writer,
                          os.path.join(base, "ck"))
    return writer.snapshot()


def _streaming_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_streaming(spark, sf_dir, ["count", "sum", "mean"])


def _streaming_weighted_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted zonal stats with a STATIC weight raster (w0) and
    STREAMED value tiles (two micro-batches): the snapshot's exact
    partial merge must equal the one-shot weighted batch SQL."""
    return _run_streaming(
        spark, sf_dir, ["weighted_count", "weighted_sum", "weighted_mean"],
        weight_id="w0")


def _streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful Structured-Streaming exact dedup
    (applyInPandasWithState): the testdata has no exact-duplicate texts
    at this SF, so — like embedding_neardup — the corpus is PLANTED
    inside the query (originals ∪ copies of doc_id≡3 mod 97 re-idd at
    +1e6), streamed as SEPARATE files so every duplicate digest spans
    micro-batches and the snapshot equality proves the cross-batch
    state merge (canonical min and dup_count both live in the state
    store).  The oracle derives the identical corpus in a CTE."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from exactextract_spark.pipeline.streaming_dedup import (
        dedup_state_snapshot, stream_dedup_exact)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = (docs.where(F.col("doc_id") % 97 == 3)
               .withColumn("doc_id", F.col("doc_id") + F.lit(1000000)))
    base = tempfile.mkdtemp(prefix="ee_sdedup_")
    indir = os.path.join(base, "in")
    docs.coalesce(1).write.parquet(os.path.join(indir, "f1.parquet"))
    planted.coalesce(1).write.parquet(os.path.join(indir, "f2.parquet"))
    stream_dedup_exact(spark, indir + "/*", os.path.join(base, "upd"),
                       os.path.join(base, "ck"))
    return dedup_state_snapshot(spark, docs.unionByName(planted),
                                os.path.join(base, "upd"))


def _streaming_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed rollup with watermark-gated late data: the
    events table streams as three files (days 1–10, 11–20, 21–30), with
    a deterministic subset of days 9–10 held back into the SECOND file
    — genuinely late arrivals, inside the 2-day allowed lateness, that
    must merge into their still-open day windows before those finalize.
    Append-mode output = windows whose end precedes (max ts − delay);
    the oracle's WHERE clause is exactly that inequality, so the gate
    checks the watermark semantics, not just the arithmetic."""
    import os
    import tempfile
    import time

    from pyspark.sql import functions as F

    from exactextract_spark.pipeline.streaming_events import (
        rollup_snapshot, stream_windowed_rollup)

    # day windows over naive parquet timestamps match the oracle's
    # date_trunc only under UTC (streaming_events.py module docstring)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    late = ((F.col("ts") >= F.lit("2024-01-09"))
            & (F.col("ts") < F.lit("2024-01-11"))
            & (F.crc32(F.col("event_id").cast("string").cast("binary"))
               % 4 == 0))
    splits = [
        ev.where((F.col("ts") < F.lit("2024-01-11")) & ~late),
        ev.where(((F.col("ts") >= F.lit("2024-01-11"))
                  & (F.col("ts") < F.lit("2024-01-21"))) | late),
        ev.where(F.col("ts") >= F.lit("2024-01-21")),
    ]
    base = tempfile.mkdtemp(prefix="ee_sevents_")
    indir = os.path.join(base, "in")
    for k, df in enumerate(splits):
        p = os.path.join(indir, f"f{k}.parquet")
        df.coalesce(1).write.parquet(p)
        t = time.time() + k  # distinct mtimes → in-order micro-batches
        for root, _, files in os.walk(p):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))
    stream_windowed_rollup(spark, indir + "/*", os.path.join(base, "upd"),
                           os.path.join(base, "ck"))
    return rollup_snapshot(spark, os.path.join(base, "upd"))


def _streaming_event_rollup_oracle() -> str:
    return """WITH mx AS (SELECT max(ts) AS m FROM events)
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events, mx
WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= m - INTERVAL 2 DAY
GROUP BY 1, 2"""


def _streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization: the events table streams as
    three files (same split + held-back late subset as the rollup), so
    sessions spanning a file boundary must merge their state across
    micro-batches before the watermark finalizes them.  Append-mode
    output = sessions whose end (last event + gap) precedes
    (max ts − delay); the oracle is the batch gaps-and-islands SQL with
    exactly that HAVING clause — the gate checks streaming session
    state-merge + finalization, not just the arithmetic."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from exactextract_spark.pipeline._stream_util import stagger_mtimes
    from exactextract_spark.pipeline.streaming_events import (
        sessions_snapshot, stream_sessions)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    late = ((F.col("ts") >= F.lit("2024-01-09"))
            & (F.col("ts") < F.lit("2024-01-11"))
            & (F.crc32(F.col("event_id").cast("string").cast("binary"))
               % 4 == 0))
    splits = [
        ev.where((F.col("ts") < F.lit("2024-01-11")) & ~late),
        ev.where(((F.col("ts") >= F.lit("2024-01-11"))
                  & (F.col("ts") < F.lit("2024-01-21"))) | late),
        ev.where(F.col("ts") >= F.lit("2024-01-21")),
    ]
    base = tempfile.mkdtemp(prefix="ee_ssess_")
    indir = os.path.join(base, "in")
    for k, df in enumerate(splits):
        p = os.path.join(indir, f"f{k}.parquet")
        df.coalesce(1).write.parquet(p)
        stagger_mtimes(p, float(k))
    stream_sessions(spark, indir + "/*", os.path.join(base, "out"),
                    os.path.join(base, "ck"))
    return sessions_snapshot(spark, os.path.join(base, "out"))


def _streaming_sessions_oracle() -> str:
    return """WITH mx AS (SELECT max(ts) AS m FROM events),
o AS (
  SELECT user_id, ts, value,
    CASE WHEN LAG(ts) OVER w IS NULL
         OR ts - LAG(ts) OVER w > INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM o)
SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM s, mx GROUP BY user_id, sid, m
HAVING MAX(ts) + INTERVAL 2 HOUR <= m - INTERVAL 2 DAY"""


def _streaming_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (fifth streaming shape): purchases
    and clicks of the same event stream joined on user + trailing-24h
    time range, watermarked on both sides.  The events stream as three
    files with the rollup's held-back late subset (days 9–10 rows in
    the SECOND file, within the 2-day lateness), so late clicks must
    join purchase state retained from an earlier micro-batch — the
    final emitted pair set equals the batch inequality join exactly."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from exactextract_spark.pipeline._stream_util import stagger_mtimes
    from exactextract_spark.pipeline.events_join import (
        range_join_pairs_snapshot, stream_range_join)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    late = ((F.col("ts") >= F.lit("2024-01-09"))
            & (F.col("ts") < F.lit("2024-01-11"))
            & (F.crc32(F.col("event_id").cast("string").cast("binary"))
               % 4 == 0))
    splits = [
        ev.where((F.col("ts") < F.lit("2024-01-11")) & ~late),
        ev.where(((F.col("ts") >= F.lit("2024-01-11"))
                  & (F.col("ts") < F.lit("2024-01-21"))) | late),
        ev.where(F.col("ts") >= F.lit("2024-01-21")),
    ]
    base = tempfile.mkdtemp(prefix="ee_srj_")
    indir = os.path.join(base, "in")
    for k, df in enumerate(splits):
        p = os.path.join(indir, f"f{k}.parquet")
        df.coalesce(1).write.parquet(p)
        stagger_mtimes(p, float(k))
    stream_range_join(spark, indir + "/*", os.path.join(base, "out"),
                      os.path.join(base, "ck"))
    return range_join_pairs_snapshot(spark, os.path.join(base, "out"))


def _widen_to_oracle(df: DataFrame, *cols: str) -> DataFrame:
    """Match the oracle's column typing where DuckDB widens integer
    aggregates: SUM(BIGINT) — grouped or windowed — returns HUGEINT,
    which duckdb .df() materializes as float64.  The engine values are
    exact integers (< 2^53), so the double cast is value-preserving and
    makes the driver's dtype-sensitive hash compare bit-equal."""
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("double"))
    return df


def _pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exactextract_spark.pipeline.packing import pack_documents
    # shard_id/shard_offset derive from a windowed SUM in the oracle →
    # HUGEINT → float64 (see _widen_to_oracle)
    return _widen_to_oracle(pack_documents(spark, sf_dir),
                            "shard_id", "shard_offset")


def _shuffle_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exactextract_spark.pipeline.packing import shuffle_documents
    return shuffle_documents(spark, sf_dir)


def _shuffle_documents_oracle() -> str:
    return """SELECT doc_id,
  ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
    - 1 AS position
FROM documents"""


def _pack_documents_oracle() -> str:
    return """WITH c AS (
  SELECT doc_id, n_chars,
    SUM(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      - n_chars AS start
  FROM documents)
SELECT doc_id, n_chars,
  start // 4096 AS shard_id,
  start % 4096 AS shard_offset
FROM c"""


def _corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shard_id derives from a windowed SUM, total_chars from a grouped
    # SUM in the oracle → HUGEINT → float64 (see _widen_to_oracle)
    return _widen_to_oracle(pcorpus.corpus_pipeline(spark, sf_dir),
                            "shard_id", "total_chars")


def _event_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sum_k is SUM(BIGINT) in the oracle → HUGEINT → float64
    return _widen_to_oracle(pstream_events.event_props_rollup(spark, sf_dir),
                            "sum_k")


def _event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n_events is SUM(BIGINT) in the oracle → HUGEINT → float64
    return _widen_to_oracle(
        pstream_events.event_value_quantiles(spark, sf_dir), "n_events")


def _event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exactextract_spark.pipeline.streaming_events import event_sessions
    return event_sessions(spark, sf_dir)


def _event_sessions_oracle() -> str:
    return """WITH o AS (
  SELECT user_id, ts, value,
    CASE WHEN LAG(ts) OVER w IS NULL
         OR ts - LAG(ts) OVER w > INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM o)
SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sid"""


def _streaming_dedup_oracle() -> str:
    return """WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 97 = 3
)
SELECT doc_id, md5(text) AS text_hash,
  MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
  COUNT(*) OVER (PARTITION BY md5(text)) AS dup_count,
  doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
FROM corpus"""


def _point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exactextract_spark.fixtures import build_points
    from exactextract_spark.spatial import point_in_polygon

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return point_in_polygon(build_points(spark, cfg), zones, grid=grid)


def _point_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster point query: nearest-cell value + bilinear interpolation
    between the 4 surrounding cell centers, per query point — points
    key to their owning tile, payloads arrive with a 1-cell halo, one
    cogrouped shuffle (spatial.sample_points)."""
    from exactextract_spark.fixtures import build_points
    from exactextract_spark.spatial import sample_points

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    return sample_points(build_points(spark, cfg), tiles, grid=grid)


def _knn_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exactextract_spark.fixtures import build_points
    from exactextract_spark.spatial import knn_tiles

    cfg = SynthConfig.from_sf_dir(sf_dir)
    grid = cfg.grid_dict()
    return knn_tiles(build_points(spark, cfg), grid, k=4)


def _tile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from exactextract_spark.extract import raise_on_invalid_zones

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    zones_b = attach_bbox(zones)
    # zone_tile_pairs alone would silently drop an invalid zone (NULL
    # bbox fails every range predicate) — keep the loud-failure contract
    raise_on_invalid_zones(zones_b)
    pairs = zone_tile_pairs(zones_b, grid, cfg.tile)
    return pairs.select("zone_id", "tile_row", "tile_col").distinct()


def _zonal_bandmath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster calculator → zonal stats: normalized difference of mb0's
    two bands derived by bandmath.band_math (one tile-key equi-join +
    one mapInArrow over blocks), then the standard extraction —
    the derived table is a first-class tile table, nothing downstream
    changes."""
    from exactextract_spark.bandmath import band_math, normalized_difference_q20

    cfg = SynthConfig.from_sf_dir(sf_dir)
    docs = build_docs(spark, cfg)
    zones = eio.zones_from_docs(docs)
    meta = {r["raster_id"]: r.asDict()
            for r in eio.raster_meta_from_docs(docs).collect()}
    tiles = eio.tiles_from_docs(docs, "mb0", meta["mb0"])
    derived = band_math(tiles, normalized_difference_q20)
    grid = cfg.grid_dict()
    grid["dtype"] = "float64"
    return exact_extract(zones, derived, ["count", "sum", "mean", "min", "max"],
                         grid=grid, strategy="broadcast")


def _quadkey_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup over the hierarchical quadkey (S2-style)
    cell index: the level-16 Morton key is computed ONCE per distinct
    zone-tile pair (JVM bit arithmetic, tiling.morton), coarser levels
    are bit-prefix shifts exploded from it, and one hash shuffle
    aggregates all three levels together — the hypertable-rollup shape
    (never one scan per level)."""
    from exactextract_spark.tiling import morton

    cfg, zones, tiles, wtiles, grid = _setup(spark, sf_dir)
    pairs = zone_tile_pairs(attach_bbox(zones), grid, cfg.tile)
    p = (pairs.select("zone_id", "tile_row", "tile_col").distinct()
         .withColumn("qk16", morton("tile_row", "tile_col", 16)))
    lv = p.select(
        "zone_id", F.col("qk16").alias("tile_key"),
        F.explode(F.array(
            F.struct(F.lit(16).alias("level"), F.col("qk16").alias("cell")),
            F.struct(F.lit(14).alias("level"),
                     F.shiftright("qk16", 4).alias("cell")),
            F.struct(F.lit(12).alias("level"),
                     F.shiftright("qk16", 8).alias("cell")))).alias("e"))
    return (lv.groupBy(F.col("e.level").alias("level"),
                       F.col("e.cell").alias("cell"))
            .agg(F.count("*").alias("n_pairs"),
                 F.countDistinct("zone_id").alias("n_zones"),
                 F.countDistinct("tile_key").alias("n_tiles")))


def _span_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule invariant: the interleaved fixture's span sequences
    (kind, text, media_ref, order) as exploded scalar rows, verified
    against an independent DuckDB regeneration (oracles.span_sequence
    -> fixtures.docs_spans_sql)."""
    cfg = SynthConfig.from_sf_dir(sf_dir)
    return (build_docs(spark, cfg)
            .select("doc_id", F.posexplode("spans").alias("span_idx", "s"))
            .selectExpr("doc_id", "CAST(span_idx AS INT) AS span_idx",
                        "s.kind AS kind", "s.text AS text",
                        "s.media_ref AS media_ref",
                        "CAST(s.offset AS INT) AS offset"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _zq(["count", "sum", "mean", "min", "max", "variety", "median"])(
        spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "span_sequence": _span_sequence,
        "zonal_basic": _zq(["count", "sum", "mean", "min", "max"]),
        # same stats through the shuffle join strategy (payloads move
        # once; AQE skew-join) — must match the same oracle
        "zonal_basic_shuffle": _zq(["count", "sum", "mean", "min", "max"],
                                   strategy="shuffle"),
        "zonal_weighted": _zq(["weighted_count", "weighted_sum", "weighted_mean"],
                              weighted=True),
        "zonal_weighted_regrid": _zonal_weighted_regrid,
        "zonal_scaled": _zonal_scaled,
        "zonal_dtype": _zonal_dtype,
        "zonal_multiband": _zonal_multiband,
        "zonal_variance": _zq(["variance", "stdev"]),
        "zonal_weighted_variance": _zq(["weighted_variance", "weighted_stdev"],
                                       weighted=True),
        "zonal_cv": _zq(["coefficient_of_variation"]),
        "zonal_histogram": _zq(["variety", "majority", "minority"]),
        "zonal_frac": _zq(["unique", "frac", "weighted_frac"], weighted=True,
                          post=_frac_post),
        "zonal_quantiles": _zq(["median", "quantile(q=0.25)", "quantile(q=0.75)"]),
        "zonal_minmax_loc": _zq(["min_center_x", "min_center_y",
                                 "max_center_x", "max_center_y"]),
        "zonal_coverage_none": _zq(["count(coverage_weight=none)",
                                    "mean(coverage_weight=none)"]),
        "zonal_min_coverage": _zq(["count(min_coverage_frac=0.5)",
                                   "sum(min_coverage_frac=0.5)"]),
        "zonal_mixed_args": _zq(["count", "count_mc=count(min_coverage_frac=0.25)",
                                 "weighted_mean"], weighted=True),
        "tile_assignment": _tile_assignment,
        "quadkey_rollup": _quadkey_rollup,
        "zonal_bandmath": _zonal_bandmath,
        "zonal_area": _zonal_area,
        "zonal_weights_array": _zonal_weights_array,
        "rasterize_burn": _rasterize_burn,
        "rasterize_zonal": _rasterize_zonal,
        "zonal_crosstab": _zonal_crosstab,
        "zonal_correlation": _zonal_correlation,
        "zonal_topk_cells": _zonal_topk_cells,
        "zonal_change": _zonal_change,
        "focal_mean": _focal_mean,
        "focal_convolve": _focal_convolve,
        "raster_proximity": _raster_proximity,
        "raster_gradient": _raster_gradient,
        "raster_overview": _raster_overview,
        "raster_histogram": _raster_histogram,
        "zonal_custom": _zonal_custom,
        "zonal_binned": _zq(["variety(bin_width=2)", "majority(bin_width=2)",
                             "minority(bin_width=2)"]),
        "checkpoint_resume": _checkpoint_resume,
        "streaming_snapshot": _streaming_snapshot,
        "streaming_weighted_snapshot": _streaming_weighted_snapshot,
        "streaming_dedup": _streaming_dedup,
        "streaming_event_rollup": _streaming_event_rollup,
        "streaming_sessions": _streaming_sessions,
        "streaming_range_join": _streaming_range_join,
        "event_sessions": _event_sessions,
        "pack_documents": _pack_documents,
        "shuffle_documents": _shuffle_documents,
        "corpus_pipeline": _corpus_pipeline,
        "zonal_arrays": _zonal_arrays,
        "zonal_linear": _zonal_linear,
        "subdivide_rect": _subdivide,
        "point_in_polygon": _point_in_polygon,
        "point_sample": _point_sample,
        "knn_tiles": _knn_tiles,
        # training-data pipeline operators (documents / embeddings)
        "text_stats": ptext.text_stats,
        "lang_guess": ptext.lang_guess,
        "doc_fingerprint": ptext.fingerprint,
        "token_histogram": ptext.token_histogram,
        "quality_filter": ptext.quality_filter,
        "dedup_exact": pdedup.exact_dedup,
        "dedup_minhash_sig": pdedup.minhash_signature,
        "dedup_minhash_pairs": pdedup.minhash_pairs,
        "dedup_verified_pairs": pdedup.minhash_verified_pairs,
        "dedup_clusters": pdedup.dedup_clusters,
        "dedup_cluster_reps": pdedup.cluster_representatives,
        "sample_stratified": ptext.sample_stratified,
        "tfidf_top_terms": ptext.tfidf_top_terms,
        "dedup_simhash": pdedup.simhash,
        "dedup_simhash_pairs": pdedup.simhash_pairs,
        "chunk_documents": ptext.chunk_documents,
        "bigram_coverage": ptext.bigram_coverage,
        "event_props_rollup": _event_props_rollup,
        "event_value_quantiles": _event_value_quantiles,
        "event_asof_join": pevjoin.event_asof_join,
        "event_range_join": pevjoin.event_range_join,
        "event_funnel": pevana.event_funnel,
        "user_retention": pevana.user_retention,
        "user_rolling_features": pevana.user_rolling_features,
        "event_user_profile": pevana.event_user_profile,
        "dedup_ngram_jaccard": pdedup.ngram_jaccard,
        "line_dedup": pdedup.line_dedup,
        "contamination_check": pdedup.contamination_check,
        "mixture_weights": ptext.mixture_weights,
        "repetition_stats": ptext.repetition_stats,
        "pii_scrub": ptext.pii_scrub,
        "bpe_token_count": ptext.bpe_token_count,
        "length_percentile_filter": ptext.length_percentile_filter,
        "kmeans_assign": pclust.kmeans_assign,
        "semdedup": pclust.semdedup,
        "ann_pq": pclust.ann_pq,
        "ann_ivf_pq": pclust.ann_ivf_pq,
        "ann_topk": psim.ann_topk,
        "ann_ivf": psim.ann_ivf,
        "ann_lsh_buckets": psim.lsh_buckets,
        "embedding_neardup": psim.embedding_neardup,
        "label_centroids": psim.label_centroids_rows,
        "media_metadata": pmm.media_metadata,
        "media_frames": pmm.frame_samples,
        "media_features": pmm.media_features,
        "media_resize": pmm.media_resize,
    }
    return q


PIPELINE_ORACLES = {
    "text_stats": ptext.text_stats_oracle,
    "lang_guess": ptext.lang_guess_oracle,
    "doc_fingerprint": ptext.fingerprint_oracle,
    "token_histogram": ptext.token_histogram_oracle,
    "quality_filter": ptext.quality_filter_oracle,
    "dedup_exact": pdedup.exact_dedup_oracle,
    "streaming_dedup": _streaming_dedup_oracle,
    "streaming_event_rollup": _streaming_event_rollup_oracle,
    "streaming_sessions": _streaming_sessions_oracle,
    "streaming_range_join": pevjoin.streaming_range_join_oracle,
    "event_sessions": _event_sessions_oracle,
    "pack_documents": _pack_documents_oracle,
    "shuffle_documents": _shuffle_documents_oracle,
    "corpus_pipeline": pcorpus.corpus_pipeline_oracle,
    "dedup_minhash_sig": pdedup.minhash_signature_oracle,
    "dedup_minhash_pairs": pdedup.minhash_pairs_oracle,
    "dedup_verified_pairs": pdedup.minhash_verified_pairs_oracle,
    "dedup_clusters": pdedup.dedup_clusters_oracle,
    "dedup_cluster_reps": pdedup.cluster_representatives_oracle,
    "sample_stratified": ptext.sample_stratified_oracle,
    "tfidf_top_terms": ptext.tfidf_top_terms_oracle,
    "dedup_simhash": pdedup.simhash_oracle,
    "dedup_simhash_pairs": pdedup.simhash_pairs_oracle,
    "chunk_documents": ptext.chunk_documents_oracle,
    "bigram_coverage": ptext.bigram_coverage_oracle,
    "event_props_rollup": pstream_events.event_props_rollup_oracle,
    "event_value_quantiles": pstream_events.event_value_quantiles_oracle,
    "event_asof_join": pevjoin.event_asof_join_oracle,
    "event_range_join": pevjoin.event_range_join_oracle,
    "event_funnel": pevana.event_funnel_oracle,
    "user_retention": pevana.user_retention_oracle,
    "user_rolling_features": pevana.user_rolling_features_oracle,
    "event_user_profile": pevana.event_user_profile_oracle,
    "dedup_ngram_jaccard": pdedup.ngram_jaccard_oracle,
    "line_dedup": pdedup.line_dedup_oracle,
    "contamination_check": pdedup.contamination_check_oracle,
    "mixture_weights": ptext.mixture_weights_oracle,
    "repetition_stats": ptext.repetition_stats_oracle,
    "pii_scrub": ptext.pii_scrub_oracle,
    "bpe_token_count": ptext.bpe_token_count_oracle,
    "length_percentile_filter": ptext.length_percentile_filter_oracle,
    "kmeans_assign": pclust.kmeans_assign_oracle,
    "semdedup": pclust.semdedup_oracle,
    "ann_pq": pclust.ann_pq_oracle,
    "ann_ivf_pq": pclust.ann_ivf_pq_oracle,
    "ann_topk": psim.ann_topk_oracle,
    "ann_ivf": psim.ann_ivf_oracle,
    "ann_lsh_buckets": psim.lsh_buckets_oracle,
    "embedding_neardup": psim.embedding_neardup_oracle,
    "label_centroids": psim.label_centroids_oracle,
    "media_metadata": pmm.media_metadata_oracle,
    "media_frames": pmm.frame_samples_oracle,
    "media_features": pmm.media_features_oracle,
    "media_resize": pmm.media_resize_oracle,
}


def oracle_sql() -> dict[str, str]:
    out = {name: fn(_ORACLE_CFG) for name, fn in ZONAL_ORACLES.items()}
    out.update({name: fn() for name, fn in PIPELINE_ORACLES.items()})
    return out
