"""High-level conveniences mirroring the reference's Python API surface
(/root/reference/python/src/exactextract/exact_extract.py:28-144
multi-source fan-out and naming; python/src/exactextract/writer.py
unnesting; frac_as_map output option)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .extract import ZonalExtractor
from .ops import parse_ops
from .pipeline import two_phase_topk

__all__ = ["exact_extract_multi", "exact_extract_fused",
           "exact_extract_multiband", "zonal_crosstab",
           "zonal_correlation", "zonal_change", "zonal_topk_cells",
           "unnest_arrays", "frac_as_map"]


def _pair_partials(zones: DataFrame, tiles: DataFrame,
                   other_tiles: DataFrame | None, req, *,
                   grid: dict | None, strategy: str) -> DataFrame:
    """Per-(zone, tile) compact partial states for the two-raster /
    top-k analytics ops — the de-funneled replacement for the r5
    stored-array path (exact_extract(["values","weights","coverage"]),
    which built ONE collect_list row per zone before exploding it back:
    an aggregation-buffer / 2 GB-column killer for continent-sized
    zones).  The kernel emits bounded per-pair rows instead; every
    downstream aggregation is a plain partial+final hash agg.

    The extractor's cached zone table serves only its constructor's
    collect and ZonalExtractor.extract's final join, which never runs
    here, so it is released at once: the call leaves no cached table
    behind.  The geometry broadcast stays, since the returned plan
    reads it."""
    from .extract import run_kernel
    from .ops import FLT_MIN

    ext = ZonalExtractor(zones, tiles, weight_tiles=other_tiles,
                         grid=grid, strategy=strategy)
    ext.zones_b.unpersist()
    key = ("values", "weights" if other_tiles is not None else None,
           FLT_MIN, "fraction", None, None, None)
    return run_kernel(ext.joined, [(key, req, [])],
                      geom_lookup=ext.geom_lookup,
                      has_weights=ext.has_weights)


def exact_extract_multi(zones: DataFrame, rasters: dict[str, DataFrame], ops, *,
                        weights: DataFrame | None = None,
                        include_cols: list[str] | None = None) -> DataFrame:
    """Fan out one op list over several rasters (and their bands),
    auto-naming columns ``{src}_{stat}`` or ``{src}_band_{b}_{stat}``
    (reference naming, exact_extract.py:28-38; utils.cpp:213-264).
    Results join on zone_id into one row per zone."""
    out = None
    for src_name, tiles in rasters.items():
        bands = [r[0] for r in tiles.select("band").distinct().collect()]
        for b in sorted(bands):
            btiles = tiles.where(F.col("band") == b)
            prefix = f"{src_name}_" if len(bands) == 1 else f"{src_name}_band_{b}_"
            wname = "weights" if weights is not None else None
            op_list = parse_ops(ops, weights=wname)
            named = [o.__class__(**{**o.__dict__, "name": prefix + o.name}) for o in op_list]
            ext = ZonalExtractor(zones, btiles, weight_tiles=weights)
            res = ext.extract(named, include_cols=include_cols if out is None else None)
            out = res if out is None else out.join(res, "zone_id", "full")
    return out


def exact_extract_fused(zones: DataFrame, rasters: dict[str, DataFrame], ops, *,
                        include_cols: list[str] | None = None) -> DataFrame:
    """Single-pass multi-raster extraction: all rasters' tiles union into
    ONE scan; the kernel routes each tile row to the op keys of its own
    raster (the op key's first component is the raster name).  At scale
    this reads the tile store once instead of once per raster —
    the reference's read-once dedup (feature_sequential_processor.cpp:
    85-113) lifted across rasters.

    Requires all rasters on one grid/tiling (reference common_grid
    constraint, grid.h:278-305).  Columns auto-name ``{src}_{stat}``."""
    from functools import reduce

    from .ops import parse_op

    names = list(rasters)
    grids = [t.select("grid_xmin", "grid_ymax", "dx", "dy", "grid_nrows",
                      "grid_ncols").first().asDict() for t in rasters.values()]
    if any(g != grids[0] for g in grids[1:]):
        raise ValueError("fused extraction requires all rasters on one grid; "
                         "regrid first (regrid.regrid_to)")
    tiles = reduce(lambda a, b: a.unionByName(b), rasters.values())
    op_list = []
    for name in names:
        for d in ops:
            o = parse_op(d, values=name)
            op_list.append(o.__class__(**{**o.__dict__, "name": f"{name}_{o.name}"}))
    ext = ZonalExtractor(zones, tiles, grid=grids[0])
    return ext.extract(op_list, include_cols=include_cols)


def exact_extract_multiband(zones: DataFrame, tiles: DataFrame, ops, *,
                            src: str | None = None,
                            grid: dict | None = None,
                            tile_size: int | None = None,
                            strategy: str = "auto",
                            include_cols: list[str] | None = None) -> DataFrame:
    """Single-pass extraction over ALL bands of one raster: the tile
    table (one row per band per tile) is scanned once; the kernel
    routes each row to its band's op keys via the raster_id column
    (band-major fused scan).  Column naming follows the reference:
    ``{src}_band_{b}_{stat}`` when more than one band exists, plain
    ``{stat}`` otherwise (exact_extract.py:28-38).

    At 100 TB this reads the tile store once instead of once per band —
    the per-band loop in exact_extract_multi costs an extra scan and an
    extra zone join per band."""
    from .ops import parse_op

    bands = sorted(r[0] for r in tiles.select("band").distinct().collect())
    if src is None:
        src = tiles.select("raster_id").first()[0]
    if len(bands) == 1:
        ext = ZonalExtractor(zones, tiles, grid=grid, tile_size=tile_size,
                             strategy=strategy)
        return ext.extract(ops, include_cols=include_cols)
    t2 = tiles.withColumn(
        "raster_id", F.concat(F.col("raster_id"), F.lit("#b"),
                              F.col("band").cast("string")))
    op_list = []
    for b in bands:
        vname = f"{src}#b{b}"
        for d in ops:
            o = parse_op(d, values=vname) if isinstance(d, str) else d
            op_list.append(o.__class__(
                **{**o.__dict__, "values": vname,
                   "name": f"{src}_band_{b}_{o.name}"}))
    ext = ZonalExtractor(zones, t2, grid=grid, tile_size=tile_size,
                         strategy=strategy)
    return ext.extract(op_list, include_cols=include_cols)


def zonal_crosstab(zones: DataFrame, tiles: DataFrame,
                   weight_tiles: DataFrame, *,
                   grid: dict | None = None,
                   strategy: str = "auto") -> DataFrame:
    """Joint two-raster tabulation per zone (cross-tab): coverage-sum
    and within-zone share for every (value, weight-raster value) pair —
    the joint extension of the reference's per-value ``frac`` stat
    (raster_stats.h frac semantics), i.e. QGIS/ArcGIS "tabulate area"
    crossed over two categorical rasters.

    The kernel emits a per-(zone, tile) JOINT (value, y) histogram as
    compact parallel arrays (≤ the pair's joint domain — bounded by
    cells per tile, typically far less), exploded JVM-side and merged
    by one hash shuffle on (zone, value, weight) with map-side combine;
    ``frac`` divides by the per-zone total via a window over the
    already-compact group rows (≤ |value domain| × |weight domain| rows
    per zone — bounded state, never the raw cells, and never one
    collect_list row per zone)."""
    from pyspark.sql import Window

    from .ops import StatRequirements

    req = StatRequirements(basic=True, pair_hist=True)
    partials = _pair_partials(zones, tiles, weight_tiles, req,
                              grid=grid, strategy=strategy)
    e = (partials.select(
            "zone_id",
            F.explode(F.arrays_zip(F.col("k0_hist2_v").alias("v"),
                                   F.col("k0_hist2_w").alias("w"),
                                   F.col("k0_hist2_c").alias("c"))).alias("e"))
         .select("zone_id",
                 F.col("e.v").alias("value"),
                 F.col("e.w").alias("weight"),
                 F.col("e.c").alias("cov")))
    g = e.groupBy("zone_id", "value", "weight") \
         .agg(F.sum("cov").alias("count"))
    w = Window.partitionBy("zone_id")
    return g.withColumn("frac", F.col("count") / F.sum("count").over(w))


def zonal_correlation(zones: DataFrame, tiles: DataFrame,
                      other_tiles: DataFrame, *,
                      grid: dict | None = None,
                      strategy: str = "auto") -> DataFrame:
    """Per-zone coverage-weighted covariance and Pearson correlation
    between two aligned rasters (the ArcGIS "Band Collection
    Statistics" analog) — how do two variables co-vary INSIDE each
    polygon.

    The moment sums (Σc, Σcx, Σcy, Σcx², Σcy², Σcxy) ride the same
    aligned-arrays extraction as :func:`zonal_crosstab` and are exact
    for the quarter-aligned fixture (coverage multiples of 1/16 ×
    small integers), so the derived statistics are single
    correctly-rounded expression sequences — deterministic across
    engines.  Numerator forms avoid compounding divisions:
    ``cov = (n·Σcxy − Σcx·Σcy) / n²``,
    ``corr = (n·Σcxy − Σcx·Σcy) / √((n·Σcx²−Σcx²ᵗ)(n·Σcy²−Σcy²ᵗ))``,
    NULL when either marginal variance is 0 (constant band in zone).

    The kernel emits the six moments per (zone, tile) pair — six
    doubles, never the raw cells (the r5 stored-array funnel is gone) —
    so the final agg shuffles bounded pair rows and the output is
    |zones| rows regardless of raster size."""
    from .ops import StatRequirements

    req = StatRequirements(basic=True, variance=True, xy_moments=True)
    partials = _pair_partials(zones, tiles, other_tiles, req,
                              grid=grid, strategy=strategy)
    m = partials.groupBy("zone_id").agg(
        F.sum("k0_sum_c").alias("n"),
        F.sum("k0_sum_cx").alias("sx"),
        F.sum("k0_sum_cy").alias("sy"),
        F.sum("k0_sum_cx2").alias("sxx"),
        F.sum("k0_sum_cy2").alias("syy"),
        F.sum("k0_sum_cxy").alias("sxy"),
        F.max("k0_y_undef").alias("_yu"))
    # re-poison: any pair with an undefined y makes the zone's
    # y-dependent moments NaN, exactly like the stored-array path's NaN
    # weights flowing through SUM (the partials zero-fill because a
    # top-level NaN would become SQL NULL at the Arrow boundary)
    nanlit = F.lit(float("nan"))
    for c in ("sy", "syy", "sxy"):
        m = m.withColumn(c, F.when(F.col("_yu"), nanlit).otherwise(F.col(c)))
    cov_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx_num = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy_num = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "zone_id", "n",
        (F.col("sx") / F.col("n")).alias("mean_x"),
        (F.col("sy") / F.col("n")).alias("mean_y"),
        (cov_num / (F.col("n") * F.col("n"))).alias("cov"),
        F.when((vx_num > 0) & (vy_num > 0),
               cov_num / F.sqrt(vx_num * vy_num)).alias("corr"))


def zonal_change(zones: DataFrame, tiles: DataFrame,
                 other_tiles: DataFrame, *,
                 grid: dict | None = None,
                 strategy: str = "auto") -> DataFrame:
    """Per-zone change detection between two aligned rasters (the
    remote-sensing before/after summary): coverage inside the zone,
    coverage-weighted changed fraction, mean signed delta, and the
    largest absolute per-cell delta.  The kernel emits the change
    partials per (zone, tile) pair — three doubles, never the raw
    cells; all sums are exact for the quarter-aligned fixture, so the
    statistics are single correctly-rounded divisions."""
    from .ops import StatRequirements

    req = StatRequirements(basic=True, xy_change=True)
    partials = _pair_partials(zones, tiles, other_tiles, req,
                              grid=grid, strategy=strategy)
    m = partials.groupBy("zone_id").agg(
        F.sum("k0_sum_c").alias("n"),
        F.sum("k0_chg_c").alias("changed"),
        F.sum("k0_chg_sd").alias("sdelta"),
        F.max("k0_chg_maxad").alias("max_abs_delta"),
        F.max("k0_y_undef").alias("_yu"))
    # re-poison (see zonal_correlation): undefined y -> NaN signed-delta
    # stats; `changed` stays finite (x != NaN is true, like the SQL
    # predicate)
    nanlit = F.lit(float("nan"))
    for c in ("sdelta", "max_abs_delta"):
        m = m.withColumn(c, F.when(F.col("_yu"), nanlit).otherwise(F.col(c)))
    return m.select(
        "zone_id", "n",
        (F.col("changed") / F.col("n")).alias("changed_frac"),
        (F.col("sdelta") / F.col("n")).alias("mean_delta"),
        "max_abs_delta")


def zonal_topk_cells(zones: DataFrame, tiles: DataFrame, *,
                     k: int = 5, salts: int = 8,
                     grid: dict | None = None,
                     strategy: str = "auto") -> DataFrame:
    """Per-zone hotspot extraction: the top-k covered cells by value
    (ties → lowest cell_id).  The kernel emits each (zone, tile) pair's
    LOCAL top-k candidates (≤ k rows per pair — the per-zone union
    provably contains the zone's global top-k), then two_phase_topk
    merges them: a local rank per (zone, cell_id mod salts) bounds
    every task, the final rank sees ≤ k·salts rows per zone — no task
    ever sorts a whole zone's cell list, and no per-zone collect_list
    exists anywhere in the plan."""
    from .ops import StatRequirements

    req = StatRequirements(basic=True, pair_topk=int(k))
    partials = _pair_partials(zones, tiles, None, req,
                              grid=grid, strategy=strategy)
    e = (partials.select(
            "zone_id",
            F.explode(F.arrays_zip(F.col("k0_topk_cell").alias("cid"),
                                   F.col("k0_topk_v").alias("v"),
                                   F.col("k0_topk_cov").alias("cov")))
             .alias("e"))
         .select("zone_id", F.col("e.cid").alias("cell_id"),
                 F.col("e.v").alias("value"),
                 F.col("e.cov").alias("cov")))
    return (two_phase_topk(e, "zone_id",
                           [F.col("value").desc(), F.col("cell_id")],
                           "cell_id", k, salts)
            .select("zone_id", "rank", "cell_id", "value", "cov"))


def unnest_arrays(df: DataFrame, array_cols: list[str] | None = None,
                  keep_cols: list[str] | None = None) -> DataFrame:
    """Explode parallel array result columns into one output row per
    element — the reference's GDALFeatureUnnester
    (src/gdal_feature_unnester.h:23-58); Spark-native as
    explode_outer(arrays_zip(...)).  explode_outer, not explode: a
    feature whose arrays are NULL/empty (no intersecting cells) still
    writes one row, like the reference writing a row per feature.
    array_cols defaults to every ArrayType column in the schema."""
    from pyspark.sql import types as T

    if array_cols is None:
        array_cols = [f.name for f in df.schema.fields
                      if isinstance(f.dataType, T.ArrayType)]
    if not array_cols:
        return df
    keep = keep_cols if keep_cols is not None else \
        [c for c in df.columns if c not in array_cols]
    z = F.explode_outer(F.arrays_zip(*[F.col(c).alias(c) for c in array_cols])).alias("_e")
    out = df.select(*keep, z)
    return out.select(*keep, *[F.col(f"_e.{c}").alias(c) for c in array_cols])


def frac_as_map(df: DataFrame, unique_col: str = "unique", frac_col: str = "frac",
                out_col: str = "frac_map") -> DataFrame:
    """Combine parallel unique/frac arrays into a map<value,frac> column
    (reference frac_as_map output option, exact_extract.py:251-265)."""
    return df.withColumn(out_col, F.map_from_arrays(F.col(unique_col), F.col(frac_col)))
