"""Raster algebra (band math): derive a new single-band raster from
co-registered bands of an existing tile table, feeding straight into
``exact_extract`` — the NDVI-style "raster calculator" workflow
(compute (B1−B0)/(B1+B0) per cell, then zonal-aggregate it).

Spark shape: one equi-join on the tile key co-locates the band
payloads (at production scale both sides come pre-bucketed by tile
key, so the join is shuffle-free), then a single ``mapInArrow``
decodes the blocks (``io.decode_defined_tiles``: nodata, mask band
and scale/offset applied on read), evaluates the numpy expression, and
re-encodes — the only Python stage, vectorized per tile, never per
cell.  The derived table carries dtype=float64 with undefined
cells as NaN, which the kernel already treats as nodata
(batchkernel.py: ``defined_s = ~np.isnan(v) & ...``), so every downstream operator
(weights, histograms, quantiles, subdivide) works unchanged.

Reference parity: exactextract itself leaves band math to GDAL VRT
pipelines; this operator is the Spark-native equivalent a user of
`exact_extract(rast=[...])` with a derived VRT band would reach for.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from .io import arrow_batch, decode_defined_tiles, encode_tile

__all__ = ["band_math", "normalized_difference"]


def normalized_difference(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(b − a) / (b + a) with a 0-denominator guard → NaN (nodata)."""
    den = b + a
    with np.errstate(invalid="ignore", divide="ignore"):
        out = np.where(den != 0.0, (b - a) / den, np.nan)
    return out


def normalized_difference_q20(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """normalized_difference quantized to floor(ratio * 2^20): the
    ratio itself is one correctly-rounded division (identical in every
    IEEE engine), the power-of-two scale is exact, and floor makes the
    cell value an integer — so downstream coverage-weighted SUMS are
    dyadic-exact and combine-order-free, which keeps the driver's hash
    compare bit-exact (the label_centroids/kmeans quantization trick).
    Raw normalized_difference sums would drift 1 ulp with partition
    order."""
    return np.floor(normalized_difference(a, b) * 1048576.0)


def band_math(tiles: DataFrame, fn: Callable[[np.ndarray, np.ndarray], np.ndarray],
              *, bands: tuple[int, int] = (0, 1),
              out_raster_id: str = "bandmath") -> DataFrame:
    """Derived raster: ``fn(band_a, band_b)`` evaluated per tile.

    ``fn`` receives both blocks as float64 arrays with every undefined
    input cell (nodata sentinel, failed mask, NaN) already NaN and
    scale/offset applied (io.decode_defined_tiles), and must return a
    float64 array of the same shape (NaN = nodata).  The result is a
    single-band tile table in the standard schema — any ZonalExtractor
    op runs on it unchanged.
    """
    key = ["raster_id", "tile_row", "tile_col"]
    a = tiles.where(F.col("band") == bands[0])
    b = (tiles.where(F.col("band") == bands[1])
         .select(*key, F.col("values").alias("values_b"),
                 *([F.col("mask_values").alias("mask_values_b")]
                   if "mask_values" in tiles.columns else [])))
    j = a.join(b, key)
    out_cols = [c for c in tiles.columns if c != "mask_values"]
    # all-nullable copy: the derived tiles NULL the nodata sentinel and
    # mask_generator, so inheriting a non-nullable field would throw at
    # read time
    out_schema = T.StructType([T.StructField(f.name, f.dataType, True)
                               for f in j.select(*out_cols).schema.fields])
    # the columns a derived tile replaces; the rest pass through
    derived = dict(band=0, raster_id=out_raster_id, dtype="float64",
                   nodata=None, scale=1.0, offset=0.0, mask_generator=None,
                   generator="derived", band_count=1)

    def _compute(batches):
        for rb in batches:
            vals = []
            for av, bv in zip(decode_defined_tiles(rb),
                              decode_defined_tiles(rb, "values_b", "mask_values_b")):
                res = np.asarray(fn(av, bv), dtype=np.float64)
                res[np.isnan(av) | np.isnan(bv)] = np.nan
                vals.append(encode_tile(res))
            yield arrow_batch(out_schema, {
                c: vals if c == "values" else
                [derived[c]] * rb.num_rows if c in derived else rb.column(c)
                for c in out_cols})

    return j.mapInArrow(_compute, schema=out_schema)
