"""Raster algebra (band math): derive a new single-band raster from
co-registered bands of an existing tile table, feeding straight into
``exact_extract`` — the NDVI-style "raster calculator" workflow
(compute (B1−B0)/(B1+B0) per cell, then zonal-aggregate it).

Spark shape: one equi-join on the tile key co-locates the band
payloads (at production scale both sides come pre-bucketed by tile
key, so the join is shuffle-free), then a single Arrow-batched
``mapInPandas`` decodes the blocks, evaluates the numpy expression,
and re-encodes — the only Python stage, vectorized per tile, never
per cell.  The derived table carries dtype=float64 with undefined
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
from pyspark.sql import DataFrame, functions as F

from .io import decode_value_tile, encode_tile

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
    input cell (nodata sentinel, failed mask, NaN) already NaN, and
    must return a float64 array of the same shape (NaN = nodata).  The
    result is a single-band tile table in the standard schema — any
    ZonalExtractor op runs on it unchanged.
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
    # mask_generator, and a NaN sent through Arrow becomes SQL NULL too,
    # so inheriting a non-nullable field would throw at read time
    from pyspark.sql import types as T
    out_schema = T.StructType([T.StructField(f.name, f.dataType, True)
                               for f in j.select(*out_cols).schema.fields])
    has_mask = "mask_values" in tiles.columns

    def _compute(batches):
        for pdf in batches:
            rows = pdf.to_dict("records")
            for row in rows:
                nd = row.get("nodata")
                nd = None if nd is None or nd != nd else float(nd)
                dec = dict(dtype=row["dtype"], nrows=int(row["nrows"]),
                           ncols=int(row["ncols"]), nodata=nd,
                           scale=float(row.get("scale") or 1.0),
                           offset=float(row.get("offset") or 0.0))
                av = decode_value_tile(
                    row["values"], mask_buf=row.get("mask_values"), **dec)
                bv = decode_value_tile(
                    row["values_b"], mask_buf=row.get("mask_values_b"), **dec)
                av = np.asarray(av, dtype=np.float64).copy()
                bv = np.asarray(bv, dtype=np.float64).copy()
                # sentinel masking applies only on the NO-transform path
                # (decode_value_tile returned raw values); a transformed
                # tile already carries NaN for undefined cells, and
                # comparing post-transform values against the RAW
                # sentinel would null legitimate cells whose transformed
                # value equals it (ADVICE r5)
                scaled = dec["scale"] != 1.0 or dec["offset"] != 0.0
                if nd is not None:
                    if not (scaled or row.get("mask_values") is not None):
                        av[av == nd] = np.nan
                    if not (scaled or row.get("mask_values_b") is not None):
                        bv[bv == nd] = np.nan
                res = np.asarray(fn(av, bv), dtype=np.float64)
                res[np.isnan(av) | np.isnan(bv)] = np.nan
                row["values"] = encode_tile(res)
                row["band"] = 0
                row["raster_id"] = out_raster_id
                row["dtype"] = "float64"
                row["nodata"] = None
                row["scale"] = 1.0
                row["offset"] = 0.0
                row["mask_generator"] = None
                row["generator"] = "derived"
                if "band_count" in row:
                    row["band_count"] = 1
            import pandas as pd
            yield pd.DataFrame(rows, columns=out_schema.fieldNames())

    return j.mapInPandas(_compute, schema=out_schema)
