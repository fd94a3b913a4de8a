"""Differential reference for the engine's quantile finalize
(``exactextract_spark.extract._histogram_finalize``): the engine's
former pandas-UDF quantile, a numpy transcription of the reference's
exact weighted quantile (weighted_quantiles.cpp:21-75), applied to the
per-zone histogram the engine merges from its kernel partials.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from exactextract_spark.extract import run_kernel
from exactextract_spark.ops import group_ops_by_key, parse_ops

__all__ = ["weighted_quantile", "zone_histograms"]


def weighted_quantile(xs: np.ndarray, ws: np.ndarray, q: float) -> float | None:
    """Exact weighted quantile of the distinct values ``xs`` (ascending)
    with weights ``ws``: s_i = i*w_i + (n-1)*cumsum_{i-1}, linear
    interpolation at q*(Σw)*(n-1).  None for an empty histogram."""
    n = xs.size
    if n == 0:
        return None
    cum = np.cumsum(ws)
    s = np.empty(n)
    s[0] = 0.0
    if n > 1:
        s[1:] = np.arange(1, n) * ws[1:] + (float(n) - 1.0) * cum[:-1]
    t = q * (cum[-1] * (float(n) - 1.0))
    left = int(np.searchsorted(s, t, side="right")) - 1
    if left >= n - 1:
        return float(xs[n - 1])
    r = left + 1
    return float(xs[left] + (t - s[left]) * (xs[r] - xs[left]) / (s[r] - s[left]))


def zone_histograms(ext, op: str = "median") -> dict:
    """{zone_id: (values, coverage sums)} of the ZonalExtractor ``ext``'s
    merged value histogram for the key of ``op``: its kernel partials,
    exploded and summed per (zone, value) with the expressions
    extract.aggregate_partials uses, values ascending."""
    keygroups = group_ops_by_key(parse_ops([op]))
    partials = run_kernel(ext.joined, keygroups, geom_lookup=ext.geom_lookup,
                          has_weights=ext.has_weights)
    h = (partials.where(F.col("k0_hist_v").isNotNull())
         .select("zone_id", F.explode(F.arrays_zip(
             F.col("k0_hist_v").alias("v"),
             F.col("k0_hist_ci").alias("ci"))).alias("h"))
         .groupBy("zone_id", F.col("h.v").alias("v"))
         .agg(F.sum("h.ci").alias("ci"))
         .groupBy("zone_id")
         .agg(F.array_sort(F.collect_list(F.struct("v", "ci"))).alias("hist")))
    return {r["zone_id"]: (np.array([e["v"] for e in r["hist"]]),
                           np.array([e["ci"] for e in r["hist"]]))
            for r in h.collect()}
