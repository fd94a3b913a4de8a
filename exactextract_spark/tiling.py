"""Tile-key algebra: hierarchical quadkey (S2/H3-style) cell index,
zone covering sets, and explicit salting for skewed aggregations.

The engine's primary spatial index is the raster grid itself: zone bbox
→ tile range (extract.tile_hits, or the extract.zone_tile_pairs
explode) → equi-join on the tile key.  This
module adds the hierarchical layer the north rule calls for (an
H3/S2-style index): a Morton/quadkey cell id whose PREFIX structure
gives multi-resolution pruning — one key at level L contains exactly
the 4 keys at level L+1, so coarse-level equality predicates prune
entire subtrees (Iceberg partition values at production scale).

All expressions are JVM-side bit arithmetic (whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["morton", "quadkey", "add_quadkey", "salted_sum"]


def morton(tr: Column | str, tc: Column | str, bits: int = 16) -> Column:
    """Interleave tile_row/tile_col bits -> Z-order (Morton) key.
    Equivalent to an S2/quadtree cell id on the tile lattice."""
    tr = F.col(tr) if isinstance(tr, str) else tr
    tc = F.col(tc) if isinstance(tc, str) else tc
    acc = F.lit(0).cast("long")
    for b in range(bits):
        acc = acc + F.shiftleft(F.shiftright(tr.cast("long"), b).bitwiseAND(1), 2 * b + 1) \
                  + F.shiftleft(F.shiftright(tc.cast("long"), b).bitwiseAND(1), 2 * b)
    return acc


def quadkey(tr, tc, level: int, max_level: int = 16) -> Column:
    """Quadkey at the given level: the Morton key truncated to
    2*level high bits — parent of a finer key is its bit-prefix."""
    m = morton(tr, tc, max_level)
    return F.shiftright(m, 2 * (max_level - level))


def add_quadkey(df: DataFrame, level: int, *, tr: str = "tile_row",
                tc: str = "tile_col", out: str = "quadkey",
                max_level: int = 16) -> DataFrame:
    return df.withColumn(out, quadkey(tr, tc, level, max_level))


def salted_sum(df: DataFrame, key: str, agg_exprs: list, *, n_salt: int = 16) -> DataFrame:
    """Two-stage salted aggregation for skewed keys: stage 1 groups by
    (key, salt) — spreading one hot key over n_salt reducers — stage 2
    merges the per-salt partials.  Correct for any
    associative-commutative aggregate (all of this engine's states).

    Note: Spark's map-side partial aggregation already gives this
    effect for hash aggregates; salted_sum exists for the cases where
    the partial agg is defeated (e.g. high-cardinality side channels)
    and as the explicit skew story required at 10^12-row scale.

    The salt is derived from the full row content (deterministic):
    nondeterministic salts (monotonically_increasing_id / rand) can
    assign a recomputed row a different salt under task retry or
    speculative execution, losing or double-counting it across the
    shuffle boundary."""
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salt)).alias("_salt")
    stage1 = df.withColumn("_salt", salt).groupBy(key, "_salt").agg(*agg_exprs)
    merged = [F.sum(c).alias(c) for c in stage1.columns if c not in (key, "_salt")]
    return stage1.groupBy(key).agg(*merged)
