"""Checkpointed / resumable extraction with per-partition lineage and
metrics.

The BASELINE north rule requires the job to be "resumable from
Iceberg-snapshot checkpoints with per-partition lineage and metrics".
The engine realizes this as batch-incremental processing (the reference
is strictly batch — SURVEY.md §2.4): the unit of recovery is the TILE,
because every scalar/histogram partial state is
associative-commutative and merges exactly (batchkernel.py).

Layout under ``path`` (plain parquet here; in production each commit
maps to one Iceberg snapshot append — the semantics are identical:
lineage rows and partial rows are committed together, so a resume sees
a consistent prefix):

    path/partials/   partial-state rows keyed by (tile_row, tile_col)
    path/lineage/    one row per completed tile: batch id, partial-row
                     count, wall-clock, the op list's op keys

``resume()`` anti-joins the tile table against the lineage, processes
only the remainder, appends, and finalizes from ALL stored partials.
Stored-array ops (values/coverage/…) are rejected: their state is
re-collectable but not salt-mergeable (SURVEY.md §7 'what's hard').
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, functions as F

from .extract import (ZonalExtractor, aggregate_partials, check_partial_layout,
                      op_keys, run_kernel)
from .ops import group_ops_by_key, parse_ops

__all__ = ["CheckpointedExtraction"]


class CheckpointedExtraction:
    def __init__(self, extractor: ZonalExtractor, ops, path: str):
        self.ext = extractor
        wname = "weights" if extractor.has_weights else None
        self.op_list = parse_ops(ops, weights=wname)
        self.keygroups = group_ops_by_key(self.op_list)
        for _, req, ops_in_key in self.keygroups:
            if req.cells:
                bad = [o.name for o in ops_in_key if o.stat in
                       ("values", "coverage", "weights", "center_x", "center_y", "cell_id")]
                raise ValueError(
                    f"stored-array ops {bad} are not checkpoint-mergeable; "
                    "run them in a single pass")
        self.path = path.rstrip("/")
        self.spark = extractor.zones_b.sparkSession

    # -- lineage -----------------------------------------------------------
    def _lineage(self) -> DataFrame | None:
        try:
            return self.spark.read.parquet(f"{self.path}/lineage")
        except Exception:
            return None

    def pending_tiles(self) -> DataFrame:
        done = self._lineage()
        tiles = self.ext.joined
        if done is not None:
            tiles = tiles.join(done.select("tile_row", "tile_col"),
                               ["tile_row", "tile_col"], "left_anti")
        return tiles

    def metrics(self) -> dict:
        lin = self._lineage()
        if lin is None:
            return {"tiles_done": 0, "partial_rows": 0, "batches": 0}
        row = lin.agg(F.count("*").alias("t"),
                      F.sum("n_partial_rows").alias("p"),
                      F.countDistinct("batch_id").alias("b")).first()
        return {"tiles_done": row["t"], "partial_rows": int(row["p"] or 0),
                "batches": row["b"]}

    # -- execution -----------------------------------------------------------
    def step(self, limit_tiles: int | None = None) -> int:
        """Process (up to limit_tiles of) the pending tiles; append their
        partial states + lineage.  Returns #tiles processed.  A crash
        between the two writes leaves re-doable (not yet visible) work —
        partials for a tile become visible only with its lineage row at
        finalize time (the join below), so replays stay exactly-once."""
        todo = self.pending_tiles()
        if limit_tiles is not None:
            # deterministic limit: an unordered limit() re-evaluates to a
            # DIFFERENT tile subset across the two consumers below
            # (partials write vs the `empty` anti-join), which would mark
            # never-processed tiles as done and silently drop their cells
            keys = (todo.select("tile_row", "tile_col").distinct()
                    .orderBy("tile_row", "tile_col").limit(limit_tiles))
            todo = todo.join(keys, ["tile_row", "tile_col"])
        batch = uuid.uuid4().hex[:12]
        partials = run_kernel(todo, self.keygroups,
                              geom_lookup=self.ext.geom_lookup,
                              has_weights=self.ext.has_weights,
                              passthrough=("tile_row", "tile_col")) \
            .withColumn("batch_id", F.lit(batch)).persist()
        partials.write.mode("append").parquet(f"{self.path}/partials")
        keys = op_keys(self.keygroups)
        lineage = (partials.groupBy("tile_row", "tile_col")
                   .agg(F.count("*").alias("n_partial_rows"))
                   .withColumn("batch_id", F.lit(batch))
                   .withColumn("ts", F.lit(time.time()))
                   .withColumn("op_keys", F.lit(keys)))
        # tiles whose kernel produced no partials still count as done
        empty = (todo.select("tile_row", "tile_col").distinct()
                 .join(lineage.select("tile_row", "tile_col"),
                       ["tile_row", "tile_col"], "left_anti")
                 .withColumn("n_partial_rows", F.lit(0).cast("long"))
                 .withColumn("batch_id", F.lit(batch))
                 .withColumn("ts", F.lit(time.time()))
                 .withColumn("op_keys", F.lit(keys)))
        done = lineage.unionByName(empty)
        n = done.count()
        done.write.mode("append").parquet(f"{self.path}/lineage")
        partials.unpersist()
        return n

    def finalize(self) -> DataFrame:
        """Merge ALL committed partials into the final statistics.  Only
        partials whose (tile, batch) has a lineage row are visible —
        orphan partials from a crash between the two appends are
        excluded, so a re-done tile is counted exactly once."""
        lin = self._lineage()
        if lin is None:
            raise ValueError(
                f"no checkpoint lineage found under {self.path!r}; "
                "call step() (or run()) before finalize()")
        stored = self.spark.read.parquet(f"{self.path}/partials")
        stored = stored.join(
            lin.select("tile_row", "tile_col", "batch_id").distinct(),
            ["tile_row", "tile_col", "batch_id"])
        stored = stored.drop("tile_row", "tile_col", "batch_id")
        check_partial_layout(stored, lin, self.keygroups)
        return aggregate_partials(self.ext.zones_b, stored, self.keygroups,
                                  int_values=self.ext.int_values)

    def run(self) -> DataFrame:
        """Resume-or-start: process pending tiles, then finalize."""
        self.step()
        return self.finalize()
