"""Structured-Streaming ingest: zonal statistics over a stream of
interleaved-document batches.

The reference is strictly batch (SURVEY.md §2.4); this engine adds the
streaming shape a 100 TB pipeline actually uses: raster-tile documents
land continuously (new acquisitions), and per-zone statistics must stay
queryable.  Because every scalar/histogram state is
associative-commutative (batchkernel.py), streaming ingest is just the
checkpoint machinery driven by a stream:

    docs readStream → foreachBatch:
        parse tile docs → kernel partials → append partials+lineage
    snapshot() → aggregate all committed partials (exact merge)

Each micro-batch commit corresponds to one Iceberg snapshot append in
production; ``snapshot()`` at any time equals a batch run over the
tiles ingested so far (tested in tests/test_streaming.py).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import io as eio
from .extract import (aggregate_partials, check_partial_layout, join_weight_frame,
                      join_zone_lists, op_keys, prepare_weight_frame,
                      prepare_zones, run_kernel, zone_lists)
from .ops import group_ops_by_key, parse_ops

__all__ = ["StreamingZonalWriter", "stream_zonal_from_dir"]


class StreamingZonalWriter:
    """foreachBatch sink: incremental per-tile partial states."""

    def __init__(self, zones: DataFrame, grid: dict, ops, path: str,
                 raster_id: str, meta: dict, tile_size: int | None = None,
                 strategy: str = "auto", weight_tiles: DataFrame | None = None):
        self.spark = zones.sparkSession
        self.grid = grid
        self.tile_size = tile_size or grid.get("tile") or 64
        # weights are a STATIC dimension of a streaming job (e.g. a
        # population raster weighting streamed acquisitions): prepared
        # once here (regrid + w_* rename, same as the batch path) and
        # joined onto every micro-batch's value tiles
        self._wframe = None
        if weight_tiles is not None:
            self._wframe = prepare_weight_frame(
                weight_tiles, grid, self.tile_size).persist()
        wname = "weights" if weight_tiles is not None else None
        self.keygroups = group_ops_by_key(parse_ops(ops, weights=wname))
        self.path = path.rstrip("/")
        self.raster_id = raster_id
        self.meta = meta
        # same zone prep as the batch path (extract.prepare_zones): the
        # parsed geometry and the tile hit-lists are broadcast ONLY
        # below the broadcast limit; above it the geometry arrays ride
        # the per-tile hit-list through the shuffle instead — a
        # 10⁸-zone streaming job must never OOM the driver at
        # construction.
        prep = prepare_zones(zones, strategy, grid=grid, tile=self.tile_size,
                             persist=True)
        self._prep = prep
        self.strategy = prep.strategy
        self.zones_b = prep.zones_b
        self.geom_lookup = prep.lookup
        # shuffle strategy: the per-tile zone structs, grouped once for
        # every micro-batch (the broadcast strategy filters each batch's
        # tiles to the broadcast hit-lists instead)
        self.pairs_agg = None
        if self.strategy == "shuffle":
            self.pairs_agg = zone_lists(prep).persist()

    def process_batch(self, docs_batch: DataFrame, batch_id: int) -> None:
        # Exactly-once under foreachBatch replay: partials are stamped
        # with a fresh per-ATTEMPT uuid; the lineage row records both the
        # stream's batch_id (for the replay-skip check) and the attempt
        # uuid (what snapshot() joins on).  A crash between the two
        # appends leaves partials whose attempt uuid never reaches the
        # lineage — the replay writes a second copy under a NEW uuid and
        # commits that one, so the orphans never join (the stream's
        # batch_id alone is NOT unique across replay attempts).
        try:
            lin = self.spark.read.parquet(f"{self.path}/lineage")
            if lin.where(F.col("batch_id") == str(batch_id)).take(1):
                return
        except Exception:
            pass
        attempt = uuid.uuid4().hex[:12]
        tiles = eio.tiles_from_docs(docs_batch, self.raster_id, self.meta)
        if self._wframe is not None:
            tiles = join_weight_frame(tiles, self._wframe)
        joined = join_zone_lists(tiles, self._prep, self.pairs_agg)
        partials = run_kernel(joined, self.keygroups,
                              geom_lookup=self.geom_lookup,
                              has_weights=self._wframe is not None,
                              passthrough=("tile_row", "tile_col")) \
            .withColumn("batch_id", F.lit(str(batch_id))) \
            .withColumn("attempt_id", F.lit(attempt)).persist()
        partials.write.mode("append").parquet(f"{self.path}/partials")
        lineage = (partials.groupBy("tile_row", "tile_col")
                   .agg(F.count("*").alias("n_partial_rows"))
                   .withColumn("batch_id", F.lit(str(batch_id)))
                   .withColumn("attempt_id", F.lit(attempt))
                   .withColumn("ts", F.lit(time.time()))
                   .withColumn("op_keys", F.lit(op_keys(self.keygroups))))
        lineage.write.mode("append").parquet(f"{self.path}/lineage")
        partials.unpersist()

    def snapshot(self) -> DataFrame:
        """Current per-zone statistics over everything ingested so far
        (only partials whose (tile, attempt) is lineage-committed are
        visible — orphans from failed attempts are excluded)."""
        lin = self.spark.read.parquet(f"{self.path}/lineage")
        stored = self.spark.read.parquet(f"{self.path}/partials")
        stored = stored.join(
            lin.select("tile_row", "tile_col", "attempt_id").distinct(),
            ["tile_row", "tile_col", "attempt_id"]) \
            .drop("tile_row", "tile_col", "batch_id", "attempt_id")
        check_partial_layout(stored, lin, self.keygroups)
        return aggregate_partials(self.zones_b, stored, self.keygroups)

    def metrics(self) -> dict:
        try:
            lin = self.spark.read.parquet(f"{self.path}/lineage")
        except Exception:
            return {"tiles_done": 0, "batches": 0}
        r = lin.agg(F.count("*").alias("t"),
                    F.countDistinct("batch_id").alias("b")).first()
        return {"tiles_done": r["t"], "batches": r["b"]}


def stream_zonal_from_dir(spark: SparkSession, input_dir: str,
                          writer: StreamingZonalWriter,
                          checkpoint_dir: str):
    """File-source stream over a directory of docs parquet; processes
    everything available, then stops (availableNow trigger)."""
    stream = (spark.readStream.schema(eio.DOCS_SCHEMA).parquet(input_dir))
    q = (stream.writeStream
         .foreachBatch(writer.process_batch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
