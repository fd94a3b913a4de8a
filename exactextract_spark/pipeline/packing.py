"""Training-corpus layout operators built on a distributed
prefix-sum/rank primitive: sequence packing (pack_documents) and a
reproducible global training-order shuffle (shuffle_documents).

Sequence packing lays documents out contiguously into fixed-size
shards (the standard LLM-pretraining packing layout — documents
concatenate in a stable order; a shard boundary may fall inside a
document, which then straddles two shards).

For each document (ordered by doc_id):

    start   = exclusive prefix sum of n_chars
    shard   = start // budget
    offset  = start %  budget

The prefix sum is computed DISTRIBUTED, not with a global
single-partition window (which would funnel the whole table through
one sorting task): doc_ids are blocked into ``num_partitions``
deterministic contiguous ranges (block = (doc_id - min) div K), each
block's cumulative sums run in parallel, and a tiny per-block-totals
table (one row per block) broadcasts back as exclusive offsets.
Prefix sum is associative, so the result is identical for ANY ordered
disjoint blocking — the block count never leaks into the output.

Blocking by id range (instead of repartitionByRange + the physical
spark_partition_id) keeps the plan to ONE full-table exchange: the
hash repartition on the block column satisfies the window's required
distribution, so Catalyst adds no second exchange — and the blocks
are deterministic, with no sampled range boundaries.  Even id density
is assumed (true for dense doc_ids); wildly sparse id spaces would
need the range-sampling variant.

Scale shape (100 TB): one hash shuffle of (doc_id, n_chars) scalars
(the text itself never moves), per-block windows bounded by block
size, a broadcast of num_partitions rows, and one tiny min/max
aggregate to size the blocks.  The oracle is the equivalent
global-window SQL (exact integer arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..session import default_parallelism

__all__ = ["pack_documents", "shuffle_documents", "default_blocks"]


def default_blocks(spark: SparkSession, cap: int | None = None) -> int:
    """Scale-adaptive prefix-sum block count: 4x the session's
    parallelism (finer than the core count so the hash-partitioned
    blocks balance — blocks == partitions leaves ~1/e of the cores
    idle by balls-in-bins), optionally capped (hex-byte blocking
    cannot exceed 256 buckets).  The block count never leaks into any
    result — prefix sum is associative over ordered disjoint blocks.
    Works on Spark Connect sessions too (session.default_parallelism)."""
    n = 4 * max(1, default_parallelism(spark))
    return min(n, cap) if cap else n


def pack_documents(spark: SparkSession, sf_dir: str,
                   budget: int = 4096,
                   num_partitions: int | None = None) -> DataFrame:
    if num_partitions is None:
        num_partitions = default_blocks(spark)
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "n_chars"))
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:
        return docs.select(
            "doc_id", "n_chars",
            F.lit(0).cast("long").alias("shard_id"),
            F.lit(0).cast("long").alias("shard_offset"))
    k = max(1, -(-(hi - lo + 1) // num_partitions))  # ceil
    parts = (docs.withColumn("_pid", F.expr(f"(doc_id - {lo}) div {k}"))
             .repartition(num_partitions, "_pid"))
    w = Window.partitionBy("_pid").orderBy("doc_id")
    local = parts.withColumn("_local_end", F.sum("n_chars").over(w))
    # one row per block: tiny, broadcast back as exclusive offsets.
    # Computed straight from parts (partial-aggregatable sum), NOT from
    # the window output — no persist needed, nothing cached for the
    # session lifetime, and the totals branch skips the sort entirely.
    totals = (parts.groupBy("_pid")
              .agg(F.sum("n_chars").alias("_ptotal")))
    woff = Window.orderBy("_pid") \
                 .rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid", F.coalesce(F.sum("_ptotal").over(woff), F.lit(0))
                 .alias("_poffset"))
    packed = (local.join(F.broadcast(offsets), "_pid")
              .withColumn("_start", F.col("_poffset")
                          + F.col("_local_end") - F.col("n_chars"))
              .select("doc_id", "n_chars",
                      F.expr(f"_start div {budget}").alias("shard_id"),
                      (F.col("_start") % budget).alias("shard_offset")))
    return packed


def shuffle_documents(spark: SparkSession, sf_dir: str,
                      num_partitions: int | None = None) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets
    a position 0..N-1 in pseudo-random order (md5 of the doc_id, ties
    by doc_id — reproducible across runs and engines, no seed state).

    The global rank is distributed with the same primitive as
    pack_documents: block by the first hex byte of the hash (256
    uniform buckets → num_partitions contiguous groups), per-block
    row_number in parallel, block counts broadcast back as exclusive
    offsets.  Hex blocks are prefix-aligned with the md5 sort order,
    so block order == global order.

    Scale shape (100 TB): one hash shuffle of (doc_id, 2 scalars), no
    global-order window, a broadcast of num_partitions rows — the
    permutation of 10^12 docs never funnels through one task."""
    if num_partitions is None:
        num_partitions = default_blocks(spark, cap=256)
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id"))
    k = max(1, -(-256 // num_partitions))  # hex-byte buckets per block
    d = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("_h")) \
        .withColumn("_blk", F.expr(f"conv(substring(_h, 1, 2), 16, 10)")
                    .cast("long")) \
        .withColumn("_blk", F.expr(f"_blk div {k}")) \
        .repartition(num_partitions, "_blk")
    w = Window.partitionBy("_blk").orderBy("_h", "doc_id")
    local = d.withColumn("_rn", F.row_number().over(w))
    # block sizes straight from d (no window dependency, no persist)
    counts = d.groupBy("_blk").agg(F.count("*").alias("_cnt"))
    woff = Window.orderBy("_blk") \
                 .rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_blk", F.coalesce(F.sum("_cnt").over(woff), F.lit(0))
                 .alias("_off"))
    return (local.join(F.broadcast(offsets), "_blk")
            .select("doc_id",
                    (F.col("_off") + F.col("_rn") - 1).alias("position")))
