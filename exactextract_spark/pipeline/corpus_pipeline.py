"""End-to-end training-corpus build: filter → dedup → shuffle → pack.

The composed shape of a pre-training data pipeline, as ONE declarative
query (each stage also exists as a standalone driver-gated operator —
quality_filter, dedup_exact, shuffle_documents, pack_documents; this
operator proves they compose without materialization boundaries):

1. **Quality gate** — the text.py `_QUALITY_KEEP` predicate
   (token/char counts, average token length, stopword ratio).
2. **Exact dedup** — md5(text) digest, keep the lowest doc_id per
   digest: one struct-min aggregation, no join-back.
3. **Deterministic shuffle** — training order = md5(doc_id) (the
   shuffle_documents contract: reproducible across runs AND engines,
   no seed state).
4. **Pack** — contiguous-fill shards of `budget` chars in shuffle
   order via the distributed prefix sum (hex-prefix blocks aligned
   with the hash sort order, per-block windows, broadcast offsets —
   never a global single-task window).
5. **Shard report** — per-shard doc count / char total / language
   variety (the compact manifest a trainer consumes).

Plan shape (100 TB): one scan of documents; tokenize/digest evaluated
in the scan stage; ONE full-table exchange on the digest (dedup), ONE
on the hash-prefix block (prefix sum), a broadcast of ≤256 offset
rows, and a final compact shard aggregate.  The survivors table is
persisted at the dedup boundary — the natural materialization point a
production pipeline writes anyway — which also keeps the tokenize
tree out of pushed-down filters (the audit_filters.py contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .packing import default_blocks
from .text import _QUALITY_KEEP, text_stats, text_stats_oracle

from . import stage_cache as _stage_cache

__all__ = ["corpus_pipeline", "corpus_pipeline_oracle"]

BUDGET = 2048           # shard capacity in chars


def corpus_pipeline(spark: SparkSession, sf_dir: str,
                    budget: int = BUDGET) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text", "lang")
    stats = text_stats(spark, sf_dir).selectExpr(
        "doc_id", "n_chars", f"{_QUALITY_KEEP} AS keep")
    # compact per-doc signal table (~80 B/doc, no raw text), persisted
    # BEFORE the keep filter: the tokenize tree evaluates exactly once
    # in the cached projection — Catalyst cannot substitute it into a
    # pushed-down Filter (the audit_filters.py pathology), and the
    # filter above the cache is a plain boolean column
    base = (docs.join(stats, "doc_id")
            .select("doc_id", "lang", "n_chars", "keep",
                    F.md5(F.col("text").cast("binary")).alias("digest"),
                    F.md5(F.col("doc_id").cast("string")).alias("h"))
            .transform(_stage_cache))
    kept = base.where(F.col("keep")).drop("keep")
    # dedup: lowest doc_id per digest, fields ride along in the struct
    # (one sort-agg with map-side combine; no join back)
    survivors = (kept.groupBy("digest")
                 .agg(F.min(F.struct("doc_id", "lang", "n_chars", "h"))
                      .alias("w"))
                 .select("w.*")
                 .transform(_stage_cache))
    # scale-adaptive prefix-sum blocking (hex buckets; block count
    # never leaks into the result — see packing.default_blocks)
    blocks = default_blocks(spark, cap=256)
    k = max(1, -(-256 // blocks))
    d = survivors.withColumn(
        "_blk", F.expr("conv(substring(h, 1, 2), 16, 10)").cast("long")) \
        .withColumn("_blk", F.expr(f"_blk div {k}")) \
        .repartition(blocks, "_blk")
    w = Window.partitionBy("_blk").orderBy("h", "doc_id")
    local = d.withColumn(
        "_loc", F.sum("n_chars").over(w) - F.col("n_chars"))
    totals = d.groupBy("_blk").agg(F.sum("n_chars").alias("_tot"))
    woff = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_blk", F.coalesce(F.sum("_tot").over(woff), F.lit(0)).alias("_off"))
    packed = (local.join(F.broadcast(offsets), "_blk")
              .withColumn("start", F.col("_off") + F.col("_loc"))
              .withColumn("shard_id", F.expr(f"start div {budget}")))
    return (packed.groupBy("shard_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.countDistinct("lang").alias("n_langs")))


def corpus_pipeline_oracle() -> str:
    return f"""WITH s AS ({text_stats_oracle()}),
f AS (
  SELECT doc_id, lang, n_chars, digest, h FROM (
    SELECT d.doc_id AS doc_id, d.lang AS lang, s.n_chars AS n_chars,
           s.n_tokens, s.avg_token_len, s.stopword_ratio,
           md5(d.text) AS digest, md5(CAST(d.doc_id AS VARCHAR)) AS h
    FROM documents d JOIN s ON d.doc_id = s.doc_id)
  WHERE {_QUALITY_KEEP}),
surv AS (
  SELECT doc_id, lang, n_chars, h FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id)
      AS rn FROM f)
  WHERE rn = 1),
p AS (
  SELECT lang, n_chars,
    SUM(n_chars) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
      - n_chars AS start
  FROM surv)
SELECT start // {BUDGET} AS shard_id, COUNT(*) AS n_docs,
       SUM(n_chars) AS total_chars, COUNT(DISTINCT lang) AS n_langs
FROM p GROUP BY 1"""
