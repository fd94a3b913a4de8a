"""Differential reference for the Arrow MinHash/SimHash kernels in
``exactextract_spark.pipeline.dedup``: the same signatures written as
pure Spark SQL expressions (higher-order functions over the token-code
array), kept only to cross-check the kernels bit for bit
(tests/test_pipeline_parity.py)."""

from pyspark.sql import DataFrame, SparkSession, functions as F

from exactextract_spark.pipeline import band_pairs, stage_cache
from exactextract_spark.pipeline.dedup import (
    MINHASH_A, MINHASH_B, N_BANDS, SIMHASH_BITS, _SIM60_BIT, _SIM60_HALF,
    _TC, _band_expr, _band_long, _docs, _jaccard_verified)
from exactextract_spark.pipeline.text import M, P

_TC_ARR_SPARK = f"transform(split(trim(text), '\\\\s+'), t -> CAST({_TC} AS BIGINT))"
# 3-token shingle codes; documents with <3 tokens collapse to one code
_SHINGLES_SPARK = (
    "CASE WHEN size(tc) >= 3 THEN "
    f" transform(sequence(1, size(tc) - 2), i ->"
    f"   ((element_at(tc, i) * {M} + element_at(tc, i + 1)) % {P} * {M}"
    f"    + element_at(tc, i + 2)) % {P})"
    " ELSE array(aggregate(tc, CAST(0 AS BIGINT), (a, c) -> (a * 31 + c) % 1000000007)) END")
_SIM60_SPARK = (
    "aggregate(sequence(0, 59), CAST(0 AS BIGINT), (acc, b) -> acc + "
    " CASE WHEN aggregate(tc, CAST(0 AS BIGINT), (a, c) -> a + "
    f"  CASE WHEN (({_SIM60_HALF.format(c='c')}) >> ({_SIM60_BIT})) % 2 = 1"
    "   THEN 1 ELSE -1 END) > 0"
    "  THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END)")


def _token_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).selectExpr("doc_id", f"{_TC_ARR_SPARK} AS tc")


def distinct_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup._distinct_shingles (first-occurrence order)."""
    return _token_codes(spark, sf_dir).selectExpr(
        "doc_id", f"array_distinct({_SHINGLES_SPARK}) AS sh")


def minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.minhash_signature."""
    d = _token_codes(spark, sf_dir).selectExpr("doc_id", f"{_SHINGLES_SPARK} AS sh")
    mh = [f"array_min(transform(sh, s -> ({MINHASH_A[j]} * s + {MINHASH_B[j]}) % {P})) AS mh{j}"
          for j in range(len(MINHASH_A))]
    d = d.selectExpr("doc_id", *mh)
    bands = [F.expr(_band_expr("mh", b)).alias(f"band{b}") for b in range(N_BANDS)]
    return d.select("doc_id", *bands)


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.simhash (16-bit bit-majority of the token codes)."""
    return _token_codes(spark, sf_dir).selectExpr(
        "doc_id",
        f"aggregate(sequence(0, {SIMHASH_BITS - 1}), CAST(0 AS BIGINT), (acc, b) -> acc + "
        f"  CASE WHEN aggregate(tc, CAST(0 AS BIGINT),"
        f"       (a, c) -> a + CASE WHEN (c >> b) % 2 = 1 THEN 1 ELSE -1 END) > 0"
        f"  THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END) AS simhash")


def sim60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup._simhash_table(..., 60, True, "sim"): the 60-bit
    fingerprint simhash_pairs bands."""
    return _token_codes(spark, sf_dir).selectExpr("doc_id", f"{_SIM60_SPARK} AS sim")


def minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.minhash_verified_pairs composed from the SQL signature and
    shingles.  Both are persisted: the band keys must be materialized
    before the self-join (dedup.minhash_band_long), and the shingles
    feed both sides of the verify join."""
    sh = distinct_shingles(spark, sf_dir).transform(stage_cache)
    long = _band_long(minhash_signature(spark, sf_dir)).transform(stage_cache)
    return _jaccard_verified(band_pairs(long, "doc_id"), sh)
