"""Similarity search over the embeddings table (array<float> column).

- brute-force cosine top-k: the exactness baseline.  Dot products are
  sequential left-folds in float64 so the DuckDB oracle is bit-exact.
- LSH-bucketed variant: deterministic pseudo-random hyperplanes (sign
  bits of integer-formula projections) → bucket equi-join — the scale
  path (candidates per bucket, not all-pairs).

At 100 TB the broadcast side is the query set; the data side streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import band_pairs, stage_cache as _stage_cache, two_phase_topk

N_QUERIES = 16
TOP_K = 5
N_PLANES = 8


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


_DOT_SPARK = ("aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
              " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
_DOT_DUCK = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
             " list_transform(range(1, len({a}) + 1),"
             " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)")


def cosine(a: str, b: str) -> str:
    """Spark SQL text of the cosine of array columns ``a`` and ``b``:
    dot / (|a| |b|), each a float64 index-order left fold — the form
    the DuckDB oracles write with _DOT_DUCK, so the two agree bit for
    bit."""
    dot = _DOT_SPARK.format(a=a, b=b)
    na = "SQRT(" + _DOT_SPARK.format(a=a, b=a) + ")"
    nb = "SQRT(" + _DOT_SPARK.format(a=b, b=b) + ")"
    return f"({dot}) / (({na}) * ({nb}))"


TOPK_SALTS = 32


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the first N_QUERIES vectors.

    Ranked by two_phase_topk: a single ``Window.partitionBy(query_id)``
    over the full scored set would sort |corpus| rows per query in
    N_QUERIES tasks; the salted local rank (salt = neighbor_id mod
    TOPK_SALTS) leaves ≤ k·TOPK_SALTS rows per query for the final
    rank, with identical output under the total order (cosine DESC,
    neighbor_id ASC)."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    j = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    scored = j.selectExpr("query_id", "neighbor_id",
                          f"{cosine('qe', 'ce')} AS cosine")
    return _rank_neighbors(scored)


def _rank_neighbors(scored: DataFrame) -> DataFrame:
    """Top TOP_K (query_id, neighbor_id) rows by cosine DESC,
    neighbor_id ASC."""
    return (two_phase_topk(scored, "query_id",
                           [F.desc("cosine"), F.asc("neighbor_id")],
                           "neighbor_id", TOP_K, TOPK_SALTS)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("int").alias("rank"), "cosine"))


def ann_topk_oracle() -> str:
    dot = _DOT_DUCK.format(a="q.embedding", b="c.embedding")
    nq = "SQRT(" + _DOT_DUCK.format(a="q.embedding", b="q.embedding") + ")"
    nc = "SQRT(" + _DOT_DUCK.format(a="c.embedding", b="c.embedding") + ")"
    return f"""WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ({dot}) / (({nq}) * ({nc})) AS cosine
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES})
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= {TOP_K}"""


# deterministic pseudo-hyperplane component for plane p, dim i:
# integer formula -> centered small int
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (classic class-prototype op):
    posexplode → groupBy (label, pos) mean → re-assemble ordered array.
    Scale shape: one shuffle keyed by (label, dim) — never collects a
    vector to the driver."""
    e = _emb(spark, sf_dir)
    # values quantized to 1/2^20 before summing so the aggregation is
    # integer-exact and order-independent — bit-identical across engines
    # regardless of partitioning (float sums are not associative)
    q = F.floor(F.col("v").cast("double") * F.lit(1048576.0)).cast("long")
    per_dim = (e.select("label", F.posexplode("embedding").alias("pos", "v"))
                .groupBy("label", "pos")
                .agg((F.sum(q).cast("double") / F.count("*")).alias("m")))
    return (per_dim.groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s"))
            .selectExpr("label", "transform(s, x -> x.m / 1048576.0) AS centroid"))


def label_centroids_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing shape: the assembled centroid array posexploded to
    (label, pos, m) scalar rows — the driver's canonicalizer cannot sort
    list columns.  Goes through the full array-assembly path so the
    ordering of the packed centroid is what gets verified."""
    return (label_centroids(spark, sf_dir)
            .select("label", F.posexplode("centroid").alias("pos", "m"))
            .select("label", F.col("pos").cast("int").alias("pos"), "m"))


def label_centroids_oracle() -> str:
    return """WITH d AS (
  SELECT label, i AS pos,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
  FROM embeddings, (SELECT range AS i FROM range(64))),
m AS (
  SELECT label, pos, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m FROM d GROUP BY label, pos)
SELECT label, CAST(pos AS INT) AS pos, m / 1048576.0 AS m FROM m"""


N_CENTROIDS = 8
N_PROBE = 2


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a deterministic coarse quantizer (the first
    N_CENTROIDS vectors) partitions the corpus into posting lists by
    max-cosine assignment; each query probes its N_PROBE nearest cells
    and ranks exact cosine inside them.  Scale shape: centroids
    broadcast (tiny), assignment is a map-side argmax, the candidate
    search is an equi-join on the cell id — never all-pairs."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir)
    cents = e.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce"))
    scored = e.join(F.broadcast(cents)).selectExpr(
        "vec_id", "embedding", "cent_id",
        f"{cosine('embedding', 'ce')} AS ccos")
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cent_id"))
    # assign (crank == 1) and probes (crank <= N_PROBE) both derive from
    # ranked: filter to crank <= max(1, N_PROBE) FIRST and persist that —
    # otherwise the corpus x centroids scoring pass (the dominant cost)
    # runs once per consumer, and the persisted frame stays small
    # (N_PROBE rows per vector, not N_CENTROIDS)
    ranked = scored.withColumn("crank", F.row_number().over(w)) \
        .where(F.col("crank") <= max(1, N_PROBE)).transform(_stage_cache)
    assign = ranked.where(F.col("crank") == 1) \
        .select("vec_id", F.col("cent_id").alias("cell"), "embedding")
    probes = ranked.where((F.col("crank") <= N_PROBE) &
                          (F.col("vec_id") < N_QUERIES)) \
        .select(F.col("vec_id").alias("query_id"),
                F.col("cent_id").alias("cell"),
                F.col("embedding").alias("qe"))
    cand = assign.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("embedding").alias("ne_"), "cell") \
        .join(probes, "cell") \
        .where(F.col("neighbor_id") != F.col("query_id"))
    scored2 = cand.selectExpr("query_id", "neighbor_id",
                              f"{cosine('qe', 'ne_')} AS cosine") \
        .dropDuplicates(["query_id", "neighbor_id"])
    # two-phase rank like ann_topk: a hot posting list would otherwise
    # funnel all its candidates into one task per query
    return _rank_neighbors(scored2)


def ann_ivf_oracle() -> str:
    cdot = _DOT_DUCK.format(a="e.embedding", b="c.embedding")
    ne = "SQRT(" + _DOT_DUCK.format(a="e.embedding", b="e.embedding") + ")"
    nc = "SQRT(" + _DOT_DUCK.format(a="c.embedding", b="c.embedding") + ")"
    qdot = _DOT_DUCK.format(a="q.embedding", b="n.embedding")
    nq = "SQRT(" + _DOT_DUCK.format(a="q.embedding", b="q.embedding") + ")"
    nn = "SQRT(" + _DOT_DUCK.format(a="n.embedding", b="n.embedding") + ")"
    return f"""WITH ranked AS (
  SELECT e.vec_id, c.vec_id AS cent_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY ({cdot}) / (({ne}) * ({nc})) DESC, c.vec_id ASC) AS crank
  FROM embeddings e JOIN embeddings c ON c.vec_id < {N_CENTROIDS}),
assign AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, cent_id AS cell FROM ranked
           WHERE crank <= {N_PROBE} AND vec_id < {N_QUERIES}),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ({qdot}) / (({nq}) * ({nn})) AS cosine
  FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
            JOIN embeddings n ON n.vec_id = cand.neighbor_id)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
WHERE rank <= {TOP_K}"""


# modulus 31 (prime, > 16 planes) keeps every plane p in 0..30 distinct
# — a 13-modulus would alias plane p with p+13, making band 1's planes
# 13-15 copies of band 0's 0-2.  The i*p cross term gives each plane a
# DIFFERENT per-dimension step (37+13p mod 31, nonzero for p<21), so
# planes are genuinely distinct directions rather than cyclic shifts of
# one base sequence (shifted planes collide far more often than
# independent ones).
_PLANE = "((({i} * 37 + {p} * 101 + {i} * {p} * 13) % 31) - 15)"

_PROJ_SPARK = ("aggregate(zip_with(sequence(0, size({e}) - 1), {e},"
               " (i, x) -> CAST(" + _PLANE.format(i="i", p="{p}") + " AS DOUBLE)"
               " * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)")
_PROJ_DUCK = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
              " list_transform(range(1, len({e}) + 1),"
              " i -> CAST(" + _PLANE.format(i="(i - 1)", p="{p}") + " AS DOUBLE)"
              " * CAST({e}[i] AS DOUBLE))), (x, y) -> x + y)")


def _bucket_spark(e: str) -> str:
    return " + ".join(
        f"CASE WHEN ({_PROJ_SPARK.format(e=e, p=p)}) > 0 THEN {1 << p} ELSE 0 END"
        for p in range(N_PLANES))


def _bucket_duck(e: str) -> str:
    return " + ".join(
        f"CASE WHEN ({_PROJ_DUCK.format(e=e, p=p)}) > 0 THEN {1 << p} ELSE 0 END"
        for p in range(N_PLANES))


def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (the ANN scale path:
    candidate search becomes an equi-join on bucket)."""
    return _emb(spark, sf_dir).selectExpr(
        "vec_id", f"CAST({_bucket_spark('embedding')} AS INT) AS bucket")


def lsh_buckets_oracle() -> str:
    return f"SELECT vec_id, CAST({_bucket_duck('embedding')} AS INT) AS bucket FROM embeddings"


# --- banded hyperplane LSH (the MinHash-LSH band construction,
# dedup.py:100-113, applied to random-hyperplane signatures) ---
# With one coarse bucket of p planes, a hot direction (near-duplicate
# cluster, zero vectors, dominant topic) floods a single bucket and the
# self-join is quadratic in its size.  Banding uses MORE planes per
# band (bucket sizes shrink ~2x per extra plane — exponentially) and
# restores recall by unioning the per-band candidate joins: a pair is
# a candidate when it agrees on ALL planes of ANY band.
NEARDUP_BANDS = 2
NEARDUP_PLANES_PER_BAND = 8
NEARDUP_THRESHOLD = 0.9

# --- planted near-duplicates ---------------------------------------
# The synthesized embeddings are (near-)unit random vectors, so no two
# distinct rows exceed cosine 0.9 and the verify join used to pass
# VACUOUSLY (0 rows in both engines).  We plant true near-duplicates
# deterministically INSIDE the query: every vec_id ≡ 3 (mod 83) gains a
# perturbed copy at vec_id + 1_000_000 whose first coordinate is bumped
# by +1/32 (exact in float32 and float64).  For a unit vector the pair's
# cosine is ≥ (1 - δ)/sqrt(1 - 2δ + δ²+δ²) ≈ 0.9997 — always above the
# 0.9 threshold — so the verify output is provably non-empty and the
# driver's hash compare checks real pairs, not an empty set.  The same
# derivation runs in the DuckDB oracle (same IEEE ops on the same float
# inputs → bit-identical cosines).
PLANT_MOD = 83
PLANT_RESIDUE = 3
PLANT_OFFSET = 1_000_000
_PLANT_DELTA = "0.03125"  # 1/32: exact in binary floating point


def _emb_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    passthrough = [c for c in e.columns if c not in ("vec_id", "embedding")]
    dup = e.where((F.col("vec_id") % PLANT_MOD) == PLANT_RESIDUE).selectExpr(
        f"vec_id + {PLANT_OFFSET} AS vec_id",
        "transform(embedding, (x, i) -> IF(i = 0,"
        f" CAST(CAST(x AS DOUBLE) + {_PLANT_DELTA} AS FLOAT), x)) AS embedding",
        *passthrough)
    return e.unionByName(dup.select(*e.columns))


_EMB_PLANTED_SQL = f"""emb AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + {PLANT_OFFSET} AS vec_id,
         list_transform(range(1, len(embedding) + 1),
           i -> CASE WHEN i = 1
                     THEN CAST(CAST(embedding[i] AS DOUBLE) + {_PLANT_DELTA} AS REAL)
                     ELSE embedding[i] END) AS embedding,
         label
  FROM embeddings WHERE vec_id % {PLANT_MOD} = {PLANT_RESIDUE})"""


def _band_bucket_spark(e: str, band: int) -> str:
    base = band * NEARDUP_PLANES_PER_BAND
    return " + ".join(
        f"CASE WHEN ({_PROJ_SPARK.format(e=e, p=base + p)}) > 0 THEN {1 << p} ELSE 0 END"
        for p in range(NEARDUP_PLANES_PER_BAND))


def _band_bucket_duck(e: str, band: int) -> str:
    base = band * NEARDUP_PLANES_PER_BAND
    return " + ".join(
        f"CASE WHEN ({_PROJ_DUCK.format(e=e, p=base + p)}) > 0 THEN {1 << p} ELSE 0 END"
        for p in range(NEARDUP_PLANES_PER_BAND))


def neardup_candidates(spark: SparkSession, sf_dir: str,
                       emb: DataFrame | None = None) -> DataFrame:
    """Distinct candidate id-pairs from the banded LSH: a union of one
    bucket equi-self-join per band, deduplicated.  Pure id pairs — the
    embeddings are fetched only for the (much smaller) verify join."""
    e = emb if emb is not None else _emb(spark, sf_dir)
    bands = e.selectExpr(
        "vec_id",
        *[f"CAST({_band_bucket_spark('embedding', b)} AS INT) AS band{b}"
          for b in range(NEARDUP_BANDS)])
    # Long form + persist, one self-join on (band_idx, bk) — NOT a
    # join per band on the computed bucket columns: join planning adds
    # isnotnull(key) filters, and predicate pushdown substitutes the
    # full hyperplane-projection tree (interpreted HOFs) into them
    # below the projection, re-evaluating the 8-plane signature per row
    # on both sides of every band join (see dedup.minhash_band_long —
    # same pathology, measured 80-130x on the MinHash shape).  Behind
    # posexplode the keys are generator outputs, so pushdown stops at
    # the Generate, and the persist stages the signature table once.
    long = bands.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"band{b}")
                               for b in range(NEARDUP_BANDS)]))
         .alias("band_idx", "bk")).transform(_stage_cache)
    return band_pairs(long, "vec_id")


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs with cosine above NEARDUP_THRESHOLD —
    banded-LSH candidates + exact cosine verification (the
    embedding-space analog of dedup.minhash_verified_pairs).  Runs over
    the PLANTED corpus (_emb_planted) so the verify join's output is
    non-empty and the driver gate checks real pairs."""
    e = _emb_planted(spark, sf_dir)
    cand = neardup_candidates(spark, sf_dir, emb=e)
    j = (cand.join(e.select(F.col("vec_id").alias("vec_a"),
                            F.col("embedding").alias("ea")), "vec_a")
             .join(e.select(F.col("vec_id").alias("vec_b"),
                            F.col("embedding").alias("eb")), "vec_b"))
    return (j.selectExpr("vec_a", "vec_b", f"{cosine('ea', 'eb')} AS cosine")
            .where(f"cosine > {NEARDUP_THRESHOLD}"))


def embedding_neardup_oracle() -> str:
    dot = _DOT_DUCK.format(a="a.embedding", b="b.embedding")
    na = "SQRT(" + _DOT_DUCK.format(a="a.embedding", b="a.embedding") + ")"
    nb = "SQRT(" + _DOT_DUCK.format(a="b.embedding", b="b.embedding") + ")"
    band_joins = "\nUNION\n".join(f"""  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM bk x JOIN bk y ON x.band{b} = y.band{b} AND x.vec_id < y.vec_id"""
                                  for b in range(NEARDUP_BANDS))
    band_cols = ",\n         ".join(
        f"CAST({_band_bucket_duck('embedding', b)} AS INT) AS band{b}"
        for b in range(NEARDUP_BANDS))
    return f"""WITH {_EMB_PLANTED_SQL},
bk AS (
  SELECT vec_id,
         {band_cols}
  FROM emb),
cand AS (
{band_joins})
SELECT cand.vec_a, cand.vec_b,
       ({dot}) / (({na}) * ({nb})) AS cosine
FROM cand JOIN emb a ON a.vec_id = cand.vec_a
          JOIN emb b ON b.vec_id = cand.vec_b
WHERE ({dot}) / (({na}) * ({nb})) > {NEARDUP_THRESHOLD}"""
