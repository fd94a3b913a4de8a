"""Distributed k-means (Lloyd) over the embeddings table — the
training step behind the IVF coarse quantizer (similarity.ann_ivf uses
fixed seed centroids; this learns them).

Two Lloyd iterations, fully unrolled so the DuckDB oracle is plain CTE
SQL.  Scale shape per iteration: centroids are K tiny rows broadcast to
every task; assignment is a map-side argmin folded through a
partial-aggregatable ``min(struct(dist, cid))`` groupBy (map-side
combine → the shuffle carries one compact row per vector); the centroid
update is a (cid, dim) keyed sum — never collects a vector to the
driver.  This is the canonical Spark k-means shape (same as MLlib's):
per-iteration cost is one broadcast + one narrow shuffle.

Bit-exactness across engines: coordinates are quantized to integers
(floor(v * 2^20), the label_centroids trick) so iteration-1 distances
and the centroid sums are exact integer arithmetic carried in doubles
(all magnitudes < 2^53) — order-independent.  Iteration-2 centroids are
one correctly-rounded division each (identical in IEEE engines), and
iteration-2 distances are index-order left folds in float64, the same
contract ann_topk's dot products already rely on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import two_phase_topk

K = 8          # clusters; seeds = vectors with vec_id < K
DIM = 64       # embeddings table dimension (matches label_centroids)
QSCALE = 1048576.0  # 2^20 — quantization step

_QX = ("transform(embedding, v ->"
       f" CAST(FLOOR(CAST(v AS DOUBLE) * {QSCALE}) AS DOUBLE))")
# squared euclidean distance, index-order left fold (see module doc)
_DIST_SPARK = ("aggregate(zip_with({x}, {c}, (a, b) -> (a - b) * (a - b)),"
               " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
_DIST_DUCK = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
              " list_transform(range(1, {dim} + 1),"
              " j -> ({x}[j] - {c}[j]) * ({x}[j] - {c}[j]))),"
              " (a, b) -> a + b)")


def _emb_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .selectExpr("vec_id", f"{_QX} AS x"))


def _assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Map-side argmin assignment: broadcast the K centroids, score all
    K distances per vector, keep min(struct(dist, cid)) — deterministic
    tie-break to the lowest centroid id, partial-aggregatable."""
    d = e.join(F.broadcast(cents)).selectExpr(
        "vec_id", "x", f"({_DIST_SPARK.format(x='x', c='c')}) AS d", "cid")
    return (d.groupBy("vec_id")
            .agg(F.min(F.struct("d", "cid")).alias("m"),
                 F.first("x").alias("x"))
            .selectExpr("vec_id", "x", "m.cid AS cid", "m.d AS d"))


def _update(assigned: DataFrame) -> DataFrame:
    """Centroid update: (cid, dim) keyed exact-integer sums / count,
    re-assembled into an ordered array (label_centroids idiom)."""
    per_dim = (assigned.select("cid", F.posexplode("x").alias("pos", "v"))
               .groupBy("cid", "pos")
               .agg((F.sum("v") / F.count("*")).alias("m")))
    return (per_dim.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s"))
            .selectExpr("cid", "transform(s, t -> t.m) AS c"))


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations; returns per-vector assignments
    after each iteration plus the final exact squared distance."""
    e = _emb_q(spark, sf_dir)
    init = e.where(F.col("vec_id") < K).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("x").alias("c"))
    a1 = _assign(e, init)
    c1 = _update(a1)
    a2 = _assign(a1.select("vec_id", "x"), c1)
    return a2.join(a1.select("vec_id", F.col("cid").alias("cluster_init")),
                   "vec_id") \
             .select("vec_id", "cluster_init",
                     F.col("cid").alias("cluster"),
                     F.col("d").alias("sq_dist"))


def kmeans_assign_oracle() -> str:
    d_init = _DIST_DUCK.format(x="q.x", c="i.c", dim=DIM)
    d_c1 = _DIST_DUCK.format(x="q.x", c="cc.c", dim=DIM)
    return f"""WITH qv AS (
  SELECT vec_id, list_transform(embedding,
    v -> CAST(FLOOR(CAST(v AS DOUBLE) * {QSCALE}) AS DOUBLE)) AS x
  FROM embeddings),
init AS (SELECT CAST(vec_id AS INT) AS cid, x AS c FROM qv
         WHERE vec_id < {K}),
d1 AS (SELECT q.vec_id, i.cid, ({d_init}) AS d
       FROM qv q CROSS JOIN init i),
a1 AS (SELECT vec_id, cid AS cluster_init FROM
         (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY d ASC, cid ASC) AS rn FROM d1)
       WHERE rn = 1),
m1 AS (SELECT a1.cluster_init AS cid, j.pos,
              SUM(q.x[j.pos + 1]) / COUNT(*) AS m
       FROM qv q JOIN a1 USING (vec_id),
            (SELECT range AS pos FROM range({DIM})) j
       GROUP BY a1.cluster_init, j.pos),
c1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM m1 GROUP BY cid),
d2 AS (SELECT q.vec_id, cc.cid, ({d_c1}) AS d
       FROM qv q CROSS JOIN c1 cc),
a2 AS (SELECT vec_id, cid AS cluster, d AS sq_dist FROM
         (SELECT vec_id, cid, d, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY d ASC, cid ASC) AS rn FROM d2)
       WHERE rn = 1)
SELECT a1.vec_id, a1.cluster_init, a2.cluster, a2.sq_dist
FROM a1 JOIN a2 USING (vec_id)"""


# --- product quantization (PQ) + asymmetric-distance search ---------------

M_SUB = 4        # subspaces
SUBDIM = DIM // M_SUB
K_PQ = 8         # codes per subspace; codebook m = sub-vectors of the
                 # first K_PQ vectors (deterministic seeds, ann_ivf
                 # convention; a real deployment trains them with
                 # kmeans_assign's Lloyd step per subspace)
N_QUERIES_PQ = 16
TOP_K_PQ = 5
PQ_SALTS = 32


def _sub(col: str, m: int) -> str:
    return f"slice({col}, {m * SUBDIM + 1}, {SUBDIM})"


def _pq_encode(spark: SparkSession, sf_dir: str):
    """Returns (subs, books, codes): the per-subspace vector slices, the
    broadcast-sized codebook (M_SUB * K_PQ rows), and each vector's
    per-subspace code (argmin against its subspace's codebook)."""
    e = _emb_q(spark, sf_dir)
    seeds = e.where(F.col("vec_id") < K_PQ)
    books = None
    for m in range(M_SUB):
        b = seeds.selectExpr(f"{m} AS m", "CAST(vec_id AS INT) AS cid",
                             _sub("x", m) + " AS c")
        books = b if books is None else books.unionByName(b)
    subs = None
    for m in range(M_SUB):
        s = e.selectExpr("vec_id", f"{m} AS m", _sub("x", m) + " AS sx")
        subs = s if subs is None else subs.unionByName(s)
    d = subs.join(F.broadcast(books), "m").selectExpr(
        "vec_id", "m", "cid",
        f"({_DIST_SPARK.format(x='sx', c='c')}) AS d")
    codes = (d.groupBy("vec_id", "m")
             .agg(F.min(F.struct("d", "cid")).alias("s"))
             .selectExpr("vec_id", "m", "s.cid AS code"))
    return subs, books, codes


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN with asymmetric distance computation (ADC).

    Encode: each vector becomes M_SUB one-byte codes (64 float dims →
    4 codes, the classic 64× compression) by per-subspace argmin
    against a broadcast codebook — map-side expansion to (vec, m)
    scored rows, partial-aggregatable min(struct).  Search: each query
    precomputes its 32-entry subspace distance table (tiny, broadcast);
    approximate distance = the sum of 4 table lookups per corpus
    vector — the scan side never touches the original floats.  Exactly
    the shape a 100 TB deployment runs: codes table scan + broadcast
    LUT join + two-phase top-k.

    Quantized integer coordinates make every subspace distance an
    exact integer carried in doubles — order-independent, bit-identical
    to the DuckDB oracle."""
    subs, books, codes = _pq_encode(spark, sf_dir)
    # per-query subspace distance tables (N_QUERIES_PQ * M_SUB * K_PQ
    # rows — tiny, broadcast)
    q = subs.where(F.col("vec_id") < N_QUERIES_PQ).selectExpr(
        "vec_id AS query_id", "m", "sx AS qx")
    lut = q.join(F.broadcast(books), "m").selectExpr(
        "query_id", "m", "cid AS code",
        f"({_DIST_SPARK.format(x='qx', c='c')}) AS qd")
    adc = (codes.join(F.broadcast(lut), ["m", "code"])
           .where(F.col("vec_id") != F.col("query_id"))
           .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
           .agg(F.sum("qd").alias("adc_dist")))
    return _rank_adc(adc)


def _rank_adc(adc: DataFrame) -> DataFrame:
    """Top TOP_K_PQ (query_id, neighbor_id) rows by adc_dist ASC,
    neighbor_id ASC (two_phase_topk: local per-salt rank, then the
    final rank over <= k * salts rows per query)."""
    return (two_phase_topk(adc, "query_id",
                           [F.asc("adc_dist"), F.asc("neighbor_id")],
                           "neighbor_id", TOP_K_PQ, PQ_SALTS)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("int").alias("rank"), "adc_dist"))


def ann_pq_oracle() -> str:
    # subspace m slice of the quantized vector, 1-based inclusive
    dsub = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(range(1, {SUBDIM} + 1),"
            " j -> (q.x[{off} + j] - s.x[{off} + j])"
            " * (q.x[{off} + j] - s.x[{off} + j]))), (a, b) -> a + b)")
    return f"""WITH qv AS (
  SELECT vec_id, list_transform(embedding,
    v -> CAST(FLOOR(CAST(v AS DOUBLE) * {QSCALE}) AS DOUBLE)) AS x
  FROM embeddings),
ms AS (SELECT range AS m FROM range({M_SUB})),
d AS (
  SELECT q.vec_id, ms.m, CAST(s.vec_id AS INT) AS cid,
         {dsub.format(off=f"ms.m * {SUBDIM}")} AS d
  FROM qv q CROSS JOIN ms JOIN qv s ON s.vec_id < {K_PQ}),
codes AS (
  SELECT vec_id, m, cid AS code FROM
    (SELECT vec_id, m, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       ORDER BY d ASC, cid ASC) AS rn FROM d)
  WHERE rn = 1),
adc AS (
  SELECT lut.vec_id AS query_id, codes.vec_id AS neighbor_id,
         SUM(lut.d) AS adc_dist
  FROM codes JOIN d lut ON lut.m = codes.m AND lut.cid = codes.code
  WHERE lut.vec_id < {N_QUERIES_PQ} AND codes.vec_id <> lut.vec_id
  GROUP BY lut.vec_id, codes.vec_id)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY adc_dist ASC, neighbor_id ASC) AS rank FROM adc)
WHERE rank <= {TOP_K_PQ}"""


# --- SemDeDup: cluster-bounded semantic deduplication ----------------

SEMDEDUP_THRESHOLD = 0.9


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): k-means-cluster the embeddings,
    then search for semantic near-duplicates ONLY within each cluster —
    the cluster bound turns the corpus-quadratic pairwise scan into
    sum-of-cluster-size-squared work.  A vector is dropped when some
    SMALLER vec_id in its cluster has cosine > SEMDEDUP_THRESHOLD with
    it (deterministic keep-lowest-id representative).

    Corpus: similarity._emb_planted (the embedding_neardup planting) so
    the prune is provably non-vacuous — random unit vectors alone never
    exceed the threshold.

    Scale shape (100 TB): one broadcast argmin assignment (the
    kmeans_assign iteration-1 step), one equi-shuffle on cluster id for
    the within-cluster self-join (K scales with the corpus — the paper
    runs 50k clusters, keeping per-cluster work bounded), one anti-join
    to label survivors.  Exact cosines are index-order folds on the
    raw floats (the ann_topk cross-engine contract); assignments use
    integer-exact quantized distances, so both engines pick identical
    clusters."""
    from .similarity import _emb_planted, cosine

    e = _emb_planted(spark, sf_dir).select("vec_id", "embedding")
    eq = e.selectExpr("vec_id", f"{_QX} AS x")
    init = eq.where(F.col("vec_id") < K).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("x").alias("c"))
    a1 = _assign(eq, init).select("vec_id", "cid")
    av = a1.join(e, "vec_id")
    a = av.select(F.col("vec_id").alias("vec_a"), "cid",
                  F.col("embedding").alias("ea"))
    b = av.select(F.col("vec_id").alias("vec_b"), "cid",
                  F.col("embedding").alias("eb"))
    dups = (a.join(b, "cid")
            .where(F.col("vec_a") < F.col("vec_b"))
            .selectExpr("vec_b", f"{cosine('ea', 'eb')} AS cos_ab")
            .where(F.col("cos_ab") > SEMDEDUP_THRESHOLD)
            .select("vec_b").distinct())
    return (a1.join(dups, a1.vec_id == dups.vec_b, "left")
            .select("vec_id", F.col("cid").alias("cluster"),
                    F.col("vec_b").isNull().alias("keep")))


def semdedup_oracle() -> str:
    from .similarity import _DOT_DUCK as DOT
    from .similarity import _EMB_PLANTED_SQL
    d_init = _DIST_DUCK.format(x="q.x", c="i.c", dim=DIM)
    dot = DOT.format(a="ea.embedding", b="eb.embedding")
    na = "SQRT(" + DOT.format(a="ea.embedding", b="ea.embedding") + ")"
    nb = "SQRT(" + DOT.format(a="eb.embedding", b="eb.embedding") + ")"
    return f"""WITH {_EMB_PLANTED_SQL},
qv AS (
  SELECT vec_id, list_transform(embedding,
    v -> CAST(FLOOR(CAST(v AS DOUBLE) * {QSCALE}) AS DOUBLE)) AS x
  FROM emb),
init AS (SELECT CAST(vec_id AS INT) AS cid, x AS c FROM qv
         WHERE vec_id < {K}),
d1 AS (SELECT q.vec_id, i.cid, ({d_init}) AS d
       FROM qv q CROSS JOIN init i),
a1 AS (SELECT vec_id, cid FROM
         (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY d ASC, cid ASC) AS rn FROM d1)
       WHERE rn = 1),
dups AS (
  SELECT DISTINCT b.vec_id AS vec_b
  FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN emb ea ON ea.vec_id = a.vec_id
  JOIN emb eb ON eb.vec_id = b.vec_id
  WHERE ({dot}) / (({na}) * ({nb})) > {SEMDEDUP_THRESHOLD})
SELECT a1.vec_id, a1.cid AS cluster,
  (dups.vec_b IS NULL) AS keep
FROM a1 LEFT JOIN dups ON a1.vec_id = dups.vec_b"""


# --- IVF-PQ: coarse cells + PQ codes inside probed cells --------------

N_PROBE_IVFPQ = 2


def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FAISS IVFPQ composition: a coarse quantizer (the kmeans
    argmin assignment, K cells) prunes the corpus to each query's
    N_PROBE nearest cells, and the fine ranking runs on PQ codes via
    the broadcast ADC lookup table — the scan never touches original
    floats AND never scores vectors outside the probed posting lists.
    This is the index every production ANN deployment runs at 100 TB:
    candidate volume ~ nprobe/K of the corpus, per-candidate cost 4
    table lookups.

    All distances are exact integers on the quantized coordinates
    (order-free, bit-identical to the oracle); ties break to the lower
    cell/code/neighbor id everywhere."""
    e = _emb_q(spark, sf_dir)
    init = e.where(F.col("vec_id") < K).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("x").alias("c"))
    cells = _assign(e, init).select("vec_id", "cid")

    # per-query probed cells: rank the K exact coarse distances, keep 2
    qd = (e.where(F.col("vec_id") < N_QUERIES_PQ)
          .join(F.broadcast(init))
          .selectExpr("vec_id AS query_id", "cid",
                      f"({_DIST_SPARK.format(x='x', c='c')}) AS d"))
    from pyspark.sql import Window
    wq = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("cid"))
    probes = (qd.withColumn("_r", F.row_number().over(wq))
              .where(F.col("_r") <= N_PROBE_IVFPQ).select("query_id", "cid"))

    subs, books, codes = _pq_encode(spark, sf_dir)
    q = subs.where(F.col("vec_id") < N_QUERIES_PQ).selectExpr(
        "vec_id AS query_id", "m", "sx AS qx")
    lut = q.join(F.broadcast(books), "m").selectExpr(
        "query_id", "m", "cid AS code",
        f"({_DIST_SPARK.format(x='qx', c='c')}) AS qd")
    # posting-list restriction: keep only (query, neighbor) pairs whose
    # neighbor sits in one of the query's probed cells
    cand = (codes.join(cells, "vec_id")
            .join(F.broadcast(probes), "cid")
            .where(F.col("vec_id") != F.col("query_id")))
    adc = (cand.join(F.broadcast(lut), ["query_id", "m", "code"])
           .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
           .agg(F.sum("qd").alias("adc_dist")))
    return _rank_adc(adc)


def ann_ivf_pq_oracle() -> str:
    d_init = _DIST_DUCK.format(x="q.x", c="i.c", dim=DIM)
    dsub = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(range(1, {SUBDIM} + 1),"
            " j -> (q.x[{off} + j] - s.x[{off} + j])"
            " * (q.x[{off} + j] - s.x[{off} + j]))), (a, b) -> a + b)")
    return f"""WITH qv AS (
  SELECT vec_id, list_transform(embedding,
    v -> CAST(FLOOR(CAST(v AS DOUBLE) * {QSCALE}) AS DOUBLE)) AS x
  FROM embeddings),
init AS (SELECT CAST(vec_id AS INT) AS cid, x AS c FROM qv
         WHERE vec_id < {K}),
dc AS (SELECT q.vec_id, i.cid, ({d_init}) AS d
       FROM qv q CROSS JOIN init i),
cells AS (SELECT vec_id, cid FROM
            (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY d ASC, cid ASC) AS rn FROM dc)
          WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cid FROM
             (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY d ASC, cid ASC) AS rn FROM dc
              WHERE vec_id < {N_QUERIES_PQ})
           WHERE rn <= {N_PROBE_IVFPQ}),
ms AS (SELECT range AS m FROM range({M_SUB})),
d AS (
  SELECT q.vec_id, ms.m, CAST(s.vec_id AS INT) AS cid,
         {dsub.format(off=f"ms.m * {SUBDIM}")} AS d
  FROM qv q CROSS JOIN ms JOIN qv s ON s.vec_id < {K_PQ}),
codes AS (
  SELECT vec_id, m, cid AS code FROM
    (SELECT vec_id, m, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       ORDER BY d ASC, cid ASC) AS rn FROM d)
  WHERE rn = 1),
adc AS (
  SELECT lut.vec_id AS query_id, codes.vec_id AS neighbor_id,
         SUM(lut.d) AS adc_dist
  FROM codes
  JOIN d lut ON lut.m = codes.m AND lut.cid = codes.code
  JOIN cells ON cells.vec_id = codes.vec_id
  JOIN probes ON probes.cid = cells.cid
             AND probes.query_id = lut.vec_id
  WHERE lut.vec_id < {N_QUERIES_PQ} AND codes.vec_id <> lut.vec_id
  GROUP BY lut.vec_id, codes.vec_id)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY adc_dist ASC, neighbor_id ASC) AS rank FROM adc)
WHERE rank <= {TOP_K_PQ}"""
