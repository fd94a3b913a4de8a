"""Large-scale training-data pipeline operators over the documents /
embeddings tables: deduplication (exact, MinHash-LSH, SimHash, n-gram
Jaccard), similarity search (brute-force + LSH-bucketed ANN), text
analysis (language guess, quality stats, token counts, fingerprints)
and multimodal binary plumbing.

Most operators are JVM-side Spark SQL expressions.  The exceptions
are the MinHash, shingle and SimHash signatures, which run as numpy
kernels over JVM-tokenized documents behind one ``mapInArrow``
(dedup._doc_map), and the multimodal decode stub (mapInPandas).  All
hashing uses explicit integer arithmetic (no engine-builtin hash) so a
DuckDB oracle reproduces every value bit-for-bit.

The primitives several operators share live here: the staged-cache
registry, the salted two-phase top-k and the LSH band self-join."""

from pyspark.sql import Window, functions as F

# --- staged-cache registry -------------------------------------------------
# Several pipeline operators persist an intermediate (shingle tables,
# long band-key tables) both as an optimizer barrier and because two
# plan branches consume it.  The persist cannot be released inside the
# builder (the returned plan is lazy), so long-lived sessions
# accumulated cached partitions for the session lifetime (ADVICE r5).
# Builders register every such persist here; call release_staged() once
# the results derived from prior pipeline calls are materialized.

_STAGED: list = []


def stage_cache(df):
    """Persist ``df`` and register it for release_staged()."""
    df.persist()
    _STAGED.append(df)
    return df


def release_staged() -> int:
    """Unpersist every staged pipeline intermediate; returns how many
    were released.  Safe at any time — consumers recompute from source
    if they re-execute after release."""
    n = 0
    while _STAGED:
        _STAGED.pop().unpersist()
        n += 1
    return n


def two_phase_topk(df, part: str, order: list, tie: str, k: int,
                   salts: int):
    """Rows of ``df`` ranked 1..k per ``part`` under ``order`` (a total
    order ending in ``tie``), as an int ``rank`` column.

    A single ``Window.partitionBy(part)`` would sort every row of a
    part in one task — the one sort whose per-task size grows with the
    input.  Instead each (part, _salt) shard, ``_salt = pmod(tie,
    salts)``, keeps its local top-k, and the final rank runs over
    <= k * salts rows per part.  Identical output: every global top-k
    row is within its shard's top-k under the same total order."""
    wl = Window.partitionBy(part, "_salt").orderBy(*order)
    local = (df.withColumn("_salt", F.pmod(F.col(tie), F.lit(int(salts))))
             .withColumn("_lrank", F.row_number().over(wl))
             .where(F.col("_lrank") <= k)
             .drop("_salt", "_lrank"))
    w = Window.partitionBy(part).orderBy(*order)
    return (local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def band_pairs(long, id_col: str, carry=()):
    """Distinct (a < b) id pairs sharing a (band_idx, bk) key of the
    long band table ``long`` — ONE equi-self-join for every band.

    Output columns: ``<stem>_a``, ``<stem>_b`` (stem = ``id_col``
    without a ``_id`` suffix), then ``<c>_a``, ``<c>_b`` for each
    carried column ``c``.  Callers build ``long`` with posexplode and
    stage it: behind the generator the band keys are materialized
    values, so join planning cannot push the key expressions (the whole
    signature tree) into isnotnull filters below the join
    (dedup.minhash_band_long)."""
    stem = id_col.removesuffix("_id")
    a, b = f"{stem}_a", f"{stem}_b"

    def side(s):
        return long.select(F.col(id_col).alias(f"{stem}_{s}"),
                           *[F.col(c).alias(f"{c}_{s}") for c in carry],
                           "band_idx", "bk")

    return (side("a").join(side("b"), ["band_idx", "bk"])
            .where(F.col(a) < F.col(b))
            .select(a, b, *[f"{c}_{s}" for s in "ab" for c in carry])
            .distinct())
