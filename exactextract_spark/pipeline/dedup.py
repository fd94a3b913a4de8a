"""Deduplication operators: exact (hash-groupBy), MinHash+LSH banding,
SimHash, and n-gram Jaccard, each with a bit-exact DuckDB oracle.

The documents are tokenized in the JVM (``split(trim(text), '\\s+')``,
exact Spark semantics).  The MinHash, shingle and SimHash signatures
are numpy integer kernels over the token lists, behind the one
Arrow map of _doc_map; everything else (band self-joins, Jaccard
verification, components) is JVM-side Spark SQL.

Scale notes (100 TB): exact dedup is a single hash shuffle on the
digest; MinHash-LSH turns all-pairs similarity into an equi-join on
band keys (one shuffle on (band_idx, key), candidates verified
afterwards) — the standard shingle→minhash→band→bucket-join pipeline.
No driver-side state anywhere."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type

from .text import M, P, TOKCODE_SPARK

from . import band_pairs, stage_cache as _stage_cache

# fixed minhash permutation constants (a*x + b) % P
MINHASH_A = [131, 137, 139, 149, 151, 157, 163, 167,
             173, 179, 181, 191, 193, 197, 199, 211]
MINHASH_B = [17, 29, 41, 53, 67, 79, 97, 101,
             113, 127, 139, 151, 163, 179, 193, 211]
N_BANDS, BAND_W = 4, 4
SIMHASH_BITS = 16


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate grouping: md5 digest → min doc_id is canonical.

    Scale shape: per-hash min via groupBy (partial-aggregatable — a hot
    digest like the empty document combines map-side) joined back onto
    the rows, not a window whose partitionBy(text_hash) would funnel
    billions of identical boilerplate docs into one sorting task."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("text_hash"))
    # the grouped side's key is renamed so the self-derived join is
    # unambiguous; null-safe because a NULL text hashes to a NULL digest,
    # which the oracle's window keeps as its own partition — a plain
    # equi-join would drop it
    canon = (d.groupBy("text_hash")
             .agg(F.min("doc_id").alias("canonical_id"))
             .withColumnRenamed("text_hash", "_canon_hash"))
    return (d.join(canon, F.col("text_hash").eqNullSafe(F.col("_canon_hash")))
            .select("doc_id", "text_hash", "canonical_id",
                    (F.col("doc_id") != F.col("canonical_id"))
                    .alias("is_duplicate")))


def exact_dedup_oracle() -> str:
    return """SELECT doc_id, md5(text) AS text_hash,
  MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
  doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
FROM documents"""


# --- shingling ------------------------------------------------------------

_TC = TOKCODE_SPARK.format(t="t")
# 3-token shingle codes; documents with <3 tokens collapse to one code
_SHINGLES_DUCK = (
    "CASE WHEN len(tc) >= 3 THEN "
    f" list_transform(range(1, len(tc) - 1), i ->"
    f"   ((tc[i] * {M} + tc[i + 1]) % {P} * {M} + tc[i + 2]) % {P})"
    " ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), tc),"
    "       (a, c) -> (a * 31 + c) % 1000000007)] END")
_TC_ARR_DUCK = ("list_transform(regexp_split_to_array(trim(text), '\\s+'),"
                f" t -> CAST({_TC} AS BIGINT))")


def _band_expr(prefix: str, b: int) -> str:
    """Fold BAND_W minhashes into one band key (mod-P Horner)."""
    e = f"{prefix}{b * BAND_W}"
    for j in range(1, BAND_W):
        e = f"(({e}) * 8191 + {prefix}{b * BAND_W + j}) % {P}"
    return e


def _token_codes(toks):
    """Per-token codes (ascii(t)*961 + ascii(substr(t,2,1))*31 +
    length(t)) for one Arrow batch of token lists, as a flat int64
    stream plus per-doc ranges.  Exact semantics of the Spark SQL
    token-code expression (tests/dedup_reference.py);
    non-ASCII tokens (byte != codepoint) take a per-token Python
    fallback with the same ascii()/substr()/length() behaviour.
    Returns (valid, n_docs, tc, off0, n_tok)."""
    n_docs = len(toks)
    valid = toks.is_valid().to_numpy(zero_copy_only=False)
    off = toks.offsets.to_numpy().astype(np.int64)
    sa = toks.values
    # StringArray exposes no .offsets — read the raw int32 offsets
    # buffer, honoring the array's slice offset
    so_all = np.frombuffer(sa.buffers()[1], dtype=np.int32)
    so = so_all[sa.offset:sa.offset + len(sa) + 1].astype(np.int64)
    databuf = sa.buffers()[2]
    data = np.frombuffer(databuf, dtype=np.uint8) if databuf \
        else np.empty(0, dtype=np.uint8)
    lo, hi = off[0], off[-1]
    # --- token codes: ascii(t)*961 + ascii(substr(t,2,1))*31 +
    #     length(t), exact for ASCII bytes (byte == codepoint, byte
    #     length == char length) ---
    t0 = so[lo:hi]
    t1 = so[lo + 1:hi + 1]
    tlen = t1 - t0
    region_ascii = True
    if hi > lo and t1[-1] > t0[0]:
        region_ascii = bool((data[t0[0]:t1[-1]] < 128).all())
    if region_ascii:
        if data.size:
            b0 = np.where(tlen > 0, data[np.minimum(t0, data.size - 1)], 0)
            b1 = np.where(tlen > 1,
                          data[np.minimum(t0 + 1, data.size - 1)], 0)
        else:
            b0 = b1 = np.zeros(hi - lo, dtype=np.int64)
        tc = b0.astype(np.int64) * 961 + b1.astype(np.int64) * 31 + tlen
    else:
        # per-token fallback with full unicode semantics
        pytoks = sa.slice(lo, hi - lo).to_pylist()
        tc = np.fromiter(
            ((ord(t[0]) if t else 0) * 961
             + (ord(t[1]) if len(t) > 1 else 0) * 31 + len(t)
             for t in pytoks),
            dtype=np.int64, count=hi - lo)
    off0 = off - lo          # doc token ranges into tc
    n_tok = off0[1:] - off0[:-1]
    return valid, n_docs, tc, off0, n_tok


def _shingle_streams(toks):
    """Flat numpy shingle streams for one Arrow batch of token lists.

    Returns (valid, n_docs, sh, sh_doc, sh_count, starts, fold) where
    ``sh`` is the flat shingle-code stream in document order, ``fold``
    the short-document (< 3 tokens) Horner fold per doc, and
    ``starts``/``sh_count`` the per-doc segments of ``sh``.  Identical
    integer formulas to the DuckDB oracle's _SHINGLES_DUCK; all
    intermediates < 2^63."""
    valid, n_docs, tc, off0, n_tok = _token_codes(toks)
    # --- shingles (flat): docs with >= 3 tokens ---
    doc_of = np.repeat(np.arange(n_docs), n_tok)
    idx = np.arange(tc.size)
    sh_ok = (idx + 2 < off0[1:][doc_of]) & (n_tok[doc_of] >= 3)
    si = idx[sh_ok]
    sh = ((tc[si] * M + tc[np.minimum(si + 1, max(tc.size - 1, 0))]) % P * M
          + tc[np.minimum(si + 2, max(tc.size - 1, 0))]) % P
    sh_doc = doc_of[sh_ok]
    # --- short docs (< 3 tokens): Horner fold over all tokens ---
    short = valid & (n_tok < 3)
    fold = np.zeros(n_docs, dtype=np.int64)
    if short.any():
        has1 = short & (n_tok >= 1)
        fold[has1] = tc[off0[:-1][has1]] % P
        has2 = short & (n_tok >= 2)
        fold[has2] = (fold[has2] * 31 + tc[off0[:-1][has2] + 1]) % P
    sh_count = np.bincount(sh_doc, minlength=n_docs)
    starts = np.concatenate(([0], np.cumsum(sh_count)))[:-1]
    return valid, n_docs, sh, sh_doc, sh_count, starts, fold


def _band_columns(streams):
    """The 16-perm minhash → 4 folded LSH band keys for one batch's
    shingle streams (_shingle_streams), as N_BANDS pyarrow int64
    arrays (NULL for docs with a NULL token list)."""
    valid, n_docs, sh, _sh_doc, sh_count, starts, fold = streams
    mh = np.empty((len(MINHASH_A), n_docs), dtype=np.int64)
    big = np.iinfo(np.int64).max
    for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)):
        perm = (a * sh + b) % P
        col = np.minimum.reduceat(np.append(perm, big), starts)
        col = np.where(sh_count > 0, col, (a * fold + b) % P)
        mh[j] = col
    out = []
    for bband in range(N_BANDS):
        e = mh[bband * BAND_W]
        for j in range(1, BAND_W):
            e = (e * 8191 + mh[bband * BAND_W + j]) % P
        out.append(pa.array(e, type=pa.int64(), mask=~valid))
    return out


def _distinct_list_array(streams):
    """Per-doc SORTED distinct shingle lists for one batch's shingle
    streams (_shingle_streams), as a pyarrow list<int64> array.  Every
    consumer (Jaccard set sizes, explode + join) is order-independent,
    so sorted-distinct replaces array_distinct's first-occurrence
    order without changing any result."""
    valid, n_docs, sh, sh_doc, sh_count, starts, fold = streams
    # sorted distinct per doc on the flat stream: stable sort by
    # (doc, code), then drop adjacent duplicates within a doc
    order = np.lexsort((sh, sh_doc))
    ds, dd = sh[order], sh_doc[order]
    keep = np.ones(ds.size, dtype=bool)
    if ds.size > 1:
        keep[1:] = (ds[1:] != ds[:-1]) | (dd[1:] != dd[:-1])
    ds, dd = ds[keep], dd[keep]
    dcnt = np.bincount(dd, minlength=n_docs)
    # short docs contribute their single fold code; NULL-token
    # docs yield a single NULL element ([NULL], matching the
    # SQL path's array(aggregate(NULL tc, ...)) — NOT a null
    # list, which would change e.g. ngram_jaccard on null docs)
    short_mask = valid & (sh_count == 0)
    null_mask = ~valid
    cnt = np.where(short_mask | null_mask, 1, dcnt)
    offs64 = np.concatenate(([0], np.cumsum(cnt)))
    flat = np.zeros(int(offs64[-1]), dtype=np.int64)
    if ds.size:
        # distinct codes of doc i are a contiguous run in ds;
        # within-run index + the doc's output offset places them
        run_start = np.concatenate(([0], np.cumsum(dcnt)))[:-1]
        w = np.arange(ds.size) - np.repeat(run_start, dcnt)
        flat[offs64[:-1][dd] + w] = ds
    if short_mask.any():
        flat[offs64[:-1][short_mask]] = fold[short_mask]
    flat_null = np.zeros(flat.size, dtype=bool)
    if null_mask.any():
        flat_null[offs64[:-1][null_mask]] = True
    return pa.ListArray.from_arrays(
        pa.array(offs64.astype(np.int32), type=pa.int32()),
        pa.array(flat, type=pa.int64(),
                 mask=flat_null if flat_null.any() else None))


_BANDS = [(f"band{b}", pa.int64()) for b in range(N_BANDS)]
_SH = [("sh", pa.list_(pa.int64()))]


def _doc_map(spark: SparkSession, sf_dir: str, fields, fn) -> DataFrame:
    """The one Arrow boundary of the document kernels: a map over the
    Arrow batches of the JVM-tokenized (doc_id, toks) frame.
    ``fn(toks)`` maps a batch's token lists to one array per ``fields``
    entry ((name, Arrow type) pairs); the output is (doc_id, *fields).
    The doc_id type comes from the frame and the Spark schema from the
    Arrow schema, so each output type is written once.  Empty batches
    are skipped."""
    toks = _docs(spark, sf_dir).selectExpr(
        "doc_id", "split(trim(text), '\\\\s+') AS toks")
    schema = pa.schema(
        [pa.field("doc_id", to_arrow_type(toks.schema["doc_id"].dataType))]
        + [pa.field(name, t) for name, t in fields])

    def run(batches):
        for rb in batches:
            if rb.num_rows:
                yield pa.RecordBatch.from_arrays(
                    [rb.column(0)] + fn(rb.column(1)), schema=schema)

    return toks.mapInArrow(run, from_arrow_schema(schema))


def _distinct_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh array<bigint>): each document's sorted distinct
    3-token shingle codes."""
    return _doc_map(spark, sf_dir, _SH,
                    lambda t: [_distinct_list_array(_shingle_streams(t))])


def minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16 minhashes over 3-token shingles, folded into 4 LSH bands —
    flat numpy int64 streams over the Arrow token lists (the
    interpreted higher-order-function form was ~60% of a 1M-doc
    minhash wall).  Bit-exact by differential test against the SQL
    expression path (tests/dedup_reference.py)."""
    return _doc_map(spark, sf_dir, _BANDS,
                    lambda t: _band_columns(_shingle_streams(t)))


def minhash_signature_oracle() -> str:
    mh = ", ".join(
        f"list_min(list_transform(sh, s -> ({MINHASH_A[j]} * s + {MINHASH_B[j]}) % {P})) AS mh{j}"
        for j in range(len(MINHASH_A)))
    bands = ", ".join(f"{_band_expr('mh', b)} AS band{b}" for b in range(N_BANDS))
    return f"""SELECT doc_id, {bands}
FROM (SELECT doc_id, {mh}
      FROM (SELECT doc_id, {_SHINGLES_DUCK} AS sh
            FROM (SELECT doc_id, {_TC_ARR_DUCK} AS tc FROM documents)))"""


def minhash_band_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature in long form: one (doc_id, band_idx, bk) row per band,
    persisted.  Two reasons this exact shape matters at scale:

    - ONE equi-self-join on (band_idx, bk) replaces N_BANDS separate
      joins, so the candidate search is a single shuffle.
    - The band keys must NOT be computed expressions at the join: join
      planning adds isnotnull(key) filters and predicate pushdown
      substitutes alias chains into them, inlining the whole
      tokenize→shingle→minhash tree below the projections — and because
      element_at(tc, i) re-evaluates the substituted tokenize transform
      per element access, each input row pays the signature cost
      hundreds of times (measured 80-130x wall on the old per-band
      join shape at 20k docs; higher-order functions are
      CodegenFallback, so nothing saves it at codegen time).  Behind
      posexplode the keys are generator outputs — pushdown stops at the
      Generate — and the persist makes the signature a materialized
      table (which is also how a 100 TB pipeline would stage it)."""
    return _band_long(minhash_signature(spark, sf_dir)).transform(_stage_cache)


def _band_long(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, bk): a signature's band columns as rows."""
    return sig.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(N_BANDS)]))
         .alias("band_idx", "bk"))


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing any band key — one shuffle
    equi-join on (band_idx, band_key) over the long signature table
    (see minhash_band_long for why not per-band joins on computed
    keys)."""
    return band_pairs(minhash_band_long(spark, sf_dir), "doc_id")


def minhash_pairs_oracle() -> str:
    sig = minhash_signature_oracle()
    joins = " UNION ".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b"
        f" ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
        for b in range(N_BANDS))
    return f"WITH sig AS ({sig}) {joins}"


def _bit_majority(toks, nbits, sim60):
    """Vectorized SimHash of one Arrow batch of token lists: the
    bit-majority of a per-token hash, computed as a (tokens x nbits)
    ±1 matrix summed per doc — replaces the O(nbits x tokens)
    interpreted nested-aggregate expressions.  ``sim60``: the two-half
    30-bit multiplicative hash of _SIM60_HALF/_SIM60_BIT; otherwise the
    raw token code's low bits.  NULL-token docs yield 0 (the SQL CASE
    WHEN NULL > 0 path), exactly like the expression form."""
    valid, n_docs, tc, off0, n_tok = _token_codes(toks)
    if sim60:
        h1 = (tc * 2654435761) % (1 << 30)
        h2 = (tc * 2246822519 + 3266489917) % (1 << 30)
        bits = np.concatenate(
            [(h1[:, None] >> np.arange(30)) & 1,
             (h2[:, None] >> np.arange(30)) & 1], axis=1)
    else:
        bits = (tc[:, None] >> np.arange(nbits)) & 1
    pm = (bits.astype(np.int64) * 2 - 1)
    # per-doc segment sums; a zero sentinel row keeps empty trailing
    # segments (null docs, n_tok == 0) in bounds
    pm = np.vstack([pm, np.zeros((1, nbits), dtype=np.int64)])
    starts = np.concatenate(([0], np.cumsum(n_tok)))[:-1]
    sums = np.add.reduceat(pm, starts, axis=0)
    sums[n_tok == 0] = 0          # empty segment -> no votes
    sim = ((sums > 0).astype(np.int64) << np.arange(nbits)).sum(axis=1)
    sim[~valid | (n_tok == 0)] = 0  # SQL: CASE WHEN NULL>0 -> 0
    return pa.array(sim, type=pa.int64())


def _simhash_table(spark: SparkSession, sf_dir: str, nbits: int,
                   sim60: bool, out_col: str) -> DataFrame:
    """(doc_id, <out_col>) SimHash fingerprints (_bit_majority)."""
    return _doc_map(spark, sf_dir, [(out_col, pa.int64())],
                    lambda t: [_bit_majority(t, nbits, sim60)])


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over token codes (bit-majority of code bits),
    Arrow-vectorized (_bit_majority; differential-tested against
    the expression path in tests/dedup_reference.py)."""
    return _simhash_table(spark, sf_dir, SIMHASH_BITS, False, "simhash")


def simhash_oracle() -> str:
    # CAST: DuckDB's list_sum returns a float-typed column; the engine
    # column is BIGINT and the driver's value hash is type-sensitive
    return f"""SELECT doc_id,
  CAST(list_sum(list_transform(range(0, {SIMHASH_BITS}), b ->
    CASE WHEN list_sum(list_transform({_TC_ARR_DUCK},
      c -> CASE WHEN (c >> b) % 2 = 1 THEN 1 ELSE -1 END)) > 0
    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
FROM documents"""


# --- Hamming-banded SimHash pairs (crawl-dedup shape) ---------------------
# 60-bit fingerprint: bit-majority over two 30-bit multiplicative hashes
# of the token codes (odd multipliers are bijections mod 2^30; products
# stay < 2^49, exact BIGINT arithmetic in both engines).  4 bands x 15
# bits: by pigeonhole, Hamming distance <= 3 implies at least one exact
# band match, so the banded equi-join has full recall at the threshold,
# and 2^15 buckets per band keep the self-join scale-safe (vs joining
# on a 4-bit slice of the 16-bit simhash above, where every band has
# only 16 buckets and the join goes quadratic).
SIM60_BANDS = 4
SIM60_BAND_BITS = 15
SIM60_HAMMING_MAX = 3

_SIM60_HALF = ("CASE WHEN b < 30 THEN ({c} * 2654435761) % 1073741824"
               " ELSE ({c} * 2246822519 + 3266489917) % 1073741824 END")
_SIM60_BIT = "CASE WHEN b < 30 THEN b ELSE b - 30 END"

_SIM60_DUCK = (
    "CAST(list_sum(list_transform(range(0, 60), b ->"
    " CASE WHEN list_sum(list_transform(tc, c ->"
    f"  CASE WHEN (({_SIM60_HALF.format(c='c')}) >> ({_SIM60_BIT})) % 2 = 1"
    "   THEN 1 ELSE -1 END)) > 0"
    "  THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)")


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= 3 — banded
    LSH candidates (one equi-join on the long (band_idx, bucket) table,
    see minhash_band_long for why not per-band joins on computed keys)
    verified with the exact popcount of the fingerprint XOR."""
    s = _simhash_table(spark, sf_dir, 60, True, "sim")
    bucket = [F.expr(f"(sim >> {SIM60_BAND_BITS * b}) % {1 << SIM60_BAND_BITS}")
              for b in range(SIM60_BANDS)]
    long = s.select("doc_id", "sim",
                    F.posexplode(F.array(*bucket)).alias("band_idx", "bk")) \
        .transform(_stage_cache)
    return (band_pairs(long, "doc_id", carry=("sim",))
            .selectExpr("doc_a", "doc_b",
                        "CAST(bit_count(sim_a ^ sim_b) AS INT) AS hamming")
            .where(f"hamming <= {SIM60_HAMMING_MAX}"))


def simhash_pairs_oracle() -> str:
    band_joins = " UNION ".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sim AS sim_a,"
        f" b.sim AS sim_b FROM s a JOIN s b"
        f" ON (a.sim >> {SIM60_BAND_BITS * b}) % {1 << SIM60_BAND_BITS}"
        f"  = (b.sim >> {SIM60_BAND_BITS * b}) % {1 << SIM60_BAND_BITS}"
        f" AND a.doc_id < b.doc_id"
        for b in range(SIM60_BANDS))
    return f"""WITH s AS (
  SELECT doc_id, {_SIM60_DUCK} AS sim
  FROM (SELECT doc_id, {_TC_ARR_DUCK} AS tc FROM documents)),
cand AS ({band_joins})
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {SIM60_HAMMING_MAX}"""


def minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup path: LSH candidate pairs (band-key
    equi-joins) verified with EXACT shingle Jaccard, keeping pairs
    >= 0.5.  At 100 TB the candidate set is tiny relative to all-pairs,
    and verification is one join back to the shingle table.

    The shingle lists and band keys come from ONE fused Arrow kernel
    pass (one corpus scan/tokenize instead of two); the persisted fused
    table then feeds both the band self-join (keys are materialized, so
    no computed-key pushdown — see minhash_band_long) and both sides of
    the verify join.  Both outputs come from the code the standalone
    kernels run, so the fusion cannot drift from either declared
    query."""
    def fused(toks):
        streams = _shingle_streams(toks)
        return [_distinct_list_array(streams)] + _band_columns(streams)

    sig = _doc_map(spark, sf_dir, _SH + _BANDS, fused).transform(_stage_cache)
    return _jaccard_verified(band_pairs(_band_long(sig), "doc_id"),
                             sig.select("doc_id", "sh"))


def _jaccard_verified(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Candidate pairs joined to both docs' distinct shingle lists,
    keeping exact Jaccard >= 0.5."""
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (cand.join(a, "doc_a").join(b, "doc_b")
            .selectExpr("doc_a", "doc_b",
                        "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"
                        " / size(array_union(sh_a, sh_b)) AS jaccard")
            .where("jaccard >= 0.5"))


def minhash_verified_pairs_oracle() -> str:
    sig = minhash_signature_oracle()
    joins = " UNION ".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b"
        f" ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
        for b in range(N_BANDS))
    return f"""WITH sig AS ({sig}),
cand AS ({joins}),
d AS (
  SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS sh
  FROM (SELECT doc_id, {_TC_ARR_DUCK} AS tc FROM documents))
SELECT doc_a, doc_b,
  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
    / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
FROM cand JOIN d a ON cand.doc_a = a.doc_id JOIN d b ON cand.doc_b = b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5"""


def _symmetric(e: DataFrame) -> DataFrame:
    return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every strictly-larger neighbor of u reconnects to
    min(N(u) ∪ {u}) (Kiveris et al., "Connected Components in MapReduce
    and Beyond" — the standard O(log²)-round DataFrame CC)."""
    sym = _symmetric(e)
    m = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("mn", "u").alias("m"))
    return (sym.join(m, "u").where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v")).distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient edges toward the larger endpoint; the smaller
    neighbors (and the node itself) reconnect to the minimum."""
    o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    m = o.groupBy("u").agg(F.min("v").alias("m"))
    out1 = (o.join(m, "u").where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v")))
    out2 = m.select("u", F.col("m").alias("v"))
    return (out1.unionByName(out2)
            .where(F.col("u") != F.col("v")).distinct())


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components of an undirected edge list (u, v) →
    (u, component) for every non-isolated node, component = min node id.

    Scale shape: alternating large-star/small-star contractions —
    O(log² n) rounds regardless of component diameter (min-label
    propagation would need diameter rounds: a 1M-node chain would take
    1M shuffles).  Each round is two hash shuffles; no driver-side
    data, only a convergence check (two small counts) per round."""
    # localCheckpoint per round: iterative DataFrame algorithms grow
    # their LOGICAL plan each round (persist only reuses the physical
    # result), and Catalyst analysis time blows up exponentially —
    # truncating the lineage is the standard hygiene for DataFrame
    # iteration (same role as GraphFrames' checkpointing)
    e = _small_star(_large_star(edges)).localCheckpoint()
    for _ in range(max_iter):
        ne = _small_star(_large_star(e)).localCheckpoint()
        if ne.count() == e.count() and ne.subtract(e).count() == 0:
            e = ne
            break
        e = ne
    return e.groupBy("u").agg(F.min("v").alias("component")) \
            .select(F.col("u").alias("doc_id"), "component")


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    LSH pair graph (minhash_verified_pairs), every document labeled
    with its component representative (min doc_id) — the production
    step that turns pairwise near-dup hits into keep/drop decisions."""
    pairs = minhash_verified_pairs(spark, sf_dir) \
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    comp = connected_components(pairs)
    docs = _docs(spark, sf_dir).select("doc_id")
    return (docs.join(comp, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("component", "doc_id").alias("component"))
            .withColumn("is_duplicate", F.col("component") != F.col("doc_id")))


def dedup_clusters_oracle() -> str:
    vp = minhash_verified_pairs_oracle()
    return f"""WITH RECURSIVE vp AS ({vp}),
e(src, dst) AS (SELECT doc_a, doc_b FROM vp UNION ALL SELECT doc_b, doc_a FROM vp),
walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.node
)
SELECT node AS doc_id, MIN(lbl) AS component,
       MIN(lbl) <> node AS is_duplicate
FROM walk GROUP BY node"""


def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop decision per near-dup cluster: the representative is
    the longest document (ties → lowest doc_id) — the standard
    quality-aware winner selection after clustering.

    Scale shape: top-1-per-group via max_by (partial-aggregatable, so a
    giant boilerplate cluster combines map-side) + an equi-join of the
    tiny winner table back onto the rows — NOT a window, whose
    partitionBy(component) would funnel a hot component into one task
    and sort it.  max_by on struct(n_chars, -doc_id) is exactly the
    window's (n_chars DESC, doc_id ASC) ordering."""
    comp = dedup_clusters(spark, sf_dir).select("doc_id", "component")
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    j = comp.join(docs, "doc_id")
    winner = j.groupBy("component").agg(
        F.max_by("doc_id", F.struct(F.col("n_chars"),
                                    (-F.col("doc_id")).alias("nid")))
        .alias("rep_id"))
    return (j.join(winner, "component")
            .select("doc_id", "component", "n_chars",
                    (F.col("doc_id") == F.col("rep_id")).alias("keep")))


def cluster_representatives_oracle() -> str:
    return f"""WITH comp AS ({dedup_clusters_oracle()})
SELECT comp.doc_id, component, n_chars,
  ROW_NUMBER() OVER (PARTITION BY component
                     ORDER BY n_chars DESC, comp.doc_id ASC) = 1 AS keep
FROM comp JOIN documents d ON comp.doc_id = d.doc_id"""


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for adjacent doc pairs (deterministic
    demo pairing; production path verifies minhash_pairs candidates)."""
    d = _distinct_shingles(spark, sf_dir)
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (a.join(b, a.doc_a + 1 == b.doc_b)
            .selectExpr("doc_a", "doc_b",
                        "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"
                        " / size(array_union(sh_a, sh_b)) AS jaccard"))


def ngram_jaccard_oracle() -> str:
    return f"""WITH d AS (
  SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS sh
  FROM (SELECT doc_id, {_TC_ARR_DUCK} AS tc FROM documents))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
    / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
FROM d a JOIN d b ON a.doc_id + 1 = b.doc_id"""


def contamination_check(spark: SparkSession, sf_dir: str,
                        eval_mod: int = 23, eval_rem: int = 7,
                        min_hits: int = 1) -> DataFrame:
    """Train/eval contamination: flag a training document when any of
    its 3-token shingles appears anywhere in the held-out eval split
    (n-gram decontamination as popularized by the GPT-3 appendix).
    The eval split is derived deterministically inside the query
    (doc_id ≡ eval_rem mod eval_mod) — the testdata carries no split
    column.

    Scale shape (100 TB): eval shingles deduplicate into one compact
    table (eval splits are orders of magnitude smaller than train), so
    the search is a shingle-key equi-join + per-doc count — never
    doc × doc, and AQE broadcasts the eval side when it fits."""
    # persisted: ev and tr both consume it, and InferFiltersFromGenerate
    # would otherwise inline the shingle tree into a size(sh) > 0 filter
    # below each explode (re-evaluating it per row; BENCH/audit_filters.py
    # flags exactly this)
    d = _distinct_shingles(spark, sf_dir).transform(_stage_cache)
    is_eval = (F.col("doc_id") % eval_mod) == eval_rem
    ev = d.where(is_eval).select(F.explode("sh").alias("s")).distinct()
    tr = d.where(~is_eval)
    # per-doc shingles are array_distinct and ev is distinct, so the
    # joined rows are unique per (doc_id, s): count(*) = distinct hits
    hits = (tr.select("doc_id", F.explode("sh").alias("s"))
            .join(ev, "s")
            .groupBy("doc_id").agg(F.count("*").alias("n_shared")))
    n = F.coalesce("n_shared", F.lit(0))
    return (tr.select("doc_id").join(hits, "doc_id", "left")
            .select("doc_id", n.alias("n_shared"),
                    (n >= min_hits).alias("contaminated")))


def contamination_check_oracle() -> str:
    return f"""WITH d AS (
  SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS sh
  FROM (SELECT doc_id, {_TC_ARR_DUCK} AS tc FROM documents)),
ev AS (SELECT DISTINCT unnest(sh) AS s FROM d WHERE doc_id % 23 = 7),
tr AS (SELECT doc_id, unnest(sh) AS s FROM d WHERE doc_id % 23 <> 7),
h AS (SELECT tr.doc_id, COUNT(*) AS n FROM tr JOIN ev USING (s)
      GROUP BY tr.doc_id)
SELECT d.doc_id, COALESCE(h.n, 0) AS n_shared,
  COALESCE(h.n, 0) >= 1 AS contaminated
FROM d LEFT JOIN h ON d.doc_id = h.doc_id
WHERE d.doc_id % 23 <> 7"""


# --- line-level dedup (C4/CCNet-style boilerplate removal) ------------

LINE_TOKENS = 10
LINE_BOILER = "shared boiler plate line planted across documents"


def line_dedup(spark: SparkSession, sf_dir: str,
               plant_mod: int = 19, plant_rem: int = 4) -> DataFrame:
    """C4/CCNet-style line-level deduplication: split every document
    into "lines" (consecutive ``LINE_TOKENS``-token segments — the
    corpus has no newlines), hash each line, and drop every occurrence
    of a corpus-duplicated line except the canonical first one
    (smallest doc_id, then smallest line_idx).  The canonical pick is
    an encoded MIN(doc_id * 1_000_000 + line_idx) — valid while a
    document has < 1e6 lines, and mirrored verbatim in the oracle.

    The word-soup corpus carries natural duplicate lines (the fixture's
    near-duplicate documents), and a boilerplate line is additionally
    planted onto doc_id ≡ plant_rem (mod plant_mod) INSIDE the query
    (testdata is read-only; embedding_neardup precedent) so the
    cross-document-boilerplate case — the one C4's filter exists for —
    is always exercised.

    Scale shape (100 TB): line explode is ≤ ~n_tokens/10 fan-out fused
    into the scan; ONE hash shuffle on the line digest with map-side
    partial aggregation builds the duplicate-group table; one equi-join
    on the digest labels occurrences.  No windows (a hot boilerplate
    line combines map-side instead of sorting in one task), no driver
    state, no Python.
    """
    k = LINE_TOKENS
    d = (_docs(spark, sf_dir)
         .select("doc_id", F.split("text", " ").alias("toks")))
    seg = (d.select(
               "doc_id", "toks",
               F.explode(F.sequence(
                   F.lit(0),
                   F.expr("(size(toks) + 9) DIV 10 - 1"))).alias("li"))
           .select("doc_id", F.col("li").cast("int").alias("line_idx"),
                   F.expr(f"array_join(slice(toks, li*{k}+1, {k}), ' ')")
                    .alias("line")))
    planted = (d.where(F.col("doc_id") % plant_mod == plant_rem)
               .select("doc_id",
                       F.expr("CAST((size(toks) + 9) DIV 10 AS INT)")
                        .alias("line_idx"),
                       F.lit(LINE_BOILER).alias("line")))
    lines = (seg.unionByName(planted)
             .withColumn("line_hash", F.md5(F.col("line").cast("binary")))
             .withColumn("ek", F.col("doc_id") * 1_000_000 + F.col("line_idx")))
    g = lines.groupBy("line_hash").agg(F.count("*").alias("n_occ"),
                                       F.min("ek").alias("canon"))
    return (lines.join(g, "line_hash")
            .select("doc_id", "line_idx", "line_hash", "n_occ",
                    ((F.col("n_occ") == 1) | (F.col("ek") == F.col("canon")))
                    .alias("keep")))


def line_dedup_oracle() -> str:
    return f"""WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
seg AS (
  SELECT doc_id, CAST(r.i AS INT) AS line_idx,
         array_to_string(toks[r.i*{LINE_TOKENS}+1 : r.i*{LINE_TOKENS}+{LINE_TOKENS}], ' ') AS line
  FROM t, UNNEST(range((len(toks) + 9) // 10)) AS r(i)
  UNION ALL
  SELECT doc_id, CAST((len(toks) + 9) // 10 AS INT) AS line_idx,
         '{LINE_BOILER}' AS line
  FROM t WHERE doc_id % 19 = 4),
g AS (
  SELECT md5(line) AS line_hash, COUNT(*) AS n_occ,
         MIN(doc_id * 1000000 + line_idx) AS canon
  FROM seg GROUP BY md5(line))
SELECT s.doc_id, s.line_idx, g.line_hash, g.n_occ,
  (g.n_occ = 1 OR s.doc_id * 1000000 + s.line_idx = g.canon) AS keep
FROM seg s JOIN g ON md5(s.line) = g.line_hash"""
