"""Pipeline-operator parity vs DuckDB (documents/embeddings tables),
mimicking the driver's comparison at sf=0.01, plus semantic unit tests
with planted duplicates."""

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
PIPELINE_NAMES = sorted(entry_mod.PIPELINE_ORACLES)


def _duck():
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _tupleize(df):
    for c in df.columns:
        if df[c].dtype == object and len(df) and \
                isinstance(df[c].iloc[0], (list, np.ndarray)):
            df[c] = df[c].map(lambda v: tuple(v) if v is not None else None)
    return df


@pytest.mark.parametrize("name", PIPELINE_NAMES)
def test_pipeline_parity(name, spark):
    eng = _tupleize(entry_mod.queries()[name](spark, SF_DIR).toPandas())
    with _duck() as con:
        ora = _tupleize(con.sql(entry_mod.PIPELINE_ORACLES[name]()).df())
    key_cols = [c for c in eng.columns if eng[c].dtype.kind in "iuO"][:3] or list(eng.columns[:1])
    eng = eng.sort_values(list(eng.columns)).reset_index(drop=True)[sorted(eng.columns)]
    ora = ora.sort_values(list(ora.columns)).reset_index(drop=True)[sorted(ora.columns)]
    assert list(eng.columns) == list(ora.columns)
    assert len(eng) == len(ora), (name, len(eng), len(ora))
    for c in eng.columns:
        a = eng[c]
        b = ora[c]
        # dtype-strict like the driver's hash: int64-vs-float64 with
        # equal values is a driver FAIL (DuckDB HUGEINT widening lands
        # as float64).  'u' folds to 'i'; object columns are exempt
        # (mixed/None representations differ legitimately).
        ka = {"u": "i"}.get(a.dtype.kind, a.dtype.kind)
        kb = {"u": "i"}.get(b.dtype.kind, b.dtype.kind)
        if "O" not in (ka, kb):
            assert ka == kb, (name, c, a.dtype, b.dtype)
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = ((a == b) | (a.isna() & b.isna())).all()
            assert ok, (name, c, float((a - b).abs().max()))
        elif a.dtype.kind == "b" or b.dtype.kind == "b":
            assert (a.astype(bool) == b.astype(bool)).all(), (name, c)
        else:
            # null-aware: None == None is elementwise False in pandas
            # object columns (event_asof_join's unmatched probes)
            ok = ((a.astype(object) == b.astype(object))
                  | (a.isna() & b.isna())).all()
            assert ok, (name, c)


def test_exact_dedup_finds_planted_dups(spark):
    df = spark.createDataFrame(
        [(0, "aaa bbb ccc"), (1, "xxx yyy"), (2, "aaa bbb ccc")], ["doc_id", "text"])
    from pyspark.sql import Window, functions as F
    d = df.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
    w = Window.partitionBy("h")
    res = {r["doc_id"]: r["c"] for r in
           d.select("doc_id", F.min("doc_id").over(w).alias("c")).collect()}
    assert res == {0: 0, 1: 1, 2: 0}


def test_minhash_catches_near_duplicates(spark, tmp_path):
    """Planted near-dups (one token changed) must share at least one
    LSH band; an unrelated doc must not pair with them."""
    base = " ".join(f"tok{i}" for i in range(50))
    near = base.replace("tok25", "tokX")
    other = " ".join(f"zz{i}" for i in range(50))
    pd.DataFrame({"doc_id": [0, 1, 2], "text": [base, near, other],
                  "lang": ["en"] * 3, "source": ["s"] * 3,
                  "n_chars": [len(base), len(near), len(other)]}) \
        .to_parquet(tmp_path / "documents.parquet")
    from exactextract_spark.pipeline.dedup import minhash_pairs
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_pairs(spark, str(tmp_path)).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_ann_topk_self_consistency(spark):
    """Brute-force ANN: the top-1 neighbor of q must rank q highly in
    return (cosine symmetry sanity check on real embeddings)."""
    res = entry_mod.queries()["ann_topk"](spark, SF_DIR).toPandas()
    assert set(res["rank"]) == {1, 2, 3, 4, 5}
    assert (res["cosine"] <= 1.0 + 1e-9).all()
    g = res.groupby("query_id").size()
    assert (g == 5).all()


def test_media_metadata_stub_plumbing(spark):
    res = entry_mod.queries()["media_metadata"](spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    assert len(res) == len(docs)
    row = res.set_index("doc_id").loc[0]
    txt = docs.set_index("doc_id").loc[0, "text"]
    assert row["n_bytes"] == len(txt.encode())
    assert row["first_byte"] == txt.encode()[0]


def test_real_decode_is_stubbed():
    from exactextract_spark.pipeline.multimodal import real_decode
    with pytest.raises(NotImplementedError):
        real_decode(b"xx")


def test_connected_components_chain_and_triangle(spark):
    from exactextract_spark.pipeline.dedup import connected_components

    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated edge 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["u", "v"])
    got = {r["doc_id"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {2: 1, 3: 1, 4: 1, 11: 10, 12: 10, 21: 20}


def test_connected_components_long_chain(spark):
    """A 40-node chain converges in O(log^2) rounds, not 40 (the
    max_iter bound would trip if rounds scaled with diameter)."""
    from exactextract_spark.pipeline.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], ["u", "v"])
    got = {r["doc_id"]: r["component"]
           for r in connected_components(edges, max_iter=10).collect()}
    assert got == {i: 100 for i in range(101, 141)}


def _write_hot_embeddings(tmp_path):
    """96 deterministic 8-dim vectors: 3 planted near-dup clusters of 4
    (identical direction — guaranteed same hyperplane signs) + 84
    spread vectors.  Only ~4 coarse (2-plane) buckets exist, so the
    coarse scheme floods; the banded 8-plane buckets stay small."""
    rng = np.random.default_rng(7)
    rows = []
    for cl in range(3):
        center = rng.normal(size=8)
        for m in range(4):
            rows.append((cl * 4 + m, [float(x) for x in center * (1.0 + 0.1 * m)]))
    for i, v in enumerate(rng.normal(size=(84, 8))):
        rows.append((100 + i, [float(x) for x in v]))
    pd.DataFrame({"vec_id": [r[0] for r in rows],
                  "embedding": [r[1] for r in rows]}) \
        .to_parquet(tmp_path / "embeddings.parquet")


def test_neardup_banding_bounds_hot_buckets(spark, tmp_path, monkeypatch):
    """The banded LSH must (a) keep every planted near-dup pair as a
    candidate (recall via the band union) and (b) produce FAR fewer
    candidates than a coarse single-bucket scheme on the same data
    (the hot-bucket quadratic the banding exists to kill)."""
    import exactextract_spark.pipeline.similarity as sim

    _write_hot_embeddings(tmp_path)
    sf = str(tmp_path)

    n_banded = sim.neardup_candidates(spark, sf).count()

    monkeypatch.setattr(sim, "NEARDUP_BANDS", 1)
    monkeypatch.setattr(sim, "NEARDUP_PLANES_PER_BAND", 2)
    n_coarse = sim.neardup_candidates(spark, sf).count()
    monkeypatch.undo()

    # coarse: ~4 buckets over 96 vectors -> O(n^2/4) pairs; banded:
    # 256-bucket bands -> little beyond the planted duplicates
    assert n_coarse > 500, n_coarse
    assert n_banded < n_coarse / 5, (n_banded, n_coarse)

    verified = sim.embedding_neardup(spark, sf).toPandas()
    got = {tuple(p) for p in verified[["vec_a", "vec_b"]].itertuples(index=False)}
    for cl in range(3):
        ids = [cl * 4 + m for m in range(4)]
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                assert (a, b) in got, (a, b, sorted(got))


def test_embedding_neardup_nonvacuous_on_testdata(spark):
    """The driver-gated query must verify REAL pairs on the real
    embeddings table: every planted near-duplicate (vec_id ≡ 3 mod 83
    → perturbed copy at +PLANT_OFFSET) is recovered by the banded LSH
    and passes the exact-cosine verify — a 0-row hash match would prove
    nothing about the verify join."""
    import exactextract_spark.pipeline.similarity as sim

    res = entry_mod.queries()["embedding_neardup"](spark, SF_DIR).toPandas()
    assert len(res) > 0
    assert (res["cosine"] > sim.NEARDUP_THRESHOLD).all()
    n_src = (pd.read_parquet(f"{SF_DIR}/embeddings.parquet")["vec_id"]
             % sim.PLANT_MOD == sim.PLANT_RESIDUE).sum()
    assert n_src >= 3
    planted = res[res["vec_b"] - res["vec_a"] == sim.PLANT_OFFSET]
    # LSH recall of a perturbed pair is not guaranteed 100% by
    # construction (the 1/32 bump could flip a near-zero projection in
    # both bands) — on the current testdata it IS 100%, but only the
    # majority bound is robust to fixture regeneration
    assert len(planted) >= max(1, n_src // 2), (len(planted), n_src)


def test_ann_topk_plan_is_two_phase(spark):
    """No task may sort the full scored corpus per query: the physical
    plan must contain the salted local-top-k window (partitioned by
    (query_id, _salt)) below the final per-query rank."""
    import exactextract_spark.pipeline.similarity as sim

    plan = sim.ann_topk(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan, plan
    # the final rank's window runs over the pre-filtered local top-k,
    # i.e. there are exactly two Window operators in the plan
    assert plan.count("Window") >= 2


@pytest.mark.parametrize("name", ["ann_ivf", "ann_pq", "ann_ivf_pq"])
def test_two_phase_topk_plans(name, spark):
    """The other salted top-k operators rank like ann_topk: the local
    (query_id, _salt) window sits below the final per-query rank."""
    df = entry_mod.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan, plan
    assert plan.count("Window") >= 2


# Pinned document-kernel output schemas: dedup._doc_map derives them
# from the kernels' Arrow schemas, and mapInArrow checks the kernel's
# types only at run time.
_DOC_KERNEL_SCHEMAS = {
    "minhash_signature": "struct<doc_id:bigint,band0:bigint,band1:bigint,"
                         "band2:bigint,band3:bigint>",
    "_distinct_shingles": "struct<doc_id:bigint,sh:array<bigint>>",
    "simhash": "struct<doc_id:bigint,simhash:bigint>",
    "sim60": "struct<doc_id:bigint,sim:bigint>",
    "minhash_verified_pairs": "struct<doc_a:bigint,doc_b:bigint,jaccard:double>",
}


def test_doc_kernel_schemas_pinned(spark, tmp_path):
    """Each document kernel's Spark schema is pinned, and the kernel
    runs against it: rows on the sf fixture, zero rows (no error) on a
    zero-row documents table."""
    import pyarrow.parquet as pq

    from exactextract_spark.pipeline import dedup as D, release_staged

    pq.write_table(pq.read_schema(f"{SF_DIR}/documents.parquet").empty_table(),
                   tmp_path / "documents.parquet")
    fns = {"minhash_signature": D.minhash_signature,
           "_distinct_shingles": D._distinct_shingles,
           "simhash": D.simhash,
           "sim60": lambda s, d: D._simhash_table(s, d, 60, True, "sim"),
           "minhash_verified_pairs": D.minhash_verified_pairs}
    try:
        for src in (SF_DIR, str(tmp_path)):
            for name, fn in fns.items():
                df = fn(spark, src)
                assert df.schema.simpleString() == _DOC_KERNEL_SCHEMAS[name], \
                    (name, src)
                n = len(df.collect())
                assert n > 0 if src == SF_DIR else n == 0, (name, src, n)
    finally:
        release_staged()


def test_streaming_dedup_state_accumulates(spark, tmp_path):
    """The keyed state store must carry (min doc_id, count) ACROSS
    micro-batches: a text present in all three files emits increasing
    cumulative dup_counts, and the canonical drops to the lowest doc_id
    even though it arrives in the LAST batch."""
    import os
    import time

    from exactextract_spark.pipeline.streaming_dedup import (
        DOCS_TEXT_SCHEMA, dedup_state_snapshot, stream_dedup_exact)

    indir = str(tmp_path / "in")
    frames = []
    for k, common_id in enumerate((102, 101, 100)):  # min arrives last
        df = spark.createDataFrame(
            [(common_id, "common text", "en", "s", 11),
             (200 + k, f"only in file {k}", "en", "s", 15)],
            DOCS_TEXT_SCHEMA)
        frames.append(df)
        path = os.path.join(indir, f"f{k}.parquet")
        df.coalesce(1).write.parquet(path)
        # distinct mtimes → FileStreamSource processes f0, f1, f2 in
        # order, one per micro-batch (maxFilesPerTrigger=1)
        t = time.time() + k
        for root, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
    stream_dedup_exact(spark, indir + "/*", str(tmp_path / "upd"),
                       str(tmp_path / "ck"))

    upd = spark.read.parquet(str(tmp_path / "upd")).toPandas()
    assert upd["batch_seq"].nunique() == 3
    common = (upd[upd.groupby("text_hash")["dup_count"].transform("max") == 3]
              .sort_values("batch_seq"))
    # one digest seen in every batch, cumulative count 1 → 2 → 3,
    # canonical min ratcheting down as lower ids arrive
    assert list(common["dup_count"]) == [1, 2, 3]
    assert list(common["canonical_id"]) == [102, 101, 100]

    docs_all = frames[0].unionByName(frames[1]).unionByName(frames[2])
    snap = dedup_state_snapshot(spark, docs_all,
                                str(tmp_path / "upd")).toPandas()
    assert len(snap) == 6
    com = snap[snap["dup_count"] == 3].sort_values("doc_id")
    assert list(com["doc_id"]) == [100, 101, 102]
    assert set(com["canonical_id"]) == {100}
    assert list(com["is_duplicate"]) == [False, True, True]
    assert not snap[snap["dup_count"] == 1]["is_duplicate"].any()


def test_streaming_rollup_watermark_merge_and_drop(spark, tmp_path):
    """Watermark contract, both sides: late events merge into their
    window as long as its state is live (even in the eviction batch
    itself); once the watermark evicts the window it has emitted
    EXACTLY ONCE, and later stragglers are dropped — no duplicate
    emission, no resurrected state."""
    import os
    import time

    from exactextract_spark.pipeline.streaming_events import (
        EVENTS_SCHEMA, rollup_snapshot, stream_windowed_rollup)
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def mk(rows):
        return spark.createDataFrame(
            [(i, ts, 1, "click", 1.0, "{}") for i, ts in rows],
            EVENTS_SCHEMA.replace("ts timestamp", "ts string")
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    files = [
        mk([(1, "2024-01-01 10:00:00"), (2, "2024-01-01 14:00:00")]),
        # watermark still behind Jan 1 -> this straggler merges
        mk([(3, "2024-01-05 12:00:00"), (4, "2024-01-01 16:00:00")]),
        # wm (Jan 3 12:00) now past the day-1 window end: this batch
        # both merges the in-batch straggler and EVICTS day 1
        mk([(5, "2024-01-09 12:00:00"), (6, "2024-01-01 18:00:00")]),
        # day-1 state is gone -> this straggler is DROPPED (no second
        # day-1 emission); day-13 pushes wm past day 9
        mk([(7, "2024-01-13 12:00:00"), (8, "2024-01-01 20:00:00")]),
    ]
    indir = str(tmp_path / "in")
    for k, df in enumerate(files):
        p = os.path.join(indir, f"f{k}.parquet")
        df.coalesce(1).write.parquet(p)
        t = time.time() + k
        for root, _, fs in os.walk(p):
            for fn in fs:
                os.utime(os.path.join(root, fn), (t, t))
    stream_windowed_rollup(spark, indir + "/*", str(tmp_path / "upd"),
                           str(tmp_path / "ck"))
    snap = rollup_snapshot(spark, str(tmp_path / "upd")).toPandas()
    assert len(snap) == len(snap["day"].unique())  # exactly-once per window
    got = {r.day: r.n for r in snap.itertuples()}
    # day 1: ids 1,2,4,6 merged, id 8 dropped after eviction; day 13
    # never finalizes (watermark ends at Jan 11 12:00)
    assert got == {"2024-01-01": 4, "2024-01-05": 1, "2024-01-09": 1}


@pytest.mark.parametrize("seed", [11, 29])
def test_streaming_dedup_split_invariance(spark, tmp_path, seed):
    """Snapshot == batch dedup for an ARBITRARY assignment of docs to
    micro-batches (min/count state merges are order-free): 60 docs over
    17 digests scattered into 3 files by a seeded rng."""
    import os
    import time

    from exactextract_spark.pipeline.streaming_dedup import (
        DOCS_TEXT_SCHEMA, dedup_state_snapshot, stream_dedup_exact)
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    rows = [(i, f"text {i % 17}", "en", "s", 9) for i in range(60)]
    assign = rng.integers(0, 3, size=60)
    indir = str(tmp_path / "in")
    frames = []
    for k in range(3):
        df = spark.createDataFrame(
            [r for r, a in zip(rows, assign) if a == k], DOCS_TEXT_SCHEMA)
        frames.append(df)
        p = os.path.join(indir, f"f{k}.parquet")
        df.coalesce(1).write.parquet(p)
        t = time.time() + k
        for root, _, fs in os.walk(p):
            for fn in fs:
                os.utime(os.path.join(root, fn), (t, t))
    stream_dedup_exact(spark, indir + "/*", str(tmp_path / "upd"),
                       str(tmp_path / "ck"))
    docs_all = spark.createDataFrame(rows, DOCS_TEXT_SCHEMA)
    snap = dedup_state_snapshot(spark, docs_all, str(tmp_path / "upd"))

    d = docs_all.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("text_hash"))
    canon = d.groupBy("text_hash").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("dup_count"))
    batch = d.join(canon, "text_hash").select(
        "doc_id", "text_hash", "canonical_id", "dup_count",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"))
    assert snap.exceptAll(batch).count() == 0
    assert batch.exceptAll(snap).count() == 0


def test_event_sessions_merge_and_boundary(spark, tmp_path):
    """Session semantics: events 1h50m apart chain TRANSITIVELY into
    one session far longer than the gap; a gap of exactly 2h still
    MERGES while 2h + 1s splits (session_window's boundary is
    inclusive — the oracle's island flag is diff > gap); users never
    mix."""
    from exactextract_spark.pipeline.streaming_events import (
        EVENTS_SCHEMA, event_sessions)
    from pyspark.sql import functions as F

    rows = []
    # user 1: 5 events every 110 min -> ONE session spanning ~7.3h
    for i in range(5):
        rows.append((i, f"2024-01-01 {divmod(110 * i, 60)[0]:02d}:"
                        f"{divmod(110 * i, 60)[1]:02d}:00", 1))
    # user 2: exactly 2h apart -> MERGES; then 2h1s -> splits
    rows.append((10, "2024-01-01 00:00:00", 2))
    rows.append((11, "2024-01-01 02:00:00", 2))
    rows.append((12, "2024-01-01 04:00:01", 2))
    df = spark.createDataFrame(
        [(i, ts, u, "click", 1.0, "{}") for i, ts, u in rows],
        EVENTS_SCHEMA.replace("ts timestamp", "ts string")
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(str(tmp_path / "events.parquet"))

    res = event_sessions(spark, str(tmp_path)).toPandas()
    u1 = res[res.user_id == 1]
    u2 = res[res.user_id == 2].sort_values("session_start")
    assert len(u1) == 1 and int(u1.n_events.iloc[0]) == 5
    assert list(u2.n_events) == [2, 1]
    assert list(u2.session_start.str[:19]) == ["2024-01-01 00:00:00",
                                               "2024-01-01 04:00:01"]


def test_pack_documents_contiguous_and_partition_invariant(spark):
    """The distributed prefix sum must be (a) contiguous — each doc
    starts exactly where the previous one ended — and (b) identical
    for ANY range partition count (prefix sum is associative; the
    sampled range boundaries must not leak into the result)."""
    from exactextract_spark.pipeline.packing import pack_documents

    B = 4096
    base = pack_documents(spark, SF_DIR, budget=B, num_partitions=8) \
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    starts = base.shard_id * B + base.shard_offset
    assert starts.iloc[0] == 0
    assert (starts.iloc[1:].values
            == (starts + base.n_chars).iloc[:-1].values).all()
    for nparts in (1, 3, 77, None):   # None = scale-adaptive default
        alt = pack_documents(spark, SF_DIR, budget=B,
                             num_partitions=nparts) \
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        assert base.equals(alt), nparts


def test_contamination_check_planted(spark, tmp_path):
    """A train doc sharing a 3-token phrase with an eval doc is
    flagged; a fully-novel train doc is not.  doc_id 7 is the eval
    split (≡7 mod 23)."""
    from exactextract_spark.pipeline.dedup import contamination_check

    eval_text = "the quick brown fox jumps over lazy dogs"
    leaked = "completely different opening but quick brown fox appears here"
    clean = "nothing in common with held out data at all"
    pd.DataFrame({
        "doc_id": [7, 1, 2],
        "text": [eval_text, leaked, clean],
        "lang": ["en"] * 3, "source": ["s"] * 3,
        "n_chars": [len(eval_text), len(leaked), len(clean)],
    }).to_parquet(tmp_path / "documents.parquet")
    res = contamination_check(spark, str(tmp_path)).toPandas() \
        .set_index("doc_id")
    assert 7 not in res.index           # eval split excluded from output
    assert bool(res.loc[1, "contaminated"]) and res.loc[1, "n_shared"] >= 1
    assert not bool(res.loc[2, "contaminated"]) and res.loc[2, "n_shared"] == 0


def test_shuffle_documents_permutation_invariant(spark):
    """Positions are an exact permutation of 0..N-1, identical for any
    block count, and actually shuffled (not the identity order)."""
    from exactextract_spark.pipeline.packing import shuffle_documents

    base = shuffle_documents(spark, SF_DIR, num_partitions=8) \
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    n = len(base)
    assert sorted(base.position) == list(range(n))
    assert not (base.position.values == np.arange(n)).all()
    for nparts in (1, 3, 256, None):  # None = scale-adaptive default
        alt = shuffle_documents(spark, SF_DIR, num_partitions=nparts) \
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        assert base.equals(alt), nparts


def test_repetition_stats_planted(spark, tmp_path):
    from exactextract_spark.pipeline.text import repetition_stats
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["a a a b", "x y z w", "solo"],
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    r = repetition_stats(spark, str(tmp_path)).toPandas() \
        .set_index("doc_id").sort_index()
    # "a a a b": 4 tokens, 2 duplicate tokens beyond first occurrences,
    # bigrams [a a, a a, a b] -> 1 dup of 3, top token 'a' covers 3/4
    assert r.loc[0, "n_tokens"] == 4
    assert r.loc[0, "dup_token_frac"] == 0.5
    assert r.loc[0, "dup_bigram_frac"] == 1.0 / 3.0
    assert r.loc[0, "top_token"] == "a"
    assert r.loc[0, "top_token_frac"] == 0.75
    # all-distinct doc: zero repetition; top-token tie breaks to the
    # lexicographically smallest token
    assert r.loc[1, "dup_token_frac"] == 0.0
    assert r.loc[1, "dup_bigram_frac"] == 0.0
    assert r.loc[1, "top_token"] == "w"
    # single-token doc: no bigrams -> 0.0, not NULL/NaN
    assert r.loc[2, "dup_bigram_frac"] == 0.0


def test_pii_scrub_planted_and_native(spark, tmp_path):
    from exactextract_spark.pipeline.text import pii_scrub, _PII_MOD, _PII_RES
    native = "write to bob.smith+x@corp.example.org today"
    docs = pd.DataFrame({
        # doc 5 hits the planted residue; doc 1 carries its own email
        "doc_id": [1, 5],
        "text": [native, "clean text"],
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    r = pii_scrub(spark, str(tmp_path)).toPandas().set_index("doc_id")
    assert 5 % _PII_MOD == _PII_RES
    assert bool(r.loc[1, "has_pii"]) and r.loc[1, "n_emails"] == 1
    assert "@" not in r.loc[1, "redacted"]
    assert "<EMAIL>" in r.loc[1, "redacted"]
    assert bool(r.loc[5, "has_pii"])  # planted contact line
    assert r.loc[5, "redacted"].startswith("clean text contact ")
    assert "user5@example.com" not in r.loc[5, "redacted"]


def test_kmeans_assign_planted_clusters(spark, tmp_path):
    """Two clearly-separated groups around opposite poles: iteration 2
    must put every vector with its pole, regardless of the seed draw
    (seeds = vec_id < K, which spans both groups here)."""
    import numpy as np
    from exactextract_spark.pipeline import clustering

    rng = np.random.default_rng(7)
    a = (np.array([10.0, 0, 0, 0]) + rng.normal(0, 0.1, (20, 4))).astype("float32")
    b = (np.array([-10.0, 0, 0, 0]) + rng.normal(0, 0.1, (20, 4))).astype("float32")
    vecs = np.vstack([a, b])
    order = rng.permutation(40)
    docs = pd.DataFrame({
        "vec_id": np.arange(40, dtype="int64"),
        "embedding": [vecs[i].tolist() for i in order],
        "label": np.zeros(40, dtype="int32"),
    })
    docs.to_parquet(tmp_path / "embeddings.parquet")
    r = clustering.kmeans_assign(spark, str(tmp_path)).toPandas()
    truth = (vecs[order][:, 0] > 0)
    by_cluster = pd.Series(truth).groupby(r.sort_values("vec_id")["cluster"].values)
    # every final cluster is pure: all members from one pole
    assert all(g.nunique() == 1 for _, g in by_cluster)
    assert (r["sq_dist"] >= 0).all()


def test_pq_seed_vectors_self_code(spark):
    """Every codebook seed vector must encode to its own id in every
    subspace (its subspace distance to itself is exactly 0)."""
    from exactextract_spark.pipeline.clustering import _pq_encode, K_PQ, M_SUB
    _, _, codes = _pq_encode(spark, SF_DIR)
    r = codes.where(f"vec_id < {K_PQ}").toPandas()
    assert len(r) == K_PQ * M_SUB
    assert (r["code"] == r["vec_id"]).all()


def test_ann_pq_recall_vs_exact(spark):
    """ADC over 4 subspace codes is an approximation; sanity-bound it:
    for each query the PQ top-5 must overlap the exact euclidean top-5
    candidate ranking somewhere in its top-50 (loose, deterministic)."""
    import numpy as np
    res = entry_mod.queries()["ann_pq"](spark, SF_DIR).toPandas()
    g = res.groupby("query_id").size()
    assert (g == 5).all()
    assert (res["adc_dist"] >= 0).all()
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = np.stack(emb.sort_values("vec_id")["embedding"].to_numpy())
    q0 = vecs[0]
    d = ((vecs - q0) ** 2).sum(axis=1)
    d[0] = np.inf
    exact50 = set(np.argsort(d)[:50])
    pq5 = set(res[res.query_id == 0]["neighbor_id"])
    assert pq5 & exact50, "PQ top-5 shares nothing with exact top-50"


def test_bpe_token_count_segmentation(spark, tmp_path):
    """Contractions, digit runs, and punctuation runs must each become
    their own piece; plain space-separated words must match the
    whitespace count exactly."""
    from exactextract_spark.pipeline.text import bpe_token_count, _BPE_MOD, _BPE_RES
    docs = pd.DataFrame({
        # avoid the planted residue so the raw text is what's counted
        "doc_id": [0, 1],
        "text": ["plain words only here",
                 "it's 90s-era v2.0 (beta)!"],
    })
    assert all(i % _BPE_MOD != _BPE_RES for i in docs.doc_id)
    docs.to_parquet(tmp_path / "documents.parquet")
    r = bpe_token_count(spark, str(tmp_path)).toPandas().set_index("doc_id")
    assert r.loc[0, "bpe_tokens"] == r.loc[0, "ws_tokens"] == 4
    # it|'s| 90|s|-|era| v|2|.|0| (|beta|)! -> 13 pieces vs 4 ws tokens
    assert r.loc[1, "ws_tokens"] == 4
    assert r.loc[1, "bpe_tokens"] == 13


def test_length_percentile_filter_exact_threshold(spark, tmp_path):
    """percentile_disc(0.25) semantics: with n=8 docs the threshold is
    the 2nd-smallest length; exactly the shortest quarter is dropped."""
    from exactextract_spark.pipeline.text import length_percentile_filter
    lengths = [10, 20, 30, 40, 50, 60, 70, 80]
    docs = pd.DataFrame({
        "doc_id": range(8),
        "n_chars": lengths,
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    r = length_percentile_filter(spark, str(tmp_path)).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    assert (r["p25"] == 20).all()
    assert list(r["keep"]) == [False, True, True, True, True, True, True, True]


def test_stream_sessions_cross_batch_merge(spark, tmp_path):
    """A session whose events straddle two micro-batches must come out
    as ONE merged session; a still-open session must not be emitted."""
    import numpy as np
    from exactextract_spark.pipeline._stream_util import stagger_mtimes
    from exactextract_spark.pipeline.streaming_events import (
        sessions_snapshot, stream_sessions)

    def ev(eid, ts, uid):
        return {"event_id": eid, "ts": pd.Timestamp(ts), "user_id": uid,
                "event_type": "click", "value": 1.0, "props": ""}

    f1 = pd.DataFrame([ev(1, "2024-01-01 00:00", 1),
                       ev(2, "2024-01-01 01:00", 1)])
    # event 3 extends user 1's open session from the NEXT batch
    # (1h after the last event, within the 2h gap); event 4 pushes the
    # watermark far enough to finalize it, while its own session stays
    # open and must NOT be emitted
    f2 = pd.DataFrame([ev(3, "2024-01-01 02:00", 1),
                       ev(4, "2024-02-01 00:00", 2)])
    indir = tmp_path / "in"
    for k, f in enumerate([f1, f2]):
        p = indir / f"f{k}"
        p.mkdir(parents=True)
        f.assign(ts=f["ts"].astype("datetime64[us]")) \
            .to_parquet(p / "part.parquet")
        stagger_mtimes(str(p), float(k))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream_sessions(spark, str(indir) + "/*", str(tmp_path / "out"),
                    str(tmp_path / "ck"), gap="2 hours", delay="1 hour")
    r = sessions_snapshot(spark, str(tmp_path / "out")).toPandas()
    assert len(r) == 1
    assert r.iloc[0]["user_id"] == 1
    assert r.iloc[0]["n_events"] == 3  # merged across the batch boundary
    assert r.iloc[0]["session_start"].startswith("2024-01-01 00:00:00")


def test_chunk_documents_covers_every_token(spark, tmp_path):
    from exactextract_spark.pipeline.text import (
        CHUNK_OVERLAP, CHUNK_STRIDE, CHUNK_WINDOW, chunk_documents)
    base = str(tmp_path)
    rows = [(0, " ".join(f"t{i}" for i in range(99))),   # 4 chunks
            (1, " ".join(f"t{i}" for i in range(32))),   # exactly one window
            (2, " ".join(f"t{i}" for i in range(33))),   # one token over
            (3, "solo"),                                  # short doc
            (4, "")]                                      # empty text
    spark.createDataFrame(rows, ["doc_id", "text"]) \
        .write.mode("overwrite").parquet(base + "/documents.parquet")
    out = chunk_documents(spark, base).orderBy("doc_id", "chunk_id").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # every consecutive pair overlaps by exactly CHUNK_OVERLAP (except a
    # shortened last chunk), chunks start at stride multiples, and the
    # last chunk ends at the token count
    for doc_id, text in rows:
        n_tok = len(text.split()) if text.strip() else 1  # '' -> ['']
        chunks = by_doc[doc_id]
        assert chunks[0].tok_start == 0
        assert chunks[-1].tok_end == n_tok
        for i, c in enumerate(chunks):
            assert c.tok_start == i * CHUNK_STRIDE
            assert c.tok_end <= c.tok_start + CHUNK_WINDOW
            assert len(c.chunk_text.split()) == c.tok_end - c.tok_start \
                or text == ""
        # no chunk starts at/after the end (no empty windows)
        assert all(c.tok_start < n_tok for c in chunks)
    assert len(by_doc[0]) == 4 and len(by_doc[1]) == 1
    assert len(by_doc[2]) == 2 and len(by_doc[3]) == 1
    # token 32 of doc 2 is covered by chunk 1 ([24, 33))
    assert by_doc[2][1].tok_start == 24 and by_doc[2][1].tok_end == 33


def test_bigram_coverage_plan_and_semantics(spark, tmp_path):
    """Top-k reference table must plan as TakeOrderedAndProject (partial
    per-partition top-k, no single-partition global sort), and coverage
    is the exact fraction of bigram OCCURRENCES hitting the top table."""
    from exactextract_spark.pipeline.text import bigram_coverage
    base = str(tmp_path)
    # 'a b' appears 3x corpus-wide (top), 'z q' once (beaten by k=1? no:
    # k=1 keeps the (count desc, bg asc) winner 'a b')
    rows = [(0, "a b a b"), (1, "a b z q"), (2, "solo")]
    spark.createDataFrame(rows, ["doc_id", "text"]) \
        .write.mode("overwrite").parquet(base + "/documents.parquet")
    df = bigram_coverage(spark, base, k=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort anywhere
    out = {r.doc_id: r for r in df.collect()}
    # doc 0 bigrams: 'a b','b a','a b' -> 2/3 hit the top-1 table
    assert out[0].n_bigrams == 3 and out[0].n_common == 2
    assert abs(out[0].coverage - 2 / 3) < 1e-15
    # doc 1: 'a b','b z','z q' -> 1/3
    assert out[1].n_bigrams == 3 and out[1].n_common == 1
    # single-token doc: 0 bigrams, coverage 0.0 (not NULL)
    assert out[2].n_bigrams == 0 and out[2].coverage == 0.0


def test_asof_join_semantics(spark):
    """Inclusive boundary (build at exactly probe ts matches), latest
    prior wins, no-prior probes survive NULL-filled, keys isolated."""
    from datetime import datetime as DT

    from exactextract_spark.pipeline.events_join import asof_join
    probe = spark.createDataFrame(
        [(1, DT(2024, 1, 1, 12, 0, 0), 100),   # equal-ts build row -> match
         (1, DT(2024, 1, 1, 11, 59, 59), 101),  # just before it -> earlier
         (1, DT(2024, 1, 1, 0, 0, 0), 102),    # before any build -> NULL
         (2, DT(2024, 1, 2, 0, 0, 0), 103)],   # other key: own build only
        "user_id long, ts timestamp, event_id long")
    build = spark.createDataFrame(
        [(1, DT(2024, 1, 1, 6, 0, 0), 10),
         (1, DT(2024, 1, 1, 12, 0, 0), 11),
         (2, DT(2024, 1, 1, 6, 0, 0), 20)],
        "user_id long, ts timestamp, b_id long")
    out = {r.event_id: r for r in asof_join(probe, build, "user_id").collect()}
    assert out[100].b_id == 11 and out[100].ts_matched == DT(2024, 1, 1, 12)
    assert out[101].b_id == 10
    assert out[102].b_id is None and out[102].ts_matched is None
    assert out[103].b_id == 20


def test_range_join_boundaries_and_bruteforce(spark):
    """Window edges: (t-W, t] — equal-ts build included, exactly t-W
    excluded; bucket-boundary crossing found; plus a seeded brute-force
    differential on 300 random events."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from exactextract_spark.pipeline.events_join import range_join_agg
    H = 3_600_000_000  # 1h in us
    base = pd.Timestamp("2024-01-01 05:00:00")
    probe_pd = pd.DataFrame({"user_id": [1], "ts": [base], "event_id": [0]})
    # buckets are hour-aligned; base sits exactly on one
    build_pd = pd.DataFrame({
        "user_id": [1, 1, 1, 1],
        "ts": [base,                                   # == t: in
               base - pd.Timedelta(hours=1),           # == t-W: OUT (strict)
               base - pd.Timedelta(minutes=59),        # prev bucket: in
               base - pd.Timedelta(minutes=61)],       # outside: out
        "v": [1, 10, 100, 1000]})
    out = range_join_agg(
        spark.createDataFrame(probe_pd), spark.createDataFrame(build_pd),
        key="user_id", window_us=H,
        aggs=[F.count("*").alias("n"), F.sum("v").alias("sv")]).collect()
    assert len(out) == 1 and out[0].n == 2 and out[0].sv == 101

    rng = np.random.default_rng(7)
    n = 300
    ev = pd.DataFrame({
        "user_id": rng.integers(0, 5, n),
        "ts": pd.Timestamp("2024-01-01")
              + pd.to_timedelta(rng.integers(0, 86_400 * 3, n), unit="s"),
        "event_id": np.arange(n)})
    builds = ev.iloc[: n // 2][["user_id", "ts"]].assign(v=1)
    probes = ev.iloc[n // 2:][["user_id", "ts", "event_id"]]
    got = {r.event_id: (r.n or 0) for r in range_join_agg(
        spark.createDataFrame(probes), spark.createDataFrame(builds),
        key="user_id", window_us=H,
        aggs=[F.count("*").alias("n")]).collect()}
    for _, p in probes.iterrows():
        m = builds[(builds.user_id == p.user_id)
                   & (builds.ts > p.ts - pd.Timedelta(hours=1))
                   & (builds.ts <= p.ts)]
        assert got[p.event_id] == len(m), p.event_id


def test_line_dedup_canonical_first_occurrence(spark, tmp_path):
    """A line shared by two docs keeps only its first (doc, idx)
    occurrence; planted boilerplate collapses to one canonical copy;
    unique lines all survive."""
    from exactextract_spark.pipeline.dedup import (LINE_BOILER, LINE_TOKENS,
                                                   line_dedup)
    shared = " ".join(f"s{i}" for i in range(LINE_TOKENS))
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(LINE_TOKENS))
    rows = [
        (0, uniq("a") + " " + shared),   # lines: a..., shared
        (1, uniq("b")),
        (2, shared + " " + uniq("c")),   # shared again (later doc)
        (4, uniq("d")),                  # 4 % 19 == 4 -> boilerplate planted
        (23, uniq("e")),                 # 23 % 19 == 4 -> boilerplate again
    ]
    pd.DataFrame({"doc_id": [r[0] for r in rows],
                  "text": [r[1] for r in rows]}) \
        .to_parquet(tmp_path / "documents.parquet")
    res = line_dedup(spark, str(tmp_path)).toPandas()
    by = {(r.doc_id, r.line_idx): r for r in res.itertuples()}
    # doc 0 line 1 == doc 2 line 0: first occurrence (0,1) kept
    assert by[(0, 1)].keep and by[(0, 1)].n_occ == 2
    assert not by[(2, 0)].keep
    # boilerplate: planted at line_idx 1 of docs 4 and 23 -> doc 4 wins
    assert by[(4, 1)].keep and by[(4, 1)].n_occ == 2
    assert not by[(23, 1)].keep
    # all unique lines keep
    for key in [(0, 0), (1, 0), (2, 1), (4, 0), (23, 0)]:
        assert by[key].keep and by[key].n_occ == 1


def test_semdedup_planted_and_boundary_miss(spark):
    """Planted near-dup copies are dropped (their original kept) —
    except pairs the cluster assignment splits across clusters, which
    is SemDeDup's documented recall limitation, not a bug: verify any
    surviving copy really is in a different cluster than its original."""
    from exactextract_spark.pipeline.clustering import semdedup
    from exactextract_spark.pipeline.similarity import PLANT_OFFSET
    res = semdedup(spark, SF_DIR).toPandas().set_index("vec_id")
    planted = res[res.index >= PLANT_OFFSET]
    assert len(planted) > 0
    # originals all survive
    for pid in planted.index:
        assert res.loc[pid - PLANT_OFFSET, "keep"]
    # majority of copies are caught; every survivor is a boundary miss
    dropped = (~planted.keep).sum()
    assert dropped >= len(planted) / 2, (dropped, len(planted))
    for pid in planted[planted.keep].index:
        assert (res.loc[pid, "cluster"]
                != res.loc[pid - PLANT_OFFSET, "cluster"]), pid


def test_event_value_quantiles_disc_semantics(spark, tmp_path):
    """percentile_disc boundaries: with n=4 distinct values the P50 is
    the 2nd (ceil(4*0.5)=2) and P95 the 4th (ceil(4*0.95)=4); duplicate
    values weight the cumulative count."""
    import datetime as dt
    rows = [(i, dt.datetime(2024, 1, 1, i), 1, "click", v, "{}")
            for i, v in enumerate([10.0, 20.0, 30.0, 40.0])]
    # a second type where a duplicated low value drags P50 down:
    # values [1,1,1,9] -> cum(1)=3 >= ceil(4*.5)=2 -> P50=1; P95=9
    rows += [(10 + i, dt.datetime(2024, 1, 2, i), 2, "view", v, "{}")
             for i, v in enumerate([1.0, 1.0, 1.0, 9.0])]
    from exactextract_spark.pipeline.streaming_events import (
        event_value_quantiles)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string") \
        .write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r.event_type: r for r in
           event_value_quantiles(spark, str(tmp_path)).collect()}
    assert out["click"].p50 == 20.0 and out["click"].p95 == 40.0
    assert out["view"].p50 == 1.0 and out["view"].p95 == 9.0


def test_ann_ivf_pq_prunes_to_probed_cells(spark):
    """Every IVFPQ neighbor must live in one of its query's probed
    cells (the posting-list restriction actually prunes), and within
    the probed subset the ranking must agree with full-corpus ADC."""
    from pyspark.sql import functions as F

    from exactextract_spark.pipeline.clustering import (
        K, N_QUERIES_PQ, ann_ivf_pq, ann_pq, _assign, _emb_q)
    e = _emb_q(spark, SF_DIR)
    init = e.where(F.col("vec_id") < K).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("x").alias("c"))
    cells = {r.vec_id: r.cid for r in _assign(e, init).collect()}
    res = ann_ivf_pq(spark, SF_DIR).toPandas()
    assert set(res.groupby("query_id").size()) == {5}
    probed = {q: set() for q in range(N_QUERIES_PQ)}
    for _, r in res.iterrows():
        probed[r.query_id].add(cells[r.neighbor_id])
    # <= nprobe distinct cells appear among any query's results
    assert all(len(s) <= 2 for s in probed.values())
    # agreement with full-corpus ADC on the probed subset: any full-PQ
    # neighbor that IVFPQ skipped must sit in an unprobed cell
    full = ann_pq(spark, SF_DIR).toPandas()
    got = {(r.query_id, r.neighbor_id) for _, r in res.iterrows()}
    for _, r in full.iterrows():
        if (r.query_id, r.neighbor_id) not in got:
            q_cells = {cells[n] for (qq, n) in got if qq == r.query_id}
            assert cells[r.neighbor_id] not in q_cells or r.rank > 5


def test_asof_join_matches_pandas_merge_asof(spark):
    """Third independent implementation: 400 random probe/build rows
    per seed, compared against pandas.merge_asof (backward, inclusive)
    — the same semantics DuckDB's ASOF JOIN oracles at the driver."""
    rng = np.random.default_rng(11)
    n = 400
    probe = pd.DataFrame({
        "user_id": rng.integers(0, 6, n),
        "ts": pd.Timestamp("2024-01-01")
              + pd.to_timedelta(rng.integers(0, 86_400 * 5, n), unit="s"),
        "event_id": np.arange(n)})
    build = pd.DataFrame({
        "user_id": rng.integers(0, 6, n // 2),
        "ts": pd.Timestamp("2024-01-01")
              + pd.to_timedelta(rng.integers(0, 86_400 * 5, n // 2), unit="s"),
        "b_val": np.arange(n // 2) * 10})
    # asof_join requires build unique per (key, ts)
    build = build.drop_duplicates(["user_id", "ts"], keep="last")

    from exactextract_spark.pipeline.events_join import asof_join
    got = asof_join(spark.createDataFrame(probe),
                    spark.createDataFrame(build), "user_id") \
        .toPandas().sort_values("event_id").reset_index(drop=True)
    exp = pd.merge_asof(
        probe.sort_values("ts"), build.sort_values("ts"),
        on="ts", by="user_id", direction="backward") \
        .sort_values("event_id").reset_index(drop=True)
    assert len(got) == n
    g = got["b_val"]
    e = exp["b_val"]
    assert ((g == e) | (g.isna() & e.isna())).all()


def test_minhash_arrow_differential(spark, tmp_path):
    """The Arrow minhash/shingle/simhash kernels are bit-equal to the
    SQL expression path (tests/dedup_reference.py), including edge
    documents: empty text, 1-2 tokens (Horner fold), unicode tokens
    (per-token fallback), and NULL text."""
    import dedup_reference as R

    from exactextract_spark.pipeline import dedup as D

    pd.DataFrame({
        "doc_id": [0, 1, 2, 3, 4, 5],
        "text": ["", "one", "two toks",
                 "héllo wörld ünïcode xx yy", "a b c d e", None],
        "lang": ["en"] * 6, "source": ["s"] * 6,
        "n_chars": [0, 3, 8, 24, 9, 0],
    }).to_parquet(tmp_path / "documents.parquet")

    def _sim60(spark_, src_):
        return D._simhash_table(spark_, src_, 60, True, "sim")

    for fn, ref in ((D.minhash_signature, R.minhash_signature),
                    (D._distinct_shingles, R.distinct_shingles),
                    (D.simhash, R.simhash), (_sim60, R.sim60)):
        for src in (SF_DIR, str(tmp_path)):
            a = fn(spark, src).toPandas() \
                .sort_values("doc_id").reset_index(drop=True)
            b = ref(spark, src).toPandas() \
                .sort_values("doc_id").reset_index(drop=True)
            assert list(a.columns) == list(b.columns)
            if "sh" in a.columns:
                # sorted-distinct vs first-occurrence order: compare as
                # sets; a NULL element (null-text doc -> [NULL]) maps to
                # the sentinel -1 (codes are non-negative)
                def norm(arr):
                    return sorted(-1 if pd.isna(v) else int(v) for v in arr)
                for x, y in zip(a["sh"], b["sh"]):
                    assert norm(x) == norm(y), (x, y)
            else:
                assert a.equals(b), (fn.__name__, src)


def test_verified_pairs_fused_differential(spark, tmp_path):
    """minhash_verified_pairs' fused one-pass Arrow kernel is bit-equal
    to the pure SQL composition (tests/dedup_reference.py) — pair set
    AND jaccard values — on the sf fixture and on a corpus with exact
    duplicates, near-duplicates, short and NULL docs."""
    import dedup_reference as R

    from exactextract_spark.pipeline import dedup as D

    pd.DataFrame({
        "doc_id": [0, 1, 2, 3, 4, 5, 6],
        "text": ["a b c d e f g h", "a b c d e f g h",     # exact dup
                 "a b c d e f g X", "one", None,           # near dup
                 "", "a b c d e f g h"],                   # triple dup
        "lang": ["en"] * 7, "source": ["s"] * 7,
        "n_chars": [15, 15, 15, 3, 0, 0, 15],
    }).to_parquet(tmp_path / "documents.parquet")

    for src in (SF_DIR, str(tmp_path)):
        a = D.minhash_verified_pairs(spark, src).toPandas() \
            .sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
        b = R.minhash_verified_pairs(spark, src).toPandas() \
            .sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
        assert len(a) > 0 or src == SF_DIR, "edge corpus must pair up"
        assert a.equals(b), (src, a, b)


def test_default_blocks_without_spark_context():
    """Spark Connect sessions have no SparkContext: the block count
    falls back to spark.sql.shuffle.partitions."""
    from exactextract_spark.pipeline.packing import default_blocks

    class _Conf:
        def get(self, key):
            assert key == "spark.sql.shuffle.partitions"
            return "6"

    class _ConnectSession:
        conf = _Conf()

        @property
        def sparkContext(self):
            raise NotImplementedError("sparkContext() is not supported in Spark Connect")

    assert default_blocks(_ConnectSession()) == 24
    assert default_blocks(_ConnectSession(), cap=16) == 16
