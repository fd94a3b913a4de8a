"""The benchmark's workloads: what one timed sample does, how it is
checked, and the traced layer probes.

A sample calls the package's public entry points from outside and
materializes the result through a ``noop`` write.  Each sample leaves
the session's cache as setup left it: a zonal sample closes its
ZonalExtractor, a dedup sample calls ``pipeline.release_staged()``."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

from pyspark.sql import Observation, functions as F

import inputs
import procstat

ZONAL_OPS = ["count", "sum", "mean", "min", "max"]
# zones whose count/sum/min/max are compared with the in-process
# reference on every sample (spread over the zone list)
N_REF_ZONES = 8
MANY_ZONES = 20_000


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _id_fingerprint(col):
    return F.sum(F.pmod(F.xxhash64(col), F.lit(2 ** 31 - 1)))


class Tracer:
    """Spans (name, start, end, parent, sample) kept in memory; the
    caller writes ``spans`` out when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, sample: int):
        """Yields the span record; its "s" (duration) is set on exit."""
        rec = {"name": name, "sample": sample,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            self._stack.pop()


class Zonal:
    """Zonal statistics over the 4096² raster: a fresh ZonalExtractor
    per sample, ops count,sum,mean,min,max."""

    def __init__(self, ids, wkts, bbox):
        self.ids, self.wkts = ids, wkts
        self.pairs_expected, self.cells = inputs.window_counts(bbox)
        step = max(1, len(ids) // N_REF_ZONES)
        self.ref_ids = ids[::step][:N_REF_ZONES]
        self.refs = {z: inputs.zonal_reference(wkts[ids.index(z)]) for z in self.ref_ids}
        self.records, self.work = len(ids), self.cells

    def ingest(self, spark):
        """Tile table persisted and materialized; zone table handed over."""
        from exactextract_spark import io as eio

        import pandas as pd

        tiles = eio.tiles_from_docs(inputs.raster_docs(spark), "r0", inputs.RASTER_META) \
            .repartition(spark.sparkContext.defaultParallelism).persist()
        tiles.count()
        zones = spark.createDataFrame(pd.DataFrame({"zone_id": self.ids, "geometry": self.wkts}))
        return tiles, zones

    def release(self, handle):
        handle[0].unpersist(blocking=True)

    def setup(self, spark, handle):
        self.spark, (self.tiles, self.zones) = spark, handle
        self.id_sum = self.zones.select(_id_fingerprint("zone_id")).first()[0]

    def _observed(self, df):
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                        _id_fingerprint("zone_id").alias("ids"),
                        F.collect_list(F.when(F.col("zone_id").isin(self.ref_ids), F.struct(
                            "zone_id", "count", "sum", "min", "max"))).alias("refs"))
        return df, obs

    def _check(self, m) -> str | None:
        if m["rows"] != len(self.ids) or m["ids"] != self.id_sum:
            return f"expected one row per zone ({len(self.ids)}), got {m['rows']} rows"
        got = {r["zone_id"]: r.asDict() for r in m["refs"]}
        if sorted(got) != sorted(self.ref_ids):
            return f"reference zones missing from output: {sorted(set(self.ref_ids) - set(got))}"
        for z in self.ref_ids:
            err = inputs.check_zone(got[z], self.refs[z])
            if err:
                return err
        return None

    def sample(self):
        """(seconds, error or None): call to noop-materialized result."""
        from exactextract_spark import ZonalExtractor

        t0 = time.perf_counter()
        ext = ZonalExtractor(self.zones, self.tiles, grid=inputs.GRID)
        try:
            df, obs = self._observed(ext.extract(ZONAL_OPS))
            noop(df)
            dt = time.perf_counter() - t0
        finally:
            ext.close()
        self.last = obs.get
        return dt, self._check(self.last)

    def trace_cycle(self, tracer: Tracer, i: int) -> dict:
        """One pass over the layer probes; returns layer self times and
        counts.  Each probe is its own job on the same prepared join."""
        from exactextract_spark import ZonalExtractor
        from exactextract_spark.extract import aggregate_partials, run_kernel
        from exactextract_spark.ops import group_ops_by_key, parse_ops

        out = {}
        with tracer.span("prep", i) as prep:
            ext = ZonalExtractor(self.zones, self.tiles, grid=inputs.GRID)
            # the zone-list table (zone_tile_pairs grouped per tile) is
            # persisted lazily; materialize it so prep covers it.  It is
            # a private attribute, so a build without it is skipped.
            zone_lists = getattr(ext, "_pairs_agg", None)
            if zone_lists is not None:
                zone_lists.count()
        try:
            joined = ext.joined
            obs = Observation()
            scanned = joined.observe(
                obs, F.count(F.lit(1)).alias("tiles"),
                F.sum(F.length("values")).alias("payload"),
                (F.sum(F.size("zone_ids")) if "zone_ids" in joined.columns
                 else F.lit(None)).alias("pairs"))
            with tracer.span("scan", i) as scan:
                noop(scanned)
            with tracer.span("boundary.pandas", i) as bpd:
                noop(joined.mapInPandas(lambda it: it, joined.schema))
            with tracer.span("boundary.arrow", i) as bar:
                noop(joined.mapInArrow(lambda it: it, joined.schema))
            keygroups = group_ops_by_key(parse_ops(ZONAL_OPS))
            with tracer.span("kernel", i) as kern:
                partials = run_kernel(joined, keygroups, geom_lookup=ext.geom_lookup,
                                      has_weights=False).persist()
                out["partials"] = partials.count()
            try:
                with tracer.span("agg", i) as agg:
                    noop(aggregate_partials(ext.zones_b, partials, keygroups,
                                            int_values=ext.int_values))
            finally:
                partials.unpersist()
        finally:
            ext.close()
        m = obs.get
        pairs = m["pairs"] if m["pairs"] is not None else self.pairs_expected
        kernel_s = kern["s"] - bpd["s"]
        out.update({
            "prep.s": prep["s"], "scan.s": scan["s"],
            "boundary.pandas_s": bpd["s"] - scan["s"],
            "boundary.arrow_s": bar["s"] - scan["s"],
            "kernel.s": kernel_s, "agg.s": agg["s"],
            "kernel.us_per_pair": kernel_s / pairs * 1e6,
            "kernel.ns_per_cell": kernel_s / self.cells * 1e9,
            "zones": len(self.ids), "tiles": m["tiles"], "pairs": pairs,
            "cells": self.cells, "payload_mb": m["payload"] / 1e6,
            "partials_per_pair": out["partials"] / pairs,
        })
        out["layers.sum_s"] = (out["prep.s"] + scan["s"] + out["boundary.pandas_s"]
                               + kernel_s + agg["s"])
        if pairs != self.pairs_expected:
            out["error"] = f"zone-tile pairs {pairs}, bbox arithmetic gives {self.pairs_expected}"
        return out


class Dedup:
    """MinHash near-duplicate pairs over 300k synthetic documents."""

    def __init__(self, seed: int, work_dir: str):
        self.docs_dir = os.path.join(work_dir, "dedup")
        self.table = inputs.dedup_docs(seed)
        self.records = inputs.DEDUP_DOCS
        self.work = inputs.DEDUP_DOCS * inputs.DEDUP_TOKENS
        self.fingerprint = None

    def ingest(self, spark):
        """The document table handed over as parquet files (the
        pipeline reads them itself)."""
        shutil.rmtree(self.docs_dir, ignore_errors=True)
        inputs.write_docs(self.table, self.docs_dir, inputs.DEDUP_FILES)

    def release(self, handle):
        pass

    def setup(self, spark, handle):
        self.spark = spark
        self.ref = inputs.dedup_reference(self.docs_dir)

    def _observed(self, df):
        lim = inputs.DEDUP_ORACLE_DOCS
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                        _id_fingerprint(F.concat_ws(",", "doc_a", "doc_b")).alias("ids"),
                        F.collect_list(F.when((F.col("doc_a") < lim) & (F.col("doc_b") < lim),
                                              F.struct("doc_a", "doc_b", "jaccard"))).alias("sub"))
        return df, obs

    def _check(self, m) -> str | None:
        got = {(int(r["doc_a"]), int(r["doc_b"]), round(float(r["jaccard"]), 12))
               for r in m["sub"]}
        if got != self.ref:
            return (f"pairs among doc_id < {inputs.DEDUP_ORACLE_DOCS} differ from the DuckDB"
                    f" oracle: {len(got - self.ref)} extra, {len(self.ref - got)} missing")
        fp = (m["rows"], m["ids"])
        if self.fingerprint is None:
            self.fingerprint = fp
        elif fp != self.fingerprint:
            return f"pair set changed between samples: {fp} vs {self.fingerprint}"
        return None

    def sample(self):
        from exactextract_spark.pipeline import release_staged
        from exactextract_spark.pipeline.dedup import minhash_verified_pairs

        t0 = time.perf_counter()
        try:
            df, obs = self._observed(minhash_verified_pairs(self.spark, self.docs_dir))
            noop(df)
            dt = time.perf_counter() - t0
        finally:
            release_staged()
        self.last = obs.get
        return dt, self._check(self.last)

    def trace_cycle(self, tracer: Tracer, i: int) -> dict:
        from exactextract_spark.pipeline import release_staged
        from exactextract_spark.pipeline.dedup import (minhash_pairs, minhash_signature,
                                                       minhash_verified_pairs)

        spark, d = self.spark, self.docs_dir
        try:
            with tracer.span("signature", i) as sig:
                noop(minhash_signature(spark, d))
            cand = Observation()
            with tracer.span("pairs", i) as pairs:
                noop(minhash_pairs(spark, d).observe(cand, F.count(F.lit(1)).alias("n")))
            release_staged()
            ver = Observation()
            with tracer.span("verify", i) as verify:
                noop(minhash_verified_pairs(spark, d).observe(ver, F.count(F.lit(1)).alias("n")))
        finally:
            release_staged()
        n_cand, n_ver = cand.get["n"], ver.get["n"]
        out = {"signature.s": sig["s"], "pairs.s": pairs["s"] - sig["s"],
               "verify.s": verify["s"] - pairs["s"],
               "docs": inputs.DEDUP_DOCS, "candidates": n_cand, "verified": n_ver,
               "verified_per_candidate": n_ver / n_cand}
        out["layers.sum_s"] = verify["s"]
        return out


def build(name: str, seed: int, work_dir: str):
    """The workload object for a workload name (inputs generated here)."""
    if name == "zonal_many":
        return Zonal(*inputs.many_zones(seed, MANY_ZONES))
    if name == "dedup_minhash":
        return Dedup(seed, work_dir)
    raise KeyError(name)


WORKLOADS = ("zonal_many", "dedup_minhash")


def cpu_during(fn):
    """(result of fn, cpu.jvm_s, cpu.python_s) over the process tree."""
    j0, p0 = procstat.cpu_split(procstat.tree())
    res = fn()
    j1, p1 = procstat.cpu_split(procstat.tree())
    return res, j1 - j0, p1 - p0


def median_of(dicts: list[dict]) -> dict:
    keys = {k for d in dicts for k, v in d.items() if isinstance(v, (int, float))}
    return {k: statistics.median(d[k] for d in dicts if k in d) for k in keys}
