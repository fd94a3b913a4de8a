#!/usr/bin/env python3
"""Closed-loop benchmark of exactextract_spark: one client, one query in
flight, on a local[<host cores>] Spark session.

    python3 perfbench/run.py --workload zonal_many --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  The benchmark generates every input
from --seed, starts the session, ingests the inputs, runs an untimed
warm-up, then times samples for --seconds.  --trace 0 reports the
end-to-end metrics; --trace 1 runs the layer probes instead and reports
per-layer self times and counts.  The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}.  See README.md."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
# ingest repetitions per run; setup_s reports session start plus their median
INGEST_REPS = 3
MIN_SAMPLES = 3
MIN_CYCLES = 2

END_TO_END = {"query_s.p50": "s", "records_per_s": "1/s", "work_per_s": "1/s",
              "setup_s": "s"}
PER_LAYER = {
    "prep.s": "s", "scan.s": "s", "boundary.pandas_s": "s", "boundary.arrow_s": "s",
    "kernel.s": "s", "kernel.us_per_pair": "us", "kernel.ns_per_cell": "ns",
    "agg.s": "s", "signature.s": "s", "pairs.s": "s", "verify.s": "s",
    "layers.sum_s": "s", "traced.query_s": "s",
    "cpu.jvm_s": "s", "cpu.python_s": "s", "core_util": "ratio",
    "zones": "count", "tiles": "count", "pairs": "count", "cells": "count",
    "partials": "count", "payload_mb": "MB", "out_rows": "count", "docs": "count",
    "candidates": "count", "verified": "count",
    "partials_per_pair": "ratio", "verified_per_candidate": "ratio", "peak_rss_mb": "MB"}


def configure_env(cores: int) -> dict:
    """Size the session to the host through get_spark's environment
    variables and keep every file Spark writes inside WORK."""
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    conf = {"SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEM": f"{min(4096, mem_mb // 3)}m"}
    tmp, local = os.path.join(WORK, "tmp"), os.path.join(WORK, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(conf)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": local, "SPARK_LAUNCHER_OPTS": java_opts,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--driver-java-options '{java_opts}'",
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false", "pyspark-shell"])})
    return conf


def clear_work() -> None:
    """Remove everything a run leaves in WORK except the result files."""
    if os.path.isdir(WORK):
        for d in os.listdir(WORK):
            if d != "results":
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


def stop_session(spark) -> None:
    """Stop the session, end the JVM gateway and reap it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def measure(wl, seconds: float, trace: bool, spark, rdds0: int):
    """Run samples (or trace cycles) until the next one would overrun
    `seconds`, with at least MIN_SAMPLES (MIN_CYCLES when tracing).
    A sample whose result fails a check still did the full work, so
    its time counts; a sample that raised has no time.  Returns
    (times, per-cycle records, errors, attempted, tracer)."""
    import workloads

    tracer = workloads.Tracer()
    times, records, errors = [], [], []
    t_start = time.perf_counter()
    i, last = 0, 0.0
    while i < (MIN_CYCLES if trace else MIN_SAMPLES) or \
            time.perf_counter() - t_start + last <= seconds:
        t0 = time.perf_counter()
        dt = None
        try:
            with tracer.span("cycle" if trace else "sample", i):
                with tracer.span("query", i):
                    (dt, err), jvm, py = workloads.cpu_during(wl.sample)
                if trace:
                    rec = wl.trace_cycle(tracer, i)
                    err = err or rec.pop("error", None)
                    rec.update({"traced.query_s": dt, "cpu.jvm_s": jvm, "cpu.python_s": py,
                                "core_util": (jvm + py) / (dt * int(os.environ["SPARK_GRAFT_CPUS"])),
                                "out_rows": wl.last["rows"]})
                    records.append(rec)
        except Exception as e:  # a failed sample is counted, not fatal
            import traceback
            traceback.print_exc()
            err = f"{type(e).__name__}: {e}"
        if dt is not None:
            times.append(dt)
        n = workloads.persistent_rdds(spark)
        if err is None and n != rdds0:
            err = f"persisted RDDs after sample: {n}, after setup: {rdds0}"
        if err is not None:
            errors.append(f"sample {i}: {err}")
            print(f"perfbench: sample {i} failed: {err}", file=sys.stderr)
        last = time.perf_counter() - t0
        i += 1
    return times, records, errors, i, tracer


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "exactextract_spark", "__init__.py")):
        print("perfbench: run from the root of an exactextract_spark checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import procstat
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    clear_work()
    host = procstat.host_info()
    conf = configure_env(host["cores"])
    steal0 = procstat.steal_ticks()
    wl = workloads.build(args.workload, args.seed, WORK)

    with procstat.TreeSampler() as sampler:
        t0 = time.perf_counter()
        from exactextract_spark.session import get_spark
        spark = get_spark(app=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        try:
            ingest_s, handle = [], None
            for _ in range(INGEST_REPS):
                if handle is not None:
                    wl.release(handle)
                t0 = time.perf_counter()
                handle = wl.ingest(spark)
                ingest_s.append(time.perf_counter() - t0)
            wl.setup(spark, handle)
            rdds0 = workloads.persistent_rdds(spark)
            warm_s, warm_err = wl.sample()  # untimed: the first call runs cold
            times, records, errors, attempted, tracer = measure(
                wl, args.seconds, bool(args.trace), spark, rdds0)
            attempted += 1
            if warm_err:
                errors.insert(0, f"warm-up: {warm_err}")
        finally:
            stop_session(spark)
        leftover = procstat.wait_gone(sampler.pids)
    if leftover:
        errors.append(f"processes still running after shutdown: {leftover}")

    failed = len(errors)
    setup_s = session_s + statistics.median(ingest_s)
    prov = dict(host, loadavg_end=list(os.getloadavg()),
                steal_ticks=procstat.steal_ticks() - steal0, spark_env=conf,
                workload=args.workload, seed=args.seed, seconds=args.seconds,
                trace=args.trace, samples=len(times), warmup_s=warm_s,
                session_s=session_s, ingest_s=ingest_s, errors=errors)
    metrics = {}
    if times and (records or not args.trace):
        q = statistics.median(times)
        if args.trace:
            values = dict(workloads.median_of(records), peak_rss_mb=sampler.peak_rss / 2 ** 20)
            units = PER_LAYER
        else:
            values = {"query_s.p50": q, "records_per_s": wl.records / q,
                      "work_per_s": wl.work / q, "setup_s": setup_s}
            units = END_TO_END
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out_file = os.path.join(WORK, "results",
                            f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_file, "w") as f:
        json.dump({"provenance": prov, "sample_s": times, "records": records,
                   "spans": tracer.spans, "metrics": metrics}, f, indent=1)
    clear_work()

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(times)} timed samples after an untimed warm-up, errors {failed}/{attempted}; "
          f"cores={host['cores']} mem={host['mem_total_mb']}MB "
          f"load={prov['loadavg']} steal_ticks={prov['steal_ticks']} "
          f"SPARK_DRIVER_MEM={conf['SPARK_DRIVER_MEM']}; details in {out_file}")
    for k, m in sorted(metrics.items()):
        print(f"  {k:24s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and bool(times), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
