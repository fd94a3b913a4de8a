"""SparkSession builder with scale-appropriate defaults, plus a
progress helper (the reference's progress callback analog,
processor.h:124-136 / exact_extract.py:465-491)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def job_progress(spark: SparkSession) -> dict:
    """Snapshot of active-job progress: {job_id: (completed, total)}.
    Poll from a monitoring thread while an action runs."""
    st = spark.sparkContext.statusTracker()
    out = {}
    for jid in st.getActiveJobsIds():
        info = st.getJobInfo(jid)
        if info is None:
            continue
        done = total = 0
        for sid in info.stageIds:
            s = st.getStageInfo(sid)
            if s is not None:
                done += s.numCompletedTasks
                total += s.numTasks
        out[jid] = (done, total)
    return out


def default_parallelism(spark: SparkSession) -> int:
    """The session's default parallelism.  Spark Connect sessions have
    no SparkContext; their parallelism is read from
    ``spark.sql.shuffle.partitions`` instead."""
    try:
        return spark.sparkContext.defaultParallelism
    except (NotImplementedError, AttributeError):
        return int(spark.conf.get("spark.sql.shuffle.partitions"))


def host_defaults() -> tuple[int, str]:
    """(cores, driver memory) for a local session sized to this host:
    the cores this process may run on and min(16g, physical RAM / 3),
    so the local-mode JVM (driver + executors in one heap) leaves room
    for the Python workers.  SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM
    override each."""
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    if not cores:
        try:
            cores = len(os.sched_getaffinity(0))
        except AttributeError:  # no affinity API off Linux
            cores = os.cpu_count() or 1
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if not mem:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
        mem = f"{min(16 * 1024, ram_mb // 3)}m"
    return int(cores), mem


def get_spark(app: str = "exactextract-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    host_cores, driver_mem = host_defaults()
    if cores is None:
        cores = host_cores
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    return (SparkSession.builder
            .master(f"local[{cores}]")
            .appName(app)
            .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
            # local-mode JVM = driver + executors in one heap (cluster
            # mode: executors carry their own memory)
            .config("spark.driver.memory", driver_mem)
            .config("spark.ui.enabled", "false")
            .getOrCreate())
