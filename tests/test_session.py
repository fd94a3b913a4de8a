"""Local-session sizing: get_spark's defaults follow the host unless
SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM say otherwise (no session is
started here)."""

import os

from exactextract_spark.session import host_defaults


def test_host_defaults_follow_affinity_and_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2, 3},
                        raising=False)
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": 15 * 2**30 // page}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    # 4 usable cores, 15 GiB of RAM -> a third of it for the driver
    assert host_defaults() == (4, f"{15 * 1024 // 3}m")
    # large hosts stop at 16g
    pages["SC_PHYS_PAGES"] = 128 * 2**30 // page
    assert host_defaults() == (4, f"{16 * 1024}m")


def test_host_defaults_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert host_defaults() == (3, "2g")


class _ConnectSession:
    """A Spark Connect stand-in: no SparkContext, 6 shuffle partitions."""

    class conf:
        @staticmethod
        def get(key):
            assert key == "spark.sql.shuffle.partitions"
            return "6"

    @property
    def sparkContext(self):
        raise NotImplementedError("sparkContext() is not supported in Spark Connect")

    def range(self, start, end, step, parts):
        return (start, end, step, parts)


def test_fixture_range_without_spark_context():
    """fixtures._range sizes its partitions from the shuffle-partition
    count when the session has no SparkContext."""
    from exactextract_spark.fixtures import _range
    from exactextract_spark.session import default_parallelism

    assert default_parallelism(_ConnectSession()) == 6
    assert _range(_ConnectSession(), 100_000) == (0, 100_000, 1, 6)
    assert _range(_ConnectSession(), 10) == (0, 10, 1, 1)
