"""Checkpoint/resume: interrupted run + resume must equal one-shot run;
lineage and metrics must track per-tile progress."""

import numpy as np
import pytest

from exactextract_spark.checkpoint import CheckpointedExtraction
from exactextract_spark.extract import ZonalExtractor, exact_extract
from exactextract_spark.io import tiles_from_array

OPS = ["count", "sum", "mean", "min", "max", "variance", "median", "variety"]


@pytest.fixture()
def setup(spark):
    data = np.arange(1, 401, dtype=np.float64).reshape(20, 20)
    tiles = tiles_from_array(spark, data, tile=5)  # 16 tiles
    zones = spark.createDataFrame(
        [("z0", "POLYGON ((0.5 0.5, 19.5 0.5, 19.5 19.5, 0.5 19.5, 0.5 0.5))"),
         ("z1", "POLYGON ((2.25 2.25, 7.75 2.25, 7.75 7.75, 2.25 7.75, 2.25 2.25))"),
         ("z2", "POLYGON ((100 100, 101 100, 101 101, 100 101, 100 100))")],
        ["zone_id", "geometry"])
    return zones, tiles


def _rows(df):
    return {r["zone_id"]: {k: v for k, v in r.asDict().items() if k != "zone_id"}
            for r in df.collect()}


def test_interrupt_and_resume_equals_oneshot(setup, spark, tmp_path):
    zones, tiles = setup
    direct = _rows(exact_extract(zones, tiles, OPS))

    ext = ZonalExtractor(zones, tiles)
    ck = CheckpointedExtraction(ext, OPS, str(tmp_path / "ck"))
    # simulate interruption: only 5 tiles processed, then "crash"
    n1 = ck.step(limit_tiles=5)
    assert n1 == 5
    m = ck.metrics()
    assert m["tiles_done"] == 5 and m["batches"] == 1

    # resume in a "new job": fresh objects, same checkpoint path
    ext2 = ZonalExtractor(zones, tiles)
    ck2 = CheckpointedExtraction(ext2, OPS, str(tmp_path / "ck"))
    n2 = ck2.step()
    assert n2 == 16 - 5
    resumed = _rows(ck2.finalize())

    assert set(resumed) == set(direct)
    for z in direct:
        for k, v in direct[z].items():
            assert resumed[z][k] == pytest.approx(v, nan_ok=True), (z, k)
    m2 = ck2.metrics()
    assert m2["tiles_done"] == 16 and m2["batches"] == 2


def test_idempotent_after_completion(setup, spark, tmp_path):
    zones, tiles = setup
    ext = ZonalExtractor(zones, tiles)
    ck = CheckpointedExtraction(ext, OPS, str(tmp_path / "ck"))
    ck.step()
    assert ck.step() == 0  # nothing pending
    direct = _rows(exact_extract(zones, tiles, OPS))
    assert _rows(ck.finalize()) == direct


def test_array_ops_rejected(setup, tmp_path):
    zones, tiles = setup
    ext = ZonalExtractor(zones, tiles)
    with pytest.raises(ValueError, match="not checkpoint-mergeable"):
        CheckpointedExtraction(ext, ["values"], str(tmp_path / "ck"))


def test_orphan_partials_excluded(setup, spark, tmp_path):
    """Crash between the partials append and the lineage append leaves
    orphan partial rows; the redone tile must be counted exactly once."""
    from pyspark.sql import functions as F

    zones, tiles = setup
    direct = _rows(exact_extract(zones, tiles, OPS))
    ext = ZonalExtractor(zones, tiles)
    ck = CheckpointedExtraction(ext, OPS, str(tmp_path / "ck"))
    ck.step()
    # simulate the orphan: re-append a copy of all partials under a
    # batch id that has NO lineage row (as a crashed step would)
    stored = spark.read.parquet(str(tmp_path / "ck/partials"))
    stored.withColumn("batch_id", F.lit("deadbeef0000")) \
          .write.mode("append").parquet(str(tmp_path / "ck/partials"))
    resumed = _rows(ck.finalize())
    for z in direct:
        for k, v in direct[z].items():
            if v is None:
                assert resumed[z][k] is None, (z, k)
            else:
                assert resumed[z][k] == pytest.approx(v), (z, k)


def test_old_layout_stable_variance_partials_rejected(setup, spark, tmp_path):
    """Partials stored with the former West-state layout (var_w,
    var_mean, var_m2) are refused with the column difference named,
    not merged or failed deep in analysis."""
    zones, tiles = setup
    ops = ["count", "variance(stable=true)"]
    ck = CheckpointedExtraction(ZonalExtractor(zones, tiles), ops,
                                str(tmp_path / "ck"))
    ck.step()
    part = str(tmp_path / "ck" / "partials")
    old = (spark.read.parquet(part)
           .withColumnRenamed("k0_var_k", "k0_var_w")
           .withColumnRenamed("k0_var_s", "k0_var_mean"))
    old.write.mode("overwrite").parquet(str(tmp_path / "old"))
    spark.read.parquet(str(tmp_path / "old")).write.mode("overwrite").parquet(part)
    with pytest.raises(ValueError, match=r"missing columns \['k0_var_k', "
                       r"'k0_var_s'\], unexpected columns \['k0_var_mean', "
                       r"'k0_var_w'\]"):
        ck.finalize()


def test_partials_of_another_op_list_rejected(setup, tmp_path):
    zones, tiles = setup
    path = str(tmp_path / "ck")
    CheckpointedExtraction(ZonalExtractor(zones, tiles), ["count"], path).step()
    ck = CheckpointedExtraction(ZonalExtractor(zones, tiles),
                                ["count", "min"], path)
    with pytest.raises(ValueError, match=r"missing columns \['k0_max_cell', "
                       r"'k0_max_v', 'k0_min_cell', 'k0_min_v'\], "
                       r"unexpected columns \[\]"):
        ck.finalize()


def test_partials_of_other_op_keys_rejected(setup, spark, tmp_path):
    """``sum`` and ``sum(min_coverage_frac=0.5)`` write the same partial
    columns; the op keys stored with the lineage tell them apart, and a
    lineage without op keys (an older checkpoint) is refused too."""
    zones, tiles = setup
    path = str(tmp_path / "ck")
    CheckpointedExtraction(ZonalExtractor(zones, tiles), ["sum"], path).step()
    ck = CheckpointedExtraction(ZonalExtractor(zones, tiles),
                                ["sum(min_coverage_frac=0.5)"], path)
    with pytest.raises(ValueError, match=r"recompute .*stored op keys "
                       r"\['\[\[\"values\", null, 1\.17549435e-38.*"
                       r"this op list's op keys \[\[\"values\", null, 0\.5"):
        ck.finalize()

    lin = str(tmp_path / "ck" / "lineage")
    spark.read.parquet(lin).drop("op_keys").write.mode("overwrite") \
        .parquet(str(tmp_path / "old"))
    spark.read.parquet(str(tmp_path / "old")).write.mode("overwrite").parquet(lin)
    ck = CheckpointedExtraction(ZonalExtractor(zones, tiles), ["sum"], path)
    with pytest.raises(ValueError, match=r"recompute .*stored op keys \[None\]"):
        ck.finalize()
