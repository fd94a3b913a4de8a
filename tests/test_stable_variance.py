"""Numerically-stable variance (per-pair pivot-shifted sums merged in
SQL, the shifted-data update of Chan, Golub & LeVeque): must match the
true variance on pathological data (huge mean, tiny variance) where the
algebraic sum-of-squares form loses all precision — the failure mode
the reference avoids with West's algorithm (variance.h:20-72) at the
cost of refusing to parallelize; the shifted merge keeps both, on every
data seed of the sweep."""

import numpy as np
import pytest

from exactextract_spark.extract import exact_extract
from exactextract_spark.io import tiles_from_array

SQ = "POLYGON ((0.5 0.5, 19.5 0.5, 19.5 19.5, 0.5 19.5, 0.5 0.5))"


def test_stable_variance_pathological(spark):
    rng = np.random.default_rng(0)
    data = 1e9 + rng.normal(0, 1, (20, 20))
    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    tiles = tiles_from_array(spark, data, tile=5)  # forces cross-tile merge
    r = exact_extract(zones, tiles, [
        "v_alg=variance", "v_st=variance(stable=true)",
        "s_st=stdev(stable=true)", "cv_st=coefficient_of_variation(stable=true)",
        "count"]).collect()[0]

    # true coverage-weighted variance via one careful numpy pass
    cov = np.ones((20, 20))
    cov[0, :] = cov[-1, :] = cov[:, 0] = cov[:, -1] = 0.5
    cov[0, 0] = cov[0, -1] = cov[-1, 0] = cov[-1, -1] = 0.25
    w = cov.ravel()
    x = data.ravel()
    mu = np.average(x, weights=w)
    true_var = np.average((x - mu) ** 2, weights=w)

    assert r["v_st"] == pytest.approx(true_var, rel=1e-9)
    assert r["s_st"] == pytest.approx(np.sqrt(true_var), rel=1e-9)
    assert r["cv_st"] == pytest.approx(np.sqrt(true_var) / mu, rel=1e-6)
    # demonstrate that the algebraic form genuinely degrades here
    assert abs(r["v_alg"] - true_var) > abs(r["v_st"] - true_var)


SWEEP_SEEDS = range(40)


@pytest.fixture(scope="module")
def sweep(spark):
    """The pathological case on every data seed of SWEEP_SEEDS at once:
    seed k's 20x20 block sits at columns [20k, 20k+20) of one raster,
    under its own copy of SQ shifted by 20k (same cell coverages and
    5-cell tile boundaries as the single-seed test).  Returns
    {seed: (engine variance, true variance)}."""
    blocks = [1e9 + np.random.default_rng(s).normal(0, 1, (20, 20))
              for s in SWEEP_SEEDS]
    zones = spark.createDataFrame(
        [(str(s), f"POLYGON (({20 * k + 0.5} 0.5, {20 * k + 19.5} 0.5, "
                  f"{20 * k + 19.5} 19.5, {20 * k + 0.5} 19.5, "
                  f"{20 * k + 0.5} 0.5))")
         for k, s in enumerate(SWEEP_SEEDS)], ["zone_id", "geometry"])
    tiles = tiles_from_array(spark, np.hstack(blocks), tile=5)
    got = {r["zone_id"]: r["v"] for r in exact_extract(
        zones, tiles, ["v=variance(stable=true)"]).collect()}
    cov = np.ones((20, 20))
    cov[0, :] = cov[-1, :] = cov[:, 0] = cov[:, -1] = 0.5
    cov[0, 0] = cov[0, -1] = cov[-1, 0] = cov[-1, -1] = 0.25
    out = {}
    for s, data in zip(SWEEP_SEEDS, blocks):
        mu = np.average(data.ravel(), weights=cov.ravel())
        out[s] = (got[str(s)],
                  np.average((data.ravel() - mu) ** 2, weights=cov.ravel()))
    return out


@pytest.mark.parametrize("seed", SWEEP_SEEDS)
def test_stable_variance_pathological_sweep(sweep, seed):
    got, true_var = sweep[seed]
    assert got == pytest.approx(true_var, rel=1e-9)


def test_stable_matches_algebraic_on_normal_data(spark):
    data = np.arange(1, 401, dtype=np.float64).reshape(20, 20)
    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    tiles = tiles_from_array(spark, data, tile=7)
    r = exact_extract(zones, tiles,
                      ["v_alg=variance", "v_st=variance(stable=true)"]).collect()[0]
    assert r["v_st"] == pytest.approx(r["v_alg"], rel=1e-12)


def test_bin_width_bounded_histogram(spark):
    """bin_width quantization: bounded state for continuous rasters;
    median within one bin of the exact median, variety == #bins."""
    rng = np.random.default_rng(1)
    data = rng.uniform(0, 100, (20, 20))
    zones = spark.createDataFrame([("z0", SQ)], ["zone_id", "geometry"])
    tiles = tiles_from_array(spark, data, tile=7)
    r = exact_extract(zones, tiles, [
        "med_exact=median", "med_b=median(bin_width=5)",
        "var_exact=variety", "var_b=variety(bin_width=5)"]).collect()[0]
    assert r["var_exact"] > 300          # ~every interior cell distinct
    assert r["var_b"] <= 20              # 100/5 bins
    assert abs(r["med_b"] - r["med_exact"]) <= 5.0
