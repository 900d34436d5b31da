import numpy as np
import pytest
from pyspark.sql import functions as F

from tabata_spark.operators.savgol import (
    savgol_coeffs,
    savgol_filter_np,
    savgol_native,
)


def _poly(n, coefs):
    x = np.arange(n, dtype=float)
    return sum(c * x**j for j, c in enumerate(coefs))


@pytest.mark.parametrize("width,order", [(5, 2), (11, 2), (21, 3), (9, 4)])
def test_np_reproduces_polynomials_exactly(width, order):
    """An SG filter of polyorder p reproduces any degree<=p polynomial
    exactly — including the interp edges. Derivatives are analytic."""
    coefs = [3.0, -2.0, 0.5][: order + 1]
    y = _poly(200, coefs)
    out0 = savgol_filter_np(y, width, order, deriv=0)
    np.testing.assert_allclose(out0, y, atol=1e-7)
    out1 = savgol_filter_np(y, width, order, deriv=1)
    want1 = np.zeros(200)
    for j, c in enumerate(coefs):
        if j >= 1:
            want1 += j * c * np.arange(200.0) ** (j - 1)
    np.testing.assert_allclose(out1, want1, atol=1e-6)


def test_np_smooths_noise():
    rng = np.random.default_rng(0)
    y = np.sin(np.linspace(0, 6, 500)) + rng.normal(0, 0.3, 500)
    sm = savgol_filter_np(y, 31, 2, 0)
    # smoother than input: residual to clean signal shrinks
    clean = np.sin(np.linspace(0, 6, 500))
    assert np.std(sm - clean) < 0.5 * np.std(y - clean)


def test_coeffs_symmetry_and_sum():
    c = np.array(savgol_coeffs(11, 2, 0))
    np.testing.assert_allclose(c, c[::-1], atol=1e-12)  # smoothing taps symmetric
    np.testing.assert_allclose(c.sum(), 1.0, atol=1e-12)  # preserves constants
    c1 = np.array(savgol_coeffs(11, 2, 1))
    np.testing.assert_allclose(c1, -c1[::-1], atol=1e-12)  # deriv taps antisymmetric
    np.testing.assert_allclose(c1.sum(), 0.0, atol=1e-12)


def test_delta_scaling():
    y = _poly(100, [0.0, 2.0])  # slope 2 per sample
    out = savgol_filter_np(y, 11, 2, deriv=1, delta=0.5)  # 0.5s per sample -> 4/s
    np.testing.assert_allclose(out, 4.0, atol=1e-8)


def test_short_record_global_fit():
    y = _poly(7, [1.0, 2.0])  # shorter than width
    out = savgol_filter_np(y, 21, 2, 0)
    np.testing.assert_allclose(out, y, atol=1e-8)


@pytest.mark.parametrize("width,order,deriv", [(11, 2, 0), (11, 2, 1), (21, 3, 2)])
def test_native_matches_np(sset, flights, width, order, deriv):
    df = savgol_native(sset.df, "ALT[m]", "sg", width, order, deriv)
    for name in [sset.records[0], sset.records[4]]:  # normal + short record
        got = (
            df.filter(F.col("record_id") == name)
            .orderBy("seq")
            .select("sg")
            .toPandas()["sg"]
            .to_numpy()
        )
        y = flights[name]["ALT[m]"].to_numpy()
        # short records (n < width) degrade to the same global
        # polynomial fit as the numpy oracle — no nulls anywhere
        want = savgol_filter_np(y, width, order, deriv)
        np.testing.assert_allclose(
            got.astype(float), want, rtol=1e-9, atol=1e-9
        )
