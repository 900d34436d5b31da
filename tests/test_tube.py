import os
import subprocess
import sys
import textwrap

import numpy as np
import pytest
from pyspark.sql import functions as F

from tabata_spark.core.signalset import SignalSet
from tabata_spark.ml.tube import Tube, app_tube
from tabata_spark.operators.savgol import savgol_filter_np


@pytest.fixture(scope="module")
def fitted_tube(spark, sset):
    tube = Tube(sset, seed=42)
    tube.variables = {"Tisa[K]"}
    tube.factors = {"ALT[m]", "TAS[m/s]", "Masse[kg]", "Tisa[K]"}
    tube.learn_params = dict(
        retry_number=6, keep_best_number=3, samples_percent=0.05, max_features=3
    )
    tube.tube_params = dict(tube_factor=10.0, filter_width=10)
    return tube.fit()


def test_fit_population(fitted_tube):
    pop = fitted_tube._reg["Tisa[K]"]
    assert 1 <= len(pop) <= 3
    # Tisa is ~linear in ALT: the ensemble should find strong fits
    assert max(r2 for _, _, r2 in pop) > 0.9
    for _, coefs, _ in pop:
        assert 1 <= len(coefs) <= 3
        assert "Tisa[K]" not in coefs  # target never a factor


def test_estimate_bounds_order(fitted_tube):
    est = fitted_tube.estimate_frame("Tisa[K]")
    n = est.count()
    ok = est.filter(
        (F.col("zmin") <= F.col("z") + 1e-6) & (F.col("z") <= F.col("zmax") + 1e-6)
    ).count()
    # SG smoothing of the bounds can locally cross z near edges
    assert ok / n > 0.95


def test_estimate_unknown_target_nan(fitted_tube):
    est = fitted_tube.estimate_frame("ALT[m]")
    row = est.select("z", "zmin", "zmax").first()
    assert all(np.isnan(row[c]) for c in ("z", "zmin", "zmax"))


def test_scores_detect_anomaly(spark, flights, fitted_tube):
    # shift Tisa massively on one record -> its out-of-tube fraction
    # must dwarf the clean records' (tube width is set by ensemble
    # spread x tube_factor, so assertions are relative, not absolute)
    bad = {k: v.copy() for k, v in flights.items()}
    name = sorted(bad)[0]
    bad[name]["Tisa[K]"] = bad[name]["Tisa[K]"] + 200.0
    corrupted = SignalSet.from_records(spark, bad)
    scr = {
        r["record_id"]: r
        for r in fitted_tube.scores(corrupted.df).collect()
    }
    frac_bad = scr[name]["score_Tisa[K]"] / scr[name]["N"]
    others = [
        scr[k]["score_Tisa[K]"] / scr[k]["N"] for k in scr if k != name
    ]
    assert frac_bad > 0.8
    assert frac_bad > 3 * max(np.median(others), 0.01)


# ------------------------------------------------------- numpy oracle
#
# scores and estimate_frame share one kernel, so each is checked
# against an independent per-record re-derivation from the pandas
# frame (to_pandas_record) of the reference formulas (tubes.py:306-406)
# under Spark's comparison semantics: NaN orders above every number,
# and a null (a channel the record lacks) makes the bounds null, which
# never count.

NAN_RECORD, SHORT_RECORD, MISSING_RECORD = "record_01", "record_short", "record_05"

# hand-set ensembles (the engine stores plain floats): Tisa is ~linear
# in ALT; one Tisa member reads F[N], which MISSING_RECORD lacks
ABSOLUTE = {
    "Tisa[K]": [
        (288.1, {"ALT[m]": -0.0065}, 0.9),
        (288.3, {"ALT[m]": -0.00651, "F[N]": -1e-6}, 0.9),
        (287.9, {"ALT[m]": -0.0066, "TAS[m/s]": 0.004}, 0.8),
    ],
    "ALT[m]": [
        (44330.0, {"Tisa[K]": -153.85}, 0.9),
        (44000.0, {"Tisa[K]": -153.0, "TAS[m/s]": 1.0}, 0.8),
    ],
}
MEDIAN = {
    "Tisa[K]": [
        (285.85, {"MEDIAN": 0.01, "ALT[m]": -0.0065}, 0.9),
        (288.2, {"MEDIAN": 0.001, "TIME": -0.0002, "ALT[m]": -0.00652}, 0.9),
    ],
}
CAUSAL = {
    "Tisa[K]": [
        (0.0, {"CAUSAL": 1.0, "ALT[m]": -0.0065}, 0.9),
        (28.8, {"CAUSAL": 0.9, "ALT[m]": -0.0066}, 0.8),
    ],
}


@pytest.fixture(scope="module")
def oracle_set(spark, flights):
    recs = {k: v.copy() for k, v in flights.items()}
    recs[SHORT_RECORD] = flights["record_00"].iloc[200:230].copy()
    sset = SignalSet.from_records(spark, recs)
    # NaN planted in Spark: pandas NaN would arrive as null
    nan_rows = (F.col("record_id") == NAN_RECORD) & F.col("seq").isin(0, 5, 100, 101, 599)
    tisa = F.when(nan_rows, F.lit(float("nan"))).otherwise(F.col("`Tisa[K]`"))
    sset = SignalSet(sset.df.withColumn("Tisa[K]", tisa), records=sset.records)
    return sset, {name: sset.to_pandas_record(name) for name in sset.records}


def _tube(sset, reg, **feature_params):
    tube = Tube(sset)
    tube._reg = reg
    tube.feature_params.update(feature_params)
    return tube


def _gt(a, b):
    """a > b under Spark's double ordering (NaN above every number)."""
    return np.where(np.isnan(a), ~np.isnan(b), a > b)


def _oracle(tube, pdf, target):
    """(z, zmin, zmax, out-of-tube count) of one record."""
    q, w = tube.tube_params["tube_factor"], tube.tube_params["filter_width"]
    n = len(pdf)
    y = pdf[target].to_numpy(float)
    pop = tube._reg[target]
    if any(pdf[c].isna().all() for _, coefs, _ in pop for c in coefs if c in pdf):
        nan = np.full(n, np.nan)
        return nan, nan, nan, 0
    synth = {
        "TIME": np.arange(n, dtype=float),
        "MEDIAN": np.full(n, np.median(y)),
        "CAUSAL": np.full(n, y[0]),
    }
    P = np.array(
        [
            b0 + sum(b * (synth[c] if c in synth else pdf[c].to_numpy(float)) for c, b in coefs.items())
            for b0, coefs, _ in pop
        ]
    )
    z = P.mean(axis=0)
    # least skips NaN unless every prediction is NaN; greatest is NaN if any is
    zmin = z - q * (z - np.fmin.reduce(P, axis=0))
    zmax = z + q * (P.max(axis=0) - z)
    if w:
        zmin = savgol_filter_np(zmin, 2 * w + 1, 2)
        zmax = savgol_filter_np(zmax, 2 * w + 1, 2)
    return z, zmin, zmax, int(np.sum(_gt(y, zmax) | _gt(zmin, y)))


def _check_against_oracle(tube, sset, pdfs, names):
    df = sset.df.filter(F.col("record_id").isin(names))
    scr = tube.scores(df).toPandas()
    targets = sorted(tube._reg)
    assert list(scr.columns) == ["record_id", "N", *[f"score_{t}" for t in targets]]
    assert list(scr["record_id"]) == sorted(names)
    for t in targets:
        est = tube.estimate_frame(t, df).orderBy("record_id", "seq").toPandas()
        assert list(est.columns) == [*df.columns, "z", "zmin", "zmax"]
        counts = []
        for name in names:
            z, zmin, zmax, count = _oracle(tube, pdfs[name], t)
            got = est[est["record_id"] == name]
            for col, want in (("z", z), ("zmin", zmin), ("zmax", zmax)):
                np.testing.assert_allclose(
                    got[col].to_numpy(float), want, rtol=1e-9, atol=1e-7, equal_nan=True,
                    err_msg=f"{t} {name} {col}",
                )
            row = scr[scr["record_id"] == name].iloc[0]
            assert row["N"] == len(pdfs[name])
            assert row[f"score_{t}"] == count, (t, name)
            counts.append((count, len(pdfs[name])))
        # the tube separates rows: not every record all-in or all-out
        assert any(0 < c < n for c, n in counts), (t, counts)


def test_scores_match_oracle_default_width(oracle_set):
    """filter_width=20 (the engine default), with a NaN-bearing target,
    a record lacking a factor channel, a 300-row record and a record
    shorter than 2·20+1 (one global fit)."""
    sset, pdfs = oracle_set
    tube = _tube(sset, ABSOLUTE)
    assert tube.tube_params["filter_width"] == 20
    assert len(pdfs[SHORT_RECORD]) < 41 and len(pdfs["record_04"]) == 300
    _check_against_oracle(tube, sset, pdfs, sset.records)


def test_scores_match_oracle_time_and_median(oracle_set):
    """use_time="Yes" + local_value="Median" on even-length records,
    where Spark's percentile(…, 0.5) interpolates the middle pair."""
    sset, pdfs = oracle_set
    tube = _tube(sset, MEDIAN, use_time="Yes", local_value="Median")
    names = [n for n in sset.records if n != NAN_RECORD]
    assert all(len(pdfs[n]) % 2 == 0 for n in names)
    _check_against_oracle(tube, sset, pdfs, names)


def test_scores_match_oracle_causal(oracle_set):
    sset, pdfs = oracle_set
    tube = _tube(sset, CAUSAL, local_value="Causal")
    tube.tube_params = dict(tube_factor=10.0, filter_width=10)
    _check_against_oracle(tube, sset, pdfs, sset.records)


def test_estimate_keeps_null_and_nan_apart(oracle_set):
    """A missing factor channel gives null bounds; a NaN factor gives
    NaN ones (which Spark compares as larger than every number)."""
    sset, _ = oracle_set
    tube = _tube(sset, ABSOLUTE)
    tube.tube_params = dict(tube_factor=10.0, filter_width=0)

    def kinds(target, name):
        z = F.col("z")
        return (
            tube.estimate_frame(target)
            .filter(F.col("record_id") == name)
            .agg(F.count(F.when(z.isNull(), 1)), F.count(F.when(F.isnan(z), 1)))
            .first()
        )

    assert tuple(kinds("Tisa[K]", MISSING_RECORD)) == (600, 0)
    assert tuple(kinds("ALT[m]", NAN_RECORD)) == (0, 5)


def test_scores_without_fitted_targets(oracle_set):
    sset, pdfs = oracle_set
    scr = _tube(sset, {}).scores().toPandas()
    assert list(scr.columns) == ["record_id", "N"]
    assert dict(zip(scr["record_id"], scr["N"])) == {k: len(v) for k, v in pdfs.items()}


def test_scores_from_another_directory(tmp_path):
    """get_spark puts the engine on the workers' PYTHONPATH, so the
    grouped-map kernel runs when the driver script's cwd is elsewhere."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "drive.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {root!r})
            from tabata_spark.core.signalset import SignalSet
            from tabata_spark.ml.tube import Tube
            from tabata_spark.session import get_spark
            from tabata_spark.sources.generator import make_flight_records

            spark = get_spark("tube-cwd", shuffle_partitions=2)
            recs = make_flight_records(n_records=2, seed=1, with_bad_records=False, n_rows=120)
            tube = Tube(SignalSet.from_records(spark, recs))
            tube._reg = {{"Tisa[K]": [(288.1, {{"ALT[m]": -0.0065}}, 1.0)]}}
            print("N", sorted(r["N"] for r in tube.scores().collect()))
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert "N [120, 120]" in run.stdout


def test_failed_fit_releases_cached_frame(spark, sset, monkeypatch):
    """build_tube caches its training frame; a fit that fails midway
    must not leave it persisted."""
    from pyspark.ml.evaluation import RegressionEvaluator

    def fail(*args, **kwargs):
        raise RuntimeError("evaluation failed")

    tube = Tube(sset, seed=3)
    tube.variables = {"Tisa[K]"}
    tube.factors = {"ALT[m]", "Tisa[K]"}
    tube.learn_params = dict(
        retry_number=2, keep_best_number=1, samples_percent=0.05, max_features=1
    )
    jsc = spark.sparkContext._jsc
    before = sorted(jsc.getPersistentRDDs().keys())
    monkeypatch.setattr(RegressionEvaluator, "evaluate", fail)
    with pytest.raises(RuntimeError, match="evaluation failed"):
        tube.fit()
    assert sorted(jsc.getPersistentRDDs().keys()) == before


def test_app_tube_overlay(fitted_tube, sset):
    out = app_tube(sset, fitted_tube, "Tisa[K]")
    assert {"z", "zmin", "zmax"} <= set(out.columns)
    assert out.count() == sset.df.count()


def test_describe_counts(fitted_tube):
    d = fitted_tube.describe()["Tisa[K]"]
    assert sum(d.values()) >= 1
