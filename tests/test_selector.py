import numpy as np
import pytest
from pyspark.sql import functions as F

from tabata_spark.core.signalset import SignalSet
from tabata_spark.ml.selector import Selector
from tabata_spark.operators.flight import with_cruise_flag


@pytest.fixture(scope="module")
def labeled_selector(spark, sset, flights):
    """Label the start-of-cruise instant on a few records (the
    instants_doc cell-14 workflow shape) using generator ground truth."""
    sel = Selector(sset, seed=42)
    sel.variables = {"ALT[m]"}
    # truth: first row where the cruise predicate holds
    flags = with_cruise_flag(sset.df)
    truth = {
        r["record_id"]: r["i"]
        for r in flags.filter(F.col("CR"))
        .groupBy("record_id")
        .agg(F.min("seq").alias("i"))
        .collect()
    }
    # label 4 of the 6 records (partial expert labeling)
    for name in sset.records[:4]:
        sel.selected[name] = int(truth[name])
    sel._truth = truth
    # small grid for test speed
    sel.feature_params = dict(range_width=range(10, 51, 20), range_sigma=[5, 15], max_order=2)
    sel.learn_params = dict(
        retry_number=4, retry_percentile=80, samples_percent=0.05, min_samples_split=0.05
    )
    sel.predict_params = dict(filter_width=30)
    return sel


def test_make_indicators_grid(labeled_selector):
    dsi = labeled_selector.make_indicators()
    # gating: labels are early in the records -> Qmin/Qmax decide variants
    codes = labeled_selector.idcodes
    assert codes[0] == ("LEN", 0, 0, 0, 0.0)
    assert ("ALT[m]", 0, 0, 0, 0.0) in codes  # raw channel kept
    # grid cells: 3 widths x 2 orders x 2 sigmas x 2 signs (x directions)
    n_grid = len([c for c in codes if c[1] != 0])
    assert n_grid % (3 * 2 * 2 * 2) == 0 and n_grid > 0
    assert len(dsi.columns) == 2 + len(codes)  # record_id, seq + features
    # only labeled records materialized
    assert dsi.select("record_id").distinct().count() == 4
    # epsilon positive for every retained indicator
    assert all(c[4] > 0 for c in codes if c[1] != 0)


def test_fit_prunes_features(labeled_selector):
    sel = labeled_selector.fit()
    assert sel._model is not None
    assert 0 < len(sel.idcodes) < len(sel._grid_codes)
    assert len(sel._kept_names) == len(sel.idcodes)


def test_predict_finds_cruise_start(labeled_selector):
    sel = labeled_selector
    if sel._model is None:
        sel.fit()
    pred = sel.predict()
    assert set(pred) == set(sel.sset.records)
    # detector should land near the climb->cruise transition on the
    # records it was trained on (generous tolerance: 25% of length)
    lengths = {r["record_id"]: r["n"] for r in sel.sset.record_lengths().collect()}
    errs = [
        abs(pred[k] - sel._truth[k]) / lengths[k] for k in sel.selected
    ]
    assert np.median(errs) < 0.25


def test_belief_normalized(labeled_selector):
    sel = labeled_selector
    if sel._model is None:
        sel.fit()
    bf = sel.belief_frame()
    sums = bf.groupBy("record_id").agg(F.sum("p").alias("s")).collect()
    for r in sums:
        # belief sums to 1 (or 0 for degenerate all-clipped records)
        assert abs(r["s"] - 1.0) < 1e-6 or abs(r["s"]) < 1e-9
    mn = bf.agg(F.min("p")).collect()[0][0]
    assert mn >= 0.0


def test_left_right_partition(labeled_selector):
    sel = labeled_selector
    if sel._model is None:
        sel.fit()
    sel.predict()
    left = sel.left()
    right = sel.right()
    n_all = sel.sset.df.count()
    assert left.df.count() + right.df.count() == n_all  # left ∪ right == full


def test_scores(labeled_selector):
    sel = labeled_selector
    if sel._model is None:
        sel.fit()
    s = sel.score()
    assert np.isfinite(s)
    assert set(sel.all_scores()) == set(sel.selected)


def test_failed_fit_releases_cached_frame(spark, sset, labeled_selector, monkeypatch):
    """fit caches its labeled frame; a fit that fails midway must not
    leave it persisted (the indicator frame stays, as on success)."""
    from pyspark.ml.classification import DecisionTreeClassifier

    def fail(*args, **kwargs):
        raise RuntimeError("tree fit failed")

    sel = Selector(sset, seed=7)
    sel.variables = set(labeled_selector.variables)
    sel.selected = dict(labeled_selector.selected)
    sel.feature_params = dict(range_width=[10], range_sigma=[5], max_order=1)
    sel.learn_params = dict(labeled_selector.learn_params)
    sel.make_indicators().count()
    jsc = spark.sparkContext._jsc
    before = sorted(jsc.getPersistentRDDs().keys())
    monkeypatch.setattr(DecisionTreeClassifier, "fit", fail)
    with pytest.raises(RuntimeError, match="tree fit failed"):
        sel.fit()
    assert sorted(jsc.getPersistentRDDs().keys()) == before
    sel._dsi.unpersist()
