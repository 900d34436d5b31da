"""Tests of the benchmark itself (no Spark needed).

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


# ------------------------------------------------------------ determinism


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: gen.make_flights(seed, 6, 300, n_anomalous=2).frame,
        lambda seed: gen.make_corpus(seed, 200).frame,
    ],
    ids=["flights", "corpus"],
)
def test_same_seed_gives_identical_input_bytes(tmp_path, make):
    a = gen.write_parquet(make(7), str(tmp_path / "a" / "part.parquet"))
    b = gen.write_parquet(make(7), str(tmp_path / "b" / "part.parquet"))
    c = gen.write_parquet(make(8), str(tmp_path / "c" / "part.parquet"))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_corpus_ground_truth_is_consistent():
    c = gen.make_corpus(3, 300)
    pairs = gen.planted_pairs(c)
    assert len(pairs) == 300 - c.n_base
    texts = dict(zip(c.frame["doc_id"], c.frame["text"]))
    for a, b in pairs:
        if a in c.exact_copies or b in c.exact_copies:
            assert texts[a] == texts[b]
        else:
            assert texts[a] != texts[b]


# ------------------------------------------------- checks catch corruption


@pytest.fixture(scope="module")
def flights():
    return gen.make_flights(5, 8, 400, n_anomalous=2)


def test_instants_check_rejects_shifted_instants(flights):
    truth, lengths = flights.cruise_start, flights.lengths
    names = sorted(truth)
    assert checks.check_instants(dict(truth), truth, lengths) == []
    shifted_all = {k: v + int(0.25 * lengths[k]) for k, v in truth.items()}
    assert checks.check_instants(shifted_all, truth, lengths)
    shifted_two = dict(truth)
    for name in names[:2]:
        shifted_two[name] += int(0.4 * lengths[name])
    assert checks.check_instants(shifted_two, truth, lengths)
    missing = dict(truth)
    missing.pop(names[0])
    assert checks.check_instants(missing, truth, lengths)


@pytest.mark.parametrize("seed", range(20))
def test_instants_check_rejects_predictions_that_ignore_the_data(seed):
    fs = gen.make_flights(seed, 16, 600)
    truth, lengths = fs.cruise_start, fs.lengths
    for share in [i / 100 for i in range(0, 71)]:
        pred = {k: int(share * lengths[k]) for k in truth}
        assert checks.check_instants(pred, truth, lengths), share
    for seq in range(0, 400, 2):
        assert checks.check_instants(dict.fromkeys(truth, seq), truth, lengths), seq


def test_slices_check_rejects_a_dropped_row():
    assert checks.check_slices(40, 60, 100) == []
    assert checks.check_slices(40, 59, 100)


def test_scores_check_requires_planted_records_on_top(flights):
    names = sorted(flights.lengths)
    n = [flights.lengths[k] for k in names]
    hot = [100 if k in flights.anomalous else 3 for k in names]
    scores = pd.DataFrame({"record_id": names, "N": n, "score_A": hot, "score_B": 0})
    assert checks.check_scores(scores, flights.anomalous) == []
    quiet = flights.anomalous[0]
    scores.loc[scores["record_id"] == quiet, "score_A"] = 0
    assert checks.check_scores(scores, flights.anomalous)


def test_cruise_check_rejects_wrong_plateau(flights):
    names = sorted(flights.lengths)
    good = pd.DataFrame(
        {
            "record_id": names,
            "n_points": [flights.descent_start[k] - flights.cruise_start[k] for k in names],
        }
    )
    args = (flights.cruise_start, flights.descent_start, flights.lengths)
    assert checks.check_cruise(good, *args) == []
    bad = good.copy()
    bad.loc[0, "n_points"] = bad.loc[0, "n_points"] // 2
    assert checks.check_cruise(bad, *args)
    assert checks.check_cruise(good.iloc[1:], *args)


def test_dedup_check_rejects_a_dropped_pair_or_merged_cluster():
    c = gen.make_corpus(4, 300)
    planted = gen.planted_pairs(c)
    distinct = c.frame["text"].nunique()
    assert checks.check_dedup(distinct, distinct, set(planted), planted, c.n_base, c.n_base) == []
    dropped = set(sorted(planted)[1:])
    assert checks.check_dedup(distinct, distinct, dropped, planted, c.n_base, c.n_base)
    assert checks.check_dedup(distinct, distinct, set(planted), planted, c.n_base - 1, c.n_base)
    assert checks.check_dedup(distinct - 1, distinct, set(planted), planted, c.n_base, c.n_base)


def test_record_check_rejects_a_stale_value(flights):
    pdf = flights.frame[flights.frame["record_id"] == "FL0000"]
    rec = pdf.drop(columns=["record_id", "seq", "ts"]).reset_index(drop=True)
    assert checks.check_record(rec.copy(), rec) == []
    stale = rec.copy()
    stale.loc[3, "Masse[kg]"] += 1.0
    assert checks.check_record(stale, rec)
    assert checks.check_record(rec.iloc[1:], rec)


# ------------------------------------------------------ output vs contract


def test_benchmark_json_names_match_the_output():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units()
    for units in (e2e, layer):
        values = {name: 1.5 for name in units}
        line = json.loads(json.dumps(run.result_line(0, 3, values, units)))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["metrics"] == {n: {"value": 1.5, "unit": u} for n, u in units.items()}


def test_fails_without_a_result_when_only_the_benchmark_is_present(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(BENCHMARK_JSON, tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_dedup",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
