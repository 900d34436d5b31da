"""Output checks against the generators' ground truth.

Each check is a pure function of plain Python/pandas values and
returns a list of problems; an empty list means the output is right.
None of them touches Spark, so they run outside the timed region and
can be tested on corrupted results directly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: Predicted instants, as a share of record length. The detector is
#: fitted on 14 labelled records; its error is about 2 % on all but at
#: most one record in sixteen. The generated cruise start spreads over
#: 45 % of the record length, so a prediction that ignores the data (a
#: constant seq or a constant share of the length) puts about a fifth
#: of the records within the tolerance; at least 85 % must be.
PREDICT_TOLERANCE = 0.05
PREDICT_MIN_HIT_SHARE = 0.85
#: cruise_summary row count per record vs. the generated plateau.
CRUISE_ROWS_SLACK = 0.01


def instant_errors(pred: dict[str, int], truth: dict[str, int], lengths: dict[str, int]) -> dict:
    """|predicted - true| instant as a share of record length, over the
    records both sides have: median, max, and the share of records
    within ``PREDICT_TOLERANCE``."""
    err = sorted(abs(pred[k] - truth[k]) / lengths[k] for k in truth if k in pred)
    if not err:
        return {}
    hits = sum(e <= PREDICT_TOLERANCE for e in err) / len(err)
    return {"median": err[len(err) // 2], "max": err[-1], "hit_share": hits}


def check_instants(pred: dict[str, int], truth: dict[str, int], lengths: dict[str, int]) -> list[str]:
    if set(pred) != set(truth):
        return [f"predicted {len(pred)} records, expected {len(truth)}"]
    hits = instant_errors(pred, truth, lengths)["hit_share"]
    if hits < PREDICT_MIN_HIT_SHARE:
        return [f"only {hits:.2f} of instants within {PREDICT_TOLERANCE} of record length"]
    return []


def check_slices(left_rows: int, right_rows: int, total_rows: int) -> list[str]:
    if left_rows + right_rows != total_rows:
        return [f"left {left_rows} + right {right_rows} != {total_rows} rows"]
    return []


def check_scores(scores: pd.DataFrame, anomalous: list[str]) -> list[str]:
    """The planted records are exactly the top of the ranking by the
    share of out-of-tube points, summed over targets."""
    cols = [c for c in scores.columns if c.startswith("score_")]
    share = scores[cols].sum(axis=1) / scores["N"]
    ranked = scores.assign(share=share).sort_values(["share", "record_id"], ascending=[False, True])
    top = sorted(ranked["record_id"].head(len(anomalous)))
    if top != sorted(anomalous):
        return [f"top scores {top}, planted {sorted(anomalous)}"]
    return []


def check_cruise(summary: pd.DataFrame, cruise: dict[str, int], descent: dict[str, int], lengths: dict[str, int]) -> list[str]:
    got = dict(zip(summary["record_id"], summary["n_points"]))
    if set(got) != set(cruise):
        return [f"cruise summary has {len(got)} records, expected {len(cruise)}"]
    bad = [
        k
        for k in cruise
        if abs(got[k] - (descent[k] - cruise[k])) > CRUISE_ROWS_SLACK * lengths[k] + 2
    ]
    return [f"cruise rows off for {bad[:5]}"] if bad else []


def check_dedup(
    n_exact_groups: int,
    n_distinct_texts: int,
    found: set[tuple[int, int]],
    planted: set[tuple[int, int]],
    n_clusters: int,
    n_base: int,
) -> list[str]:
    out = []
    if n_exact_groups != n_distinct_texts:
        out.append(f"exact_dedup {n_exact_groups} groups, {n_distinct_texts} distinct texts")
    missing = planted - found
    if missing:
        out.append(f"{len(missing)} planted pairs not found, e.g. {sorted(missing)[:3]}")
    if n_clusters != n_base:
        out.append(f"{n_clusters} clusters, {n_base} base documents")
    return out


def check_record(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """A point read returns the record as last written."""
    if list(got.columns) != list(expected.columns) or len(got) != len(expected):
        return [f"record shape {got.shape}, expected {expected.shape}"]
    if not np.allclose(got.to_numpy(float), expected.to_numpy(float), rtol=0, atol=1e-9):
        return ["record values differ from the last write"]
    return []
