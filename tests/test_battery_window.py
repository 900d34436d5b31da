"""Pin the driver-audited query window and the output-encoding lint.

The correctness driver value-hashes exactly the FIRST 50 entries of
queries() in iteration order (verified round 5: CORRECTNESS_r05.json
keys == registration-order prefix). battery._rotate_driver_window moves
battery._DRIVER_WINDOW_R16 to the front, so the first 50 are the r16
window: the one never-certified query, then the stalest certifications
read from the committed CORRECTNESS_r*.json artifacts. Change only
deliberately, after a full local oracle sweep.
"""

from __future__ import annotations

import glob
import json
import os
import re

from tabata_spark.battery import ORACLES, QUERIES


def _prior_driver_artifacts(max_round):
    """All committed CORRECTNESS_r*.json at or below ``max_round`` —
    globbed open-endedly and filtered by parsed round number, so
    double-digit rounds are included."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = []
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f)
        if m and int(m.group(1)) <= max_round:
            out.append(f)
    return out


def _hash_green_union(files):
    green: set[str] = set()
    for f in files:
        with open(f) as fh:
            for name, res in json.load(fh).items():
                if isinstance(res, dict) and res.get("hash_match"):
                    green.add(name)
    return green


def _latest_green_round(files):
    """Map each query to the last round whose artifact hash-greened it."""
    latest: dict[str, int] = {}
    for f in files:
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", f).group(1))
        with open(f) as fh:
            for name, res in json.load(fh).items():
                if isinstance(res, dict) and res.get("hash_match"):
                    latest[name] = max(latest.get(name, 0), rnd)
    return latest


R16_WINDOW = [
    # (a) never driver-certified (new this round)
    "dedup_minhash_staged",
    # (b) changed code this round: NONE — r16 touched only code
    # outside every previously registered query's path (near_dup_
    # pairs_staged, used solely by the new query above; stats.
    # dp_budget, a pure helper no query calls; compat.Selector;
    # bench.py)
    # (c) the entire r11 cohort — stalest certifications
    "a_label_centroids",
    "a_quadratic_trend",
    "decontaminate",
    "dedup_ingest_pipeline",
    "mixture_temp",
    "q1_pricing_summary",
    "q_assoc_brands",
    "q_eval_slices",
    "q_histogram_depth",
    "q_json_events",
    "q_sigidx_probe",
    "q_string_funcs",
    "q_txlog_merge",
    "q_txlog_orders",
    "q_txlog_zorder",
    "q_type_crosscorr",
    "sample_domain_cap_weighted",
    "sim_ivf_ann",
    "sim_ivf_knn_batch",
    "sim_knn_join",
    "sim_lsh_ann",
    "sim_semantic_dedup",
    "sim_topk_cosine",
    "text_bpe_tokens",
    "text_chunks",
    "text_collocations",
    "text_gopher",
    # (d) r12 fills to 50 — first 22 of the 42-query r12 cohort,
    # alphabetical (deterministic rule; the other 20 are the r17 floor)
    "a_detect_error",
    "a_out_of_tube",
    "a_standardize",
    "a_user_summary",
    "a_winsorize_events",
    "j_highlight",
    "j_slice_left",
    "multimodal_features",
    "pipeline_end_to_end",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q_anti_parts",
    "q_bloom_join",
    "q_cube_orders",
    "q_distinct_parts",
    "q_except_customers",
    "q_gini_sources",
    "q_kmv_overlap",
    "q_label_propagation",
    "q_month_revenue",
    "q_quantiles",
    "q_rollup_nation",
]


def test_first_50_registration_order_is_pinned():
    from tabata_spark.battery import _DRIVER_WINDOW_R16

    assert list(QUERIES)[:50] == _DRIVER_WINDOW_R16 == R16_WINDOW


def test_rotation_preserves_the_full_battery():
    # Rotation must reorder, never drop/duplicate, and ORACLES must
    # stay aligned with QUERIES.
    assert len(QUERIES) == len(set(QUERIES)) == 219
    assert list(ORACLES) == [n for n in QUERIES if n in ORACLES]


def test_every_query_has_an_oracle():
    # Oracle-less queries get only a weaker rows-only driver check;
    # currently every battery query carries a full value oracle.
    assert [n for n in QUERIES if n not in ORACLES] == []


def test_register_lint_rejects_decimal_outputs(spark):
    # The register() wrapper must refuse DECIMAL output columns (the
    # driver hashes doubles/ints reliably, decimals unreliably —
    # VERDICT r5). Build a one-off registered query that emits decimal
    # and check the lint fires.
    import pytest

    from tabata_spark.battery import QUERIES as Q
    from tabata_spark.battery import register

    name = "__lint_probe__"
    try:

        @register(name, None)
        def bad(spark, sf_dir):
            from pyspark.sql import functions as F

            return spark.range(1).select(
                F.lit(1.5).cast("decimal(18,4)").alias("x")
            )

        with pytest.raises(AssertionError, match="DECIMAL output"):
            Q[name](spark, "/root/testdata/sf0.001")
    finally:
        Q.pop(name, None)


def test_r16_window_leads_with_every_never_certified_query():
    # Cumulative ledger was 218/218 after r15; the only never-certified
    # query is this round's addition and it must lead the window.
    files = _prior_driver_artifacts(15)
    assert len(files) >= 15, "expected the committed r1-r15 artifacts"
    green = _hash_green_union(files)
    never = [n for n in QUERIES if n not in green]
    assert never == ["dedup_minhash_staged"], never
    assert R16_WINDOW[0] == "dedup_minhash_staged"


def test_r16_window_rechecks_the_r11_cohort():
    # Staleness invariant (VERDICT r15 #1): the ENTIRE 27-query r11
    # cohort is present, and every slot that is not the never-certified
    # head comes from the two oldest cohorts (latest green r11 or r12)
    # — after r16 the oldest certification moves to r12.
    latest = _latest_green_round(_prior_driver_artifacts(15))
    r11_cohort = sorted(n for n, r in latest.items() if r == 11)
    assert len(r11_cohort) == 27, r11_cohort
    missing = [n for n in r11_cohort if n not in R16_WINDOW]
    assert missing == [], f"r11-stale queries left out: {missing}"
    for n in R16_WINDOW[1:]:
        assert latest.get(n) in (11, 12), (n, latest.get(n))


def test_r16_r12_fills_follow_the_pinned_rule():
    # The 22 fills are the first 22 of the r12 cohort alphabetically —
    # a deterministic, auditable selection rule.
    latest = _latest_green_round(_prior_driver_artifacts(15))
    r12_cohort = sorted(n for n, r in latest.items() if r == 12)
    assert R16_WINDOW[28:] == r12_cohort[:22]
