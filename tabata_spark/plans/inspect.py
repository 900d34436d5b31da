"""Physical-plan inspection helpers — the engine's "is this the plan
I'd want at 100 TB?" feedback loop.

Used by tests to assert structural properties Catalyst should deliver:
filters pushed into the Parquet scan, broadcast joins where a dim is
small, whole-stage codegen in the hot path, and no Python UDFs in
queries that claim to be JVM-only. ``count_jobs`` pins the other
small-scale cost: how many Spark jobs one call runs.
"""

from __future__ import annotations

import re
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def plan_counts(df: DataFrame) -> dict[str, int]:
    """Occurrence counts of load-bearing physical operators."""
    s = explain_str(df, "simple")
    keys = {
        # source reads: file (FileScan), DataSource V2 (BatchScan) and
        # RDD/local-data (Scan ExistingRDD …) leaves
        "scans": r"\b(?:FileScan|BatchScan|Scan)\b",
        "exchanges": r"Exchange (?:hash|range|SinglePartition)",
        "broadcast_joins": r"BroadcastHashJoin",
        "sortmerge_joins": r"SortMergeJoin",
        "shuffle_hash_joins": r"ShuffledHashJoin",
        "hash_aggregates": r"HashAggregate",
        "sorts": r"\bSort\b",
        "windows": r"\bWindow\b|RunningWindowFunction",
        "codegen_spans": r"WholeStageCodegen",
        "python_evals": r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas",
        "take_ordered": r"TakeOrderedAndProject",
    }
    return {k: len(re.findall(p, s)) for k, p in keys.items()}


def plan_counts_final(df: DataFrame) -> dict[str, int]:
    """Operator counts of the ADAPTIVE final plan: executes the frame,
    then inspects the post-AQE executed plan. This is the honest
    scale-assertion surface for joins whose side is a runtime-sized
    aggregate — the static plan shows SortMergeJoin (unknown stats),
    and AQE switches to broadcast once the actual size is known. A
    forced ``F.broadcast`` hint would pin the same shape statically but
    becomes an executor OOM when the frame scales with the data."""
    # collect() (NOT count()) — count wraps the frame in a new plan and
    # leaves THIS frame's AdaptiveSparkPlan unexecuted/isFinalPlan=false
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    # an executed AdaptiveSparkPlan prints "== Final Plan ==" followed
    # by "== Initial Plan ==" — count only the final section, else a
    # pre-AQE SortMergeJoin that adaptivity already replaced is
    # reported as if it survived
    s = s.split("== Initial Plan ==")[0]
    keys = {
        "broadcast_joins": r"BroadcastHashJoin",
        "sortmerge_joins": r"SortMergeJoin",
        "shuffle_hash_joins": r"ShuffledHashJoin",
        "python_evals": r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas",
        # AQE replaces subtrees whose runtime output is empty with
        # EmptyRelation — a final plan can legitimately contain no
        # join nodes at small fixture scale; callers asserting
        # "broadcast >= 1" should accept an empty-collapsed plan
        "empty_relations": r"EmptyRelation",
    }
    return {k: len(re.findall(p, s)) for k, p in keys.items()}


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every Parquet scan in the plan."""
    s = explain_str(df, "formatted")
    return re.findall(r"PushedFilters: \[([^\]]*)\]", s)


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every scan — for column-pruning assertions."""
    s = explain_str(df, "formatted")
    return re.findall(r"ReadSchema: (struct<[^\n]*)", s)


def assert_no_python_udf(df: DataFrame) -> None:
    c = plan_counts(df)
    assert c["python_evals"] == 0, f"Python eval in plan: {explain_str(df, 'simple')[:500]}"


def count_jobs(spark: SparkSession, fn: Callable[[], Any]) -> tuple[int, Any]:
    """Run ``fn`` under a job group of its own; return the number of
    Spark jobs it started and its result. The job count is the latency
    floor of an interactive call at small scale (each job pays the
    scheduler's round trip). The caller's job group is restored."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    group = f"count_jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count_jobs")
    try:
        out = fn()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out
