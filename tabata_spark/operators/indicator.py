"""Bump/valley-counting indicator — reference W6/W7 (instants.py:45-93).

The reference replaces a signal with an indicator giving, at each
instant, the position between successive bumps/valleys: SG-filter the
signal to a derivative, threshold it at ±sigma, find the threshold
crossings, then per segment emit a linear ramp from the segment's base
to base+1, with the base incrementing by one per segment (the first
base is 0 if the first crossing is rising, else 1; a record with no
crossing is all zeros).

Spark-native formulation (no Python in the hot path):

    b        = x > sigma                   (x < sigma for negative)
    chg[r]   = b[r] != b[r-1]              (lag)
    seg(p)   = sum(chg) over rows [start, p+1]   <- the reference's
               diff-index convention: the crossing row itself still
               belongs to the *next* segment's count frame
               (z[i0:i] excludes row i, instants.py:89-92)
    m, pos   = segment size / offset  (window over (record, seg))
    ramp     = base + pos/(m-1)            (linspace semantics, m>1)

All windows share the record_id partitioning — one shuffle, codegen.
The numpy twin ``indicator_np`` is the parity oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tabata_spark.operators.savgol import savgol_filter_np, savgol_native


def indicator_np(
    y: np.ndarray, width: int, order: int, sigma: float, deg: int = 2
) -> np.ndarray:
    """Numpy oracle with the reference's exact semantics
    (instants.py:45-93), built on our scipy-free SG kernel."""
    x = savgol_filter_np(np.asarray(y, dtype=float), width, deg, deriv=order)
    b = x > sigma if sigma > 0 else x < sigma
    dp = np.diff(b.astype(int))
    k = list(np.argwhere(dp).ravel())
    z = np.zeros(len(y))
    if not k:
        return z
    base = 1.0 - float(dp[k[0]] == 1)
    i0 = 0
    for i in k + [len(y)]:
        if i > i0:
            z[i0:i] = np.linspace(base, base + 1.0, i - i0)
        base += 1.0
        i0 = i
    return z


def segment_ramp(df: DataFrame, filtered: str, sigma: float, out: str) -> DataFrame:
    """Threshold-crossing segmentation + per-segment linspace ramp over
    an already-filtered column (the indicator minus the SG step).

    Everything stays partitioned by ``record_id`` alone: the segment
    size/offset come from running aggregates in the ascending and
    descending seq orders (an extra in-partition SORT, but NO second
    shuffle on (record_id, segment) — at 10M+ rows the re-shuffle was
    the dominant cost of this operator). Relies on the engine invariant
    that ``seq`` is dense 0..n-1 within each record (segment sizes are
    seq differences)."""
    w = Window.partitionBy("record_id").orderBy("seq")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_desc = Window.partitionBy("record_id").orderBy(F.desc("seq"))
    x = F.col(f"`{filtered}`")
    b = (x > F.lit(sigma)) if sigma > 0 else (x < F.lit(sigma))
    prev = F.lag(b).over(w)
    chg = F.when(prev.isNotNull() & (b != prev), F.lit(1)).otherwise(F.lit(0))

    df = df.withColumn("__b", b).withColumn("__chg", chg)
    # seg(p) = #crossings with diff-index <= p  (crossing at row r has
    # diff-index r-1, so include one following row in the frame)
    df = df.withColumn(
        "__seg",
        F.sum("__chg").over(w.rowsBetween(Window.unboundedPreceding, 1)),
    )
    df = df.withColumn("__nchg", F.sum("__chg").over(frame))
    # base of segment 0: 0 if the first crossing is rising (False->True)
    first_rising = F.first(
        F.when(F.col("__chg") == 1, F.col("__b")), ignorenulls=True
    ).over(frame)
    z0 = F.when(first_rising, F.lit(0.0)).otherwise(F.lit(1.0))

    # segment bounds from record-local running aggs (no re-partition):
    # a row starts a segment when its seg differs from the previous row's
    is_start = F.coalesce(F.col("__seg") != F.lag("__seg").over(w), F.lit(True))
    df = df.withColumn("__start_seq", F.max(F.when(is_start, F.col("seq"))).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    ))
    # next segment's start: min start-marker among rows AFTER this one
    # (descending order => "preceding, -1" frame = higher seq rows)
    next_start = F.min(
        F.when(F.col("__start_seq") == F.col("seq"), F.col("seq"))
    ).over(w_desc.rowsBetween(Window.unboundedPreceding, -1))
    n_rec = F.count(F.lit(1)).over(frame)
    first_seq = F.min("seq").over(frame)
    df = df.withColumn("__end_seq", F.coalesce(next_start, first_seq + n_rec))

    m = F.col("__end_seq") - F.col("__start_seq")
    pos = F.col("seq") - F.col("__start_seq")
    ramp = F.when(m > 1, pos.cast("double") / (m - F.lit(1)).cast("double")).otherwise(
        F.lit(0.0)
    )
    z = F.when(F.col("__nchg") == 0, F.lit(0.0)).otherwise(
        z0 + F.col("__seg").cast("double") + ramp
    )
    return df.withColumn(out, z).drop(
        "__b", "__chg", "__seg", "__nchg", "__start_seq", "__end_seq"
    )


def indicator_col(
    df: DataFrame,
    col: str,
    out: str,
    width: int,
    order: int,
    sigma: float,
    deg: int = 2,
) -> DataFrame:
    """Full indicator: SG-derivative + segmentation ramp (reference
    ``indicator``, instants.py:45-93)."""
    tmp = f"__sg_{out}"
    df = savgol_native(df, col, tmp, width, polyorder=deg, deriv=order)
    df = segment_ramp(df, tmp, sigma, out)
    return df.drop(tmp)


def reversed_indicator(df: DataFrame, col: str, out: str) -> DataFrame:
    """W7: distance from the final count, ``c[-1] - c``
    (instants.py:343,528-529)."""
    frame = (
        Window.partitionBy("record_id")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    c = F.col(f"`{col}`")
    return df.withColumn(out, F.last(c).over(frame) - c)
