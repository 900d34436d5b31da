"""Savitzky-Golay filtering — reference W5, the workhorse window op.

The reference calls ``scipy.signal.savgol_filter(y, width, deg,
deriv)`` everywhere (instants.py:76 indicator smoothing, 284-291 noise
estimation, 534-537 belief smoothing; tubes.py:344-351 tube
smoothing). SG filtering is a linear FIR: the smoothed/derived value is
a fixed dot product of the surrounding window, with the coefficients
given by a least-squares polynomial fit — so the *interior* is a pure
``Window.rowsBetween(-h, h)`` expression chain (JVM-side, codegen),
and the *edges* under scipy's default ``mode='interp'`` are another
fixed linear map of the first/last ``width`` samples (a polynomial fit
to the edge window evaluated at the edge positions) — also expressible
natively because only ``h`` rows per side need it.

No scipy in this environment: coefficients are derived here from first
principles (pinv of the Vandermonde design matrix), and
``savgol_filter_np`` is the numpy reference/oracle replicating scipy's
``mode='interp'`` semantics.

``savgol_native`` is the Spark path: lag/lead dot product + edge
correction, fully JVM-side (no Python, no Arrow, no optimization
barrier; ~3*width window expressions). It serves the indicator and
battery queries. The Selector and Tube smooth with
``savgol_filter_np`` inside their own per-record kernels.
"""

from __future__ import annotations

from functools import lru_cache
from math import factorial

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------- design


@lru_cache(maxsize=256)
def savgol_coeffs(width: int, polyorder: int, deriv: int = 0, delta: float = 1.0) -> tuple:
    """FIR taps c such that out[i] = sum_k c[k] * y[i - h + k].

    Least-squares fit of a degree-``polyorder`` polynomial on the
    centered window, evaluated (``deriv``-th derivative) at the center.
    Matches scipy.signal.savgol_coeffs(..., use='dot') for odd widths.
    """
    if width % 2 != 1:
        raise ValueError("width must be odd")
    if polyorder >= width:
        raise ValueError("polyorder must be < width")
    h = width // 2
    x = np.arange(-h, h + 1, dtype=float)
    # V[k, j] = x_k^j ; fitted poly coeffs a = pinv(V) @ y
    V = np.vander(x, polyorder + 1, increasing=True)
    pinv = np.linalg.pinv(V)
    c = pinv[deriv] * factorial(deriv) / (delta**deriv)
    return tuple(c)


@lru_cache(maxsize=256)
def savgol_edge_matrix(
    width: int, polyorder: int, deriv: int = 0, delta: float = 1.0
) -> tuple:
    """Head-edge linear map E (h x width): out[j] = E[j] @ y[:width].

    scipy ``mode='interp'``: fit one polynomial to the first ``width``
    samples, evaluate its ``deriv``-th derivative at positions
    0..h-1. The tail edge is the same map under reversal with sign
    (-1)^deriv (odd derivatives flip under coordinate reversal).
    Returned as a tuple of row-tuples for hashability.
    """
    h = width // 2
    x = np.arange(width, dtype=float)
    V = np.vander(x, polyorder + 1, increasing=True)
    pinv = np.linalg.pinv(V)  # y -> poly coeffs a_j
    # derivative evaluation row at position p: sum_j a_j * d^deriv/dx^deriv x^j |_p
    rows = []
    for p in range(h):
        ev = np.zeros(polyorder + 1)
        for j in range(deriv, polyorder + 1):
            ev[j] = (factorial(j) / factorial(j - deriv)) * (float(p) ** (j - deriv))
        rows.append(tuple((ev @ pinv) / (delta**deriv)))
    return tuple(rows)


def savgol_filter_np(
    y: np.ndarray, width: int, polyorder: int, deriv: int = 0, delta: float = 1.0
) -> np.ndarray:
    """Numpy reference implementation (scipy savgol_filter parity,
    mode='interp'). Oracle for both Spark paths; also used by the
    applyInPandas path."""
    y = np.asarray(y, dtype=float)
    n = len(y)
    if n < width:
        # degenerate record: single global polynomial fit (scipy raises;
        # we degrade gracefully — fit to whole record)
        x = np.arange(n, dtype=float)
        order = min(polyorder, max(n - 1, 0))
        V = np.vander(x, order + 1, increasing=True)
        a = np.linalg.pinv(V) @ y
        out = np.zeros(n)
        for j in range(deriv, order + 1):
            out += a[j] * (factorial(j) / factorial(j - deriv)) * x ** (j - deriv)
        return out / (delta**deriv)
    h = width // 2
    c = np.array(savgol_coeffs(width, polyorder, deriv, delta))
    # interior: correlation (flip for np.convolve's kernel reversal)
    full = np.convolve(y, c[::-1], mode="same")
    out = full.copy()
    E = np.array(savgol_edge_matrix(width, polyorder, deriv, delta))
    if h > 0:
        out[:h] = E @ y[:width]
        out[-h:] = ((-1.0) ** deriv) * (E @ y[-width:][::-1])[::-1]
    return out


# ---------------------------------------------------------------- native


def _record_w() -> Window:
    return Window.partitionBy("record_id").orderBy("seq")


def _record_frame() -> Window:
    return _record_w().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)


def savgol_native(
    df: DataFrame,
    col: str,
    out: str,
    width: int,
    polyorder: int = 2,
    deriv: int = 0,
    delta: float = 1.0,
    edges: bool = True,
) -> DataFrame:
    """Fully JVM-side SG filter with interp edges.

    interior[i] = sum_k c_k * y[i-h+k]             (lag/lead chain)
    head[j]     = E[j] @ first ``width`` values    (per-record edge map)
    tail[j]     = reversed head under sign flip

    The fact table sees exactly one shuffle (the record window); the
    edge values come from a filtered O(records·width) side frame,
    reduced to a per-record {seq -> value} map and broadcast-joined
    back — the side aggregations shuffle only the tiny side.
    """
    h = width // 2
    c = savgol_coeffs(width, polyorder, deriv, delta)
    y = F.col(f"`{col}`").cast("double")
    w = _record_w()
    frame = _record_frame()

    pos = F.row_number().over(w) - F.lit(1)  # LEN
    n = F.count(F.lit(1)).over(frame)
    rev = n - F.lit(1) - pos  # rows from end

    # out[i] = sum_k c_k * y[i - h + k]; lag(y, off) reads y[i - off],
    # so the tap at window slot k needs off = h - k. Built as ONE SQL
    # string — a width-term Column chain costs ~5·width py4j
    # round-trips PER QUERY BUILD (driver-side, before any execution);
    # at width 11 that alone is tens of ms, and the edge maps below
    # multiply it by 2h rows. One expr() call parses JVM-side.
    ysql = f"CAST(`{col}` AS DOUBLE)"
    wsql = "OVER (PARTITION BY record_id ORDER BY seq)"
    interior = F.expr(
        " + ".join(
            f"({float(ck)!r} * lag({ysql}, {h - k}) {wsql})" for k, ck in enumerate(c)
        )
    )

    if not edges:
        # interior-only (edge rows null): skips the edge machinery —
        # use when downstream filters to interior
        expr = F.when(
            (n >= F.lit(width)) & (pos >= h) & (rev >= h), interior
        )
        return df.withColumn(out, expr)

    # Edge values (mode='interp') depend only on the first/last
    # ``width`` samples of each record. Computing them as 2*width
    # conditional window aggregates costs per-ROW work across the whole
    # table; instead build a per-RECORD map {edge_seq -> value} on a
    # filtered small side and broadcast-join it back: zero extra
    # shuffles of the fact table, O(records) side state.
    # (Relies on the engine invariant: seq is dense 0..n-1 per record.)
    #
    # The whole side is ONE filtered pass + ONE aggregation: the record
    # length comes from a window over the partitioning the frame
    # already has (no counts shuffle), head/tail rows are selected in a
    # single filter, and the head array, reversed tail array, AND the
    # short-record fit moments are collected by the same groupBy. The
    # previous formulation (separate counts/heads/tails/short
    # aggregations chained by joins) rebuilt the windowed source four
    # times — measured 2.2 s of the w_indicator_full bench at sf0.1;
    # this shape is a single re-derivation.
    E = savgol_edge_matrix(width, polyorder, deriv, delta)
    sign = (-1.0) ** deriv

    src = df.select(
        "record_id",
        "seq",
        y.alias("__y"),
        F.expr("count(1) OVER (PARTITION BY record_id)").alias("__n"),
    )
    # moments feed the short-record global fit; for n < width every row
    # is a head row, so summing over the filtered side == summing over
    # the record (long records' moments are unused)
    moments = [
        f"sum(__y * power(CAST(seq AS DOUBLE), {j})) AS __t{j}"
        for j in range(min(polyorder, 3) + 1)
    ]
    agg = (
        src.filter(f"seq < {width} OR seq >= __n - {width}")
        .groupBy("record_id")
        .agg(
            F.expr("max(__n) AS __n"),
            F.expr(
                f"transform(array_sort(collect_list(CASE WHEN seq < {width} "
                "THEN struct(seq, __y) END)), s -> s.__y) AS __hy"
            ),
            # reversed: __ty[k] = y[n-1-k]
            F.expr(
                f"reverse(transform(array_sort(collect_list(CASE WHEN seq >= __n - {width} "
                "THEN struct(seq, __y) END)), s -> s.__y)) AS __ty"
            ),
            *[F.expr(m) for m in moments],
        )
    )

    # whole edge map as one SQL string (2h rows × width taps would be
    # ~1000 py4j calls as Column algebra — the dominant cost of
    # building this query, not running it)
    def dot_sql(arr: str, row, scale: float = 1.0) -> str:
        return " + ".join(
            f"({scale * float(row[k])!r} * element_at({arr}, {k + 1}))"
            for k in range(width)
        )

    keys_sql = [f"CAST({j} AS BIGINT)" for j in range(h)] + [
        f"CAST(__n - 1 - {j} AS BIGINT)" for j in range(h)
    ]
    vals_sql = [dot_sql("__hy", E[j]) for j in range(h)] + [
        dot_sql("__ty", E[j], sign) for j in range(h)
    ]
    emap_sql = (
        f"map_from_arrays(array({', '.join(keys_sql)}), array({', '.join(vals_sql)}))"
    )
    edge_maps = agg.filter(F.col("__n") >= width).select(
        "record_id", "__n", F.expr(emap_sql).alias("__emap")
    )

    # Records SHORTER than ``width`` degrade to a single global
    # polynomial fit of degree min(polyorder, n-1) — numpy-oracle
    # semantics (savgol_filter_np). The fit is computed NATIVELY from
    # Gram-polynomial moments (closed-form normal equations on the
    # integer grid) collected by the same side aggregation, so the
    # whole plan stays JVM-side. Supported for polyorder ≤ 3 (every
    # reference/repo use); higher orders keep the old behavior (short
    # records → null).
    short_maps = None
    if polyorder <= 3:
        short_maps = _short_global_fit_maps(
            agg.filter(F.col("__n") < width), polyorder, deriv, delta
        )

    side = edge_maps if short_maps is None else edge_maps.unionByName(short_maps)
    joined = df.join(F.broadcast(side), "record_id", "left")
    # try_element_at: missing key -> null (ANSI element_at would throw)
    edge_val = F.try_element_at(F.col("__emap"), F.col("seq"))
    expr = F.when(F.col("__n").isNotNull(), F.coalesce(edge_val, interior))
    return joined.withColumn(out, expr).drop("__emap", "__n")


def _short_global_fit_maps(
    agg: DataFrame, polyorder: int, deriv: int, delta: float
) -> DataFrame:
    """Per-record {seq -> value} maps for records with n < width: the
    single least-squares polynomial fit of degree min(polyorder, n-1),
    derived in closed form.

    ``agg`` is the already-aggregated short-record side frame from
    ``savgol_native`` carrying ``__n`` and the weighted power moments
    ``__t0..__tk`` (Σ y·seqʲ over the whole record).

    On the integer grid 0..n-1 the discrete orthogonal (Gram) basis is
    φ0 = 1, φ1 = c (centered x), φ2 = c² − m2, φ3 = c³ − αc with
    m2 = (n²−1)/12, α = Σc⁴/Σc², and the power sums Σc², Σc⁴, Σc⁶
    are Faulhaber closed forms in n — so each fit coefficient is a
    ratio of two aggregate expressions. Assembled as ONE SQL string
    (the equivalent Column algebra is ~80 py4j round-trips of
    driver-side build cost per query)."""
    n = "CAST(__n AS DOUBLE)"
    xbar = f"(({n} - 1.0) / 2.0)"
    m2 = f"(({n}*{n} - 1.0) / 12.0)"
    sc2 = f"({n} * ({n}*{n} - 1.0) / 12.0)"
    sc4 = f"({n} * ({n}*{n} - 1.0) * (3.0*{n}*{n} - 7.0) / 240.0)"
    sc6 = f"({n} * ({n}*{n} - 1.0) * (3.0*power({n},4) - 18.0*{n}*{n} + 31.0) / 1344.0)"
    alpha = f"(CASE WHEN __n > 1 THEN {sc4} / {sc2} ELSE 0.0 END)"

    t = [f"__t{j}" if j <= polyorder else "0.0" for j in range(4)]
    c1y = f"({t[1]} - {xbar} * {t[0]})"
    phi2y = f"({t[2]} - 2*{xbar}*{t[1]} + {xbar}*{xbar}*{t[0]} - {m2}*{t[0]})"
    phi3y = (
        f"({t[3]} - 3*{xbar}*{t[2]} + 3*{xbar}*{xbar}*{t[1]}"
        f" - power({xbar},3)*{t[0]} - {alpha}*{c1y})"
    )

    a0 = f"({t[0]} / {n})"
    a1 = f"(CASE WHEN __n > 1 THEN {c1y} / {sc2} ELSE 0.0 END)" if polyorder >= 1 else "0.0"
    a2 = (
        f"(CASE WHEN __n > 2 THEN {phi2y} / ({sc4} - {n}*{m2}*{m2}) ELSE 0.0 END)"
        if polyorder >= 2
        else "0.0"
    )
    a3 = (
        f"(CASE WHEN __n > 3 THEN {phi3y} / ({sc6} - {sc4}*{sc4}/{sc2}) ELSE 0.0 END)"
        if polyorder >= 3
        else "0.0"
    )

    cv = f"(CAST(p AS DOUBLE) - {xbar})"
    if deriv == 0:
        v = f"({a0} + {a1}*{cv} + {a2}*({cv}*{cv} - {m2}) + {a3}*(power({cv},3) - {alpha}*{cv}))"
    elif deriv == 1:
        v = f"({a1} + 2*{a2}*{cv} + {a3}*(3.0*{cv}*{cv} - {alpha}))"
    elif deriv == 2:
        v = f"(2*{a2} + 6.0*{a3}*{cv})"
    elif deriv == 3:
        v = f"(6.0*{a3})"
    else:  # deriv > polyorder of the global fit -> 0
        v = "0.0"
    fitted = f"({v} / {float(delta) ** deriv!r})"

    seq_arr = "sequence(CAST(0 AS BIGINT), CAST(__n - 1 AS BIGINT))"
    return agg.select(
        "record_id",
        "__n",
        F.expr(
            f"map_from_arrays({seq_arr}, transform({seq_arr}, p -> {fitted}))"
        ).alias("__emap"),
    )
