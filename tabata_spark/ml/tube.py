"""Tube — confidence tubes from randomized regression ensembles
(reference tubes.py).

For each target variable the reference fits ``retry_number`` linear
regressions on random factor subsets and disjoint row samples, keeps
the best ``keep_best_number`` by test-R² with early stopping
(tubes.py:177-271), and turns the kept ensemble's per-row predictions
into a confidence tube ``[z - q·(z - zmin), z + q·(zmax - z)]``,
optionally SG-smoothed (tubes.py:306-356). Out-of-tube point counts
per record are the anomaly scores (tubes.py:376-406).

Spark-first design:

- train/test disjointness (tubes.py:224-227) comes from one seeded
  ``rand()`` column per iteration: train = u < p, test = p ≤ u < 2p —
  without-replacement stratification instead of the reference's
  with-replacement choice (deterministic, one pass, no anti-join);
  fitting derives the synthetic factors TIME/MEDIAN/CAUSAL
  (tubes.py:214-219) as record-window expressions;
- each kept model is stored as plain (intercept, {col: coef}, r2);
- applying the models is one per-record numpy kernel
  (``_tube_bounds``): synthetic factors, K linear predictions,
  z/zmin/zmax and the SG-smoothed bounds (``savgol_filter_np``) for
  every target of a record in one Python call. The tube's cost is
  per-row arithmetic over a record held in memory, so a plan built
  from Spark expressions only added planning work that grows with
  targets × bounds;
- ``scores`` is ONE select → groupBy(record_id) → applyInPandas over
  all records and all targets: one scan, one exchange (the reference
  loops records in Python); ``estimate_frame`` runs the same kernel
  and joins its bounds back onto the input rows.
"""

from __future__ import annotations

import math
import random

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tabata_spark.core.signalset import SignalSet
from tabata_spark.operators.savgol import savgol_filter_np

SYNTH = ("TIME", "MEDIAN", "CAUSAL")


def _with_synthetic(df: DataFrame, target: str) -> DataFrame:
    """TIME/MEDIAN/CAUSAL factor columns for one target
    (tubes.py:214-219): row position, per-record exact median of the
    target, per-record first value of the target."""
    w = Window.partitionBy("record_id").orderBy("seq")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        df.withColumn("TIME", (F.row_number().over(w) - F.lit(1)).cast("double"))
        .withColumn("MEDIAN", F.expr(f"percentile(`{target}`, 0.5)").over(frame))
        .withColumn("CAUSAL", F.first(F.col(f"`{target}`")).over(frame))
    )


# ------------------------------------------------------------- kernel
#
# Per-record numpy kernel behind ``estimate_frame`` and ``scores``. A
# column arrives as (values, null mask): Spark keeps null and NaN
# apart, and SQL semantics treat them differently — a null factor makes
# the row's bounds null (never out of tube), while NaN orders above
# every number (a NaN ``y`` is above any numeric ``zmax``, any numeric
# ``y`` is below a NaN ``zmin``).


def _kernel_input(data: DataFrame, cols: list[str]) -> DataFrame:
    """record_id, seq, then per column its double value ``v<i>`` and
    null flag ``n<i>`` (pandas turns a null double into NaN, and the
    tube treats the two differently)."""
    return data.select(
        "record_id",
        "seq",
        *[
            e
            for i, c in enumerate(cols)
            for e in (
                F.col(f"`{c}`").cast("double").alias(f"v{i}"),
                F.col(f"`{c}`").isNull().alias(f"n{i}"),
            )
        ],
    )


def _sorted_record(pdf, ncols: int):
    """The group's rows in seq order, and its columns as value and
    null-mask arrays."""
    pdf = pdf.sort_values("seq", kind="stable")
    v = [pdf[f"v{i}"].to_numpy(dtype=float) for i in range(ncols)]
    nl = [pdf[f"n{i}"].to_numpy(dtype=bool) for i in range(ncols)]
    return pdf, v, nl


def _median(y: np.ndarray, null: np.ndarray) -> tuple[float, bool]:
    """``percentile(y, 0.5)`` as Spark computes it: nulls skipped, NaN
    sorted above every number, the two middle values interpolated."""
    v = np.sort(y[~null])
    m = len(v)
    if m == 0:
        return math.nan, True
    lo, hi = v[(m - 1) // 2], v[m // 2]
    return (float(lo) if m % 2 else 0.5 * lo + 0.5 * hi), False


def _smooth(v: np.ndarray, null: np.ndarray, width: int):
    """SG(width, 2) of one bound with interp edges (savgol_filter_np).
    An output row is null when its fit window holds a null; a record
    shorter than ``width`` takes one global fit that skips null rows
    (null only when every row is)."""
    n = len(v)
    if n < width:
        if null.all():
            return v, null
        return savgol_filter_np(np.where(null, 0.0, v), width, 2), np.zeros(n, bool)
    # row i's window starts at clip(i - h, 0, n - width): interior rows
    # are centred, the h edge rows share the first/last window
    start = np.clip(np.arange(n) - width // 2, 0, n - width)
    cum = np.concatenate(([0], np.cumsum(null)))
    return savgol_filter_np(v, width, 2), cum[start + width] > cum[start]


def _tube_bounds(v, nl, yi: int, members, q: float, w: int):
    """One target's tube over one record (tubes.py:306-356): K linear
    predictions → z = mean, zmin/zmax = z ∓ q·(z − least/greatest) →
    SG-smoothed bounds. Returns (z, z null, zmin, zmax, bound null)."""
    y, yn = v[yi], nl[yi]
    n = len(y)
    if not members:
        nan = np.full(n, math.nan)
        return nan, np.zeros(n, bool), nan, nan, np.zeros(n, bool)
    synth: dict = {"TIME": (np.arange(n, dtype=float), np.zeros(n, bool))}

    def factor(c):
        if c not in synth and c in ("MEDIAN", "CAUSAL"):
            m, mn = _median(y, yn) if c == "MEDIAN" else (y[0], yn[0])
            synth[c] = (np.full(n, m), np.full(n, mn))
        return synth[c] if isinstance(c, str) else (v[c], nl[c])

    preds, masks = [], []
    for b0, terms in members:
        p, pn = np.full(n, float(b0)), np.zeros(n, bool)
        for c, b in terms:
            x, xn = factor(c)
            p, pn = p + b * x, pn | xn
        preds.append(p)
        masks.append(pn)
    P, M = np.array(preds), np.array(masks)
    z = P[0]
    for p in P[1:]:  # left to right, as Spark adds them
        z = z + p
    z = z / float(len(P))
    zn = M.any(axis=0)  # one null prediction makes z, and so the row, null
    # NaN is the largest value: least is NaN only if every prediction
    # is, greatest if any is
    zmin = z - q * (z - np.fmin.reduce(P, axis=0))
    zmax = z + q * (P.max(axis=0) - z)
    bn = zn
    if w > 0:
        zmin, bn = _smooth(zmin, zn, 2 * w + 1)
        zmax, _ = _smooth(zmax, zn, 2 * w + 1)
    return z, zn, zmin, zmax, bn


def _out_of_tube(y, yn, zmin, zmax, bn) -> int:
    """Rows with y > zmax or y < zmin under Spark's ordering (NaN above
    every number); a null y or null bound never counts."""
    ynan = np.isnan(y)
    above = (ynan & ~np.isnan(zmax)) | (y > zmax)
    below = (np.isnan(zmin) & ~ynan) | (y < zmin)
    return int(np.count_nonzero(~yn & ~bn & (above | below)))


class Tube:
    """Confidence-tube model over a :class:`SignalSet`."""

    def __init__(self, sset: SignalSet, seed: int = 42):
        self.sset = sset
        channels = sset.channels
        self.variables: set[str] = {channels[0]} if channels else set()
        self.factors: set[str] = set(channels)
        self._reg: dict[str, list[tuple]] = {}  # target -> [(intercept, {col: coef}, r2)]
        self.seed = seed
        self.learn_params = dict(
            retry_number=10, keep_best_number=5, samples_percent=0.01, max_features=5
        )
        self.feature_params = dict(local_value="Absolute", use_time="No")
        self.tube_params = dict(tube_factor=10.0, filter_width=20)

    # ------------------------------------------------------------- fitting

    def _candidate_factors(self, target: str) -> list[str]:
        cols = sorted(c for c in self.factors if c != target)
        if self.feature_params["use_time"] == "Yes":
            cols.append("TIME")
        if self.feature_params["local_value"] == "Median":
            cols.append("MEDIAN")
        if self.feature_params["local_value"] == "Causal":
            cols.append("CAUSAL")
        return cols

    def build_tube(self, target: str) -> list[tuple]:
        """One target's regression population (tubes.py:177-271):
        random factor subsets, disjoint samples, keep-best-K with
        early stop after K consecutive misses."""
        from pyspark.ml.evaluation import RegressionEvaluator
        from pyspark.ml.feature import VectorAssembler
        from pyspark.ml.regression import LinearRegression

        lp = self.learn_params
        cols = self._candidate_factors(target)
        if not cols:
            return []
        rng = random.Random(f"{self.seed}:{target}")
        p = lp["samples_percent"]
        base = _with_synthetic(self.sset.df, target).select(
            "record_id", "seq", F.col(f"`{target}`").alias("__y"),
            *[F.col(f"`{c}`").alias(c) for c in cols],
        ).cache()

        pop: list[tuple] = []  # (intercept, {col: coef}, r2)
        miss = 0
        evaluator = RegressionEvaluator(
            labelCol="__y", predictionCol="prediction", metricName="r2"
        )
        try:
            for i in range(lp["retry_number"]):
                k = min(rng.randint(1, len(cols)), lp["max_features"], len(cols))
                cc = rng.sample(cols, k)
                u = F.rand(seed=self.seed * 1000 + i)
                tagged = base.withColumn("__u", u)
                train = tagged.filter(F.col("__u") < p)
                test = tagged.filter((F.col("__u") >= p) & (F.col("__u") < 2 * p))
                asm = VectorAssembler(inputCols=cc, outputCol="features")
                lr = LinearRegression(featuresCol="features", labelCol="__y")
                model = lr.fit(asm.transform(train).select("features", "__y"))
                r2 = evaluator.evaluate(
                    model.transform(asm.transform(test).select("features", "__y"))
                )
                entry = (
                    float(model.intercept),
                    dict(zip(cc, [float(v) for v in model.coefficients])),
                    float(r2),
                )
                if i < lp["keep_best_number"]:
                    pop.append(entry)
                else:
                    worst = min(range(len(pop)), key=lambda j: pop[j][2])
                    if r2 > pop[worst][2]:
                        pop[worst] = entry
                        miss = 0
                    else:
                        miss += 1
                        if miss == lp["keep_best_number"]:
                            break
        finally:
            base.unpersist()
        return pop

    def fit(self) -> "Tube":
        """Fit every target (tubes.py:276-303)."""
        if len(self.sset) == 0:
            raise ValueError("no data")
        for target in sorted(self.variables):
            self._reg[target] = self.build_tube(target)
        return self

    def describe(self) -> dict[str, dict[str, int]]:
        """Factor-usage counts per target (tubes.py:359-373)."""
        out: dict[str, dict[str, int]] = {}
        for target, pop in self._reg.items():
            cnt: dict[str, int] = {}
            for _, coefs, _ in pop:
                for c in coefs:
                    cnt[c] = cnt.get(c, 0) + 1
            out[target] = cnt
        return out

    # ------------------------------------------------------------ estimate

    def _kernel_spec(self, targets: list[str]):
        """Columns the per-record kernel reads, and each target's
        ensemble rewritten over their positions: ``(target, y index,
        [(intercept, [(factor, coef)…])…])``, a factor being a column
        position or a SYNTH name."""
        cols: list[str] = []

        def pos(c: str) -> int:
            if c not in cols:
                cols.append(c)
            return cols.index(c)

        spec = []
        for t in targets:
            members = [
                (b0, [(c if c in SYNTH else pos(c), b) for c, b in coefs.items()])
                for b0, coefs, _ in self._reg[t]
            ]
            spec.append((t, pos(t), members))
        return cols, spec

    def estimate_frame(self, target: str, df: DataFrame | None = None) -> DataFrame:
        """Tube bounds for every row of every record at once
        (tubes.py:306-356), from the per-record kernel ``_tube_bounds``
        run in one grouped pass and joined back on (record_id, seq).

        Returns the input plus columns ``z, zmin, zmax``. Unknown
        target → NaN columns (tubes.py:318-322)."""
        data = df if df is not None else self.sset.df
        if not self._reg.get(target):
            nan = F.lit(float("nan"))
            return data.withColumn("z", nan).withColumn("zmin", nan).withColumn("zmax", nan)

        import pandas as pd

        cols, spec = self._kernel_spec([target])
        _, yi, members = spec[0]
        q, w = self.tube_params["tube_factor"], self.tube_params["filter_width"]
        inp = _kernel_input(data, cols)
        schema = T.StructType(
            [inp.schema["record_id"], inp.schema["seq"]]
            + [T.StructField(c, T.DoubleType()) for c in ("z", "zmin", "zmax")]
        )

        def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
            pdf, v, nl = _sorted_record(pdf, len(cols))
            z, zn, lo, hi, bn = _tube_bounds(v, nl, yi, members, q, w)
            # masked arrays keep NaN and null apart on the way back
            out = {
                c: pd.arrays.FloatingArray(a, m)
                for c, a, m in (("z", z, zn), ("zmin", lo, bn), ("zmax", hi, bn))
            }
            return pd.DataFrame(
                {"record_id": pdf["record_id"].to_numpy(), "seq": pdf["seq"].to_numpy(), **out}
            )

        est = inp.groupBy("record_id").applyInPandas(fn, schema)
        return data.join(est, ["record_id", "seq"], "left").select(
            *[F.col(f"`{c}`") for c in data.columns], "z", "zmin", "zmax"
        )

    # -------------------------------------------------------------- scores

    def scores(self, df: DataFrame | None = None) -> DataFrame:
        """Out-of-tube counts per record × target (tubes.py:392-406) in
        one grouped pass: one scan, the rows exchanged once on
        record_id, every target scored by ``_tube_bounds`` inside the
        same Python call. Returns (record_id, N, score_<target>…),
        ordered by record_id."""
        import pandas as pd

        data = df if df is not None else self.sset.df
        targets = sorted(self._reg)
        cols, spec = self._kernel_spec(targets)
        q, w = self.tube_params["tube_factor"], self.tube_params["filter_width"]
        inp = _kernel_input(data, cols)
        schema = T.StructType(
            [inp.schema["record_id"], T.StructField("N", T.LongType())]
            + [T.StructField(f"score_{t}", T.LongType()) for t in targets]
        )

        def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
            pdf, v, nl = _sorted_record(pdf, len(cols))
            row = {"record_id": [pdf["record_id"].iloc[0]], "N": [len(pdf)]}
            for t, yi, members in spec:
                _, _, lo, hi, bn = _tube_bounds(v, nl, yi, members, q, w)
                row[f"score_{t}"] = [_out_of_tube(v[yi], nl[yi], lo, hi, bn)]
            return pd.DataFrame(row)

        # one row per record: sorting it in one partition needs no
        # range-partition sampling job, which would run the kernel twice
        return (
            inp.groupBy("record_id")
            .applyInPandas(fn, schema)
            .repartition(1)
            .sortWithinPartitions("record_id")
        )

    def score_proportions(self, df: DataFrame | None = None) -> DataFrame:
        """scr[col]/N (tubes.py:417)."""
        scr = self.scores(df)
        for target in sorted(self._reg):
            c = f"score_{target}"
            scr = scr.withColumn(c, F.col(c) / F.col("N"))
        return scr


def app_tube(origin: SignalSet, tube: Tube, target: str) -> DataFrame:
    """AppTube (tubes.py:79-142): overlay tube estimates learned on an
    extract onto the matching records of the origin set — a
    (record_id, ts) equi-join of the origin rows with the estimate
    rows computed on the extract."""
    est = tube.estimate_frame(target).select("record_id", "ts", "z", "zmin", "zmax")
    return origin.df.join(est, ["record_id", "ts"], "left")


# ------------------------------------------------------------ persistence


def save_tube(tube: Tube, path: str) -> None:
    """Persist the learned state (reference pickles Selector/Tube,
    instants_doc cell 74; here: JSON — the models are plain floats)."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    state = {
        "variables": sorted(tube.variables),
        "factors": sorted(tube.factors),
        "learn_params": tube.learn_params,
        "feature_params": tube.feature_params,
        "tube_params": tube.tube_params,
        "seed": tube.seed,
        "reg": {
            t: [[b0, coefs, r2] for (b0, coefs, r2) in pop]
            for t, pop in tube._reg.items()
        },
    }
    with open(os.path.join(path, "tube.json"), "w") as f:
        json.dump(state, f, indent=1)


def load_tube(sset: SignalSet, path: str) -> Tube:
    import json
    import os

    with open(os.path.join(path, "tube.json")) as f:
        state = json.load(f)
    tube = Tube(sset, seed=state["seed"])
    tube.variables = set(state["variables"])
    tube.factors = set(state["factors"])
    tube.learn_params = state["learn_params"]
    tube.feature_params = state["feature_params"]
    tube.tube_params = state["tube_params"]
    tube._reg = {
        t: [(b0, coefs, r2) for b0, coefs, r2 in pop]
        for t, pop in state["reg"].items()
    }
    return tube
