"""Selector — supervised instant detection (reference instants.py).

The reference learns to locate a characteristic *instant* in each
signal: an expert labels row positions on a few records
(``selected``), a grid of bump/valley indicator features is
materialized (``make_indicators``, instants.py:211-360), decision
trees on sampled rows vote on feature importance
(instants.py:363-466), and the final tree's per-row ±1 prediction is
smoothed/normalized into a per-record belief curve whose argmax is the
predicted instant (``belief``, instants.py:483-549).

Spark-first design:

- labels are keyed by **record name** (the reference keys by cursor
  position, instants.py:104-127 — an intentional divergence noted in
  SURVEY §7: positional keys don't survive a distributed, unordered
  world; the alphabetical record list makes the mapping bijective);
- the indicator grid is ONE Arrow-batched ``applyInPandas`` pass per
  epoch over the labeled records (the grid of ~240 features/variable
  amortizes the batch transfer; each group is one record);
- the noise-scale pass (epsilon, instants.py:269-295) is a grouped
  aggregation: per-record std of the difference of two SG filterings,
  then a global max per (width, order, variable);
- tree fitting is MLlib (``DecisionTreeClassifier`` on assembled
  vectors) in a driver loop over ``retry_number`` — control flow on
  the driver, every data pass distributed;
- belief/predict runs set-oriented over ALL records at once:
  indicator recompute (retained codes only) → model.transform →
  SG-derivative smooth → clip/normalize (native window expressions) →
  per-record argmax via ``max_by``;
- all randomness is seeded (the reference uses unseeded np.random —
  deliberate determinism divergence, SURVEY §7).
"""

from __future__ import annotations

import math
from collections.abc import Iterable

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tabata_spark.core.signalset import SignalSet
from tabata_spark.operators.indicator import indicator_np
from tabata_spark.operators.savgol import savgol_filter_np

#: idcode tuple = (colname, l, d, es, eps) — reference semantics
#: (instants.py:161-183): l = filter half-width (negative => reversed
#: indicator), d = derivative order - 1, es = signed sigma multiplier,
#: eps = estimated noise scale. Position features use l == 0.
POSITION_CODES = [
    ("LEN", 0, 0, 0, 0.0),
    ("REV", 0, 0, 0, 0.0),
    ("PERCENT", 0, 0, 0, 0.0),
]


def _code_name(colname: str, l: int, d: int, s: int, forward: bool) -> str:
    """Reference naming (instants.py:329-347): NAME[+w{l}o{d}u{s}]."""
    from tabata_spark.core.naming import nameunit

    name, _ = nameunit(colname)
    code = f"{abs(l)}o{d + 1}" + (f"u{abs(s)}" if s > 0 else f"d{abs(s)}")
    return f"{name}[{'+' if forward else '-'}w{code}]"


def _indicator_frame_fn(idcodes, deg_poly, struct_cols):
    """Grouped-map kernel: one record in, the indicator matrix out.

    Shared by make_indicators (full grid) and belief (retained codes).
    Position features replicate instants.py:306-311; indicator columns
    replicate instants.py:319-348 including the reversed c[-1]-c form.
    """

    def fn(pdf):
        pdf = pdf.sort_values("seq")
        n = len(pdf)
        a = np.arange(n, dtype=float)
        out = {c: pdf[c].to_numpy() for c in struct_cols}
        cache: dict[tuple, np.ndarray] = {}
        for name, (colname, l, d, es, eps) in idcodes.items():
            if l == 0:
                if colname == "LEN":
                    out[name] = a
                elif colname == "REV":
                    out[name] = a[::-1].copy()
                elif colname == "PERCENT":
                    out[name] = a / (n - 1) if n > 1 else np.zeros(n)
                else:
                    out[name] = pdf[colname].to_numpy(dtype=float)
                continue
            key = (colname, abs(l), d, es)
            if key not in cache:
                y = pdf[colname].to_numpy(dtype=float)
                w = 2 * abs(l) + 1
                cache[key] = indicator_np(y, w, d + 1, es * eps, deg_poly)
            c = cache[key]
            out[name] = c[-1] - c if l < 0 else c

        import pandas as pd

        return pd.DataFrame(out)

    return fn


class Selector:
    """Instant detector over a :class:`SignalSet`.

    Parameters mirror the reference defaults (instants.py:173-181).
    """

    def __init__(self, sset: SignalSet, seed: int = 42):
        self.sset = sset
        self.selected: dict[str, int] = {}  # record_name -> instant seq
        self.variables: set[str] = set()
        self.computed: dict[str, int] = {}
        self.idcodes: list[tuple] = []
        self.seed = seed
        self._dsi: DataFrame | None = None
        self._dsi_key: tuple | None = None
        self._grid_codes: list[tuple] = []
        self._kept_names: list[str] = []
        self._model = None
        self.learn_params = dict(
            retry_number=10,
            retry_percentile=80,
            samples_percent=0.01,
            min_samples_split=0.05,
        )
        self.feature_params = dict(range_width=None, range_sigma=range(5, 26, 10), max_order=2)
        self.predict_params = dict(filter_width=100)

    # ----------------------------------------------------------- helpers

    def _labeled(self) -> SignalSet:
        return self.sset.subset(sorted(self.selected))

    def _instants_df(self, mapping: dict[str, int]) -> DataFrame:
        spark = self.sset.df.sparkSession
        return spark.createDataFrame(
            [(k, int(v)) for k, v in sorted(mapping.items())],
            "record_id string, instant long",
        )

    @property
    def _deg_poly(self) -> int:
        # instants.py:257: deg_poly = max(2, max_order)
        return max(2, self.feature_params["max_order"])

    # ----------------------------------------------------------- epsilon

    def estimate_epsilon(self) -> dict[tuple, float]:
        """Noise scales per (width, order, variable): the max over
        labeled records of std(SG(y) - SG(SG(y))) — reference
        instants.py:269-295 verbatim semantics, run as one grouped
        aggregation pass instead of a per-record Python loop.
        """
        colnames = sorted(self.variables)
        range_width = self.feature_params["range_width"]
        max_order = self.feature_params["max_order"]
        deg = self._deg_poly
        widths = [2 * l + 1 for l in range_width]

        schema = T.StructType(
            [
                T.StructField("record_id", T.StringType()),
                T.StructField("w", T.IntegerType()),
                T.StructField("d", T.IntegerType()),
                T.StructField("colname", T.StringType()),
                T.StructField("r", T.DoubleType()),
            ]
        )

        def fn(pdf):
            import pandas as pd

            pdf = pdf.sort_values("seq")
            rid = pdf["record_id"].iloc[0]
            rows = []
            for colname in colnames:
                y = pdf[colname].to_numpy(dtype=float)
                for w in widths:
                    for d in range(max_order):
                        b = savgol_filter_np(y, w, deg, deriv=d + 1)
                        c = savgol_filter_np(b, 2 * w + 1, deg, deriv=d + 1)
                        rows.append((rid, w, d, colname, float(np.std(b - c))))
            return pd.DataFrame(rows, columns=["record_id", "w", "d", "colname", "r"])

        labeled = self._labeled().df.select("record_id", "seq", *colnames)
        agg = (
            labeled.groupBy("record_id")
            .applyInPandas(fn, schema)
            .groupBy("w", "d", "colname")
            .agg(F.max("r").alias("eps"))
            .collect()
        )
        return {(r["w"], r["d"], r["colname"]): r["eps"] for r in agg}

    # ----------------------------------------------------- make_indicators

    def make_indicators(self, path: str | None = None) -> DataFrame:
        """Materialize the indicator feature grid for labeled records
        (reference make_indicators, instants.py:211-360).

        Grid: variable × half-width × derivative-order × sigma-multiple
        × sign, plus the reversed variant — gated by the label-position
        quantiles Qmin<0.65 / Qmax>0.35 (instants.py:334,341). Returns
        (and caches) the wide indicator DataFrame; writes Parquet when
        ``path`` given (the reference's ``_I`` store)."""
        if not self.selected:
            raise ValueError("nothing to learn: no selected instants")
        colnames = sorted(self.variables)

        labeled = self._labeled()
        lengths = {r["record_id"]: r["n"] for r in labeled.record_lengths().collect()}
        Q = np.array([self.selected[k] / lengths[k] for k in sorted(self.selected)])
        qmin, qmax = Q.min(), Q.max()

        if self.feature_params["range_width"] is None:
            # instants.py:254-256 default width heuristic
            L0 = max(10, int(math.floor(min(lengths.values()) / 100)))
            self.feature_params["range_width"] = range(L0, 10 * L0 + 1, L0)

        eps_map = self.estimate_epsilon()

        idcodes: dict[str, tuple] = {}
        for nm, code in zip(["LEN[pts]", "REV[pts]", "PERCENT[%]"], POSITION_CODES):
            idcodes[nm] = code
        for colname in colnames:
            idcodes[colname] = (colname, 0, 0, 0, 0.0)
            for l in self.feature_params["range_width"]:
                w = 2 * l + 1
                for d in range(self.feature_params["max_order"]):
                    eps = eps_map[(w, d, colname)]
                    for s in self.feature_params["range_sigma"]:
                        for e in (1, -1):
                            if qmin < 0.65:
                                idcodes[_code_name(colname, l, d, e * s, True)] = (
                                    colname,
                                    l,
                                    d,
                                    e * s,
                                    eps,
                                )
                            if qmax > 0.35:
                                idcodes[_code_name(colname, l, d, e * s, False)] = (
                                    colname,
                                    -l,
                                    d,
                                    e * s,
                                    eps,
                                )

        struct_cols = ["record_id", "seq"]
        base = labeled.df.select(*struct_cols, *colnames)
        schema = T.StructType(
            [base.schema[c] for c in struct_cols]
            + [T.StructField(nm, T.DoubleType()) for nm in idcodes]
        )
        fn = _indicator_frame_fn(idcodes, self._deg_poly, struct_cols)
        dsi = base.groupBy("record_id").applyInPandas(fn, schema)
        if path:
            dsi.write.partitionBy("record_id").mode("overwrite").parquet(path)
            dsi = base.sparkSession.read.parquet(path)
        else:
            dsi = dsi.cache()
        self.idcodes = list(idcodes.values())
        self._grid_codes = list(idcodes.values())
        self._dsi = dsi
        self._dsi_key = (tuple(sorted(self.variables)), tuple(sorted(self.selected.items())))
        return dsi

    # ---------------------------------------------------------------- fit

    def fit(self) -> "Selector":
        """Reference fit (instants.py:363-466): retry_number sampled
        trees accumulate feature importances; percentile-prune; refit
        on kept columns until every feature is used."""
        from pyspark.ml.classification import DecisionTreeClassifier
        from pyspark.ml.feature import VectorAssembler

        key = (tuple(sorted(self.variables)), tuple(sorted(self.selected.items())))
        if self._dsi is None or self._dsi_key != key:
            self.make_indicators()
        dsi = self._dsi
        all_codes = list(self._grid_codes)
        feat_names = [c for c in dsi.columns if c not in ("record_id", "seq")]

        instants = F.broadcast(self._instants_df(self.selected))
        labeled = dsi.join(instants, "record_id").withColumn(
            # instants.py:390: y = 1 - 2*(pos <= ind); MLlib wants {0,1}
            "label",
            F.when(F.col("seq") <= F.col("instant"), F.lit(0.0)).otherwise(F.lit(1.0)),
        )
        labeled = labeled.cache()
        try:
            n_total = labeled.count()

            p = self.learn_params["samples_percent"]
            split_frac = self.learn_params["min_samples_split"]
            rn = self.learn_params["retry_number"]

            def fit_tree(fraction: float, cols: list[str], seed: int):
                sample = labeled.sample(withReplacement=True, fraction=fraction, seed=seed)
                asm = VectorAssembler(inputCols=cols, outputCol="features")
                n_sample = max(int(n_total * fraction), 1)
                clf = DecisionTreeClassifier(
                    labelCol="label",
                    featuresCol="features",
                    # sklearn min_samples_split=frac gates node *splits* at
                    # ceil(frac*n); MLlib gates per-child instance counts —
                    # half the split threshold approximates it
                    minInstancesPerNode=max(1, int(math.ceil(split_frac * n_sample / 2))),
                    seed=seed,
                )
                model = clf.fit(asm.transform(sample).select("features", "label"))
                fi = np.zeros(len(cols))
                imp = model.featureImportances
                for i, v in zip(imp.indices, imp.values):
                    fi[i] = v
                return model, fi

            fi = np.zeros(len(feat_names))
            for k in range(rn):
                _, fik = fit_tree(p, feat_names, self.seed + k)
                fi += fik

            seuil = np.percentile(fi, self.learn_params["retry_percentile"])
            keep = [i for i in range(len(feat_names)) if fi[i] > seuil]
            p1 = min(0.5, p * rn)
            model, fi2 = fit_tree(p1, [feat_names[i] for i in keep], self.seed + rn)
            while np.sum(fi2 == 0) > 0:
                keep = [keep[i] for i in range(len(keep)) if fi2[i] > 0]
                model, fi2 = fit_tree(p1, [feat_names[i] for i in keep], self.seed + rn)

            self._kept_names = [feat_names[i] for i in keep]
            self.idcodes = [all_codes[i] for i in keep]
            self._model = model
            self.computed = {}
        finally:
            labeled.unpersist()
        return self

    def describe(self) -> str:
        """Reference describe (instants.py:471-480): retained codes +
        tree rules."""
        if self._model is None:
            return "Nothing yet!"
        lines = ["Feature (Name, Filter, Order, Sigma, Std):"]
        for i, c in enumerate(self.idcodes):
            lines.append(f"  {i}: {c}")
        lines.append(self._model.toDebugString)
        return "\n".join(lines)

    # -------------------------------------------------------------- belief

    def belief_frame(self, df: DataFrame | None = None) -> DataFrame:
        """Per-row belief for every record at once (reference belief,
        instants.py:483-549, set-oriented): recompute retained
        indicators → tree vote ±1 → SG first-derivative smooth →
        clip ≥ 0 → normalize per record. Returns
        (record_id, seq, p)."""
        from pyspark.ml.feature import VectorAssembler

        if self._model is None:
            raise ValueError("fit() first")
        data = df if df is not None else self.sset.df
        colnames = sorted(
            {c[0] for c in self.idcodes} - {"LEN", "REV", "PERCENT"}
        )
        struct_cols = ["record_id", "seq"]
        idcodes = dict(zip(self._kept_names, self.idcodes))
        base = data.select(*struct_cols, *colnames)
        schema = T.StructType(
            [base.schema[c] for c in struct_cols]
            + [T.StructField(nm, T.DoubleType()) for nm in idcodes]
        )
        fn = _indicator_frame_fn(idcodes, self._deg_poly, struct_cols)
        feats = base.groupBy("record_id").applyInPandas(fn, schema)

        asm = VectorAssembler(inputCols=list(idcodes), outputCol="features")
        pred = self._model.transform(asm.transform(feats)).select(
            "record_id",
            "seq",
            (F.col("prediction") * 2 - 1).alias("ip"),  # back to ±1
        )

        fw = self.predict_params["filter_width"]
        width = 2 * fw + 1

        # SG derivative of the vote sequence, per record (Arrow path —
        # width ~201 is beyond the sane native-expression regime)
        def smooth(pdf):
            pdf = pdf.sort_values("seq")
            pdf["p"] = savgol_filter_np(pdf["ip"].to_numpy(), width, 2, deriv=1)
            return pdf[["record_id", "seq", "p"]]

        sm_schema = "record_id string, seq long, p double"
        p = pred.groupBy("record_id").applyInPandas(smooth, sm_schema)

        # clip + normalize (instants.py:539-543, incl. the Z==0 -> 1 guard)
        w_rec = (
            Window.partitionBy("record_id")
            .orderBy("seq")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        pc = F.greatest(F.col("p"), F.lit(0.0))
        z = F.sum(pc).over(w_rec)
        return p.withColumn("p", pc / F.when(z == 0.0, F.lit(1.0)).otherwise(z))

    def predict_df(self, df: DataFrame | None = None) -> DataFrame:
        """Predicted instant per record as a DataFrame — the
        COLLECT-FREE path (instants.py:546-547,552-580): one
        aggregation with ``max_by`` on (p, -seq), ties resolving to
        the first row like np.argmax. At scale this is what the
        derived-set slicers consume; nothing crosses the driver."""
        return self.belief_frame(df).groupBy("record_id").agg(
            F.expr("max_by(seq, struct(p, -seq))").alias("seq")
        )

    def predict(self, df: DataFrame | None = None) -> dict[str, int]:
        """Dict form of :meth:`predict_df` (the reference's in-memory
        ``computed`` surface) — collects ONE row per record; use
        predict_df() when the result feeds another frame."""
        rows = self.predict_df(df).collect()
        out = {r["record_id"]: int(r["seq"]) for r in rows}
        if df is None:
            self.computed = out
        return out

    def computed_df(self) -> DataFrame:
        """Instants frame for the slicers: collect-free unless a
        driver-side ``computed`` dict already exists (then it is the
        source of truth — e.g. loaded from persistence)."""
        if self.computed:
            return self._instants_df(self.computed).withColumnRenamed(
                "instant", "seq"
            )
        return self.predict_df()

    # ------------------------------------------------------------- slicing

    def left(self, path: str | None = None) -> SignalSet:
        """Rows before the predicted instant per record — the ``L``
        derived set (instants.py:583-607)."""
        from tabata_spark.operators.slicing import left_of

        out = left_of(self.sset.df, self.computed_df())
        ss = SignalSet(out, phase=self.sset.phase)
        return ss.save(path) if path else ss

    def right(self, path: str | None = None) -> SignalSet:
        """Rows from the predicted instant on — ``R`` (instants.py:610-630)."""
        from tabata_spark.operators.slicing import right_of

        out = right_of(self.sset.df, self.computed_df())
        ss = SignalSet(out, phase=self.sset.phase)
        return ss.save(path) if path else ss

    def between(self, L: dict[str, int], R: dict[str, int], path: str | None = None) -> SignalSet:
        """Rows in [L, R) per record — ``B`` (instants.py:633-652)."""
        from tabata_spark.operators.slicing import between

        lo = self._instants_df(L).withColumnRenamed("instant", "seq")
        hi = self._instants_df(R).withColumnRenamed("instant", "seq")
        out = between(self.sset.df, lo, hi)
        ss = SignalSet(out, phase=self.sset.phase)
        return ss.save(path) if path else ss

    # -------------------------------------------------------------- scores

    def all_scores(self) -> dict[str, int]:
        """computed - selected per labeled record (instants.py:655-670)."""
        if self._model is None:
            return {}
        if not all(k in self.computed for k in self.selected):
            self.predict()
        return {k: self.computed[k] - v for k, v in self.selected.items()}

    def score(self) -> float:
        """Max absolute detection error (instants.py:673-680)."""
        if self._model is None:
            return float("nan")
        s = self.all_scores()
        return float(max(abs(v) for v in s.values())) if s else float("nan")


# ------------------------------------------------------------ persistence


def save_selector(sel: Selector, path: str) -> None:
    """Persist learned state: JSON for labels/params/idcodes + MLlib
    model directory (reference uses pickle, instants_doc cell 74 —
    MLlib native persistence survives cluster/driver restarts)."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    state = {
        "selected": sel.selected,
        "variables": sorted(sel.variables),
        "computed": sel.computed,
        "idcodes": [list(c) for c in sel.idcodes],
        "kept_names": sel._kept_names,
        "learn_params": sel.learn_params,
        "feature_params": {
            k: (list(v) if isinstance(v, range) else v)
            for k, v in sel.feature_params.items()
        },
        "predict_params": sel.predict_params,
        "seed": sel.seed,
    }
    with open(os.path.join(path, "selector.json"), "w") as f:
        json.dump(state, f, indent=1)
    if sel._model is not None:
        sel._model.write().overwrite().save(os.path.join(path, "tree_model"))


def load_selector(sset: SignalSet, path: str) -> Selector:
    import json
    import os

    with open(os.path.join(path, "selector.json")) as f:
        state = json.load(f)
    sel = Selector(sset, seed=state["seed"])
    sel.selected = {k: int(v) for k, v in state["selected"].items()}
    sel.variables = set(state["variables"])
    sel.computed = {k: int(v) for k, v in state["computed"].items()}
    sel.idcodes = [tuple(c) for c in state["idcodes"]]
    sel._kept_names = state["kept_names"]
    sel.learn_params = state["learn_params"]
    sel.feature_params = state["feature_params"]
    sel.predict_params = state["predict_params"]
    model_dir = os.path.join(path, "tree_model")
    if os.path.exists(model_dir):
        from pyspark.ml.classification import DecisionTreeClassificationModel

        sel._model = DecisionTreeClassificationModel.load(model_dir)
    return sel
