"""The benchmark's workloads.

Each workload drives ``tabata_spark`` through its public functions
only. ``setup`` makes the inputs and any state a pass needs;
``run_pass`` does one pass and returns its wall time (engine calls
only) and its outputs; ``check`` compares the outputs with the
generator's ground truth, outside the timed region, and returns how
many operations it judged, how many of them were wrong, and why.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

import gen
import checks


@dataclass
class Ctx:
    spark: object
    seed: int
    tmp: str
    tracer: object
    state: dict = field(default_factory=dict)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _fit_models(ctx: Ctx, sset, labels: dict[str, int], p: dict):
    from tabata_spark.ml.selector import Selector
    from tabata_spark.ml.tube import Tube

    span = ctx.tracer.span
    sel = Selector(sset)
    sel.variables = {"ALT[m]"}
    sel.selected = dict(labels)
    sel.learn_params["retry_number"] = p["selector_retries"]
    sel.feature_params.update(range_width=p["selector_widths"], range_sigma=p["selector_sigmas"])
    sel.predict_params["filter_width"] = p["belief_filter_width"]
    tube = Tube(sset)
    tube.variables = set(gen.TUBE_TARGETS)
    tube.factors = set(gen.TUBE_FACTORS)
    tube.learn_params.update(retry_number=p["tube_retries"], keep_best_number=p["tube_keep"])
    tube.tube_params["filter_width"] = p["tube_filter_width"]
    with span("ml.selector.make_indicators"):
        sel.make_indicators().count()
    with span("ml.selector.fit"):
        sel.fit()
    with span("ml.tube.fit"):
        tube.fit()
    return sel, tube


# ----------------------------------------------------------- signal_pipeline


class SignalPipeline:
    """The signal-set workflow of one analyst session.

    Setup fits the instant detector and the anomaly tubes on a training
    set drawn from the fixed ``TRAIN_SEED`` (so every run applies the
    same models and fitting costs land in ``setup_s``), and stores the
    flights of ``--seed`` with ``SignalSet.save``. A pass applies the
    models to the whole stored set (detect instants, slice at them,
    score anomalies, summarise cruise), then browses it as one
    closed-loop client: random point reads, and after every
    ``reads_per_put`` reads the last record read is written back with
    one channel changed.
    """

    TRAIN_SEED = 0
    params = dict(
        records=16,
        rows=600,
        anomalous=3,
        labelled=14,
        selector_retries=2,
        # indicator half-widths and threshold noise widths. The
        # reference's 5-25 noise widths miss the end of a slow climb,
        # and the tree then falls back to record position, missing a
        # quarter or more of the records by a tenth of their length
        selector_widths=[10, 20, 30, 40, 50],
        selector_sigmas=[1, 2, 3],
        # the reference's 100 suits records of ~5,000 rows; scaled down
        belief_filter_width=20,
        tube_retries=2,
        tube_keep=2,
        # the engine default 20 sends Tube.scores into a code generation
        # fallback of ~30 s a call, which this benchmark leaves unmeasured
        tube_filter_width=2,
        reads=12,
        reads_per_put=6,
    )

    def setup(self, ctx: Ctx) -> None:
        from tabata_spark.core.signalset import SignalSet

        p = self.params
        train = gen.make_flights(self.TRAIN_SEED, p["labelled"], p["rows"])
        raw = gen.write_parquet(train.frame, os.path.join(ctx.tmp, "train", "part.parquet"))
        train_set = SignalSet(ctx.spark.read.parquet(os.path.dirname(raw)))
        labels = gen.pick_labelled(train, p["labelled"], self.TRAIN_SEED)
        sel, tube = _fit_models(ctx, train_set, labels, p)
        fs = gen.make_flights(ctx.seed, p["records"], p["rows"], p["anomalous"])
        raw = gen.write_parquet(fs.frame, os.path.join(ctx.tmp, "flights_raw", "part.parquet"))
        store = os.path.join(ctx.tmp, "flights")
        sset = SignalSet(ctx.spark.read.parquet(os.path.dirname(raw))).save(store)
        expected = {
            name: pdf.drop(columns=["record_id", "seq", "ts"]).reset_index(drop=True)
            for name, pdf in fs.frame.groupby("record_id")
        }
        ctx.state.update(
            fs=fs,
            store=store,
            sel=sel,
            tube=tube,
            browse=sset,
            names=sset.records,
            expected=expected,
            rng=random.Random(ctx.seed),
            record_bytes=[],
        )

    def run_pass(self, ctx: Ctx):
        t_apply, applied = _timed(lambda: self._apply(ctx))
        t_browse, browsed = self._browse(ctx)
        return t_apply + t_browse, (applied, browsed)

    def _apply(self, ctx: Ctx):
        from pyspark.sql import functions as F

        from tabata_spark.core.signalset import SignalSet
        from tabata_spark.operators import flight, slicing

        span, s, spark = ctx.tracer.span, ctx.state, ctx.spark
        with span("core.signalset.load"):
            df = SignalSet.load(spark, s["store"]).df
        with span("ml.selector.predict_df"):
            pred = {r["record_id"]: r["seq"] for r in s["sel"].predict_df(df).collect()}
        with span("operators.slicing.left_right"):
            inst = spark.createDataFrame(sorted(pred.items()), "record_id string, seq long")
            agg = [F.count(F.lit(1)).alias("n"), F.sum("ALT[m]").alias("alt")]
            left = slicing.left_of(df, inst).agg(*agg).first()
            right = slicing.right_of(df, inst).agg(*agg).first()
        with span("ml.tube.scores"):
            scores = s["tube"].scores(df).toPandas()
        with span("operators.flight.cruise_summary"):
            cruise = flight.cruise_summary(df).toPandas()
        return pred, left["n"], right["n"], scores, cruise

    def _browse(self, ctx: Ctx):
        """Returns the engine time of the reads and puts (the
        read-after-put verification is not timed) and what was read
        and written, in order. Keeps this pass's latencies."""
        s, span, p = ctx.state, ctx.tracer.span, self.params
        s["reads"], s["puts"] = [], []
        rng, log, elapsed = s["rng"], [], 0.0
        for i in range(1, p["reads"] + 1):
            pos = rng.randrange(len(s["names"]))
            name = s["names"][pos]
            with span("core.signalset.to_pandas_record"):
                lat, pdf = _timed(lambda: s["browse"].to_pandas_record(pos))
            log.append(("read", name, pdf))
            s["reads"].append(lat)
            elapsed += lat
            if i % p["reads_per_put"]:
                continue
            # Masse feeds no model, so a write leaves later passes' checks valid
            pdf = pdf.copy()
            pdf["Masse[kg]"] = pdf["Masse[kg]"] + rng.uniform(1.0, 2.0)
            if ctx.tracer.enabled:
                s["record_bytes"].append(_dir_bytes(os.path.join(s["store"], f"record_id={name}")))
            with span("core.signalset.put"):
                lat, s["browse"] = _timed(lambda: s["browse"].put(pdf))
            s["puts"].append(lat)
            elapsed += lat
            log.append(("put", name, pdf))
            log.append(("read", name, s["browse"].to_pandas_record(name)))
        return elapsed, log

    def latencies(self, ctx: Ctx) -> dict[str, float]:
        """Read and put latencies of the last pass."""
        reads, puts = sorted(ctx.state["reads"]), sorted(ctx.state["puts"])
        return {
            "read_p50_s": statistics.median(reads),
            "read_p90_s": reads[int(0.9 * (len(reads) - 1))],
            "put_p50_s": statistics.median(puts),
        }

    def check(self, ctx: Ctx, out) -> tuple[int, int, list[str]]:
        (pred, n_left, n_right, scores, cruise), log = out
        fs, expected = ctx.state["fs"], ctx.state["expected"]
        per_op = [
            checks.check_instants(pred, fs.cruise_start, fs.lengths)
            + checks.check_slices(n_left, n_right, len(fs.frame))
            + checks.check_scores(scores, fs.anomalous)
            + checks.check_cruise(cruise, fs.cruise_start, fs.descent_start, fs.lengths)
        ]
        ctx.state["margins"] = checks.instant_errors(pred, fs.cruise_start, fs.lengths)
        for kind, name, pdf in log:
            if kind == "put":
                expected[name] = pdf.reset_index(drop=True)
            else:
                per_op.append(checks.check_record(pdf.reset_index(drop=True), expected[name]))
        return len(per_op), sum(1 for p in per_op if p), [m for p in per_op for m in p]


# -------------------------------------------------------------- corpus_dedup


class CorpusDedup:
    """Exact dedup, text analysis, staged near-dup search, clustering
    and SimHash over a corpus with planted copy groups."""

    params = dict(docs=800, band_groups=2, verify_slices=4)

    def setup(self, ctx: Ctx) -> None:
        corpus = gen.make_corpus(ctx.seed, self.params["docs"])
        path = gen.write_parquet(corpus.frame, os.path.join(ctx.tmp, "corpus", "part.parquet"))
        ctx.state.update(corpus=corpus, df=ctx.spark.read.parquet(os.path.dirname(path)))

    def run_pass(self, ctx: Ctx):
        from pyspark.sql import functions as F

        from tabata_spark.operators import dedup, text

        span, s, p = ctx.tracer.span, ctx.state, self.params

        def body():
            df = s["df"]
            with span("operators.dedup.exact_dedup"):
                n_exact = dedup.exact_dedup(df).count()
            with span("operators.text.with_text_analysis"):
                ta = text.with_text_analysis(df)
                ta.agg(F.bit_xor(F.xxhash64(*ta.columns))).first()
            with span("operators.dedup.near_dup_pairs_staged"):
                pairs = dedup.near_dup_pairs_staged(
                    df, band_groups=p["band_groups"], verify_slices=p["verify_slices"]
                )
                found = {(r["id_a"], r["id_b"]) for r in pairs.select("id_a", "id_b").collect()}
            s["verified"] = len(found)
            with span("operators.dedup.dedup_cluster_assignments"):
                clusters = dedup.dedup_cluster_assignments(df, pairs)
                n_clusters = clusters.select(F.countDistinct("comp")).first()[0]
            with span("operators.dedup.simhash_near_pairs"):
                dedup.simhash_near_pairs(dedup.simhash(df)).count()
            return n_exact, found, n_clusters

        return _timed(body)

    def check(self, ctx: Ctx, out) -> tuple[int, int, list[str]]:
        n_exact, found, n_clusters = out
        c = ctx.state["corpus"]
        problems = checks.check_dedup(
            n_exact,
            c.frame["text"].nunique(),
            found,
            gen.planted_pairs(c),
            n_clusters,
            c.n_base,
        )
        return 1, int(bool(problems)), problems

    def trace_extras(self, ctx: Ctx) -> dict[str, float]:
        """Candidate and verified pair counts of the staged search,
        rebuilt from the public LSH steps (traced runs only)."""
        from tabata_spark.operators import dedup

        sig = dedup.minhash_signatures(ctx.state["df"])
        cand = dedup.minhash_candidates(sig, bands=16, rows=2).count()
        verified = ctx.state["verified"]  # the staged search's own output
        return {
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": verified / cand if cand else 0.0,
        }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


WORKLOADS = {
    "signal_pipeline": SignalPipeline,
    "corpus_dedup": CorpusDedup,
}
