#!/usr/bin/env python3
"""Benchmark of the tabata_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload signal_pipeline --seed 1 --seconds 1 --trace 0

It generates the workload's inputs from ``--seed`` under
``.perfbench_tmp/`` in the repository, starts one local Spark session
(``local[nproc]``), sets up, then measures passes for ``--seconds``
(at least one) and checks every output against the generator's ground
truth. ``setup_s`` runs from process start to the first pass.

There is no warm-up pass: each run is a fresh session, as each batch
job is, so the first pass pays the cold-start costs (JIT, code
generation, Python worker start) that users pay, and a pass is longer
than a run length, so the first pass is the measured one.

Standard output ends with two JSON lines: the full record (every
metric with its unit, host facts, problems found) and the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the result carries the end-to-end metrics. With ``--trace 1`` Spark's
event log is on and the result carries the per-layer metrics of setup
and the measured passes, read back from the event log, and
``trace.pass_s``, the traced ``pass_s``. The tracing overhead is
``trace.pass_s`` minus ``pass_s`` of the untraced run with the same
seed: a session keeps its event log on for its whole life, so one
process cannot measure both.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402

#: name -> unit, reported on every workload with --trace 0.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

#: Spans the workloads open, in report order.
SPANS = [
    "session.get_spark",
    "ml.selector.make_indicators",
    "ml.selector.fit",
    "ml.tube.fit",
    "core.signalset.load",
    "ml.selector.predict_df",
    "operators.slicing.left_right",
    "ml.tube.scores",
    "operators.flight.cruise_summary",
    "operators.dedup.exact_dedup",
    "operators.text.with_text_analysis",
    "operators.dedup.near_dup_pairs_staged",
    "operators.dedup.dedup_cluster_assignments",
    "operators.dedup.simhash_near_pairs",
    "core.signalset.to_pandas_record",
    "core.signalset.put",
]


def per_layer_units() -> dict[str, str]:
    """name -> unit of every metric reported with --trace 1."""
    base = {
        "self_s": "s",
        "driver_s": "s",
        "jobs": "count",
        "tasks": "count",
        "exec_cpu_s": "s",
        "gc_s": "s",
    }
    extra = {
        "ml.selector.make_indicators": ["python_mb"],
        "ml.selector.predict_df": ["python_mb"],
        "ml.tube.scores": ["shuffle_mb"],
        "ml.selector.fit": [],
        "operators.dedup.near_dup_pairs_staged": ["shuffle_mb", "spill_mb"],
        "operators.dedup.dedup_cluster_assignments": ["shuffle_mb", "spill_mb"],
        "core.signalset.to_pandas_record": ["files_read"],
    }
    units = {"shuffle_mb": "MB", "spill_mb": "MB", "python_mb": "MB", "files_read": "count"}
    out = {}
    for span in SPANS:
        if span == "session.get_spark":
            out[f"{span}.self_s"] = "s"
            continue
        for m, u in base.items():
            out[f"{span}.{m}"] = u
        for m in extra.get(span, []):
            out[f"{span}.{m}"] = units[m]
    out["core.signalset.put.write_amp"] = "ratio"
    out["dedup.candidate_pairs"] = "count"
    out["dedup.verified_pairs"] = "count"
    out["dedup.verify_yield"] = "ratio"
    out["persisted_after_pass"] = "count"
    out["trace.pass_s"] = "s"
    out["trace.uncovered_s"] = "s"
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_conf(tmp: str, trace: bool) -> dict[str, str]:
    """Keep every file Spark and the JVM write inside ``tmp``."""
    conf = {
        "spark.ui.enabled": "false",
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jtmp')} -XX:-UsePerfData"
        ),
        # Python workers import the engine by this path, wherever the
        # benchmark was launched from
        "spark.executorEnv.PYTHONPATH": ROOT,
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def prepare_env(tmp: str) -> None:
    for sub in ("local", "jtmp", "events"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "jtmp")
    # assigned, not defaulted, so the calling shell cannot change them
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # the inputs are small; a bounded heap keeps the JVM's resident size
    # from following G1's heap-growth heuristics run to run
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited
    (its Python workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(procstat.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


def clean_state(spark) -> int:
    """Drop every persisted RDD and cached Dataset; return how many
    RDDs were persisted."""
    jsc = spark.sparkContext._jsc
    rdds = list(jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist(True)
    spark.catalog.clearCache()
    return len(rdds)


def host_facts(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "tabata_spark")):
        print(f"engine package tabata_spark not found under {ROOT}", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(tmp)
    sys.path.insert(0, ROOT)
    try:
        out = measure(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if out is None:
        return 1
    record, values, units = out
    record["phases"]["total_s"] = time.perf_counter() - T0
    print(json.dumps(record, default=float))
    print(json.dumps(result_line(record["failed"], record["attempted"], values, units)))
    return 0


def measure(args, tmp: str):
    """Set up and measure; returns the record, the result metrics and
    their units, or None if no pass completed."""
    workload = WORKLOADS[args.workload]()
    load_start = os.getloadavg()
    steal0, total0 = procstat.cpu_times()
    traced = bool(args.trace)
    tracer = Tracer(enabled=traced)
    me = os.getpid()
    tally = {"attempted": 0, "failed": 0, "problems": []}
    phases, passes = {}, []
    spark = None
    try:
        from tabata_spark.session import get_spark

        with tracer.span("session.get_spark"):
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{nproc()}]",
                extra_conf=spark_conf(tmp, traced),
            )
        spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = spark.sparkContext
        ctx = Ctx(spark=spark, seed=args.seed, tmp=tmp, tracer=tracer)
        phases["session_s"] = time.perf_counter() - T0
        workload.setup(ctx)
        clean_state(spark)
        setup_s = time.perf_counter() - T0

        def one_pass():
            """Run and check one pass; returns its wall time, CPU time,
            RDDs it left persisted and its (start, end) epoch window, or
            None if it raised."""
            cpu0, w0 = procstat.tree_cpu_s(me), time.time()
            try:
                wall, out = workload.run_pass(ctx)
            except Exception:
                traceback.print_exc()
                tally["attempted"] += 1
                tally["failed"] += 1
                tally["problems"].append("a pass raised")
                clean_state(spark)
                return None
            cpu, w1 = procstat.tree_cpu_s(me) - cpu0, time.time()
            left = clean_state(spark)
            n, bad, why = workload.check(ctx, out)
            tally["attempted"] += n
            tally["failed"] += bad
            tally["problems"] += why
            clean_state(spark)
            return wall, cpu, left, (w0, w1)

        with procstat.RssSampler(me) as rss:
            rss.reset()
            t_start = time.perf_counter()
            while not passes or time.perf_counter() - t_start < args.seconds:
                if tally["failed"] > 3:
                    break
                p = one_pass()
                if p is not None:
                    passes.append(p)
            peak_mb = rss.peak_mb
        tracer.enabled = False
        phases["measured_s"] = time.perf_counter() - t_start

        extras = {}
        if traced and hasattr(workload, "trace_extras"):
            extras = workload.trace_extras(ctx)
            clean_state(spark)
        facts = host_facts(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
    if not passes:
        print("no pass completed", file=sys.stderr)
        return None

    steal1, total1 = procstat.cpu_times()
    facts.update(
        loadavg_start=load_start,
        loadavg_end=os.getloadavg(),
        steal_pct=100.0 * (steal1 - steal0) / max(total1 - total0, 1),
    )
    walls = [p[0] for p in passes]
    metrics = {
        "setup_s": setup_s,
        "pass_s": statistics.median(walls),
        "cpu_s": statistics.median(p[1] for p in passes),
        "peak_rss_mb": peak_mb,
        "error_rate": tally["failed"] / max(tally["attempted"], 1),
    }
    if hasattr(workload, "latencies"):
        metrics.update(workload.latencies(ctx))
    units = dict(END_TO_END, error_rate="ratio", read_p50_s="s", read_p90_s="s", put_p50_s="s")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "passes": len(walls),
        "pass_walls_s": walls,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "params": workload.params,
        "phases": phases,
        "host": facts,
        "problems": tally["problems"][:20],
        "margins": ctx.state.get("margins"),
    }
    if not traced:
        return record, metrics, END_TO_END
    tracer.resolve(os.path.join(tmp, "events"))
    record["spans"] = tracer.summary(SPANS)
    return record, _per_layer(record["spans"], tracer, ctx, extras, passes), per_layer_units()


def result_line(failed: int, attempted: int, values: dict, units: dict[str, str]) -> dict:
    """The last line of the output: exactly the metrics in ``units``."""
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()},
    }


def _per_layer(spans, tracer, ctx, extras, passes) -> dict[str, float]:
    """Per-layer values of a traced run: span metrics of setup and the
    measured passes, plus the counters the spans cannot carry."""
    out = {}
    for name in per_layer_units():
        span, _, metric = name.rpartition(".")
        if metric in spans.get(span, {}):
            out[name] = spans[span][metric]
    put_amp = []
    puts = [s for s in tracer.spans if s.name == "core.signalset.put"]
    for s, rec_bytes in zip(puts, ctx.state.get("record_bytes", [])):
        if rec_bytes:
            put_amp.append(s.metrics["output_mb"] * 1e6 / rec_bytes)
    out["core.signalset.put.write_amp"] = statistics.median(put_amp) if put_amp else 0.0
    out.update(extras)
    out["persisted_after_pass"] = statistics.median(p[2] for p in passes)
    uncovered = []
    for wall, _, _, (w0, w1) in passes:
        inside = sum(s.end - s.start for s in tracer.spans if w0 <= s.start and s.end <= w1)
        uncovered.append(max(0.0, wall - inside))
    out["trace.uncovered_s"] = statistics.median(uncovered)
    out["trace.pass_s"] = statistics.median(p[0] for p in passes)
    return out


def main(argv=None) -> int:
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
