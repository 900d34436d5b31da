"""20M-row scale gate — the SCALE.md discipline (one measured probe
per changed family at a size big enough to expose a wrong asymptotic
shape).

1. Exact ntile (VERDICT r10 items 4/7, redesigned this round):
   20M-row quintile assignment via the rewritten operators/ranking.py
   (internally-pinned range shuffle, broadcast offsets, checkpointed
   result, deterministic release()) vs the single-partition
   global-window NTILE — equality asserted on the bucket histogram,
   both timed, and the storage registry asserted back at baseline
   after release() (the r9 design leaked one pinned entity-sized
   frame per call; a round-11 lazy design that relied on
   ReuseExchange was silently WRONG at this very scale — caught by
   this probe — because the rule does not fire over cached inputs).
2. Exact cumsum at 20M rows vs the global running window — same
   shape check for the prefix-sum family (r9 recorded 2.4x; the
   pinned+checkpointed form must hold that).
3. q_rfm_segments shape at 20M orders: three chained exact ntiles
   (the heaviest ranking consumer) with intermediate release() — runs
   end-to-end, no cache residue.

    python tools/scale_gate_ranking.py [scale] [probe ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window, functions as F  # noqa: E402


def timed(label, fn):
    t0 = time.perf_counter()
    out = fn()
    print(f"{label:58s} {time.perf_counter() - t0:7.1f} s  {out}")
    return out


def _persisted(spark):
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def probe_ntile(spark, scale):
    from tabata_spark.operators.ranking import with_exact_ntile

    df = spark.range(scale).select(
        "id", (F.abs(F.xxhash64("id", F.lit("v"))) % 1_000_000).alias("v")
    ).persist()
    df.count()

    def dist():
        from tabata_spark.operators.ranking import release

        out = with_exact_ntile(df, 5, ["v", "id"], "t")
        h = sorted(
            (r["t"], r["n"])
            for r in out.groupBy("t").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        release(out)
        return h

    def window():
        w = Window.orderBy("v", "id")
        return sorted(
            (r["t"], r["n"])
            for r in df.withColumn("t", F.ntile(5).over(w))
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )

    h1 = timed(f"exact ntile (distributed, pinned) {scale//1_000_000}M rows", dist)
    assert _persisted(spark) == 1, "result released; df cache only"
    h2 = timed(f"ntile (single-partition window) {scale//1_000_000}M rows", window)
    assert h1 == h2, (h1, h2)
    df.unpersist()
    return "histograms equal; no cache residue"


def probe_cumsum(spark, scale):
    from tabata_spark.operators.ranking import with_exact_cumsum

    df = spark.range(scale).select(
        "id", (F.abs(F.xxhash64("id", F.lit("a"))) % 1000).alias("a")
    ).persist()
    df.count()

    def dist():
        from tabata_spark.operators.ranking import release

        out = with_exact_cumsum(df, ["id"], ["a"])
        mx = out.agg(
            F.max("cum_a").alias("mx"), F.count(F.lit(1)).alias("n")
        ).collect()[0]["mx"]
        release(out)
        return mx

    def window():
        w = Window.orderBy("id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return (
            df.select(F.sum("a").over(w).alias("c"))
            .agg(F.max("c"))
            .collect()[0][0]
        )

    m1 = timed(f"exact cumsum (distributed, pinned) {scale//1_000_000}M rows", dist)
    assert _persisted(spark) == 1
    m2 = timed(f"cumsum (single-partition window) {scale//1_000_000}M rows", window)
    assert m1 == m2, (m1, m2)
    df.unpersist()
    return "totals equal; no cache residue"


def probe_rfm(spark, scale):
    from tabata_spark.operators.ranking import with_exact_ntile

    cust = spark.range(scale // 10).select(
        F.col("id").alias("c"),
        (F.abs(F.xxhash64("id", F.lit("r"))) % 3650).alias("recency_days"),
        (F.abs(F.xxhash64("id", F.lit("f"))) % 40 + 1).alias("frequency"),
        (F.abs(F.xxhash64("id", F.lit("m"))) % 10_000_000).alias("monetary"),
    )

    def run():
        from tabata_spark.operators.ranking import release

        s1 = with_exact_ntile(cust, 5, [F.desc("recency_days"), F.asc("c")], "r")
        s2 = with_exact_ntile(s1, 5, [F.asc("frequency"), F.asc("c")], "f")
        release(s1)
        s3 = with_exact_ntile(s2, 5, [F.asc("monetary"), F.asc("c")], "m")
        release(s2)
        cells = s3.groupBy("r", "f", "m").count().count()
        release(s3)
        return cells

    cells = timed(
        f"RFM: three chained exact ntiles over {scale//10_000_000}M entities",
        run,
    )
    assert cells == 125, cells
    assert _persisted(spark) == 0, "no cache residue after the chain"
    return "125 cells; no cache residue"


def main():
    from tabata_spark.session import get_spark

    scale = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    only = set(sys.argv[2:])
    spark = get_spark("r11-probe")
    spark.sparkContext.setLogLevel("ERROR")
    probes = {"ntile": probe_ntile, "cumsum": probe_cumsum, "rfm": probe_rfm}
    for name, fn in probes.items():
        if only and name not in only:
            continue
        fn(spark, scale)
    spark.stop()


if __name__ == "__main__":
    main()
