"""20M-row scale gate — the SCALE.md discipline (one measured probe
per changed/new family at a size big enough to expose a wrong
asymptotic shape).

1. k-core INCREMENTAL-DEGREE peel (VERDICT r8 item 5): the exact r8d
   generator (20M symmetric edges over 2M nodes, k=8) so the number
   is directly comparable to the recorded 8.4 s full-reaggregation
   cascade; asserts the identical fixed point (260,581 nodes).
2. Distributed exact ntile (VERDICT r8 item 6): 20M-row quintile
   assignment via operators/ranking.py vs the single-partition global
   window NTILE — equality asserted on the bucket histogram, both
   timed.
3. sigidx_vacuum under delete churn (VERDICT r8 item 7): 2M-doc
   corpus through the tx log, delete 50% copy-on-write, measure the
   gated staleness scan and the vacuum rewrite; assert the index
   shrinks to live-rows x bands.

    python tools/scale_gate_kcore.py [scale] [probe ...]
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


def probe_kcore(spark, scale):
    from tabata_spark.operators.graph import k_core

    n_nodes = scale // 10
    e = spark.range(scale // 2).select(
        (F.abs(F.xxhash64("id", F.lit("s"))) % n_nodes).alias("src"),
        (F.abs(F.xxhash64("id", F.lit("d"))) % (F.col("id") % 1000 + 2)).alias(
            "dst"
        ),
    ).filter(F.col("src") != F.col("dst"))
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    m = edges.count()
    n = timed(
        f"k-core k=8 over {m} sym edges (incremental degrees)",
        lambda: k_core(edges, k=8, max_rounds=12).count(),
    )
    edges.unpersist()
    return n


def probe_ntile(spark, scale):
    from tabata_spark.operators.ranking import with_exact_ntile

    df = spark.range(scale).select(
        "id", (F.abs(F.xxhash64("id", F.lit("v"))) % 1_000_000).alias("v")
    ).persist()
    df.count()

    def dist():
        out = with_exact_ntile(df, 5, ["v", "id"], "t")
        h = sorted(
            (r["t"], r["n"])
            for r in out.groupBy("t").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        out.unpersist()
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

    h1 = timed(f"exact ntile (distributed) {scale//1_000_000}M rows", dist)
    h2 = timed(f"ntile (single-partition window) {scale//1_000_000}M rows", window)
    assert h1 == h2, (h1, h2)
    df.unpersist()
    return "histograms equal"


def probe_vacuum(spark, scale):
    import shutil
    import tempfile

    from tabata_spark.operators.sigidx import sigidx_build, sigidx_vacuum
    from tabata_spark.sources.txlog import tx_delete_where, tx_read, tx_write

    n_docs = max(scale // 10, 10_000)
    work = tempfile.mkdtemp(prefix="r9vac_")
    root, idx = os.path.join(work, "corpus"), os.path.join(work, "sig")
    try:
        from tabata_spark.operators.dedup import minhash_signatures

        docs = spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit("w"),
                        (F.abs(F.xxhash64("id", F.lit(str(i)))) % 50_000).cast(
                            "string"
                        ),
                    )
                    for i in range(40)
                ],
            ).alias("text"),
        )
        sigs = minhash_signatures(docs, "text", "doc_id", 32, 3)
        timed(
            f"seed corpus {n_docs} docs (+sigs) through txlog",
            lambda: tx_write(
                docs.join(sigs, "doc_id").select("doc_id", "text", "sig"),
                root,
                stats_cols=["doc_id"],
            ),
        )
        timed("sigidx_build", lambda: sigidx_build(spark, root, idx))
        timed(
            "CoW delete 50% of corpus",
            lambda: tx_delete_where(spark, root, F.col("doc_id") % 2 == 0),
        )
        r1 = timed(
            "vacuum gate check BELOW threshold (ratio .5 >= .3: rewrites)",
            lambda: sigidx_vacuum(spark, root, idx, min_stale_ratio=0.3),
        )
        assert r1["vacuumed"] and r1["stale_ratio"] == 0.5, r1
        live = tx_read(spark, root).count()
        n_idx = tx_read(spark, idx).count()
        assert n_idx == live * 16, (n_idx, live)
        r2 = timed(
            "vacuum idle call (0 stale: gate only, no write)",
            lambda: sigidx_vacuum(spark, root, idx, min_stale_ratio=0.3),
        )
        assert not r2["vacuumed"] and r2["stale_rows"] == 0, r2
        return f"index {n_idx} rows == live {live} x 16"
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    from tabata_spark.session import get_spark

    scale = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    which = set(sys.argv[2:]) or {"kcore", "ntile", "vacuum"}
    spark = get_spark("r9-probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    if "kcore" in which:
        probe_kcore(spark, scale)
    if "ntile" in which:
        probe_ntile(spark, scale)
    if "vacuum" in which:
        probe_vacuum(spark, scale)


if __name__ == "__main__":
    main()
