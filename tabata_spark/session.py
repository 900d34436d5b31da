"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design target (AQE on, dynamic
partition overwrite for per-record upserts, Arrow for the pandas-UDF
boundary) while remaining correct on local[*].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "tabata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - AQE enabled: runtime coalescing of shuffle partitions, skew-join
      splitting, and dynamic join-strategy switching — the knobs that
      keep one plan valid from sf0.001 to 100 TB.
    - ``partitionOverwriteMode=dynamic``: the reference's ``put()``
      upsert (opset.py:229-260) maps to overwriting only the written
      ``record_id`` partitions.
    - Arrow on: the scipy-parity ``applyInPandas`` path pays batch
      (not row) serialization.
    - The directory holding ``tabata_spark`` goes on ``PYTHONPATH``
      before the JVM starts: Python workers inherit the JVM's
      environment, and every grouped-map kernel must import the engine
      whatever directory the driver script runs from.
    """
    _export_engine_path()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r16 (opt guide §1.2 "per-task work"): InferFiltersFromGenerate
        # plants `size(<genExpr>) > 0` below every explode/posexplode and
        # pushes it to the scan. Higher-order functions (transform/
        # array_distinct — the shingle, n-gram and band-hash builders)
        # are CodegenFallback, so the inferred filter re-evaluates the
        # FULL array expression once per row in addition to the
        # projection — a 2x scan-stage CPU tax that grows linearly with
        # corpus size (measured at sf0.1: simhash fingerprints 1.6 s ->
        # 0.45 s, minhash signatures 3.6 s -> 2.4 s with the rule
        # excluded). The rule's upside (dropping empty-array rows before
        # a downstream shuffle) never applies to these pipelines: the
        # generators feed aggregations directly and the array builders
        # emit >= 1 element by construction. Results are identical —
        # the filter only removes rows explode would emit zero times.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata ts shapes vary by generation: legacy INT64
        # TIMESTAMP(NANOS) (unreadable as timestamp without this conf —
        # read raw nanos) and current naive timestamp[us] (arrives as
        # TIMESTAMP_NTZ). Both are normalized to session-zone TIMESTAMP
        # at the loader (sources.relational._normalize_ts)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _export_engine_path() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])
