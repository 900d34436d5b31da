import os

import pandas as pd
from pyspark.sql import functions as F

from tabata_spark.core.signalset import SignalSet
from tabata_spark.plans.inspect import count_jobs


def test_records_alphabetical(sset):
    assert sset.records == sorted(sset.records)
    assert len(sset) == 6


def test_record_point_read_and_negative_index(sset, flights):
    name = sset.records[0]
    n = len(flights[name])
    assert sset.record(0).count() == n
    last = sset.records[-1]
    assert sset[-1].filter(F.col("record_id") == last).count() > 0


def test_seq_is_dense_per_record(sset):
    bad = (
        sset.df.groupBy("record_id")
        .agg(
            (F.max("seq") - F.count(F.lit(1)) + 1).alias("gap"),
            F.min("seq").alias("mn"),
        )
        .filter((F.col("gap") != 0) | (F.col("mn") != 0))
        .count()
    )
    assert bad == 0


def test_schema_drift_union(sset):
    # record_05 was generated without F[N]; union-by-name -> nulls
    assert "F[N]" in sset.df.columns
    n_null = sset.record("record_05").filter(F.col("`F[N]`").isNull()).count()
    assert n_null == sset.record("record_05").count()


def test_subset_and_slice(sset):
    sub = sset[1:3]
    assert sub.records == sset.records[1:3]
    assert sub.df.select("record_id").distinct().count() == 2


def test_to_pandas_record_roundtrip(sset, flights):
    name = sset.records[2]
    pdf = sset.to_pandas_record(name)
    ref = flights[name]
    assert list(pdf.columns) == list(ref.columns)
    assert len(pdf) == len(ref)
    assert pdf.index.name == name
    pd.testing.assert_series_equal(
        pdf["ALT[m]"].reset_index(drop=True),
        ref["ALT[m]"].reset_index(drop=True),
        check_exact=False,
    )


def test_put_upsert_in_memory(sset, flights):
    name = sset.records[0]
    newdf = flights[name].copy() * 0 + 1.0
    newdf.index = flights[name].index
    out = sset.put(newdf, record=name)
    assert len(out) == len(sset)  # overwrite, not append
    val = out.record(name).agg(F.avg("`ALT[m]`")).collect()[0][0]
    assert abs(val - 1.0) < 1e-9


def test_put_append_new_record(sset, flights):
    newdf = flights[sset.records[0]].head(50)
    out = sset.put(newdf, record="record_99")
    assert len(out) == len(sset) + 1
    assert out.records[-1] == "record_99"
    assert out.sigpos == out.records.index("record_99")


def test_put_roundtrip_parquet(tmp_path, sset, flights):
    path = str(tmp_path / "sset")
    stored = sset.save(path)
    assert stored.records == sset.records
    newdf = flights[sset.records[1]].head(30)
    out = stored.put(newdf, record=sset.records[1])
    assert out.record(sset.records[1]).count() == 30
    assert len(out) == len(sset)


def test_orc_roundtrip_with_pushdown(tmp_path, sset):
    """ORC as a second storage format: same partition layout, same
    values, and a record point-read prunes partitions in the plan."""
    path = str(tmp_path / "sset_orc")
    stored = sset.save(path, fmt="orc")
    assert stored.records == sset.records
    name = sset.records[0]
    assert stored.record(name).count() == sset.record(name).count()
    plan = stored.record(name)._jdf.queryExecution().executedPlan().toString()
    assert "FileScan orc" in plan
    got = stored.record(name).agg(F.sum("`ALT[m]`")).first()[0]
    want = sset.record(name).agg(F.sum("`ALT[m]`")).first()[0]
    assert abs(got - want) < 1e-6


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """The approx tier (HLL sketch, mergeable map-side — the 100 TB
    path for distinct counts) must land within 5% of exact."""
    from tabata_spark.sources.relational import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact = li.select(F.countDistinct("l_partkey")).first()[0]
    approx = li.select(F.approx_count_distinct("l_partkey", 0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.05


def test_put_preserves_other_partitions_under_static_conf(tmp_path, sset, flights):
    """put() must not depend on the session's partitionOverwriteMode:
    under Spark's default STATIC mode a naive overwrite would wipe
    every other record's partition."""
    spark = sset.df.sparkSession
    path = str(tmp_path / "sset_static")
    stored = sset.save(path)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        out = stored.put(flights[sset.records[1]].head(30), record=sset.records[1])
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert out.records == sset.records
    # put() keeps its known record list; check the partitions on disk
    assert SignalSet.load(spark, path).records == sset.records  # no partition lost
    assert out.record(sset.records[1]).count() == 30
    assert out.record(sset.records[0]).count() == sset.record(sset.records[0]).count()


def _data_files(path):
    """Non-hidden files under ``path`` (no _SUCCESS, no .crc)."""
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    ]


def test_to_pandas_record_sorts_an_unordered_scan(sset):
    """The driver-side sort gives the frame a Spark orderBy gave,
    index included, even when the scan returns rows out of order."""
    name = sset.records[3]
    shuffled = SignalSet(sset.df.repartition(4, F.rand(7)), records=sset.records)
    got = shuffled.to_pandas_record(name)
    want = sset.record(name).orderBy("seq").toPandas().set_index("ts")
    want = want.drop(columns=["record_id", "seq"])
    want.index.name = name
    pd.testing.assert_frame_equal(got, want)


def test_browse_calls_run_one_spark_job(tmp_path, sset, flights):
    spark = sset.df.sparkSession
    stored = sset.save(str(tmp_path / "sset"))
    assert stored.records == sset.records  # listed once, up front
    name = sset.records[2]
    n, pdf = count_jobs(spark, lambda: stored.to_pandas_record(name))
    assert n == 1
    assert len(pdf) == len(flights[name])
    n, out = count_jobs(spark, lambda: stored.put(flights[name].head(40), record=name))
    assert n == 1
    assert out.records == sset.records
    assert len(out.to_pandas_record(name)) == 40


def test_put_on_a_store_whose_records_were_never_listed(tmp_path, sset, flights):
    spark = sset.df.sparkSession
    path = str(tmp_path / "sset")
    sset.save(path)
    stored = SignalSet.load(spark, path)
    name = sset.records[4]
    out = stored.put(flights[name].head(25), record=name)
    assert out.records == sset.records
    assert len(out.to_pandas_record(name)) == 25
    assert SignalSet.load(spark, path).records == sset.records


def test_numeric_looking_record_names_stay_strings(tmp_path, spark, flights):
    frames = {"0001": flights["record_00"].head(20), "0002": flights["record_01"].head(30)}
    path = str(tmp_path / "padded")
    SignalSet.from_records(spark, frames).save(path)
    stored = SignalSet.load(spark, path)
    assert stored.records == ["0001", "0002"]
    assert dict(stored.df.dtypes)["record_id"] == "string"
    assert len(stored.to_pandas_record("0002")) == 30
    out = stored.put(flights["record_02"].head(12), record="0001")
    assert out.records == ["0001", "0002"]
    back = out.to_pandas_record("0001")
    assert back.index.name == "0001" and len(back) == 12
    assert SignalSet.load(spark, path).records == ["0001", "0002"]


def test_put_keeps_an_orc_store_orc(tmp_path, sset, flights):
    path = str(tmp_path / "sset_orc")
    stored = sset.save(path, fmt="orc")
    name = sset.records[1]
    out = stored.put(flights[name].head(30), record=name)
    assert len(out.to_pandas_record(name)) == 30
    files = _data_files(path)
    assert files and all(f.endswith(".orc") for f in files), files
    again = SignalSet.load(sset.df.sparkSession, path, fmt="orc")
    assert again.records == sset.records
    assert again.record(name).count() == 30


def test_put_casts_to_the_stored_column_types(tmp_path, sset, flights):
    """An int64 record put into a double store is written as double:
    later reads of it, and of the whole store, keep working."""
    path = str(tmp_path / "sset")
    stored = sset.save(path)
    name, other = sset.records[0], sset.records[1]
    ints = flights[name].head(20).round().astype("int64")
    ints.index.name = name
    out = stored.put(ints)
    back = out.to_pandas_record(name)
    assert (back.dtypes == "float64").all()
    assert back["ALT[m]"].tolist() == [float(v) for v in ints["ALT[m]"]]
    assert len(out.to_pandas_record(other)) == len(flights[other])
    again = SignalSet.load(sset.df.sparkSession, path)
    assert again.df.count() == sset.df.count() - len(flights[name]) + 20


def test_put_writes_one_file_per_record(tmp_path, sset, flights):
    path = str(tmp_path / "sset")
    stored = sset.save(path)
    name = sset.records[3]
    stored.put(flights[name].head(30), record=name)
    assert len(_data_files(os.path.join(path, f"record_id={name}"))) == 1
