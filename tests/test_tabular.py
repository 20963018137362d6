"""Tabular IO tests: partitioned writes with partition pruning,
bucketed co-located joins (no Exchange), NDJSON landing-file scans
and single-file writes."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from capgemini_himss24_fhirbulkdata_demo_spark.catalog import load_table
from capgemini_himss24_fhirbulkdata_demo_spark.plans import explain_str

from .conftest import SF_DIR


def test_partitioned_write_and_pruning(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    p = str(tmp_path / "orders_part")
    orders.write.mode("overwrite").partitionBy("o_year").parquet(p)
    years = sorted(
        int(d.split("=")[1]) for d in os.listdir(p) if d.startswith("o_year=")
    )
    assert years[0] == 1995

    back = spark.read.parquet(p).filter(F.col("o_year") == 1996)
    text = explain_str(back)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "o_year" in m.group(1), text
    exp = orders.filter(F.col("o_year") == 1996).count()
    assert back.count() == exp


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Both sides bucketed on the join key -> SMJ with zero shuffle
    (the 100 TB co-located-join contract)."""
    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    orders.write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("b_orders")
    li.write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("b_lineitem")
    try:
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count("*").alias("n"))
        # disable broadcast to force the SMJ path the bucketing serves
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            text = explain_str(joined, "simple")
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        join_part = text.split("HashAggregate")[-1]  # below the agg: the join subtree
        assert "SortMergeJoin" in text
        assert "Exchange" not in join_part, join_part
        # and it computes the right thing
        exp = (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, exp.collect()))
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_glob_scan_and_input_file_name(spark, tmp_path):
    """Directory + glob scans pick only the matching landing files
    (SURVEY §2B Scans row; reference type-from-filename `:218`)."""
    import json

    from capgemini_himss24_fhirbulkdata_demo_spark.sources import read_ndjson
    from capgemini_himss24_fhirbulkdata_demo_spark.transforms.schemas import (
        PATIENT_SCHEMA,
    )

    d = tmp_path / "landing"
    d.mkdir()
    (d / "Patient-a-1.json").write_text(json.dumps({"resourceType": "Patient", "id": "p1"}))
    (d / "Patient-b-2.json").write_text(json.dumps({"resourceType": "Patient", "id": "p2"}))
    (d / "ignore.txt").write_text("not json")

    df = read_ndjson(spark, str(d / "Patient-*.json"), PATIENT_SCHEMA)
    rows = df.select("id").collect()
    assert sorted(r.id for r in rows) == ["p1", "p2"]


def test_write_ndjson_single_file_modes(spark, tmp_path):
    """A single-file write replaces the file already at the path."""
    import json

    from capgemini_himss24_fhirbulkdata_demo_spark.sources import write_ndjson

    df1 = spark.createDataFrame([(1, "a")], "id INT, v STRING")
    df2 = spark.createDataFrame([(2, "b")], "id INT, v STRING")
    path = str(tmp_path / "out.ndjson")

    def read_ids():
        with open(path) as f:
            return sorted(json.loads(l)["id"] for l in f if l.strip())

    assert write_ndjson(df1, path, single_file=True) == path
    assert read_ids() == [1]
    write_ndjson(df2, path, single_file=True)
    assert read_ids() == [2]


def _jobs_run(spark, group, fn):
    """Run ``fn`` with its Spark jobs tagged ``group``; returns
    (number of jobs it ran, its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_load_table_infers_schema_once_per_file_version(spark, tmp_path):
    """The first load of a table infers its schema with a Spark job; a
    second load of the unchanged file runs none. Rewriting the file
    with an extra column is a new version: the next load infers again
    and returns the new schema. A directory table is keyed on every
    file under it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from capgemini_himss24_fhirbulkdata_demo_spark.catalog import schema_snapshot_stats

    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    before = schema_snapshot_stats(spark)

    first, _ = _jobs_run(spark, "load-t-1", lambda: load_table(spark, d, "t").columns)
    second, cols = _jobs_run(spark, "load-t-2", lambda: load_table(spark, d, "t").columns)
    assert first >= 1 and second == 0 and cols == ["a"]

    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    t = load_table(spark, d, "t")
    assert t.columns == ["a", "b"]
    assert sorted(map(tuple, t.collect())) == [(1, "x"), (2, "y")]
    after = schema_snapshot_stats(spark)
    assert after["hits"] - before["hits"] == 1
    assert after["misses"] - before["misses"] == 2

    spark.range(3).write.parquet(os.path.join(d, "u.parquet"))
    load_table(spark, d, "u")
    again, _ = _jobs_run(spark, "load-u-2", lambda: load_table(spark, d, "u").columns)
    assert again == 0 and load_table(spark, d, "u").count() == 3
    spark.range(3, 5).write.mode("append").parquet(os.path.join(d, "u.parquet"))
    misses = schema_snapshot_stats(spark)["misses"]
    assert load_table(spark, d, "u").count() == 5
    assert schema_snapshot_stats(spark)["misses"] == misses + 1


def test_load_table_returns_a_fresh_relation_each_call(spark):
    """Two loads of one table are two relations with their own
    attribute ids, so a self-join resolves, and equals the same join
    over two plain ``spark.read.parquet`` loads."""
    from capgemini_himss24_fhirbulkdata_demo_spark.catalog import table_path

    def pairs(a, b):
        j = a.join(b, a.n_regionkey == b.n_regionkey).select(a.n_name, b.n_name)
        return sorted(map(tuple, j.collect()))

    load_table(spark, SF_DIR, "nation")  # the snapshot exists from here on
    got = pairs(load_table(spark, SF_DIR, "nation"), load_table(spark, SF_DIR, "nation"))
    path = table_path(SF_DIR, "nation")
    exp = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert got == exp and len(got) > 25


def test_load_table_missing_path_raises_analysis_exception(spark, tmp_path):
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "absent")
