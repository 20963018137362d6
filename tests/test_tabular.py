"""Tabular IO tests: CSV/text round-trip, partitioned writes with
partition pruning, bucketed co-located joins (no Exchange)."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from capgemini_himss24_fhirbulkdata_demo_spark.catalog import load_table
from capgemini_himss24_fhirbulkdata_demo_spark.plans import explain_str
from capgemini_himss24_fhirbulkdata_demo_spark.sources.tabular import (
    read_csv,
    read_text,
    write_bucketed_table,
    write_csv,
    write_parquet,
)

from .conftest import SF_DIR


def test_csv_roundtrip(spark, tmp_path):
    nation = load_table(spark, SF_DIR, "nation")
    p = str(tmp_path / "nation_csv")
    write_csv(nation, p)
    back = read_csv(spark, p, schema="n_nationkey INT, n_name STRING, n_regionkey INT")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_text_scan(spark, tmp_path):
    p = tmp_path / "lines.txt"
    p.write_text("alpha\nbeta\ngamma")
    df = read_text(spark, str(p))
    assert sorted(r.value for r in df.collect()) == ["alpha", "beta", "gamma"]


def test_partitioned_write_and_pruning(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    p = str(tmp_path / "orders_part")
    write_parquet(orders, p, partition_by=["o_year"])
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
    write_bucketed_table(orders, "b_orders", "o_orderkey", 4, sort_col="o_orderkey")
    write_bucketed_table(li, "b_lineitem", "l_orderkey", 4, sort_col="l_orderkey")
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


def test_delta_roundtrip_when_available(spark, tmp_path):
    """Delta read/write through the tabular paths. Skipped when
    delta-spark is absent (this container); the gate itself — a clear
    ImportError, not an opaque ClassNotFound from the JVM — is
    asserted either way."""
    import pytest as _pytest

    from capgemini_himss24_fhirbulkdata_demo_spark.sources.tabular import (
        delta_available,
        read_delta,
        write_delta,
    )

    if not delta_available():
        with _pytest.raises(ImportError, match="delta-spark"):
            write_delta(load_table(spark, SF_DIR, "region"), str(tmp_path / "d"))
        with _pytest.raises(ImportError, match="delta-spark"):
            read_delta(spark, str(tmp_path / "d"))
        _pytest.skip("delta-spark not installed in this container")
    path = str(tmp_path / "delta_region")
    region = load_table(spark, SF_DIR, "region")
    write_delta(region, path, partition_by=["r_regionkey"])
    back = read_delta(spark, path)
    assert sorted(r.r_name for r in back.collect()) == sorted(
        r.r_name for r in region.collect()
    )


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from capgemini_himss24_fhirbulkdata_demo_spark.sources.tabular import (
        read_orc,
        write_orc,
    )

    path = str(tmp_path / "orc_nation")
    nation = load_table(spark, SF_DIR, "nation")
    write_orc(nation, path, partition_by=["n_regionkey"])
    back = read_orc(spark, path)
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in nation.collect()
    )
    # partition pruning reaches the ORC scan
    pruned = back.filter(F.col("n_regionkey") == 0)
    plan = explain_str(pruned)
    assert pruned.count() == nation.filter(F.col("n_regionkey") == 0).count()
    assert "n_regionkey" in plan


def test_xml_roundtrip(spark, tmp_path):
    """XML read/write (built into Spark 4): row-per-element roundtrip
    with an explicit schema on the read side (no inference pass)."""
    from capgemini_himss24_fhirbulkdata_demo_spark.sources.tabular import read_xml, write_xml

    nation = load_table(spark, SF_DIR, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = str(tmp_path / "nation_xml")
    write_xml(nation, path, row_tag="nation", root_tag="nations")
    back = read_xml(
        spark,
        path,
        row_tag="nation",
        schema="n_nationkey INT, n_name STRING, n_regionkey INT",
    )
    assert back.schema.simpleString() == (
        "struct<n_nationkey:int,n_name:string,n_regionkey:int>"
    )
    assert sorted((r.n_nationkey, r.n_name) for r in back.collect()) == sorted(
        (r.n_nationkey, r.n_name) for r in nation.collect()
    )


def test_avro_gate_when_unavailable(spark, tmp_path):
    """Avro is an external Spark module; without the jar the wrappers
    must fail with a clear ImportError naming the remedy, never an
    opaque ClassNotFoundException. Roundtrips when present."""
    import pytest as _pytest

    from capgemini_himss24_fhirbulkdata_demo_spark.sources.tabular import (
        avro_available,
        read_avro,
        write_avro,
    )

    region = load_table(spark, SF_DIR, "region")
    if not avro_available(spark):
        with _pytest.raises(ImportError, match="spark-avro"):
            write_avro(region, str(tmp_path / "a"))
        with _pytest.raises(ImportError, match="spark-avro"):
            read_avro(spark, str(tmp_path / "a"))
        _pytest.skip("spark-avro not on the classpath in this container")
    path = str(tmp_path / "region_avro")
    write_avro(region, path)
    back = read_avro(spark, path)
    assert sorted(r.r_name for r in back.collect()) == sorted(
        r.r_name for r in region.collect()
    )
