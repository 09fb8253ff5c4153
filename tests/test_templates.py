"""Template-composition E2E tests: each of the 11 reference templates
driven end-to-end on the sf0.001 testdata (reference §2.8)."""

import json
import os

import pytest
from pyspark.sql import Row

from dataflowtemplates_spark import templates as tpl
from dataflowtemplates_spark.catalog import register_tables
from dataflowtemplates_spark.operators.mutations import KeyedTable
from dataflowtemplates_spark.operators.tfrecord import read_tfrecords
from dataflowtemplates_spark.sources.generator import FieldSpec, TableSpec

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _tables(spark):
    register_tables(spark, SF)


def test_table_to_text_with_splitter(spark, tmp_path):
    out = str(tmp_path / "txt")
    notify = str(tmp_path / "notify.txt")
    res = tpl.table_to_text(
        spark,
        "SELECT r_regionkey, r_name FROM region"
        " --SPLITTER-- "
        "SELECT n_regionkey AS r_regionkey, n_name AS r_name FROM nation",
        out, fmt="json", output_notify=notify)
    assert res.row_count == 30  # 5 regions + 25 nations
    with open(notify) as fh:
        assert fh.read().splitlines() == res.files


def test_table_to_text_csv_split(spark, tmp_path):
    out = str(tmp_path / "csv")
    res = tpl.table_to_text(
        spark, "SELECT n_name, n_regionkey FROM nation", out,
        fmt="csv", split_field="n_regionkey", header=True)
    assert res.row_count == 25
    groups = sorted(d for d in os.listdir(out)
                    if not d.startswith(("_", ".")))
    assert groups == ["0", "1", "2", "3", "4"]


def test_table_to_columnar(spark, tmp_path):
    out = str(tmp_path / "col")
    res = tpl.table_to_columnar(
        spark, "SELECT o_orderkey, o_orderstatus FROM orders", out,
        split_field="o_orderstatus")
    assert res.row_count > 0
    assert res.format == "avro"
    from dataflowtemplates_spark.operators.avro_io import read_avro
    assert read_avro(spark, out).count() == res.row_count


def test_query_to_table(spark, tmp_path):
    n = tpl.query_to_table(
        spark, "SELECT r_regionkey, r_name FROM region", "t_regions")
    assert n == 5
    spark.sql("DROP TABLE t_regions")


def test_query_to_keyed_table_and_delete(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "kt"), ["c_custkey"])
    r = tpl.query_to_keyed_table(
        spark, "SELECT c_custkey, c_name, c_acctbal FROM customer",
        t, op="INSERT",
        output_error=str(tmp_path / "err"),
        output_failcount=str(tmp_path / "cnt.txt"))
    n = r.applied
    assert n > 0 and r.failed == 0
    with open(tmp_path / "cnt.txt") as fh:
        assert fh.read() == "0"

    # delete the negative-balance customers by key
    rd = tpl.query_delete_keyed_table(
        spark, "SELECT c_custkey FROM customer WHERE c_acctbal < 0", t)
    assert rd.applied > 0
    assert t.read().count() == n - rd.applied


def test_query_to_entities(spark, tmp_path):
    out = str(tmp_path / "ents")
    n = tpl.query_to_entities(
        spark, "SELECT s_suppkey, s_name, s_acctbal FROM supplier",
        out, kind="Supplier", key_field="s_suppkey")
    back = spark.read.json(out)
    assert back.count() == n
    assert back.select("__key__.kind").distinct().collect()[0][0] == "Supplier"


def test_query_to_tfrecord(spark, tmp_path):
    out = str(tmp_path / "tfr")
    files = tpl.query_to_tfrecord(
        spark,
        "SELECT r_name, r_regionkey FROM region",
        out, split_field="r_name",
        output_notify=str(tmp_path / "n.txt"))
    assert len(files) == 5  # one group per region name
    payloads = []
    for f in files:
        payloads += read_tfrecords(f)
    assert len(payloads) == 5


def test_files_to_keyed_table(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]) \
        .write.parquet(src)
    t = KeyedTable(spark, str(tmp_path / "kt2"), ["id"])
    r = tpl.files_to_keyed_table(spark, src, t, fmt="parquet", op="INSERT")
    assert r.applied == 2


def test_files_to_keyed_table_from_avro(spark, tmp_path):
    from dataflowtemplates_spark.operators.avro_io import write_avro

    src = str(tmp_path / "asrc")
    write_avro(spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]),
               src)
    t = KeyedTable(spark, str(tmp_path / "kt_avro"), ["id"])
    r = tpl.files_to_keyed_table(spark, src, t, fmt="avro", op="INSERT")
    assert r.applied == 2
    assert sorted((x.id, x.v) for x in t.read().collect()) == \
        [(1, "a"), (2, "b")]


def test_files_to_entities(spark, tmp_path):
    src = str(tmp_path / "esrc")
    spark.createDataFrame([Row(id=1, v="a")]).write.json(src)
    out = str(tmp_path / "ents2")
    n = tpl.files_to_entities(spark, src, out, kind="E", key_field="id",
                              fmt="json")
    assert n == 1


def test_generate_to_keyed_table(spark, tmp_path):
    spec = TableSpec(name="g", count=50, fields=[
        FieldSpec("id", "INT64", is_primary=True, nullable=False),
        FieldSpec("name", "STRING", max_length=8),
    ])
    t = KeyedTable(spark, str(tmp_path / "gen"), ["id"])
    r = tpl.generate_to_keyed_table(spark, spec, t)
    assert r.applied == 50 and r.failed == 0
    assert t.read().count() == 50


def test_tablespec_from_catalog_table(spark, tmp_path):
    """Schema-from-catalog generator spec (reference reads
    INFORMATION_SCHEMA — DummyToMutation.java:105-111,143-158)."""
    from dataflowtemplates_spark.sources.generator import (
        TableSpec, generate_table)
    df = spark.createDataFrame(
        [(1, "a", 1.5, True, [1, 2])],
        "pk long, s string, f double, b boolean, arr array<long>")
    df.write.mode("overwrite").saveAsTable("spec_src")
    try:
        spec = TableSpec.from_table(spark, "spec_src", ["pk"], count=25)
        by_name = {f.name: f for f in spec.fields}
        assert by_name["pk"].is_primary and not by_name["pk"].nullable
        assert by_name["arr"].type == "ARRAY<INT64>"
        out = generate_table(spark, spec, seed="7")
        assert out.count() == 25
        assert set(out.columns) == {"pk", "s", "f", "b", "arr"}
        # deterministic: same seed regenerates identical rows
        again = generate_table(spark, spec, seed="7")
        assert sorted(map(str, out.collect())) == \
            sorted(map(str, again.collect()))
    finally:
        spark.sql("DROP TABLE IF EXISTS spec_src")


def test_corpus_to_training_shards_end_to_end(spark, tmp_path):
    """The pretraining template must run the whole path — span dedup,
    scrub+quality, exact dedup, BPE counting, packing, TFRecord shards
    — with a monotone funnel and shards that read back to exactly the
    packed manifest."""
    from dataflowtemplates_spark.operators.tfrecord import read_tfrecord_df
    from dataflowtemplates_spark.templates import corpus_to_training_shards

    out = str(tmp_path / "shards")
    s = corpus_to_training_shards(spark, "/root/testdata/sf0.001", out,
                                  budget=1024)
    assert s["n_input"] >= s["n_quality"] >= s["n_unique"] > 0
    assert s["n_sequences"] > 0
    assert s["n_merges"] > 0
    assert s["files"]

    back = read_tfrecord_df(
        spark, out,
        {"source": "string", "seq_id": "int64", "n_docs": "int64",
         "seq_tokens": "int64", "first_doc": "int64",
         "last_doc": "int64"}).collect()
    assert len(back) == s["n_sequences"]
    # a packed sequence respects the budget unless a single oversize
    # doc spans its own bin (then it is alone in the bin's tail)
    for r in back:
        assert r["seq_tokens"] <= 1024 + 1024 or r["n_docs"] >= 1
    # every sequence carries tokens and a sane doc range
    assert all(r["seq_tokens"] > 0 and r["first_doc"] <= r["last_doc"]
               for r in back)
