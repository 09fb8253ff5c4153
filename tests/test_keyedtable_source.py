"""KeyedTable as a Python DataSource (sources/keyedtable_source.py):
spark.read.format("keyedtable") with Catalyst-inferred filter
pushdown reaching the ranged reader's row-group statistics pruning —
the plane's documented 'filter above mapInArrow cannot push down'
residual, closed through the engine's own DataSource API."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dataflowtemplates_spark.operators import fsio
from dataflowtemplates_spark.operators.mutations import KeyedTable
from dataflowtemplates_spark.operators.s3http import S3HttpBackend
from dataflowtemplates_spark.sources.keyedtable_source import (
    KeyedTableDataSource,
    register,
)
from dataflowtemplates_spark.testing.s3_emulator import S3Emulator

SIGV4_CREDS = ("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY")


@pytest.fixture()
def s3(spark):
    emu = S3Emulator().start()
    emu.require_sigv4 = SIGV4_CREDS
    b = S3HttpBackend(emu.endpoint, timeout_s=5.0,
                      credentials=SIGV4_CREDS)
    fsio.register_object_backend("s3ds", b)
    register(spark)
    try:
        yield emu, b
    finally:
        fsio.unregister_object_backend("s3ds")
        emu.stop()


def _fmt(spark, emu, path):
    """A format read carrying the store/auth options (the source
    builds its own backend — planning runs out of process)."""
    return (spark.read.format("keyedtable")
            .option("path", path)
            .option("endpoint", emu.endpoint)
            .option("access_key", SIGV4_CREDS[0])
            .option("secret_key", SIGV4_CREDS[1]))


def _wide_table(spark, path, rows=600, n_buckets=1):
    pad = F.concat(*[F.sha2(F.concat(F.col("id").cast("string"),
                                     F.lit(str(j))), 512)
                     for j in range(32)])  # ~4 KB incompressible:
    #   objects must dwarf the 64 KiB footer-tail guess for the
    #   byte-economics assertion to measure pruning, not footers
    df = (spark.range(0, rows)
          .select(F.col("id"), (F.col("id") % 13).alias("v"),
                  pad.alias("pad")))
    t = KeyedTable(spark, path, ["id"], n_buckets=n_buckets,
                   cluster_by=["id"], plane_flush_rows=100)
    t.apply_mutations(df, "INSERT")
    return t


def test_format_read_values_and_schema(spark, s3):
    """Plain format read equals KeyedTable.read; schema comes from
    the table's logged schema; columns option projects."""
    _wide_table(spark, "s3ds://bkt/t1")
    emu, _ = s3
    got = _fmt(spark, emu, "s3ds://bkt/t1").load()
    assert got.columns == ["id", "v", "pad"]
    rows = {r["id"]: r["v"] for r in got.collect()}
    assert rows == {i: i % 13 for i in range(600)}
    narrow = (_fmt(spark, emu, "s3ds://bkt/t1")
              .option("columns", "v,id").load())
    assert narrow.columns == ["v", "id"]
    assert narrow.count() == 600


def test_catalyst_filter_pushdown_prunes_bytes(spark, s3):
    """An ORDINARY .filter() above the format read — no explicit
    predicate argument anywhere — must reach the ranged reader: the
    emulator serves fewer bytes for the filtered read than the
    unfiltered one, and the values are Spark-exact."""
    emu, _ = s3
    _wide_table(spark, "s3ds://bkt/t2")

    emu.object_get_bytes = 0
    full = _fmt(spark, emu, "s3ds://bkt/t2").load().collect()
    full_bytes = emu.object_get_bytes
    assert len(full) == 600

    emu.object_get_bytes = 0
    sel = (_fmt(spark, emu, "s3ds://bkt/t2").load()
           .filter("id >= 500")).collect()
    sel_bytes = emu.object_get_bytes
    assert sorted(r["id"] for r in sel) == list(range(500, 600))
    # 1 of 6 cluster-disjoint row groups survives the statistics
    # refutation; the rest cost no chunk bytes
    assert sel_bytes * 2 < full_bytes, (sel_bytes, full_bytes)

    # conjunction + equality still exact (Spark re-applies filters)
    eq = (_fmt(spark, emu, "s3ds://bkt/t2").load()
          .filter((F.col("id") >= 100) & (F.col("id") < 200)
                  & (F.col("v") == 5))).collect()
    assert sorted(r["id"] for r in eq) == [
        i for i in range(100, 200) if i % 13 == 5]

    # a filter Spark cannot push (OR across columns) stays exact
    disj = (_fmt(spark, emu, "s3ds://bkt/t2").load()
            .filter("id = 3 or v = 12")).collect()
    assert sorted(r["id"] for r in disj) == sorted(
        {3} | {i for i in range(600) if i % 13 == 12})


def test_timestamp_bound_and_errors(spark, s3):
    """timestamp_bound option = read_at semantics; unregistered
    scheme and missing path surface as errors, not empty frames."""
    t = _wide_table(spark, "s3ds://bkt/t3", rows=50)
    bound = t._commits()[-1]["time"]
    t.apply_mutations(
        spark.range(1000, 1010).select(
            F.col("id"), F.lit(0).alias("v"),
            F.lit("x").alias("pad")), "INSERT")
    emu, _ = s3
    old = (_fmt(spark, emu, "s3ds://bkt/t3")
           .option("timestamp_bound", bound).load())
    assert old.count() == 50
    now = _fmt(spark, emu, "s3ds://bkt/t3").load()
    assert now.count() == 60
    with pytest.raises(Exception, match="path"):
        spark.read.format("keyedtable").load().collect()
    with pytest.raises(Exception, match="endpoint"):
        (spark.read.format("keyedtable")
         .option("path", "nosuch://b/t").load().collect())


def test_partition_packing_bins_small_objects(spark, s3):
    """Small objects bin into ~pack_bytes partitions (amortizing the
    per-task Python-worker overhead) without changing the result
    multiset; a large pack target still floors at the core count."""
    from dataflowtemplates_spark.operators.objstore_plane import (
        _pack_files)

    # 600 rows over 6 buckets: one object per bucket
    _wide_table(spark, "s3ds://bkt/pk", n_buckets=6)
    emu, _ = s3
    src = KeyedTableDataSource(
        {"path": "s3ds://bkt/pk", "endpoint": emu.endpoint,
         "access_key": SIGV4_CREDS[0], "secret_key": SIGV4_CREDS[1],
         # pack everything into one bin: 6 objects << 1 GiB
         "pack_bytes": str(1 << 30)})
    reader = src.reader(src.schema())
    assert len(reader._sized_files) == 6
    assert all(isinstance(s, int) and s > 0
               for _, s in reader._sized_files)
    parts = reader.partitions()
    # floor = SPARK_GRAFT_CPUS (>= 6 here), so small scans still get
    # one object per partition until the floor exceeds the file count
    assert 1 <= len(parts) <= 6
    assert sorted(p for part in parts for p in part.paths) == sorted(
        f for f, _ in reader._sized_files)
    # a packed read returns the identical multiset
    got = (_fmt(spark, emu, "s3ds://bkt/pk")
           .option("pack_bytes", str(1 << 30)).load())
    rows = {r["id"]: r["v"] for r in got.collect()}
    assert rows == {i: i % 13 for i in range(600)}

    # _pack_files invariants: deterministic, byte-driven bin count,
    # never more bins than files, unknown sizes isolate
    sized = [(f"s3ds://bkt/o{i:02d}", 10 << 20) for i in range(8)]
    bins = _pack_files(sized, 32 << 20, 1)
    assert bins == _pack_files(list(reversed(sized)), 32 << 20, 1)
    assert len(bins) == 3  # ceil(80 MiB / 32 MiB)
    assert sorted(p for b in bins for p in b) == sorted(
        f for f, _ in sized)
    assert len(_pack_files(sized, 1 << 20, 4)) == 8  # one per file
    assert len(_pack_files([("a", None), ("b", None)],
                           32 << 20, 1)) == 2  # unknown -> own bin


def test_scan_lists_log_at_most_twice_and_no_data(spark, s3):
    """Planning a format scan lists `_log` once per planner call
    (`schema` and `reader`) and lists no data: the log names every
    object and its size."""
    from tests.test_objstore_plane import _count_lists

    emu, _ = s3
    lists = _count_lists(emu)
    t = _wide_table(spark, "s3ds://bkt/lc", rows=60, n_buckets=4)
    t.apply_mutations(spark.range(0, 60, 7).select(
        F.col("id"), F.lit(-1).alias("v")), "INSERT_OR_UPDATE")
    del lists[:]
    got = _fmt(spark, emu, "s3ds://bkt/lc").load()
    assert sorted(r["id"] for r in got.collect()) == list(range(60))
    assert lists and all("prefix=lc/_log/" in p for p in lists), lists
    assert sum("continuation-token" not in p for p in lists) <= 2
