"""The catalog's two memo levels: reuse, invalidation, safety.

`catalog.load_table` memoizes the loaded DataFrame per (session, path,
stat signature) and `register_tables` skips re-binding an identical
registration — pure plan metadata reuse. Beneath it, `_SCHEMA_MEMO`
keeps each path's inferred parquet schema process-wide, keyed by path,
stat signature and the inference confs, so a new session reads its
tables without a schema-inference job. These tests pin the contract
that makes both safe: repeat calls reuse, any file change, sf-dir
switch or inference-conf change invalidates, and the error path is
unchanged.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from dataflowtemplates_spark.catalog import TABLES, load_table, register_tables

SF_SMOKE = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


def test_repeat_load_reuses_plan_object(spark):
    a = load_table(spark, SF_SMOKE, "nation")
    b = load_table(spark, SF_SMOKE, "nation")
    assert a is b  # memo hit: identical immutable plan, no re-read


def test_sf_dir_switch_repoints_views(spark):
    register_tables(spark, SF_SMOKE)
    n_smoke = spark.table("lineitem").count()
    register_tables(spark, SF_SMALL)
    n_small = spark.table("lineitem").count()
    assert n_small > n_smoke  # views must follow the new sf_dir
    register_tables(spark, SF_SMOKE)
    assert spark.table("lineitem").count() == n_smoke


def test_file_change_invalidates_memo(spark, tmp_path):
    d = tmp_path / "sfx"
    d.mkdir()
    src = os.path.join(SF_SMOKE, "nation.parquet")
    dst = d / "nation.parquet"
    shutil.copy(src, dst)
    first = load_table(spark, str(d), "nation")
    n1 = first.count()
    # replace the file with a different table's bytes and force a
    # distinct mtime: the stat signature must miss and reload
    st = os.stat(dst)
    shutil.copy(os.path.join(SF_SMOKE, "region.parquet"), dst)
    os.utime(dst, ns=(st.st_mtime_ns + 10**9, st.st_mtime_ns + 10**9))
    second = load_table(spark, str(d), "nation")
    assert second is not first
    assert second.count() != n1 or set(second.columns) != set(first.columns)


def test_missing_dir_still_raises(spark):
    with pytest.raises(FileNotFoundError):
        register_tables(spark, "/root/testdata/does_not_exist")


def test_inplace_member_rewrite_invalidates_dir_memo(spark, tmp_path):
    """A DIRECTORY table whose member file is rewritten in place (same
    name; the dir's own mtime does not move) must still miss the memo."""
    d = tmp_path / "sfy"
    t = d / "nation.parquet"  # directory-shaped table
    t.mkdir(parents=True)
    src = os.path.join(SF_SMOKE, "nation.parquet")
    member = t / "part-00000.parquet"
    shutil.copy(src, member)
    dir_st = os.stat(t)
    first = load_table(spark, str(d), "nation")
    n1 = first.count()
    # rewrite the member IN PLACE with different bytes, then pin the
    # directory's own stat back so only the member's (mtime, size)
    # differs — exactly the staleness class the signature must catch
    shutil.copy(os.path.join(SF_SMOKE, "region.parquet"), member)
    m = os.stat(member)
    os.utime(member, ns=(m.st_mtime_ns + 10**9, m.st_mtime_ns + 10**9))
    os.utime(t, ns=(dir_st.st_mtime_ns, dir_st.st_mtime_ns))
    second = load_table(spark, str(d), "nation")
    assert second is not first
    assert second.count() != n1 or set(second.columns) != set(first.columns)


def _spark_jobs(spark, fn):
    """Run ``fn()`` and return the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    group = f"catalog-memo-{id(fn)}"
    sc.setJobGroup(group, "catalog memo test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(df.collect(), key=repr)


def test_new_session_registers_every_table_without_a_job(spark):
    register_tables(spark, SF_SMOKE)
    other = spark.newSession()
    assert _spark_jobs(spark, lambda: register_tables(other, SF_SMOKE)) == []
    for name in TABLES:
        assert other.table(name).schema == spark.table(name).schema, name
        assert _rows(other.table(name)) == _rows(spark.table(name)), name


def _table_file(root, shape):
    """Where a table named ``nation`` lives under ``root``: the table
    itself for a single file, its one member for a directory."""
    if shape == "file":
        return root / "nation.parquet"
    (root / "nation.parquet").mkdir()
    return root / "nation.parquet" / "part-00000.parquet"


@pytest.mark.parametrize("shape", ["file", "dir"])
def test_inplace_rewrite_invalidates_schema_memo_across_sessions(
        spark, tmp_path, shape):
    d = tmp_path / f"sfx_{shape}"
    d.mkdir()
    target = _table_file(d, shape)
    shutil.copy(os.path.join(SF_SMOKE, "nation.parquet"), target)
    first = load_table(spark, str(d), "nation")
    n1 = first.count()
    # another session of the process reads the unchanged table from the
    # memoized schema: no inference job
    b = spark.newSession()
    assert _spark_jobs(spark, lambda: load_table(b, str(d), "nation")) == []
    # rewrite IN PLACE with another table's bytes and force a distinct
    # mtime; keep a directory's own mtime where it was
    root_st = os.stat(target.parent)
    shutil.copy(os.path.join(SF_SMOKE, "region.parquet"), target)
    st = os.stat(target)
    os.utime(target, ns=(st.st_mtime_ns + 10**9, st.st_mtime_ns + 10**9))
    if shape == "dir":
        os.utime(target.parent,
                 ns=(root_st.st_mtime_ns, root_st.st_mtime_ns))
    region_cols = set(spark.read.parquet(str(target)).columns)
    for s in (b, spark.newSession()):  # a warm and a fresh session
        df = load_table(s, str(d), "nation")
        assert set(df.columns) == region_cols != set(first.columns)
        assert df.count() != n1


def test_inference_confs_key_the_schema_memo(spark, tmp_path):
    d = tmp_path / "sfb"
    d.mkdir()
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64()),
                             "blob": pa.array([b"a", b"bc"], pa.binary())}),
                   d / "blobs.parquet")
    plain = load_table(spark, str(d), "blobs")
    assert isinstance(plain.schema["blob"].dataType, T.BinaryType)
    other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    as_string = load_table(other, str(d), "blobs")
    assert isinstance(as_string.schema["blob"].dataType, T.StringType)
    assert sorted(r.blob for r in as_string.collect()) == ["a", "bc"]


def test_nanos_timestamps_read_the_same_through_a_memo_hit(spark, tmp_path):
    d = tmp_path / "sfe"
    d.mkdir()
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), d)
    miss = load_table(spark, str(d), "events")
    other = spark.newSession()
    hits = []
    assert _spark_jobs(spark, lambda: hits.append(
        load_table(other, str(d), "events"))) == []
    hit = hits[0]
    ts_type = hit.schema["ts"].dataType
    assert isinstance(ts_type, (T.TimestampType, T.TimestampNTZType))
    assert ts_type == miss.schema["ts"].dataType
    assert _rows(hit.select("event_id", "ts")) == _rows(
        miss.select("event_id", "ts"))
