"""E2E writer tests: write to a temp dir, re-read, inspect (reference
test tier 3: file-writing integration, StructToAvroTransformTest)."""

import json
import os

import pytest
from pyspark.sql import Row

from dataflowtemplates_spark.sources.writers import (
    write_columnar_dynamic,
    write_text_dynamic,
)


@pytest.fixture()
def sample(spark):
    return spark.createDataFrame([
        Row(id=1, grp="a", name="one"),
        Row(id=2, grp="b", name="two"),
        Row(id=3, grp="a", name="three"),
        Row(id=4, grp=None, name="ungrouped"),
    ])


def test_json_dynamic_split(spark, sample, tmp_path):
    out = str(tmp_path / "out")
    res = write_text_dynamic(sample, out, fmt="json", split_field="grp",
                             prefix="export")
    assert res.row_count == 4
    groups = sorted(os.listdir(out))
    assert "a" in groups and "b" in groups
    # null split key -> empty-string group -> files at the root
    root_files = [f for f in groups if f.endswith(".json")]
    assert len(root_files) == 1
    a_rows = []
    for f in res.files:
        if f"{os.sep}a{os.sep}" in f:
            with open(f) as fh:
                a_rows += [json.loads(line) for line in fh]
    assert sorted(r["id"] for r in a_rows) == [1, 3]
    # split column itself is not written into the payload? reference keeps
    # all queried fields in the row; ours keeps them too:
    assert set(a_rows[0]) == {"id", "grp", "name"}


def test_csv_header_single_file(spark, sample, tmp_path):
    out = str(tmp_path / "csv")
    res = write_text_dynamic(sample, out, fmt="csv", header=True,
                             without_sharding=True, prefix="data")
    assert len(res.files) == 1
    assert os.path.basename(res.files[0]) == "data.csv"
    with open(res.files[0]) as fh:
        lines = fh.read().splitlines()
    assert lines[0] == "id,grp,name"
    assert len(lines) == 5
    assert "1,a,one" in lines


def test_empty_result_writes_empty_file(spark, sample, tmp_path):
    out = str(tmp_path / "empty")
    notify = str(tmp_path / "notify.txt")
    res = write_text_dynamic(sample.filter("id > 99"), out, fmt="csv",
                             header=True, prefix="data", empty_text="",
                             output_empty=True, output_notify=notify)
    assert res.empty
    assert len(res.files) == 1
    with open(res.files[0]) as fh:
        assert fh.read().splitlines() == ["id,grp,name"]
    with open(notify) as fh:
        assert fh.read() == res.files[0]


def test_notify_manifest(spark, sample, tmp_path):
    out = str(tmp_path / "o")
    notify = str(tmp_path / "manifest.txt")
    res = write_text_dynamic(sample, out, fmt="json", prefix="part",
                             output_notify=notify)
    with open(notify) as fh:
        listed = fh.read().splitlines()
    assert listed == res.files
    assert all(os.path.exists(p) for p in listed)


def test_columnar_dynamic_writes_real_avro(spark, sample, tmp_path):
    out = str(tmp_path / "col")
    res = write_columnar_dynamic(sample, out, split_field="grp", fmt="avro")
    # K2 emits real .avro containers without the spark-avro jar
    assert res.format == "avro"
    assert res.files and all(f.endswith(".avro") for f in res.files)
    from dataflowtemplates_spark.operators.avro_io import read_avro
    back = read_avro(spark, out)
    assert back.count() == 4
    assert sorted(r["name"] for r in back.collect()) == \
        ["one", "three", "two", "ungrouped"]
    # dirs are plain `value/` (reference naming), not hive `k=v/`
    listed = sorted(os.listdir(out))
    assert "a" in listed and "b" in listed


def test_split_values_with_escaped_chars(spark, tmp_path):
    # group dirs carry the raw split value, ':' and '%' included
    # (the reference names by raw key)
    df = spark.createDataFrame([
        Row(id=1, grp="a:b"), Row(id=2, grp="pct%20"), Row(id=3, grp="plain"),
    ])
    out = str(tmp_path / "esc")
    res = write_text_dynamic(df, out, fmt="json", split_field="grp")
    listed = sorted(os.listdir(out))
    assert "a:b" in listed and "pct%20" in listed and "plain" in listed
    assert res.row_count == 3


def test_csv_header_written_per_split_file(spark, sample, tmp_path):
    out = str(tmp_path / "hdr")
    res = write_text_dynamic(sample, out, fmt="csv", split_field="grp",
                             header=True)
    assert res.row_count == 4
    # EVERY data file starts with the header line
    for f in res.files:
        with open(f) as fh:
            assert fh.readline().rstrip("\n") == "id,grp,name"


def test_text_write_is_single_job(spark, sample, tmp_path):
    # the row count comes back from the write stage itself — a
    # pre-write df.count() would cost a full extra scan
    sc = spark.sparkContext
    sc.setJobGroup("single-job-write", "write_text_dynamic")
    try:
        res = write_text_dynamic(sample, str(tmp_path / "one"), fmt="json")
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("single-job-write")
    assert len(jobs) == 1
    assert res.row_count == 4


def test_columnar_dynamic_orc_and_parquet(spark, sample, tmp_path):
    """K2's ORC and parquet dynamic writes go through the same sink
    stage as Avro."""
    for fmt in ("orc", "parquet"):
        out = str(tmp_path / f"col_{fmt}")
        res = write_columnar_dynamic(sample, out, split_field="grp",
                                     fmt=fmt, compression="snappy" if
                                     fmt == "parquet" else "zlib")
        assert res.format == fmt
        assert res.row_count == 4
        # group dirs are plain `value/` (reference naming, not hive
        # k=v), so re-reading the tree needs recursive lookup
        back = (spark.read.format(fmt)
                .option("recursiveFileLookup", "true").load(out))
        assert sorted(r["name"] for r in back.collect()) == \
            ["one", "three", "two", "ungrouped"]


def test_manifest_and_finalization_through_object_backend(spark, sample,
                                                          tmp_path):
    """A manifest destined for a registered object-store scheme lands in
    the store (not on local disk): it is written through the fsio seam
    the commit protocol uses."""
    from dataflowtemplates_spark.operators import fsio
    from dataflowtemplates_spark.sources.writers import (
        _write_notify, WriteResult)

    store = fsio.MemoryObjectStore()
    fsio.register_object_backend("mockw", store)
    try:
        res = WriteResult(files=["mockw://b/out/a.json",
                                 "mockw://b/out/b.json"], row_count=2)
        _write_notify(res, "mockw://b/notify/manifest.txt")
        assert store.read_bytes("mockw://b/notify/manifest.txt") == \
            b"mockw://b/out/a.json\nmockw://b/out/b.json"
    finally:
        fsio.unregister_object_backend("mockw")


def _sink_writers():
    """name -> write(df, path, split_field) -> written files, for every
    format the one sink stage serves."""
    from dataflowtemplates_spark.operators.avro_io import write_avro
    from dataflowtemplates_spark.operators.tfrecord import write_tfrecords

    return {
        "json": lambda df, p, s: write_text_dynamic(
            df, p, fmt="json", split_field=s).files,
        "csv": lambda df, p, s: write_text_dynamic(
            df, p, fmt="csv", split_field=s, header=True).files,
        "avro": lambda df, p, s: write_avro(df, p, split_field=s).files,
        "tfrecord": lambda df, p, s: write_tfrecords(df, p, split_field=s),
        "parquet": lambda df, p, s: write_columnar_dynamic(
            df, p, split_field=s, fmt="parquet").files,
        "orc": lambda df, p, s: write_columnar_dynamic(
            df, p, split_field=s, fmt="orc", compression="zlib").files,
    }


@pytest.mark.parametrize("sink", ["json", "csv", "avro", "tfrecord",
                                  "parquet", "orc"])
@pytest.mark.parametrize("escape", ["relative", "absolute"])
def test_split_value_cannot_escape_output_root(spark, tmp_path, sink, escape):
    box = tmp_path / "box"
    bad = "../escaped" if escape == "relative" else str(tmp_path / "abs")
    df = spark.createDataFrame([Row(id=1, grp="a"), Row(id=2, grp=bad)])
    with pytest.raises(Exception, match="escapes output root"):
        _sink_writers()[sink](df, str(box / "out"), "grp")
    assert os.listdir(tmp_path) == ["box"]
    assert os.listdir(box) == ["out"]


@pytest.mark.parametrize("sink", ["json", "csv", "avro", "tfrecord",
                                  "parquet", "orc"])
def test_rewrite_clears_stale_output(spark, tmp_path, sink):
    out = str(tmp_path / "out")
    write = _sink_writers()[sink]
    write(spark.createDataFrame([Row(id=1, grp="a")]), out, "grp")
    files = write(spark.createDataFrame([Row(id=2, grp="b")]), out, "grp")
    assert os.listdir(out) == ["b"]
    assert [os.path.relpath(f, out).split(os.sep)[0] for f in files] == ["b"]


def test_unknown_format_is_refused(spark, sample, tmp_path):
    with pytest.raises(ValueError, match="avor"):
        write_columnar_dynamic(sample, str(tmp_path / "c"), fmt="avor")
    with pytest.raises(ValueError, match="xml"):
        write_text_dynamic(sample, str(tmp_path / "t"), fmt="xml")


def test_uri_targets_for_empty_output_and_manifest(spark, sample, tmp_path,
                                                   monkeypatch):
    """file:// targets (the stand-in for any remote scheme) land where
    they point, never under the working directory."""
    from dataflowtemplates_spark import templates as tpl

    monkeypatch.chdir(tmp_path)
    res = write_text_dynamic(sample.filter("id > 99"),
                             f"file://{tmp_path}/out", fmt="json",
                             output_empty=True)
    assert res.empty and os.listdir(tmp_path / "out") == ["output.json"]
    sample.createOrReplaceTempView("uri_sample")
    files = tpl.query_to_tfrecord(
        spark, "SELECT * FROM uri_sample", f"file://{tmp_path}/tfr",
        split_field="grp", output_notify=f"file://{tmp_path}/n/manifest.txt")
    assert (tmp_path / "n" / "manifest.txt").read_text() == "\n".join(files)
    assert sorted(os.listdir(tmp_path)) == ["n", "out", "tfr"]


def _records(content: str, candidates) -> list[str]:
    """``content`` cut back into the newline-terminated records it was
    written from, each one of ``candidates`` (a CSV record may hold
    newlines of its own, so lines cannot simply be split)."""
    from collections import Counter

    left = Counter(candidates)
    longest_first = sorted(left, key=len, reverse=True)
    out, pos = [], 0
    while pos < len(content):
        rec = next((c for c in longest_first
                    if left[c] and content.startswith(c + "\n", pos)), None)
        assert rec is not None, f"unexpected record at {content[pos:]!r}"
        left[rec] -= 1
        out.append(rec)
        pos += len(rec) + 1
    return out


@pytest.mark.parametrize("fmt", ["json", "csv"])
@pytest.mark.parametrize("split", [None, "grp"])
def test_text_sink_lines_match_text_line(spark, tmp_path, fmt, split):
    """Every written line is the JVM-rendered ``text_line`` of one row,
    in the directory of its split key; a CSV file starts with the
    header."""
    from collections import Counter
    from datetime import datetime

    from pyspark.sql import functions as F

    from dataflowtemplates_spark.functions.convert import text_line

    df = spark.createDataFrame([
        (1, "a", 'comma, "quote"', "two\nlines", (1, "ü"),
         bytearray(b"\x00\xff"), datetime(2021, 6, 1, 12, 0, 0, 123000)),
        (2, None, None, None, None, None, None),
        (3, "ünï", "plain", "tab\tcrlf\r\n", (None, "z,w"), bytearray(b""),
         datetime(1969, 12, 31, 23, 59, 59)),
        (4, "a", " sep", "", (2, None), bytearray(b"abc"), None),
    ], "id long, grp string, s string, t string,"
       " nest struct<x: long, y: string>, b binary, ts timestamp")
    key = (F.coalesce(F.col(split), F.lit("")) if split else F.lit(""))
    want = Counter((r[0], r[1]) for r in df.select(
        key, text_line(df, fmt)).collect())

    out = str(tmp_path / "out")
    res = write_text_dynamic(df, out, fmt=fmt, split_field=split,
                             header=fmt == "csv")
    assert res.row_count == 4
    header = "id,grp,s,t,nest,b,ts\n"
    got = Counter()
    for f in res.files:
        rel = os.path.relpath(os.path.dirname(f), out)
        split_dir = "" if rel == "." else rel
        with open(f, encoding="utf-8", newline="") as fh:
            content = fh.read()
        if fmt == "csv":
            assert content.startswith(header)
            content = content[len(header):]
        got.update((split_dir, rec) for rec in _records(
            content, [line for k, line in want.elements() if k == split_dir]))
    assert got == want


def test_benchmark_span_entry_points_fire(spark, sample, tmp_path,
                                          monkeypatch):
    """The benchmark records its writer spans by wrapping four entry
    points in every package module that imported them by name; the
    templates must still reach each of them through those names."""
    import sys

    from dataflowtemplates_spark import templates as tpl
    from dataflowtemplates_spark.operators import avro_io, tfrecord
    from dataflowtemplates_spark.sources import writers

    fired = []

    def wrap(owner, attr, label):
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            fired.append(label(kwargs) if callable(label) else label)
            return orig(*args, **kwargs)

        for name, mod in list(sys.modules.items()):
            if (mod is not None and name.startswith("dataflowtemplates_spark")
                    and vars(mod).get(attr) is orig):
                monkeypatch.setattr(mod, attr, traced)

    wrap(writers, "write_text_dynamic",
         lambda kwargs: f"writers.text_{kwargs.get('fmt', 'json')}")
    wrap(writers, "write_columnar_dynamic", "writers.columnar")
    wrap(avro_io, "write_avro", "avro_io.write")
    wrap(tfrecord, "write_tfrecords", "tfrecord.write")

    sample.createOrReplaceTempView("span_sample")
    query = "SELECT * FROM span_sample"
    tpl.table_to_text(spark, query, str(tmp_path / "j"), fmt="json",
                      split_field="grp")
    tpl.table_to_text(spark, query, str(tmp_path / "c"), fmt="csv",
                      header=True)
    tpl.table_to_columnar(spark, query, str(tmp_path / "a"),
                          split_field="grp")
    tpl.query_to_tfrecord(spark, query, str(tmp_path / "t"),
                          split_field="grp")
    assert fired == ["writers.text_json", "writers.text_csv",
                     "writers.columnar", "avro_io.write", "tfrecord.write"]
