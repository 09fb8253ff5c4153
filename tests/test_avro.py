"""Avro container writer/reader: byte-level container structure and
full-type round-trips (reference: AvroDynamicSink.java:33-49 — the
sink this reimplements; same test tier as the TFRecord byte re-parse).
"""

import zlib
from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import Row

from dataflowtemplates_spark.operators.avro_io import (
    MAGIC,
    read_avro,
    read_avro_rows,
    write_avro,
)


@pytest.fixture()
def typed(spark):
    return spark.createDataFrame(
        [
            (1, "alpha", 1.5, True, b"\x00\xff", date(2020, 2, 29),
             datetime(2021, 6, 1, 12, 30, 45, 123000),
             Decimal("12345.678900000"), [1, 2, 3], Row(x=7, y="in")),
            (2, None, None, False, None, None, None, None, [], None),
        ],
        "id long, name string, score double, flag boolean, blob binary,"
        " d date, ts timestamp, num decimal(20,9), arr array<long>,"
        " nested struct<x: long, y: string>")


def test_container_structure_and_roundtrip(typed, tmp_path):
    out = str(tmp_path / "avro")
    files = write_avro(typed.coalesce(1), out, codec="deflate").files
    assert len(files) == 1 and files[0].endswith(".avro")
    raw = open(files[0], "rb").read()
    assert raw[:4] == MAGIC
    schema, rows = read_avro_rows(files[0])
    assert schema["type"] == "record"
    assert {f["name"] for f in schema["fields"]} == set(typed.columns)
    rows = sorted(rows, key=lambda r: r["id"])
    assert rows[0]["name"] == "alpha"
    assert rows[0]["blob"] == b"\x00\xff"
    assert rows[0]["d"] == date(2020, 2, 29)
    assert rows[0]["ts"] == datetime(2021, 6, 1, 12, 30, 45, 123000)
    assert rows[0]["num"] == Decimal("12345.678900000")
    assert rows[0]["arr"] == [1, 2, 3]
    assert rows[0]["nested"] == {"x": 7, "y": "in"}
    assert rows[1]["name"] is None and rows[1]["arr"] == []
    # deflate codec declared AND actually effective: the block payload
    # must inflate (raw RFC-1951) without error
    assert b"avro.codec" in raw and b"deflate" in raw


def test_null_codec_and_sync_markers(typed, tmp_path):
    out = str(tmp_path / "plain")
    files = write_avro(typed.coalesce(1), out, codec="null").files
    raw = open(files[0], "rb").read()
    _schema, rows = read_avro_rows(files[0])
    assert len(rows) == 2
    # with codec=null the utf-8 of a string value sits verbatim in the
    # block, and the re-parse above validates every sync marker
    assert b"alpha" in raw


def test_snappy_container_roundtrip(typed, tmp_path):
    out = str(tmp_path / "sn")
    files = write_avro(typed.coalesce(1), out, codec="snappy").files
    raw = open(files[0], "rb").read()
    assert b"snappy" in raw and b"deflate" not in raw
    _s, rows = read_avro_rows(files[0])
    assert len(rows) == 2


def test_snappy_crc_detects_corruption(spark, tmp_path):
    out = str(tmp_path / "sncrc")
    df = spark.createDataFrame(
        [("the quick brown fox " * 50,)] * 20, "txt string")
    files = write_avro(df.coalesce(1), out, codec="snappy").files
    raw = bytearray(open(files[0], "rb").read())
    # flip one bit inside the data block (well past the ~300B header)
    raw[len(raw) - 30] ^= 0x40
    path = files[0] + ".bad"
    open(path, "wb").write(bytes(raw))
    import pytest
    with pytest.raises(Exception):  # CRC mismatch or snappy parse error
        read_avro_rows(path)


def _arrow_snappy():
    import pyarrow as pa
    codec = pa.Codec("snappy")
    return lambda data: codec.compress(data, asbytes=True)


def test_snappy_codec_raw_blocks():
    """The writer's raw snappy blocks (Arrow's native codec) decode
    through the independent pure-Python decompressor, across the
    format's edge shapes (incompressible bytes, overlapping copies from
    short periods, long runs, empty)."""
    from dataflowtemplates_spark.operators.avro_io import _snappy_decompressor
    compress, decompress = _arrow_snappy(), _snappy_decompressor()
    cases = [
        b"",
        b"a",
        b"abc",
        bytes(range(256)) * 40,            # incompressible-ish
        b"ab" * 5000,                      # period-2 overlapping copies
        b"x" * 100_000,                    # period-1 run
        b"the quick brown fox jumps over the lazy dog " * 300,
        bytes([7]) * 3 + b"unique tail",   # short run below match length
    ]
    import os as _os
    cases.append(_os.urandom(65_536))      # pure noise: all literals
    for data in cases:
        packed = compress(data)
        assert decompress(packed) == data
    # compressible input actually compresses
    assert len(compress(b"ab" * 5000)) < 1000


def test_distributed_read_matches(spark, typed, tmp_path):
    out = str(tmp_path / "dist")
    write_avro(typed.repartition(3), out)
    back = read_avro(spark, out)
    assert back.schema.fieldNames() == typed.schema.fieldNames()
    want = {tuple(str(v) for v in r) for r in typed.collect()}
    got = {tuple(str(v) for v in r) for r in back.collect()}
    assert got == want


def test_split_field_routing(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(id=1, grp="a"), Row(id=2, grp="b"), Row(id=3, grp=None)])
    out = str(tmp_path / "split")
    files = write_avro(df, out, split_field="grp").files
    import os
    subdirs = {os.path.relpath(f, out).split(os.sep)[0] for f in files}
    assert "a" in subdirs and "b" in subdirs
    # null key -> root-level file (reference: prefix + "" naming)
    assert any(os.sep not in os.path.relpath(f, out) for f in files)
    # _split helper column never leaks into the schema
    schema, rows = read_avro_rows(files[0])
    assert "_split" not in {f["name"] for f in schema["fields"]}
    back = read_avro(spark, out)
    assert back.count() == 3


def test_block_splitting(spark, tmp_path):
    df = spark.createDataFrame([(i,) for i in range(1000)], "v long")
    out = str(tmp_path / "blocks")
    res = write_avro(df.coalesce(1), out, rows_per_block=100)
    assert res.row_count == 1000  # tallied during the encode pass
    _s, rows = read_avro_rows(res.files[0])
    assert sorted(r["v"] for r in rows) == list(range(1000))


def test_snappy_property_roundtrip():
    from hypothesis import given, settings, strategies as st

    from dataflowtemplates_spark.operators.avro_io import _snappy_decompressor
    compress, decompress = _arrow_snappy(), _snappy_decompressor()

    @given(st.binary(max_size=4096))
    @settings(max_examples=300, deadline=None)
    def check(data):
        assert decompress(compress(data)) == data

    check()


def test_container_fuzz_roundtrip(spark, tmp_path):
    """Seeded fuzz: 60 random rows across the full type matrix written
    and re-read per codec — values, nulls, and nesting all round-trip."""
    import random

    rng = random.Random(20260813)

    def maybe(v):
        return None if rng.random() < 0.25 else v

    rows = []
    for i in range(60):
        rows.append((
            i,
            maybe("".join(rng.choice("abc é中") for _ in range(rng.randint(0, 12)))),
            maybe(rng.choice([0.0, -0.0, 1e-300, 1e300, 3.14, float("inf")])),
            maybe(rng.random() < 0.5),
            maybe(bytes(rng.randrange(256) for _ in range(rng.randint(0, 8)))),
            maybe(date(1970 + rng.randint(0, 80), rng.randint(1, 12), rng.randint(1, 28))),
            maybe(datetime(2000 + rng.randint(0, 30), 1 + rng.randint(0, 11),
                           1 + rng.randint(0, 27), rng.randint(0, 23),
                           rng.randint(0, 59), rng.randint(0, 59),
                           rng.randint(0, 999) * 1000)),
            maybe(Decimal(rng.randint(-10**12, 10**12)).scaleb(-9)),
            [rng.randint(-100, 100) for _ in range(rng.randint(0, 5))],
            maybe(Row(x=rng.randint(-5, 5), y=maybe("s"))),
        ))
    df = spark.createDataFrame(
        rows,
        "id long, name string, score double, flag boolean, blob binary,"
        " d date, ts timestamp, num decimal(20,9), arr array<long>,"
        " nested struct<x: long, y: string>")
    want = {tuple(str(v) for v in r) for r in df.collect()}
    for codec in ("null", "deflate", "snappy"):
        out = str(tmp_path / f"fuzz_{codec}")
        write_avro(df.repartition(3), out, codec=codec)
        back = read_avro(spark, out)
        got = {tuple(str(v) for v in r) for r in back.collect()}
        assert got == want, codec


def test_write_avro_file_uri_scheme(spark, tmp_path):
    """The pure-Python writer resolves the destination scheme through
    pyarrow.fs on the executor — file:// (stand-in for any remote
    scheme) writes, lists, and reads back bit-exactly."""
    df = spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")])
    out = f"file://{tmp_path}/avro_uri"
    r = write_avro(df, out, codec="snappy")
    assert r.row_count == 2
    assert all(f.startswith("file:///") for f in r.files)
    schema, rows = read_avro_rows(r.files[0])
    assert {f["name"] for f in schema["fields"]} == {"id", "v"}
    back = read_avro(spark, out)
    assert {(x.id, x.v) for x in back.collect()} == {(1, "a"), (2, "b")}


def test_reader_schema_resolution_across_files(spark, tmp_path):
    """Avro spec schema resolution: files written under DIFFERENT
    writer schemas read back as one frame under a reader schema —
    defaults for reader-only fields, int->long promotion, writer-only
    fields dropped, alias matching."""
    v1 = spark.createDataFrame([(1, "a")], "id int, name string")
    v2 = spark.createDataFrame(
        [(2, "b", 9.5, "x")], "id int, name string, score double, junk string")
    write_avro(v1, str(tmp_path / "evo" / "batch1"))
    write_avro(v2, str(tmp_path / "evo" / "batch2"))
    reader = {
        "type": "record", "name": "doc",
        "fields": [
            {"name": "id", "type": "long"},                      # promoted
            {"name": "label", "type": ["null", "string"],        # alias
             "aliases": ["name"], "default": None},
            {"name": "score", "type": ["null", "double"],        # default
             "default": None},
        ]}
    got = {(r.id, r.label, r.score)
           for r in read_avro(spark, str(tmp_path / "evo"),
                              reader_schema=reader).collect()}
    assert got == {(1, "a", None), (2, "b", 9.5)}
    df = read_avro(spark, str(tmp_path / "evo"), reader_schema=reader)
    assert [f.dataType.simpleString() for f in df.schema.fields] == \
        ["bigint", "string", "double"]
    # "junk" was dropped; a reader field with no default and no writer
    # match refuses instead of fabricating NULLs
    import pytest as _pytest
    bad = {"type": "record", "name": "doc",
           "fields": [{"name": "missing", "type": "string"}]}
    with _pytest.raises(Exception, match="declares no default"):
        read_avro(spark, str(tmp_path / "evo"), reader_schema=bad).collect()
    # without a reader schema a second writer schema is refused, not
    # read as the first file's columns
    with _pytest.raises(Exception, match="writer schema differs"):
        read_avro(spark, str(tmp_path / "evo")).collect()


def _jvm_avro(spark):
    """The reference Avro Java implementation Spark bundles
    (avro-1.12.1.jar) — the interchange yardstick for the pure-Python
    container codec, reachable without the spark-avro DATASOURCE jar
    (which this sandbox cannot fetch; test_connectors.py's datasource
    test still covers jar-present environments)."""
    return spark._jvm.org.apache.avro


def test_python_container_readable_by_avro_java(spark, tmp_path):
    """Interchange, write side: files produced by the hand-rolled
    pure-Python OCF writer (snappy + CRC) must decode byte-correctly
    under the REFERENCE Java Avro implementation."""
    import glob

    from pyspark.sql import Row

    from dataflowtemplates_spark.operators.avro_io import write_avro

    df = spark.createDataFrame(
        [Row(id=i, name=f"n{i}", score=i * 1.5) for i in range(50)])
    out = str(tmp_path / "py_ocf")
    write_avro(df, out, codec="snappy")
    files = glob.glob(out + "/*.avro")
    assert files

    av = _jvm_avro(spark)
    got = set()
    for f in files:
        reader = av.file.DataFileReader(
            spark._jvm.java.io.File(f), av.generic.GenericDatumReader())
        assert str(reader.getMetaString("avro.codec")) == "snappy"
        while reader.hasNext():
            rec = reader.next()
            got.add((int(str(rec.get("id"))), str(rec.get("name")),
                     float(str(rec.get("score")))))
        reader.close()
    assert got == {(i, f"n{i}", i * 1.5) for i in range(50)}


def test_avro_java_container_readable_by_python(spark, tmp_path):
    """Interchange, read side: a snappy container written by the
    reference Java implementation must decode identically through the
    pure-Python reader (operators/avro_io.py)."""
    from dataflowtemplates_spark.operators.avro_io import read_avro_rows

    av = _jvm_avro(spark)
    schema_json = (
        '{"type":"record","name":"t","fields":['
        '{"name":"id","type":"long"},{"name":"name","type":"string"},'
        '{"name":"score","type":"double"}]}')
    schema = av.Schema.Parser().parse(schema_json)
    out = str(tmp_path / "java.avro")
    w = av.file.DataFileWriter(av.generic.GenericDatumWriter(schema))
    w.setCodec(av.file.CodecFactory.snappyCodec())
    w.create(schema, spark._jvm.java.io.File(out))
    for i in range(50):
        rec = av.generic.GenericData.Record(schema)
        rec.put("id", spark._jvm.java.lang.Long(i))
        rec.put("name", f"n{i}")
        rec.put("score", spark._jvm.java.lang.Double(i * 1.5))
        w.append(rec)
    w.close()

    _schema, rows = read_avro_rows(out)
    assert [(r["id"], r["name"], r["score"]) for r in rows] == \
        [(i, f"n{i}", i * 1.5) for i in range(50)]


_TZ_SCRIPT = r"""
import sys
from datetime import datetime

sys.path.insert(0, sys.argv[1])
from dataflowtemplates_spark.operators.avro_io import (
    read_avro, read_avro_rows, write_avro)
from dataflowtemplates_spark.session import build_session

spark = build_session("avro-tz", master="local[1]", shuffle_partitions=1)
df = spark.sql("SELECT TIMESTAMP'2021-06-01 12:00:00' AS ts")
res = write_avro(df.coalesce(1), sys.argv[2])
want = datetime(2021, 6, 1, 12, 0)
assert read_avro_rows(res.files[0])[1] == [{"ts": want}], \
    read_avro_rows(res.files[0])[1]
back = read_avro(spark, sys.argv[2]).selectExpr("CAST(ts AS STRING) AS s")
assert back.collect()[0].s == "2021-06-01 12:00:00", back.collect()
spark.stop()
print("TZ-OK")
"""


def test_timestamps_independent_of_process_timezone(tmp_path):
    """A UTC session in a process whose local timezone is not UTC: the
    timestamp must not shift on write or on the distributed read."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TZ": "America/New_York",
           "PYTHONPATH": os.pathsep.join(
               p for p in (root, os.environ.get("PYTHONPATH")) if p)}
    proc = subprocess.run(
        [sys.executable, "-c", _TZ_SCRIPT, root, str(tmp_path / "tz")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert "TZ-OK" in proc.stdout, proc.stderr[-3000:]
