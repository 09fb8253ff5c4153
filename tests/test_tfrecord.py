"""TFRecord encoder tests: wire-format round-trip + type lowering
(reference C12 semantics)."""

import struct

from pyspark.sql import Row
from pyspark.sql import types as T

from dataflowtemplates_spark.operators.tfrecord import (
    _example,
    _int64_list,
    _masked_crc,
    encode_examples,
    frame_record,
    read_tfrecords,
    write_tfrecords,
)


def _decode_example(buf: bytes) -> dict:
    """Minimal Example proto decoder for assertions."""
    def varint(b, i):
        n = shift = 0
        while True:
            n |= (b[i] & 0x7F) << shift
            shift += 7
            i += 1
            if not b[i - 1] & 0x80:
                return n, i

    def fields(b):
        i = 0
        while i < len(b):
            tag, i = varint(b, i)
            fno, wt = tag >> 3, tag & 7
            assert wt == 2
            ln, i = varint(b, i)
            yield fno, b[i:i + ln]
            i += ln

    out = {}
    (fno, features), = fields(buf)
    assert fno == 1
    for fno, entry in fields(features):
        assert fno == 1
        name = kind = None
        for eno, val in fields(entry):
            if eno == 1:
                name = val.decode()
            else:
                (kno, body), = fields(val)
                if kno == 1:   # bytes list
                    kind = [v.decode(errors="replace") for _n, v in fields(body)]
                elif kno == 2:  # float list (packed)
                    (_n, packed), = fields(body)
                    kind = list(struct.unpack(f"<{len(packed)//4}f", packed))
                else:          # int64 list (packed varints)
                    (_n, packed), = fields(body)
                    vals, i = [], 0
                    while i < len(packed):
                        v, i = varint(packed, i)
                        if v >= 1 << 63:
                            v -= 1 << 64
                        vals.append(v)
                    kind = vals
        out[name] = kind
    return out


def test_frame_roundtrip(tmp_path):
    payloads = [b"abc", b"", b"x" * 1000]
    target = str(tmp_path / "t.tfrecord")
    with open(target, "wb") as fh:
        for p in payloads:
            fh.write(frame_record(p))
    assert read_tfrecords(target) == payloads


def test_masked_crc_known_value():
    # crc32c("") = 0; masked = rot-right-15(0) + MASK = 0xA282EAD8
    assert _masked_crc(b"") == 0xA282EAD8


def _masked_crc32c_loop(data: bytes) -> int:
    """Bitwise CRC32C (Castagnoli) + TFRecord masking: the reference
    the batched numpy kernel must equal."""
    crc = 0xFFFFFFFF
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = (crc >> 1) ^ 0x82F63B78 if crc & 1 else crc >> 1
    crc ^= 0xFFFFFFFF
    return ((crc >> 15) | (crc << 17)) + 0xA282EAD8 & 0xFFFFFFFF


def test_batched_crc32c_matches_bitwise_reference():
    """One call over records of mixed lengths covers both phases of the
    kernel: numpy steps while many records are live, then the scalar
    tail of the few longest."""
    import random

    from dataflowtemplates_spark.operators.tfrecord import _masked_crcs

    crc = _masked_crc32c_loop(b"123456789") - 0xA282EAD8 & 0xFFFFFFFF
    assert ((crc << 15) | (crc >> 17)) & 0xFFFFFFFF == 0xE3069283
    rng = random.Random(7)
    records = [rng.randbytes(rng.choice([0, 1, 7, 8, 100, 257, 2000]))
               for _ in range(300)] + [rng.randbytes(5000)]
    assert _masked_crcs(records).tolist() == \
        [_masked_crc32c_loop(r) for r in records]


def test_encode_type_lowering(spark):
    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("i", T.LongType()),
        T.StructField("f", T.DoubleType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("raw", T.BinaryType()),
        T.StructField("arr", T.ArrayType(T.LongType())),
        T.StructField("nest", T.StructType([
            T.StructField("x", T.StringType())])),
        T.StructField("skipme", T.MapType(T.StringType(), T.LongType())),
    ])
    df = spark.createDataFrame([Row(
        s="hi", i=42, f=1.5, flag=True, raw=b"\x01\x02",
        arr=[1, 2, 3], nest=Row(x="deep"), skipme={"k": 1})], schema)
    encoded = encode_examples(df).collect()[0].example
    got = _decode_example(bytes(encoded))
    assert got["s"] == ["hi"]
    assert got["i"] == [42]
    assert got["f"] == [1.5]
    assert got["flag"] == [1]          # bool -> int64 0/1 (reference :89-90)
    assert got["arr"] == [1, 2, 3]
    assert got["nest_x"] == ["deep"]   # underscore flattening
    assert "skipme" not in got         # MAP skipped


def test_write_tfrecords_split(spark, tmp_path):
    df = spark.createDataFrame([
        Row(grp="a", v=1), Row(grp="b", v=2), Row(grp="a", v=3),
        Row(grp=None, v=4),
    ])
    out = str(tmp_path / "tfr")
    files = write_tfrecords(df, out, split_field="grp", compress=True)
    assert files and all(f.endswith(".tfrecord.gz") for f in files)
    total = []
    for f in files:
        total += read_tfrecords(f)
    assert len(total) == 4
    decoded = [_decode_example(p) for p in total]
    # split column is passthrough metadata, not a feature
    assert all(set(d) == {"grp", "v"} or set(d) == {"v"} for d in decoded)


def test_null_timestamp_and_null_array_elements(spark):
    """Arrow renders null timestamps as NaT — the encoder must skip
    them like any other null feature, and null array elements drop."""
    from datetime import datetime
    from dataflowtemplates_spark.operators.tfrecord import encode_examples
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 12, 0, 0), [1, None, 3]),
         (2, None, None)],
        "id long, ts timestamp, arr array<long>")
    rows = encode_examples(df).collect()
    assert len(rows) == 2 and all(len(r.example) > 0 for r in rows)


def test_non_string_passthrough_keeps_type(spark):
    from dataflowtemplates_spark.operators.tfrecord import encode_examples
    df = spark.createDataFrame([(7, "a")], "num long, txt string")
    out = encode_examples(df, passthrough=("num",))
    assert dict(out.dtypes)["num"] == "bigint"
    assert out.collect()[0].num == 7


def test_read_tfrecord_df_roundtrip(spark, tmp_path):
    """The new TFRecord source must read the K3 sink's output back
    bit-for-bit (values, arrays, nesting-flattened names, gzip frames,
    CRC verification on every record)."""
    from dataflowtemplates_spark.operators.tfrecord import read_tfrecord_df

    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("i", T.LongType()),
        T.StructField("f", T.DoubleType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("raw", T.BinaryType()),
        T.StructField("arr", T.ArrayType(T.LongType())),
        T.StructField("nest", T.StructType([
            T.StructField("x", T.StringType())])),
    ])
    rows = [Row(s=f"r{i}", i=i, f=i + 0.5, flag=i % 2 == 0,
                raw=bytes([i]), arr=[i, i * 2, -i], nest=Row(x=f"n{i}"))
            for i in range(7)]
    df = spark.createDataFrame(rows, schema).repartition(3)
    target = str(tmp_path / "rt")
    files = write_tfrecords(df, target, compress=True)
    assert files

    got = read_tfrecord_df(
        spark, target,
        {"s": "string", "i": "int64", "f": "float", "flag": "int64",
         "raw": "bytes", "arr": "int64", "nest_x": "string"},
        list_fields=("arr",)).collect()
    assert len(got) == len(rows)
    by_key = {r["s"]: r for r in got}
    import struct as _st
    for src in rows:
        g = by_key[src.s]
        assert g["i"] == src.i
        # writer lowers double -> float32; reader returns that float32
        assert g["f"] == _st.unpack("<f", _st.pack("<f", src.f))[0]
        assert g["flag"] == int(src.flag)   # bool -> int64 lowering
        assert g["raw"] == src.raw
        assert g["arr"] == src.arr
        assert g["nest_x"] == src.nest.x    # `_`-flattened nesting


def test_read_tfrecord_df_rejects_corrupt_crc(spark, tmp_path):
    from dataflowtemplates_spark.operators.tfrecord import read_tfrecord_df

    schema = T.StructType([T.StructField("i", T.LongType())])
    df = spark.createDataFrame([Row(i=1)], schema)
    target = str(tmp_path / "bad")
    files = write_tfrecords(df, target, compress=False)
    data = bytearray(open(files[0], "rb").read())
    data[-5] ^= 0xFF  # flip a payload byte, leave the CRC stale
    open(files[0], "wb").write(bytes(data))
    import pytest
    with pytest.raises(Exception, match="CRC"):
        read_tfrecord_df(spark, target, {"i": "int64"}).collect()


def test_read_tfrecord_df_unpacked_scalars(spark, tmp_path):
    """Externally produced files may encode repeated scalars UNPACKED
    (one wire-type-0/5 field per value) — valid protobuf the K3 writer
    never emits. The reader must return the values, not drop them."""
    from dataflowtemplates_spark.operators.tfrecord import (
        _len_delimited,
        _tag,
        _varint,
        frame_record,
        read_tfrecord_df,
    )

    ints = [3, -4, 1 << 40]
    floats = [1.5, -2.25]
    int_body = b"".join(_tag(1, 0) + _varint(v & 0xFFFFFFFFFFFFFFFF)
                        for v in ints)
    float_body = b"".join(_tag(1, 5) + struct.pack("<f", v)
                          for v in floats)
    entries = (
        _len_delimited(1, _len_delimited(1, b"iv")
                       + _len_delimited(2, _len_delimited(3, int_body)))
        + _len_delimited(1, _len_delimited(1, b"fv")
                         + _len_delimited(2, _len_delimited(2, float_body)))
    )
    example = _len_delimited(1, entries)
    target = tmp_path / "unpacked"
    target.mkdir()
    (target / "part.tfrecord").write_bytes(frame_record(example))

    got = read_tfrecord_df(
        spark, str(target), {"iv": "int64", "fv": "float"},
        list_fields=("iv", "fv")).collect()
    assert len(got) == 1
    assert list(got[0]["iv"]) == ints
    assert list(got[0]["fv"]) == floats


def test_read_tfrecord_df_bad_wire_type_raises(spark, tmp_path):
    """A malformed wire type inside a value list must raise — silent
    data loss on externally produced files is worse than an error."""
    from dataflowtemplates_spark.operators.tfrecord import (
        _len_delimited,
        _tag,
        frame_record,
        read_tfrecord_df,
    )
    import pytest

    bad_body = _tag(1, 1) + struct.pack("<d", 1.0)  # wt=1 in an int64 list
    entries = _len_delimited(
        1, _len_delimited(1, b"iv")
        + _len_delimited(2, _len_delimited(3, bad_body)))
    example = _len_delimited(1, entries)
    target = tmp_path / "badwire"
    target.mkdir()
    (target / "part.tfrecord").write_bytes(frame_record(example))
    with pytest.raises(Exception, match="wire type"):
        read_tfrecord_df(spark, str(target), {"iv": "int64"},
                         list_fields=("iv",)).collect()


def test_write_tfrecords_file_uri_scheme(spark, tmp_path):
    """The sink streams through pyarrow.fs resolved from the path's
    scheme — a file:// URI (the stand-in for hdfs://, s3://, gs://)
    writes and round-trips identically to a bare path."""
    from pyspark.sql import Row
    df = spark.createDataFrame([Row(s="x", i=1), Row(s="y", i=2)])
    out = f"file://{tmp_path}/tfr_uri"
    files = write_tfrecords(df, out, compress=True)
    assert files and all(f.startswith("file:///") for f in files)
    total = []
    for f in files:
        total += read_tfrecords(f.removeprefix("file://"))
    assert len(total) == 2
    # the distributed reader takes the URI directly (fsio listing, read
    # in tasks through fsio.task_files)
    from dataflowtemplates_spark.operators.tfrecord import read_tfrecord_df
    back = read_tfrecord_df(spark, out, {"s": "string", "i": "int64"})
    assert {(r.s, r.i) for r in back.collect()} == {("x", 1), ("y", 2)}


def _reference_payload(row: dict, kinds: dict) -> bytes:
    """The module-level reference encoding (``_example``) of one row of
    already-flattened values, applying the documented lowering by hand:
    null features (and NaN floats) skipped, null and NaN array elements
    dropped."""
    import math
    from datetime import date, datetime, timedelta, timezone

    from dataflowtemplates_spark.operators.tfrecord import (
        _bytes_list, _float_list, _int64_list)

    def lower(v):
        if isinstance(v, str):
            return v.encode()
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, datetime):  # whole seconds, toward zero
            if v.tzinfo is None:  # TIMESTAMP_NTZ: wall clock as UTC
                v = v.replace(tzinfo=timezone.utc)
            us = (v - datetime(1970, 1, 1, tzinfo=timezone.utc)) \
                // timedelta(microseconds=1)
            return abs(us) // 10**6 * (1 if us >= 0 else -1)
        if isinstance(v, date):
            return v.isoformat().encode()
        return v

    def skip(v):
        return v is None or (isinstance(v, float) and math.isnan(v))

    lists = {"bytes": _bytes_list, "float": lambda vs: _float_list(
        [float(v) for v in vs]), "int64": _int64_list}
    feats = {}
    for name, value in row.items():
        if skip(value):
            continue
        vals = ([lower(v) for v in value if not skip(v)]
                if isinstance(value, list) else [lower(value)])
        feats[name] = (kinds[name], lists[kinds[name]](vals))
    return _example(feats)


def test_write_tfrecords_payloads_match_reference_encoding(spark, tmp_path):
    """Byte parity: every payload the sink writes equals the reference
    ``_example`` encoding of the same row — all scalar kinds, nulls,
    NaN, arrays (with null/NaN elements, empty, null) and nested
    structs — with and without a split field."""
    from datetime import date, datetime, timezone
    from decimal import Decimal

    nan = float("nan")
    schema = (
        "s string, raw binary, flag boolean, b tinyint, sh smallint,"
        " i int, l long, f float, d double, num decimal(12,3), day date,"
        " ts timestamp, ntz timestamp_ntz, ls array<string>,"
        " ll array<long>, ld array<double>,"
        " nest struct<x: string, y: struct<z: long>>, grp string")
    rows = [
        ("héllo", b"\x00\x01", True, -7, 300, -70000, -(1 << 40), 1.25,
         -2.5e-3, Decimal("12.345"), date(2020, 2, 29),
         datetime(2021, 6, 1, 12, 0, 0, 250000, tzinfo=timezone.utc),
         datetime(2021, 6, 1, 12, 0, 0, 900000),
         ["a", None, ""], [1, None, -3], [0.5, nan, None, -1.0],
         {"x": "deep", "y": {"z": 9}}, "a"),
        (None, None, None, None, None, None, None, None, None, None, None,
         None, None, None, None, None, None, None),
        ("", b"", False, 0, 0, 0, 0, 0.0, nan, Decimal("-0.001"),
         date(1969, 12, 31),
         datetime(1969, 12, 31, 23, 59, 58, 500000, tzinfo=timezone.utc),
         datetime(1970, 1, 1), [], [], [], {"x": None, "y": None}, "b"),
        ("z" * 300, bytes(range(200)), True, 127, -32768, 2**31 - 1,
         2**53, 3.4e38, 1e30, Decimal("123456789.999"),
         date(9999, 12, 31), datetime(2038, 1, 19, 3, 14, 8,
                                      tzinfo=timezone.utc),
         datetime(2000, 1, 1, 0, 0, 1), ["x"] * 50, list(range(-5, 60)),
         [1e-3] * 20, {"x": "n", "y": {"z": None}}, None),
    ]
    df = spark.createDataFrame(rows, schema)
    kinds = {"s": "bytes", "raw": "bytes", "flag": "int64", "b": "int64",
             "sh": "int64", "i": "int64", "l": "int64", "f": "float",
             "d": "float", "num": "float", "day": "bytes", "ts": "int64",
             "ntz": "int64", "ls": "bytes", "ll": "int64", "ld": "float",
             "nest_x": "bytes", "nest_y_z": "int64", "grp": "bytes"}
    want = []
    for r in df.collect():
        flat = r.asDict(recursive=True)
        nest = flat.pop("nest") or {}
        flat["nest_x"] = nest.get("x")
        flat["nest_y_z"] = (nest.get("y") or {}).get("z")
        want.append(_reference_payload(flat, kinds))

    for split in (None, "grp"):
        out = str(tmp_path / f"parity_{split}")
        got = []
        for f in write_tfrecords(df.repartition(2), out, split_field=split):
            got += read_tfrecords(f)
        assert sorted(got) == sorted(want), split
    encoded = [bytes(r.example) for r in encode_examples(df).collect()]
    assert sorted(encoded) == sorted(want)


def test_int64_above_2_53_exact_next_to_nulls(spark, tmp_path):
    """A null in the same batch must not push an int64 column through
    float64: 2^60+1 is written and read back exactly."""
    from dataflowtemplates_spark.operators.tfrecord import read_tfrecord_df

    big = (1 << 60) + 1
    df = spark.createDataFrame([(big,), (None,), (-big,)], "v long")
    out = str(tmp_path / "big")
    files = write_tfrecords(df.coalesce(1), out)
    payloads = [p for f in files for p in read_tfrecords(f)]
    assert sorted(_decode_example(p).get("v", [None])[0] or 0
                  for p in payloads) == [-big, 0, big]
    back = read_tfrecord_df(spark, out, {"v": "int64"}).collect()
    assert sorted(r.v for r in back if r.v is not None) == [-big, big]
    # the reader on its own: reference-encoded records, one lacking the
    # feature, still read back as exact int64 next to the null
    src = tmp_path / "ref"
    src.mkdir()
    (src / "part.tfrecord").write_bytes(
        frame_record(_example({"v": ("int64", _int64_list([big]))}))
        + frame_record(_example({})))
    back = read_tfrecord_df(spark, str(src), {"v": "int64"}).collect()
    assert sorted(back, key=lambda r: r.v is None)[0].v == big


_PANDAS_FREE_SCRIPT = r"""
import sys

sys.path.insert(0, sys.argv[1])
from dataflowtemplates_spark.operators.avro_io import write_avro
from dataflowtemplates_spark.operators.tfrecord import (
    read_tfrecord_df, write_tfrecords)
from dataflowtemplates_spark.session import build_session

spark = build_session("pandas-free", master="local[1]", shuffle_partitions=1)
df = spark.sql(
    "SELECT id, CAST(id AS STRING) s, id * 1.5 d, CAST(id AS DECIMAL(10,2)) m,"
    " TIMESTAMP'2021-06-01 12:00:00' ts, DATE'2021-06-01' dt,"
    " array(id, id + 1) a, IF(id % 3 = 0, NULL, id) n, id % 2 = 0 b"
    " FROM range(100)")
out = sys.argv[2]
write_tfrecords(df, out + "/tf", split_field="b")
write_avro(df, out + "/avro", split_field="b", codec="snappy")
assert read_tfrecord_df(spark, out + "/tf", {"id": "int64"}).count() == 100


def probe(batches, flag=out + "/probe"):
    import sys
    for _ in batches:
        pass
    with open(flag, "w") as fh:
        fh.write(str("pandas" in sys.modules))
    yield from ()


spark.range(1).coalesce(1).mapInArrow(probe, "id long").collect()
spark.stop()
print("PANDAS-LOADED=" + open(out + "/probe").read())
"""


def test_sinks_keep_python_workers_free_of_pandas(tmp_path):
    """The Avro and TFRecord sinks and the TFRecord source never make
    pyarrow import pandas in the (reused) Python worker: it would cost
    every worker ~40 MB of resident memory."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)}
    proc = subprocess.run(
        [sys.executable, "-c", _PANDAS_FREE_SCRIPT, root, str(tmp_path)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert "PANDAS-LOADED=False" in proc.stdout, \
        proc.stdout[-500:] + proc.stderr[-3000:]
