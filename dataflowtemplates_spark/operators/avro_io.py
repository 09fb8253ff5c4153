"""Avro Object Container File writer/reader without the spark-avro
jar (S5 / K2).

The reference's Avro surface is first-class
(transforms/sinks/AvroDynamicSink.java:33-49 — snappy container files;
templates/AvroToSpanner.java:75-77 — container read). This sandbox has
neither the spark-avro datasource jar nor a Python avro package, so
the container format (public Avro 1.11 spec) is implemented directly —
the same pattern as the TFRecord writer (operators/tfrecord.py), which
proves byte-level round-trips in tests.

Format notes:
* OCF layout: magic ``Obj\\x01`` · file-metadata map (``avro.schema``
  JSON + ``avro.codec``) · 16-byte sync marker · data blocks
  (row-count, byte-size, payload, sync).
* Codecs: ``null``, ``deflate`` (raw RFC-1951 via zlib — a REQUIRED
  spec codec), and ``snappy`` (the reference's pinned codec,
  AvroDynamicSink.java:37): raw-Snappy blocks plus the Avro-spec
  4-byte big-endian CRC32 of the uncompressed data per block. Blocks
  are compressed by Arrow's native snappy codec; the reader
  decompresses them with a pure-Python raw-Snappy decoder
  (``_snappy_decompressor``) written from the public format
  description. Files written this way are readable by any stock Avro
  reader (the tests read them with Avro's Java implementation).
* Schemas come from functions/avroschema.py (C13): every field a
  nullable union, decimal bytes, date as logical int days, timestamp
  as logical timestamp-millis. The writer encodes timestamps from the
  UTC instants Spark holds and the reader returns naive UTC datetimes,
  so values round-trip exactly whatever the session or process
  timezone.

Scale stance: the writer is the container file writer of the one sink
stage (sources/writers.write_sink) — each task encodes its Arrow
record batches column by column and streams one container file per
partition and split key (like the reference's dynamic destinations);
only file paths and row counts return to the driver. Reads decode
one container file per task through the same executor file seam.

Executor self-containment: the encoder/decoder are built by factory
functions and captured as CLOSURES (pickled by value), never as module
attributes — same contract as operators/tfrecord.py's kernels.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from dataflowtemplates_spark.operators import fsio
from dataflowtemplates_spark.operators.objstore_plane import scan_files
from dataflowtemplates_spark.operators.arrowkernels import arrow_kernels
from dataflowtemplates_spark.functions.avroschema import (
    avro_schema_from_spark,
    spark_schema_from_avro,
)
from dataflowtemplates_spark.sources.writers import WriteResult, write_sink

__all__ = ["write_avro", "read_avro_rows", "read_avro", "MAGIC"]

MAGIC = b"Obj\x01"


def _encoder_factory():
    """Returns ``build(schema_dict) -> (encode_batch, zigzag)``, where
    ``encode_batch(batch)`` is the Avro binary encoding of every row of
    an Arrow record batch (extra columns such as a split key are
    ignored). Self-contained: the closures pickle by value.

    Encoding is columnar: each field converts its whole Arrow column
    once (timestamps and dates through their integer storage, so values
    are the UTC instants Spark holds, never shifted by a local
    timezone), then rows are assembled by joining their fields' bytes.
    Nested arrays, maps and records recurse on the child arrays. Null
    slots encode as anything: the enclosing union drops them. No pandas
    is loaded (operators/arrowkernels.py).
    """

    k = arrow_kernels()

    def build(schema):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def zigzag(n):
            n = (n << 1) ^ (n >> 63)
            out = bytearray()
            while True:
                b = n & 0x7F
                n >>= 7
                if n:
                    out.append(b | 0x80)
                else:
                    out.append(b)
                    return bytes(out)

        def zigzags(v):
            """zigzag longs of an int64 numpy array, in one pass."""
            return k.varints(((v << 1) ^ (v >> 63)).view(np.uint64))

        def ints(arr):
            return zigzags(k.numbers(arr.cast(pa.int64())))

        def enc_blobs(arr):
            arr = k.binary(arr)
            return [b"" if v is None else n + v for n, v in
                    zip(ints(pc.binary_length(arr)), arr.to_pylist())]

        def fixed_width(arr, fmt):
            raw = k.numbers(arr.cast(pa.float64())).astype(fmt).tobytes()
            w = int(fmt[-1])
            return [raw[i:i + w] for i in range(0, len(raw), w)]

        def non_null(arr, what):
            if arr.null_count:
                raise ValueError(f"Avro {what} are not nullable; found "
                                 f"{arr.null_count} null(s)")

        def blocks(offsets, items):
            """Avro array/map blocks: one count-prefixed block per slot
            (``items`` holds the encoded children of all slots)."""
            offs = (offsets - offsets[0]).tolist()
            return [zigzag(e - s) + b"".join(items[s:e]) + b"\x00"
                    if e > s else b"\x00"
                    for s, e in zip(offs, offs[1:])]

        def make(t):
            if isinstance(t, list):  # union — avroschema emits [null, T]
                null_at = t.index("null")
                other = [x for x in t if x != "null"]
                assert len(other) == 1, f"unsupported union {t}"
                inner = make(other[0])
                pre_null, pre_val = zigzag(null_at), zigzag(1 - null_at)

                def enc_union(arr):
                    vals = inner(arr)
                    if not arr.null_count:
                        return [pre_val + v for v in vals]
                    return [pre_val + v if ok else pre_null
                            for v, ok in zip(vals, arr.is_valid().to_pylist())]
                return enc_union
            if isinstance(t, dict):
                logical = t.get("logicalType")
                base = t["type"]
                if logical == "date":
                    return lambda arr: ints(arr.cast(pa.int32()))
                if logical in ("timestamp-millis", "timestamp-micros"):
                    per_unit = 1000 if logical == "timestamp-millis" else 1

                    def enc_ts(arr):
                        # the UTC instant Spark holds, floored to the unit
                        if arr.type.unit != "us":
                            arr = arr.cast(pa.timestamp("us", arr.type.tz))
                        return zigzags(k.numbers(arr) // per_unit)
                    return enc_ts
                if logical == "decimal":
                    scale = t.get("scale", 0)

                    def enc_dec(arr):
                        out = []
                        for v in arr.to_pylist():
                            if v is None:
                                out.append(b"")
                                continue
                            unscaled = int(v.scaleb(scale))
                            nbytes = max(1, (unscaled.bit_length() + 8) // 8)
                            b = unscaled.to_bytes(nbytes, "big", signed=True)
                            out.append(zigzag(nbytes) + b)
                        return out
                    return enc_dec
                if base == "array":
                    item = make(t["items"])
                    nullable = isinstance(t["items"], list)

                    def enc_arr(arr):
                        offsets = k.numbers(arr.offsets)
                        vals = arr.values.slice(
                            int(offsets[0]), int(offsets[-1] - offsets[0]))
                        if not nullable:
                            non_null(vals, "array items")
                        return blocks(offsets, item(vals))
                    return enc_arr
                if base == "map":
                    val = make(t["values"])
                    nullable = isinstance(t["values"], list)

                    def enc_map(arr):
                        offsets = k.numbers(arr.offsets)
                        entries = arr.values.slice(
                            int(offsets[0]), int(offsets[-1] - offsets[0]))
                        keys = enc_blobs(entries.field(0).cast(pa.string()))
                        vals = entries.field(1)
                        if not nullable:
                            non_null(vals, "map values")
                        vals = val(vals)
                        return blocks(offsets,
                                      [k + v for k, v in zip(keys, vals)])
                    return enc_map
                if base == "record":
                    fields = [(f["name"], make(f["type"]))
                              for f in t["fields"]]

                    def enc_rec(arr):
                        child = (arr.column if isinstance(arr, pa.RecordBatch)
                                 else arr.field)
                        cols = [enc(child(name)) for name, enc in fields]
                        if not cols:
                            return [b""] * len(arr)
                        return [b"".join(r) for r in zip(*cols)]
                    return enc_rec
                return make(base)  # {"type": "string", "sqlType": ...}
            if t == "boolean":
                return lambda arr: [b"\x01" if v else b"\x00"
                                    for v in arr.to_pylist()]
            if t in ("int", "long"):
                return ints
            if t == "float":
                return lambda arr: fixed_width(arr, "<f4")
            if t == "double":
                return lambda arr: fixed_width(arr, "<f8")
            if t in ("string", "bytes"):
                return enc_blobs
            raise ValueError(f"no encoder for Avro type {t!r}")

        return make(schema), zigzag

    return build


def _snappy_decompressor():
    """Returns ``decompress(block)`` for the RAW Snappy block format —
    implemented from the public format description
    (google/snappy format_description.txt), a self-contained closure
    like the decoder factory.

    Avro's snappy codec (spec: Object Container Files / Required
    Codecs) is raw-Snappy per block followed by the 4-byte big-endian
    CRC32 of the UNCOMPRESSED data; the CRC handling lives at the call
    sites. Blocks are WRITTEN with Arrow's native snappy codec
    (``pyarrow.Codec("snappy")``, which emits exactly this raw block
    format); this pure-Python decompressor is the reader, and the
    independent reference the writer's blocks are tested against.
    """

    def decompress(data: bytes) -> bytes:
        pos = 0
        shift = n = 0
        while True:
            b = data[pos]
            pos += 1
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        out = bytearray()
        end = len(data)
        while pos < end:
            tag = data[pos]
            pos += 1
            kind = tag & 0b11
            if kind == 0:  # literal
                ln = tag >> 2
                if ln >= 60:
                    nb = ln - 59
                    ln = int.from_bytes(data[pos:pos + nb], "little")
                    pos += nb
                ln += 1
                out += data[pos:pos + ln]
                pos += ln
            else:
                if kind == 1:
                    ln = ((tag >> 2) & 0b111) + 4
                    off = ((tag >> 5) << 8) | data[pos]
                    pos += 1
                elif kind == 2:
                    ln = (tag >> 2) + 1
                    off = int.from_bytes(data[pos:pos + 2], "little")
                    pos += 2
                else:
                    ln = (tag >> 2) + 1
                    off = int.from_bytes(data[pos:pos + 4], "little")
                    pos += 4
                if off == 0 or off > len(out):
                    raise ValueError("snappy: invalid copy offset")
                start = len(out) - off
                if off >= ln:
                    out += out[start:start + ln]
                else:  # overlapping copy: repeat the pattern
                    while ln > 0:
                        take = min(off, ln)
                        out += out[start:start + take]
                        ln -= take
        if len(out) != n:
            raise ValueError(
                f"snappy: declared {n} bytes, got {len(out)}")
        return bytes(out)

    return decompress


def _decoder_factory():
    """Returns decode(raw_bytes) -> (schema_dict, rows). Timestamps
    decode as naive UTC datetimes. Self-contained (the snappy decoder
    is built here and rides the closure by value)."""

    snappy_decompress = _snappy_decompressor()

    def decode(raw):
        import json as _json
        import struct as _struct
        import zlib as _zlib
        from datetime import date as _date, datetime as _dt, \
            timedelta as _td
        from decimal import Decimal as _Dec

        class Cur:
            __slots__ = ("buf", "pos")

            def __init__(self, buf):
                self.buf, self.pos = buf, 0

            def take(self, n):
                s = self.pos
                self.pos = s + n
                return self.buf[s:s + n]

            def zig(self):
                shift, acc = 0, 0
                while True:
                    b = self.buf[self.pos]
                    self.pos += 1
                    acc |= (b & 0x7F) << shift
                    if not b & 0x80:
                        break
                    shift += 7
                return (acc >> 1) ^ -(acc & 1)

        cur = Cur(raw)
        assert cur.take(4) == b"Obj\x01", "not an Avro container file"
        meta = {}
        while True:
            n = cur.zig()
            if n == 0:
                break
            if n < 0:
                cur.zig()  # block byte size
                n = -n
            for _ in range(n):
                k = cur.take(cur.zig()).decode()
                meta[k] = cur.take(cur.zig())
        schema = _json.loads(meta["avro.schema"])
        codec = meta.get("avro.codec", b"null").decode()
        sync = cur.take(16)

        def make(t):
            if isinstance(t, list):
                branches = [make(x) for x in t]
                return lambda c: branches[c.zig()](c)
            if isinstance(t, dict):
                logical = t.get("logicalType")
                base = t["type"]
                if logical == "date":
                    return lambda c: _date(1970, 1, 1) + _td(days=c.zig())
                if logical in ("timestamp-millis", "timestamp-micros"):
                    unit = 1000 if logical == "timestamp-millis" else 1
                    epoch = _dt(1970, 1, 1)
                    return lambda c: (epoch
                                      + _td(microseconds=c.zig() * unit))
                if logical == "decimal":
                    scale = t.get("scale", 0)

                    def dec(c):
                        b = c.take(c.zig())
                        return _Dec(
                            int.from_bytes(b, "big", signed=True)
                        ).scaleb(-scale)
                    return dec
                if base == "array":
                    item = make(t["items"])

                    def arr(c):
                        out = []
                        while True:
                            n = c.zig()
                            if n == 0:
                                return out
                            if n < 0:
                                c.zig()
                                n = -n
                            out.extend(item(c) for _ in range(n))
                    return arr
                if base == "map":
                    val = make(t["values"])

                    def mp(c):
                        out = {}
                        while True:
                            n = c.zig()
                            if n == 0:
                                return out
                            if n < 0:
                                c.zig()
                                n = -n
                            for _ in range(n):
                                k = c.take(c.zig()).decode()
                                out[k] = val(c)
                    return mp
                if base == "record":
                    fields = [(f["name"], make(f["type"]))
                              for f in t["fields"]]
                    return lambda c: {n: d(c) for n, d in fields}
                return make(base)
            if t == "boolean":
                return lambda c: c.take(1) == b"\x01"
            if t in ("int", "long"):
                return lambda c: c.zig()
            if t == "float":
                return lambda c: _struct.unpack("<f", c.take(4))[0]
            if t == "double":
                return lambda c: _struct.unpack("<d", c.take(8))[0]
            if t == "string":
                return lambda c: c.take(c.zig()).decode()
            if t == "bytes":
                return lambda c: bytes(c.take(c.zig()))
            if t == "null":
                return lambda c: None
            raise ValueError(f"no decoder for Avro type {t!r}")

        dec_row = make(schema)
        rows = []
        while cur.pos < len(raw):
            count = cur.zig()
            size = cur.zig()
            block = cur.take(size)
            if codec == "deflate":
                block = _zlib.decompress(block, -15)
            elif codec == "snappy":
                crc = int.from_bytes(block[-4:], "big")
                block = snappy_decompress(block[:-4])
                if (_zlib.crc32(block) & 0xFFFFFFFF) != crc:
                    raise ValueError("snappy block CRC mismatch")
            bc = Cur(block)
            rows.extend(dec_row(bc) for _ in range(count))
            assert cur.take(16) == sync, "sync marker mismatch"
        return schema, rows

    return decode


def write_avro(df: DataFrame, path: str, split_field: str | None = None,
               codec: str = "deflate", prefix: str = "output",
               rows_per_block: int = 4096) -> WriteResult:
    """Write ``df`` as Avro container files
    ``{prefix}-{partition:05d}.avro``, one per partition and split key
    (per-key subdirectories when ``split_field`` is set, matching the
    reference's dynamic destinations), through the one sink stage
    (sources/writers.write_sink). Returns the written paths plus the
    row count, tallied during the single write pass.

    Each file gets the container header, then blocks of
    ``rows_per_block`` rows encoded column by column from the Arrow
    batches. ``codec="snappy"`` produces real snappy blocks (reference
    parity: AvroDynamicSink.java:37) via Arrow's native snappy codec
    plus the Avro-spec 4-byte big-endian CRC32 of the uncompressed
    block.
    """
    codec_name = (codec or "null").lower()
    if codec_name in ("none", "uncompressed"):
        codec_name = "null"
    if codec_name not in ("null", "deflate", "snappy"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    schema_json = json.dumps(avro_schema_from_spark(df.schema))
    return write_sink(df, path,
                      _container_writer(schema_json, codec_name,
                                        rows_per_block),
                      ".avro", "avro", split_field=split_field, prefix=prefix)


def _container_writer(schema_json: str, codec_name: str,
                      rows_per_block: int):
    """File writer for write_sink: the container header, then the
    encoded rows in blocks of ``rows_per_block``. Self-contained."""
    build_encoder = _encoder_factory()
    magic = MAGIC
    encoder = []  # built once per task, on its first file

    def start(out, schema):
        import json as _json
        import os as _os
        import zlib as _zlib

        import pyarrow as pa

        if codec_name == "deflate":
            def compress(b):
                c = _zlib.compressobj(9, _zlib.DEFLATED, -15)
                return c.compress(b) + c.flush()
        elif codec_name == "snappy":
            snappy = pa.Codec("snappy")

            def compress(b):
                # Avro spec: snappy block + big-endian CRC32 of the
                # UNCOMPRESSED data
                return (snappy.compress(b, asbytes=True)
                        + (_zlib.crc32(b) & 0xFFFFFFFF).to_bytes(4, "big"))
        else:
            def compress(b):
                return b

        if not encoder:
            encoder.append(build_encoder(_json.loads(schema_json)))
        encode, zigzag = encoder[0]
        sj = schema_json.encode()
        cd = codec_name.encode()
        sync = _os.urandom(16)
        out.write(magic + zigzag(2)
                  + zigzag(11) + b"avro.schema" + zigzag(len(sj)) + sj
                  + zigzag(10) + b"avro.codec" + zigzag(len(cd)) + cd
                  + zigzag(0) + sync)
        pending = []

        def flush(count):
            payload = compress(b"".join(pending[:count]))
            out.write(zigzag(count) + zigzag(len(payload)) + payload + sync)
            del pending[:count]

        def write(batch):
            pending.extend(encode(batch))
            while len(pending) >= rows_per_block:
                flush(rows_per_block)

        def close():
            if pending:
                flush(len(pending))

        return write, close

    return start


_decode = _decoder_factory()


def _resolver_factory():
    """Build the Avro schema-resolution adapter (spec §Schema
    Resolution, the subset real pipelines hit): reader/writer fields
    matched by name or reader-declared aliases; writer-only fields
    dropped; reader-only fields filled from their ``default`` (error
    if none); numeric promotions int->long/float/double,
    long->float/double, float->double and string<->bytes; null-unions
    unnested on both sides; records/arrays/maps resolved recursively.

    Returned as a self-contained closure (same executor-pickling
    stance as the encoder/decoder factories): ``build(writer, reader)``
    -> row-adapting callable, constructed per file so directories whose
    files carry DIFFERENT writer schemas (real schema evolution) read
    under one reader schema.
    """
    def unnest(s):
        if isinstance(s, list):
            branches = [b for b in s if b != "null"]
            if len(branches) != 1:
                raise ValueError(f"non-null-union not supported: {s}")
            return branches[0], True
        return s, False

    def type_name(s):
        return s.get("type") if isinstance(s, dict) else s

    _PROMOTE = {("int", "long"), ("int", "float"), ("int", "double"),
                ("long", "float"), ("long", "double"),
                ("float", "double"), ("string", "bytes"),
                ("bytes", "string")}

    def value_adapter(w, r):
        w, _ = unnest(w)
        r, _ = unnest(r)
        wt, rt = type_name(w), type_name(r)
        if wt == "record" and rt == "record":
            inner = build(w, r)
            return lambda v: None if v is None else inner(v)
        if wt == "array" and rt == "array":
            el = value_adapter(w["items"], r["items"])
            return lambda v: None if v is None else [el(x) for x in v]
        if wt == "map" and rt == "map":
            el = value_adapter(w["values"], r["values"])
            return (lambda v: None if v is None
                    else {k: el(x) for k, x in v.items()})
        if wt == rt:
            return lambda v: v
        if (wt, rt) in _PROMOTE:
            if rt in ("float", "double"):
                return lambda v: None if v is None else float(v)
            if rt == "long":
                return lambda v: None if v is None else int(v)
            if rt == "bytes":
                return (lambda v: None if v is None
                        else v.encode() if isinstance(v, str) else v)
            return (lambda v: None if v is None
                    else v.decode() if isinstance(v, (bytes, bytearray))
                    else v)
        raise ValueError(
            f"cannot resolve writer type {wt!r} to reader type {rt!r}")

    _MISSING = object()

    def build(writer: dict, reader: dict):
        wfields = {f["name"]: f for f in writer.get("fields", [])}
        plan = []
        for rf in reader.get("fields", []):
            names = [rf["name"], *rf.get("aliases", [])]
            wf = next((wfields[n] for n in names if n in wfields), None)
            if wf is not None:
                plan.append((rf["name"], wf["name"],
                             value_adapter(wf["type"], rf["type"]),
                             _MISSING))
            elif "default" in rf:
                plan.append((rf["name"], None, None, rf["default"]))
            else:
                raise ValueError(
                    f"reader field {rf['name']!r} absent from writer "
                    "schema and declares no default")

        def adapt(row: dict) -> dict:
            return {rname: (default if wname is None
                            else conv(row.get(wname)))
                    for rname, wname, conv, default in plan}
        return adapt

    return build


_build_resolver = _resolver_factory()


def read_avro_rows(path: str):
    """Driver-side decode of one .avro file -> (schema_dict, rows)."""
    return _decode(fsio.read_bytes(path))


def read_avro(spark: SparkSession, path: str,
              reader_schema: dict | None = None) -> DataFrame:
    """Distributed read (S5): one ``mapInArrow`` stage, one decode task
    per container file (objstore_plane.scan_files). Files are listed
    through fsio and opened through the executor file seam
    (fsio.task_files), so any target the sink writes to reads back.

    With ``reader_schema`` (an Avro record schema dict) each file is
    decoded under ITS OWN embedded writer schema and then resolved to
    the reader schema per the Avro spec (name/alias matching, defaults
    for reader-only fields, numeric/string promotions, writer-only
    fields dropped) — so a directory whose files were written across a
    schema migration reads back as ONE uniform frame. Without it, the
    first file's schema is the frame schema and every file must carry
    it (homogeneous directories, the reference's behavior —
    AvroToSpanner reads the embedded schema only); one that does not
    raises.

    Each file becomes one Arrow batch built from Python objects, which
    makes pyarrow import pandas in a worker that reads Avro (the sinks
    and the TFRecord reader stay pandas-free)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    files = fsio.task_files(path)
    listed = fsio.list_files(path, suffix=".avro")
    if not listed:
        raise FileNotFoundError(f"no .avro files under {path}")
    target_avro = (read_avro_rows(listed[0])[0] if reader_schema is None
                   else reader_schema)
    spark_schema = spark_schema_from_avro(target_avro)
    arrow_schema = to_arrow_schema(spark_schema)
    decode = _decode
    build_resolver = _build_resolver if reader_schema is not None else None

    def load(p):
        import pyarrow as pa

        wschema, rows = decode(files.read_bytes(p))
        if build_resolver is not None:
            adapt = build_resolver(wschema, reader_schema)
            rows = [adapt(r) for r in rows]
        elif wschema != target_avro:
            raise ValueError(f"{p}: writer schema differs from the first "
                             "file's; pass reader_schema to resolve it")
        yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return scan_files(spark, [(f, None) for f in listed], spark_schema, load)
