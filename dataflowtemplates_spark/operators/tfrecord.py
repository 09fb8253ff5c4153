"""TFRecord sink: TF Example encoding + TFRecord container files
(reference K3/C12: templates/BigQueryToTFRecord.java:81-105,
util/converter/RecordToTFRecordConverter.java).

No TensorFlow/protobuf libraries exist in this environment, so both
public wire formats are implemented directly (they are tiny):

* **Example proto** (tensorflow/core/example/example.proto — public):
  Example{ features: Features{ feature: map<string, Feature> } } where
  Feature is oneof {BytesList, FloatList, Int64List}. Protobuf wire
  encoding is varint tags + length-delimited submessages.
* **TFRecord framing** (tensorflow record_writer.cc — public):
  [len:uint64le][masked_crc32c(len)][payload][masked_crc32c(payload)],
  optionally gzipped whole-file (the reference writes GZIP,
  BigQueryToTFRecord.java:104).

Reference type lowering reproduced (RecordToTFRecordConverter.java):
* string/enum -> bytes list; bytes/fixed -> bytes list
* int/long -> int64 list; **bool -> int64 0/1** (`:89-90,144-149`)
* float/double -> float list; **decimal -> float** (`:75-79`)
* nested records flattened depth-first with `_` separators
  (`:155-176` — functions/convert.py:flatten_for_tfrecord)
* MAP and NULL fields skipped (`:167-169`)
* arrays become multi-element lists. (The reference's array branch
  passes the parent record instead of the array value — a latent bug,
  `:165`; the evident intent, elements of the array, is implemented
  here. Divergence documented per SURVEY §7.3.)

Execution shape: the sink is the record file writer of the one sink
stage (sources/writers.write_sink). Each task encodes Examples
straight from its Arrow record batches (one column conversion per
batch, exact 64-bit ints), frames them with a batched numpy CRC32C,
and streams its own .tfrecord(.gz) file(s) through the executor file
seam (fsio.task_files) — no pandas, no driver collect of data. The
module-level protobuf helpers (``_example`` and friends) are the
byte-level reference the kernel is tested against.
"""

from __future__ import annotations

import gzip
import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from dataflowtemplates_spark.operators import fsio
from dataflowtemplates_spark.operators.arrowkernels import arrow_kernels
from dataflowtemplates_spark.operators.objstore_plane import scan_files
from dataflowtemplates_spark.sources.writers import write_sink

# ---------------------------------------------------------------------------
# Minimal protobuf writers (wire format is public and stable)
# ---------------------------------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field_no: int, wire_type: int) -> bytes:
    return _varint((field_no << 3) | wire_type)


def _len_delimited(field_no: int, payload: bytes) -> bytes:
    return _tag(field_no, 2) + _varint(len(payload)) + payload


def _bytes_list(values: list[bytes]) -> bytes:
    # BytesList{ repeated bytes value = 1; }
    return b"".join(_len_delimited(1, v) for v in values)


def _float_list(values: list[float]) -> bytes:
    # FloatList{ repeated float value = 1 [packed=true]; }
    packed = struct.pack(f"<{len(values)}f", *values)
    return _len_delimited(1, packed)


def _int64_list(values: list[int]) -> bytes:
    # Int64List{ repeated int64 value = 1 [packed=true]; }
    packed = b"".join(_varint(v & 0xFFFFFFFFFFFFFFFF) for v in values)
    return _len_delimited(1, packed)


_KIND_FIELD_NO = {"bytes": 1, "float": 2, "int64": 3}  # Feature oneof


def _feature(kind: str, body: bytes) -> bytes:
    return _len_delimited(_KIND_FIELD_NO[kind], body)


def _example(features: dict[str, tuple[str, bytes]]) -> bytes:
    # Features{ map<string, Feature> feature = 1; } — a proto map entry is
    # a nested message {key=1, value=2}; Example{ Features features = 1; }
    entries = b"".join(
        _len_delimited(1, _len_delimited(1, name.encode()) +
                       _len_delimited(2, _feature(kind, body)))
        for name, (kind, body) in sorted(features.items()))
    return _len_delimited(1, entries)


# ---------------------------------------------------------------------------
# TFRecord framing
# ---------------------------------------------------------------------------

_CRC_MASK = 0xA282EAD8

#: below this many records still being hashed, the batched CRC32C
#: kernel finishes the remaining (longest) records one byte at a time
#: in Python: a numpy step costs a few microseconds whatever its width
_CRC_MIN_LANES = 64


def _crc32c_factory():
    """Returns ``masked_crcs(records) -> numpy uint32 array``: the
    masked CRC32C (Castagnoli, TFRecord's ``masked_crc32c``) of every
    record in one call.

    Records are hashed side by side, one byte position per numpy step
    across all records still longer than that position (records sorted
    longest first, so the live ones are always a prefix). When fewer
    than ``_CRC_MIN_LANES`` remain, the tail finishes in a scalar
    Python loop. Self-contained like the encoder factories: the closure
    pickles by value and needs only numpy on the executor.
    """
    import numpy as np

    poly = 0x82F63B78  # Castagnoli, reflected
    table = np.arange(256, dtype=np.uint32)
    for _ in range(8):
        table = np.where(table & 1, (table >> 1) ^ np.uint32(poly),
                         table >> 1).astype(np.uint32)
    py_table = table.tolist()
    mask = np.uint32(_CRC_MASK)
    min_lanes = _CRC_MIN_LANES

    def masked_crcs(records):
        n = len(records)
        lens = np.fromiter(map(len, records), np.int64, n)
        blob = b"".join(records)
        buf = np.frombuffer(blob, np.uint8)
        starts = np.zeros(n, np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        order = np.argsort(-lens, kind="stable")
        neg_lens = -lens[order]  # ascending
        starts = starts[order]
        crc = np.full(n, 0xFFFFFFFF, np.uint32)
        j = 0
        while True:
            # records longer than j: a prefix of the longest-first order
            live = int(np.searchsorted(neg_lens, -j, side="left"))
            if live < min_lanes:
                break
            c = crc[:live]
            crc[:live] = table[(c ^ buf[starts[:live] + j]) & 0xFF] ^ (c >> 8)
            j += 1
        for r in range(live):
            c = int(crc[r])
            for b in blob[starts[r] + j:starts[r] - neg_lens[r]]:
                c = py_table[(c ^ b) & 0xFF] ^ (c >> 8)
            crc[r] = c
        crc ^= np.uint32(0xFFFFFFFF)
        out = np.empty(n, np.uint32)
        out[order] = ((crc >> 15) | (crc << 17)) + mask
        return out

    return masked_crcs


_masked_crcs = _crc32c_factory()


def _masked_crc(data: bytes) -> int:
    return int(_masked_crcs([data])[0])


def _framer_factory():
    """Returns ``frame_all(payloads) -> list[bytes]``: every payload
    framed as a TFRecord, with all header and payload CRCs of the call
    computed in one batched CRC32C pass. Self-contained."""
    masked_crcs = _crc32c_factory()

    def frame_all(payloads):
        import numpy as np

        n = len(payloads)
        if not n:
            return []
        lens = np.fromiter(map(len, payloads), np.uint64, n)
        hdr = lens.astype("<u8").tobytes()
        headers = [hdr[i:i + 8] for i in range(0, 8 * n, 8)]
        crcs = masked_crcs(headers + list(payloads)).astype("<u4").tobytes()
        hcrc = [crcs[i:i + 4] for i in range(0, 4 * n, 4)]
        pcrc = [crcs[i:i + 4] for i in range(4 * n, 8 * n, 4)]
        return [h + hc + p + pc
                for h, hc, p, pc in zip(headers, hcrc, payloads, pcrc)]

    return frame_all


def frame_record(payload: bytes) -> bytes:
    header = struct.pack("<Q", len(payload))
    return (header + struct.pack("<I", _masked_crc(header))
            + payload + struct.pack("<I", _masked_crc(payload)))


def read_tfrecords(path: str) -> list[bytes]:
    """Parse a .tfrecord(.gz) file back to payload list (test helper)."""
    opener = gzip.open if path.endswith(".gz") else open
    out = []
    with opener(path, "rb") as fh:
        while True:
            header = fh.read(8)
            if not header:
                return out
            (length,) = struct.unpack("<Q", header)
            (hcrc,) = struct.unpack("<I", fh.read(4))
            assert hcrc == _masked_crc(header), "header crc mismatch"
            payload = fh.read(length)
            (pcrc,) = struct.unpack("<I", fh.read(4))
            assert pcrc == _masked_crc(payload), "payload crc mismatch"
            out.append(payload)


# ---------------------------------------------------------------------------
# Column lowering + the Example kernel
# ---------------------------------------------------------------------------


def _lowering(dt: T.DataType) -> tuple[str, str]:
    """-> (feature kind, value conversion the kernel applies)."""
    if isinstance(dt, T.StringType | T.BinaryType):
        return "bytes", "bytes"
    if isinstance(dt, T.BooleanType):
        return "int64", "bool"  # reference :89-90
    if isinstance(dt, T.LongType | T.IntegerType | T.ShortType | T.ByteType):
        return "int64", "int"
    if isinstance(dt, T.FloatType | T.DoubleType):
        return "float", "float"
    if isinstance(dt, T.DecimalType):
        return "float", "decimal"  # reference :75-79
    if isinstance(dt, T.DateType):
        return "bytes", "date"
    if isinstance(dt, T.TimestampType | T.TimestampNTZType):
        return "int64", "ts"
    raise ValueError(f"no TFRecord lowering for {dt}")


def _feature_source(df: DataFrame, passthrough: tuple[str, ...] = ()):
    """-> (the ``passthrough`` columns then the flattened feature
    columns, as expressions over ``df``; the Example kernel for Arrow
    batches of those columns)."""
    from pyspark.sql import functions as F

    from dataflowtemplates_spark.functions.convert import flatten_columns

    columns = [*[F.col(c) for c in passthrough],
               *flatten_columns(df, skip=passthrough)]
    plans = []
    for f in df.select(*columns).schema.fields[len(passthrough):]:
        is_arr = isinstance(f.dataType, T.ArrayType)
        kind, conv = _lowering(f.dataType.elementType if is_arr
                               else f.dataType)
        plans.append((f.name, kind, conv, is_arr))
    return columns, _example_kernel_factory()(plans, len(passthrough))


def _example_kernel_factory():
    """Returns ``build(plans, first) -> encode(batch) -> list[bytes]``:
    the serialized Example of every row of an Arrow record batch whose
    feature columns start at index ``first``.

    Byte-identical to the module-level reference ``_example`` over the
    same values: features in name order; null features skipped, and
    NaN float features too; null (and NaN) array elements dropped;
    bool -> int64 0/1, decimal -> float32, date -> ISO bytes, timestamp
    -> whole epoch seconds truncated toward zero. Each column converts
    once per batch from Arrow (ints stay exact 64-bit values whatever
    the nulls around them; varints and float32s are computed for the
    whole column in numpy, without loading pandas — see
    operators/arrowkernels.py); per value, only a cached
    length-dependent prefix is prepended. Self-contained: the closures
    pickle by value.
    """
    k = arrow_kernels()

    def build(plans, first):
        import numpy as np
        import pyarrow as pa

        def varint(n):
            out = bytearray()
            while True:
                b = n & 0x7F
                n >>= 7
                if n:
                    out.append(b | 0x80)
                else:
                    out.append(b)
                    return bytes(out)

        def ld(field_no, payload):
            return varint((field_no << 3) | 2) + varint(len(payload)) + payload

        class Prefixes(dict):
            """Length of what follows -> the bytes before it (all
            protobuf framing around a value depends only on lengths)."""

            def __init__(self, wrap):
                super().__init__()
                self.wrap = wrap

            def __missing__(self, n):
                pre = self[n] = self.wrap(bytes(n))[:-n or None]
                return pre

        def elements(arr, conv):
            """Arrow array -> per-slot wire value (packed varint, float32
            or raw bytes), None where the slot is skipped (null, or NaN
            for floats)."""
            if conv == "bytes":
                return k.binary(arr).to_pylist()
            if conv == "date":
                return [None if d is None else d.isoformat().encode()
                        for d in arr.to_pylist()]
            if conv in ("float", "decimal"):
                if conv == "decimal":
                    f64 = np.array([np.nan if d is None else float(d)
                                    for d in arr.to_pylist()], np.float64)
                else:
                    f64 = k.numbers(arr.cast(pa.float64())).copy()
                    f64[~np.array(arr.is_valid().to_pylist(), bool)] = np.nan
                f32 = f64.astype(np.float32)
                if np.any(np.isinf(f32) & np.isfinite(f64)):
                    raise OverflowError(
                        "float too large to pack with f format")
                raw = f32.astype("<f4").tobytes()
                keep = (~np.isnan(f64)).tolist()
                return [raw[4 * i:4 * i + 4] if k else None
                        for i, k in enumerate(keep)]
            if conv == "ts":
                if arr.type.unit != "us":
                    arr = arr.cast(pa.timestamp("us", arr.type.tz))
                us = k.numbers(arr)
                ints = np.abs(us) // 1000000 * np.where(us < 0, -1, 1)
            else:  # int, bool
                ints = k.numbers(arr.cast(pa.int64()))
            return [v if ok else None for v, ok in zip(
                k.varints(ints.view(np.uint64)), arr.is_valid().to_pylist())]

        kind_no = {"bytes": 1, "float": 2, "int64": 3}
        # one plan per feature name, in name order (the last column of
        # a duplicated name wins, as in a dict of features)
        by_name = {}
        for col, (name, kind, conv, is_arr) in enumerate(plans):
            by_name[name] = (first + col, kind, conv, is_arr)
        features = []
        for name, (col, kind, conv, is_arr) in sorted(by_name.items()):
            key = ld(1, name.encode())
            feature_no = kind_no[kind]

            def entry(body, key=key, feature_no=feature_no):
                return ld(1, key + ld(2, ld(feature_no, body)))
            # scalar entry = prefix + wire value (body is ld(1, value))
            scalar = Prefixes(lambda x, entry=entry: entry(ld(1, x)))
            features.append((col, kind, conv, is_arr, Prefixes(entry),
                             scalar))

        def entries(arr, kind, conv, is_arr, prefix, scalar):
            if not is_arr:
                return [b"" if x is None else scalar[len(x)] + x
                        for x in elements(arr, conv)]
            offsets = k.numbers(arr.offsets)
            base = int(offsets[0])
            flat = elements(arr.values.slice(base, int(offsets[-1]) - base),
                            conv)
            starts = (offsets - base).tolist()
            out = []
            for ok, s, e in zip(arr.is_valid().to_pylist(), starts,
                                starts[1:]):
                if not ok:
                    out.append(b"")
                    continue
                vals = [x for x in flat[s:e] if x is not None]
                body = (b"".join(ld(1, x) for x in vals) if kind == "bytes"
                        else ld(1, b"".join(vals)))
                out.append(prefix[len(body)] + body)
            return out

        def encode(batch):
            cols = [entries(batch.column(col), *rest)
                    for col, *rest in features]
            if not cols:
                return [ld(1, b"")] * batch.num_rows
            return [ld(1, row) for row in map(b"".join, zip(*cols))]

        return encode

    return build


def encode_examples(df: DataFrame,
                    passthrough: tuple[str, ...] = ()) -> DataFrame:
    """DataFrame -> one `example` binary column of serialized TF Examples
    (+ any ``passthrough`` columns carried alongside, e.g. a split key).

    Nested structs are flattened `a_b`-style first; encoding runs in one
    ``mapInArrow`` stage over the same Arrow kernel ``write_tfrecords``
    uses, so the per-row Python cost is amortized per batch and fully
    distributed.
    """
    columns, encode = _feature_source(df, passthrough)
    source = df.select(*columns)
    n_pass = len(passthrough)
    k = arrow_kernels()

    def encode_batches(batches):
        import pyarrow as pa

        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [*batch.columns[:n_pass],
                 k.array(encode(batch), pa.binary())],
                names=[*passthrough, "example"])

    # passthrough columns keep their REAL types (a hardcoded `string`
    # would mistype any non-string passthrough at the Arrow boundary)
    out_schema = T.StructType(
        [*source.schema.fields[:n_pass],
         T.StructField("example", T.BinaryType())])
    return source.mapInArrow(encode_batches, out_schema)


def write_tfrecords(df: DataFrame, path: str, split_field: str | None = None,
                    prefix: str = "output", compress: bool = True) -> list[str]:
    """K3: write serialized Examples as .tfrecord(.gz) files through the
    one sink stage (sources/writers.write_sink): one
    ``{prefix}-{partition:05d}.tfrecord(.gz)`` per partition and split
    key, under ``path/<key>/`` (a null key writes at the root, like the
    reference's empty-prefix naming). Each task turns its Arrow batches
    into Examples and frames them with one batched CRC32C pass per
    batch; the file is gzipped whole when ``compress``. Returns the
    written paths.
    """
    columns, encode = _feature_source(df)
    suffix = ".tfrecord.gz" if compress else ".tfrecord"
    return write_sink(df, path, _record_writer(encode, compress), suffix,
                      "tfrecord", split_field=split_field, columns=columns,
                      prefix=prefix).files


def _record_writer(encode, compress: bool):
    """File writer for write_sink: framed Examples, gzipped whole when
    ``compress``. Self-contained."""
    frame_all = _framer_factory()

    def start(out, schema):
        import gzip as _gzip

        # the .gz framing (gzip around the record stream) is ours: the
        # sink opens the stream with no compression of its own
        fh = _gzip.GzipFile(fileobj=out, mode="wb") if compress else out

        def write(batch):
            fh.write(b"".join(frame_all(encode(batch))))

        def close():
            if fh is not out:
                fh.close()

        return write, close

    return start


# ---------------------------------------------------------------------------
# TFRecord SOURCE (round-trips the K3 sink; no reference analogue — the
# reference only writes TFRecord, BigQueryToTFRecord.java:81-105, but an
# engine claiming the format should read its own output back)
# ---------------------------------------------------------------------------

#: feature-spec kinds -> Spark element types for read_tfrecord_df.
_READ_KINDS = {
    "int64": T.LongType(),
    "float": T.FloatType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


def read_tfrecord_df(spark, path: str,
                     features: dict[str, str],
                     list_fields: tuple[str, ...] = ()) -> DataFrame:
    """Distributed TFRecord source: .tfrecord / .tfrecord.gz files ->
    typed DataFrame.

    ``features`` maps feature name -> kind ('int64' | 'float' |
    'bytes' | 'string'); names in ``list_fields`` surface as arrays,
    everything else as the first (usually only) list element, NULL if
    the Example lacks the feature. Like every real TFRecord reader
    (TF's own parse_example included) a feature spec is required —
    Examples carry no schema.

    Value lists decode in BOTH protobuf encodings — packed (one
    length-delimited chunk, what the K3 writer emits) and unpacked
    (one wire-type-0/5 field per value, common in externally produced
    files); malformed wire types raise with the offending field rather
    than silently dropping values.

    Scale shape: the ``*.tfrecord*`` files under ``path`` (hidden names
    skipped) are listed through fsio and parsed in one ``mapInArrow``
    stage (objstore_plane.scan_files), one task per file, each read
    through the executor file seam (fsio.task_files). Every record's
    CRC32C is verified in one batched pass per file, and each file's
    rows are built as an Arrow batch against the declared schema
    (int64 values stay exact; no pandas). TFRecord shards are
    single-file atomic, so parallelism = file count (the K3 writer
    emits one file per partition, preserving it round-trip).
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    fields = [
        T.StructField(
            name,
            T.ArrayType(_READ_KINDS[kind]) if name in set(list_fields)
            else _READ_KINDS[kind])
        for name, kind in features.items()
    ]
    out_schema = T.StructType(fields)
    arrow_schema = to_arrow_schema(out_schema)
    spec = dict(features)
    lsts = set(list_fields)
    masked_crcs = _crc32c_factory()
    k = arrow_kernels()
    files = fsio.task_files(path)

    # Self-contained on executors (same stance as the write kernels).
    def parse_file(fpath):
        import gzip as _gz
        import struct as _st

        import numpy as np
        import pyarrow as pa

        def frames(raw, fpath):
            # Walk the length headers first, then check every CRC of
            # the file in one batched pass. The error raised is the
            # one a record-by-record reader meets first: by record,
            # and within a record header CRC, then truncation, then
            # payload CRC (the header CRC covers the length bytes, so
            # a corrupt length reports as a header mismatch, while the
            # bounds checks tell TRUNCATION — killed writer, partial
            # upload — from corruption, with file + offset).
            offs, lens, i, n = [], [], 0, len(raw)
            truncated = None
            while i < n:
                if n - i < 12:
                    truncated = (len(offs), 1, "truncated TFRecord "
                                 f"header at offset {i} of {fpath}")
                    break
                (ln,) = _st.unpack_from("<Q", raw, i)
                offs.append(i)
                if n - i - 12 < ln + 4:
                    truncated = (len(offs) - 1, 1, "truncated TFRecord "
                                 f"payload (need {ln} bytes) at offset "
                                 f"{i} of {fpath}")
                    break
                lens.append(ln)
                i += 16 + ln
            payloads = [raw[o + 12:o + 12 + ln] for o, ln in zip(offs, lens)]
            got = masked_crcs([raw[o:o + 8] for o in offs] + payloads)
            want = np.array(
                [_st.unpack_from("<I", raw, o + 8)[0] for o in offs]
                + [_st.unpack_from("<I", raw, o + 12 + ln)[0]
                   for o, ln in zip(offs, lens)], np.uint32)
            bad = np.flatnonzero(got != want)
            errors = [truncated] if truncated else []
            heads = bad[bad < len(offs)]
            if heads.size:
                k = int(heads[0])
                errors.append((k, 0, "TFRecord header CRC mismatch at "
                               f"offset {offs[k]} of {fpath}"))
            pays = bad[bad >= len(offs)] - len(offs)
            if pays.size:
                k = int(pays[0])
                errors.append((k, 2, "TFRecord payload CRC mismatch at "
                               f"offset {offs[k]} of {fpath}"))
            if errors:
                raise ValueError(min(errors)[2])
            return payloads

        def varint(b, i):
            n = shift = 0
            while True:
                n |= (b[i] & 0x7F) << shift
                shift += 7
                i += 1
                if not b[i - 1] & 0x80:
                    return n, i

        def submessages(b):
            i = 0
            while i < len(b):
                tag, i = varint(b, i)
                fno, wt = tag >> 3, tag & 7
                if wt != 2:  # skip non-length-delimited (none are written)
                    if wt == 0:
                        _, i = varint(b, i)
                        continue
                    raise ValueError(f"unexpected wire type {wt}")
                ln, i = varint(b, i)
                yield fno, b[i:i + ln]
                i += ln

        def list_values(body, kind):
            # One of BytesList/FloatList/Int64List (kind 1/2/3): field 1
            # repeated. Handles BOTH packed (one wt=2 chunk) and
            # unpacked (one wt=0/5 field per value) encodings — both
            # are valid protobuf for repeated scalars, and externally
            # produced TFRecords use either. Anything else is malformed
            # and raises; silent value drops are worse than an error.
            vals, i = [], 0
            while i < len(body):
                tag, i = varint(body, i)
                fno, wt = tag >> 3, tag & 7
                if fno != 1:
                    raise ValueError(
                        f"unexpected field {fno} in value-list message")
                if kind == 1:  # bytes: always length-delimited
                    if wt != 2:
                        raise ValueError(
                            f"unexpected wire type {wt} for bytes list")
                    ln, i = varint(body, i)
                    vals.append(bytes(body[i:i + ln]))
                    i += ln
                elif kind == 2:  # float
                    if wt == 2:  # packed chunk
                        ln, i = varint(body, i)
                        vals.extend(_st.unpack(
                            f"<{ln // 4}f", body[i:i + ln]))
                        i += ln
                    elif wt == 5:  # unpacked single value
                        vals.append(_st.unpack_from("<f", body, i)[0])
                        i += 4
                    else:
                        raise ValueError(
                            f"unexpected wire type {wt} for float list")
                else:  # int64
                    if wt == 2:  # packed varint chunk
                        ln, i = varint(body, i)
                        chunk, j = body[i:i + ln], 0
                        while j < len(chunk):
                            v, j = varint(chunk, j)
                            if v >= 1 << 63:
                                v -= 1 << 64
                            vals.append(v)
                        i += ln
                    elif wt == 0:  # unpacked single varint
                        v, i = varint(body, i)
                        if v >= 1 << 63:
                            v -= 1 << 64
                        vals.append(v)
                    else:
                        raise ValueError(
                            f"unexpected wire type {wt} for int64 list")
            return vals

        def decode(buf):
            out = {}
            for fno, featmsg in submessages(buf):
                if fno != 1:
                    continue
                for eno, entry in submessages(featmsg):
                    if eno != 1:
                        continue
                    name, vals = None, None
                    for k, val in submessages(entry):
                        if k == 1:
                            name = val.decode()
                        else:
                            for kno, body in submessages(val):
                                if kno in (1, 2, 3):
                                    vals = list_values(body, kno)
                    if name is not None:
                        out[name] = vals
            return out

        content = files.read_bytes(fpath)
        if fpath.endswith(".gz"):
            content = _gz.decompress(content)
        cols = {name: [] for name in spec}
        for payload in frames(content, fpath):
            ex = decode(payload)
            for name, kind in spec.items():
                vals = ex.get(name)
                if vals is not None and kind == "string":
                    vals = [v.decode("utf-8", errors="replace")
                            if isinstance(v, bytes) else v
                            for v in vals]
                if name in lsts:
                    cols[name].append(vals)
                else:
                    cols[name].append(vals[0] if vals else None)
        yield pa.RecordBatch.from_arrays(
            [k.array(cols[f.name], f.type) for f in arrow_schema],
            schema=arrow_schema)

    listed = [f for f in fsio.list_files(path)
              if ".tfrecord" in f.rsplit("/", 1)[-1]]
    return scan_files(spark, [(f, None) for f in listed], out_schema,
                      parse_file)
