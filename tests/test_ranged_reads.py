"""Ranged-GET column pruning (operators/rangedparquet.py + the Range
surface on both HTTP backends): a narrow projection through the
object-store data plane must fetch a small fraction of the object's
bytes — the emulators' byte counters make the economics assertable —
while remaining value-identical to the whole-object read."""

import io

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflowtemplates_spark.operators import fsio, rangedparquet
from dataflowtemplates_spark.operators.gcshttp import GcsHttpBackend
from dataflowtemplates_spark.operators.mutations import KeyedTable
from dataflowtemplates_spark.operators.s3http import S3HttpBackend
from dataflowtemplates_spark.testing.gcs_emulator import GcsEmulator
from dataflowtemplates_spark.testing.s3_emulator import S3Emulator

SIGV4_CREDS = ("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY")


@pytest.fixture()
def s3(request):
    emu = S3Emulator().start()
    emu.require_sigv4 = SIGV4_CREDS
    b = S3HttpBackend(emu.endpoint, timeout_s=5.0,
                      credentials=SIGV4_CREDS)
    fsio.register_object_backend("s3rr", b)
    try:
        yield emu, b
    finally:
        fsio.unregister_object_backend("s3rr")
        emu.stop()


@pytest.fixture()
def gcs(request):
    emu = GcsEmulator().start()
    emu.require_bearer = "rr-token"
    b = GcsHttpBackend(emu.endpoint, timeout_s=5.0,
                       bearer_token="rr-token")
    fsio.register_object_backend("gsrr", b)
    try:
        yield emu, b
    finally:
        fsio.unregister_object_backend("gsrr")
        emu.stop()


def _wide_parquet_bytes(n_rows=4000, n_cols=20, row_group_size=1000):
    """A 20-column parquet object with a couple of narrow columns and
    many fat ones, multiple row groups."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {"id": list(range(n_rows)),
            "small": [i % 7 for i in range(n_rows)]}
    for c in range(n_cols - 2):
        # high-entropy strings: fat, incompressible chunks
        cols[f"fat{c:02d}"] = [
            f"{c}:{i}:" + format(hash((c, i)) & (2**64 - 1), "032x") * 4
            for i in range(n_rows)]
    sink = io.BytesIO()
    pq.write_table(pa.table(cols), sink, row_group_size=row_group_size,
                   compression="snappy")
    return sink.getvalue(), cols


@pytest.mark.parametrize("kind", ["s3", "gcs"])
def test_read_tail_and_read_range_primitives(kind, request):
    emu, backend = request.getfixturevalue(kind)
    scheme = "s3rr" if kind == "s3" else "gsrr"
    data = bytes(range(256)) * 40  # 10240 bytes
    path = f"{scheme}://b/rr/obj.bin"
    backend.write_bytes(path, data)
    tail, total = backend.read_tail(path, 100)
    assert tail == data[-100:] and total == len(data)
    # suffix larger than the object: whole body, correct total
    tail, total = backend.read_tail(path, 10 * len(data))
    assert tail == data and total == len(data)
    assert backend.read_range(path, 0, 16) == data[:16]
    assert backend.read_range(path, 777, 5) == data[777:782]
    # end clamped to the object
    assert backend.read_range(path, len(data) - 4, 100) == data[-4:]
    with pytest.raises(FileNotFoundError):
        backend.read_tail(f"{scheme}://b/rr/nope", 10)
    with pytest.raises(OSError):
        backend.read_range(path, len(data) + 5, 10)  # 416
    with pytest.raises(ValueError):
        backend.read_range(path, 0, 0)


def test_fetch_table_narrow_projection_byte_economics(s3):
    """2-of-20-column projection: values equal the full read's
    projection, and the bytes served by the emulator drop >=5x vs the
    whole object (the VERDICT r14 acceptance bar)."""
    emu, backend = s3
    raw, cols = _wide_parquet_bytes()
    path = "s3rr://b/w/wide.parquet"
    backend.write_bytes(path, raw)

    emu.object_get_bytes = 0
    tbl = rangedparquet.fetch_table(backend, path, ["id", "small"])
    narrow_bytes = emu.object_get_bytes
    assert tbl.column_names == ["id", "small"]
    assert tbl.column("id").to_pylist() == cols["id"]
    assert tbl.column("small").to_pylist() == cols["small"]
    assert narrow_bytes * 5 <= len(raw), (narrow_bytes, len(raw))

    # wide projection falls back to ONE whole-object GET (not 20
    # ranged ones): bytes equal the object exactly
    emu.object_get_bytes = 0
    full = rangedparquet.fetch_table(
        backend, path, ["id", "small"] + [f"fat{c:02d}"
                                          for c in range(18)])
    assert emu.object_get_bytes == len(raw)
    assert full.num_rows == 4000 and full.num_columns == 20

    # projection of only a missing (schema-evolved) column: 0-column
    # table still carries the row count, from footer-only bytes
    emu.object_get_bytes = 0
    none = rangedparquet.fetch_table(backend, path, ["later"])
    assert none.num_rows == 4000 and none.num_columns == 0
    assert emu.object_get_bytes * 10 <= len(raw)


def test_fetch_table_small_object_single_roundtrip(s3):
    """An object under the tail guess is served whole by the ONE
    suffix GET — no extra round trips for small files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    emu, backend = s3
    sink = io.BytesIO()
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}),
                   sink)
    backend.write_bytes("s3rr://b/sm/t.parquet", sink.getvalue())
    emu.object_get_bytes = 0
    tbl = rangedparquet.fetch_table(backend, "s3rr://b/sm/t.parquet",
                                    ["b"])
    assert tbl.column("b").to_pylist() == ["x", "y", "z"]
    assert emu.object_get_bytes == len(sink.getvalue())


def test_sparse_file_hole_read_raises():
    sf = rangedparquet._SparseFile(
        100, [(0, b"0123456789"), (50, b"abcdefghij")])
    assert sf.read(4) == b"0123"
    sf.seek(52)
    assert sf.read(3) == b"cde"
    sf.seek(-50, 2)
    assert sf.read(5) == b"abcde"
    sf.seek(8)
    with pytest.raises(OSError, match="unfetched hole"):
        sf.read(5)  # crosses the [10, 50) hole
    sf.seek(95)
    with pytest.raises(OSError, match="unfetched hole"):
        sf.read(-1)  # tail past the last segment is a hole too


def test_plane_projection_over_live_http(spark, s3):
    """KeyedTable.read(columns=...) end-to-end over the signed
    emulator: result equals select() over the full read, column order
    is the request order, bytes served drop >=5x, and a projected
    column added by schema evolution null-fills."""
    emu, backend = s3
    t = KeyedTable(spark, "s3rr://bkt/tbl", ["id"], n_buckets=2)
    pad = F.concat(*[F.sha2(F.concat(F.col("id").cast("string"),
                                     F.lit(str(k))), 512)
                     for k in range(4)])
    df = (spark.range(0, 3000)
          .select(F.col("id"), (F.col("id") % 97).alias("v"),
                  pad.alias("pad1"), pad.alias("pad2"),
                  pad.alias("pad3"), pad.alias("pad4")))
    t.apply_mutations(df, "INSERT")

    emu.object_get_bytes = 0
    full = t.read().collect()
    full_bytes = emu.object_get_bytes

    emu.object_get_bytes = 0
    narrow = t.read(columns=["v", "id"])
    assert narrow.columns == ["v", "id"]
    got = {r["id"]: r["v"] for r in narrow.collect()}
    narrow_bytes = emu.object_get_bytes
    assert got == {r["id"]: r["v"] for r in full}
    assert narrow_bytes * 5 <= full_bytes, (narrow_bytes, full_bytes)

    # schema evolution: project a column the older files lack
    evolving = KeyedTable(spark, "s3rr://bkt/tbl", ["id"],
                          schema_evolution=True)
    evolving.apply_mutations(spark.createDataFrame(
        [Row(id=1, v=1, tag="new")]), "INSERT_OR_UPDATE")
    proj = evolving.read(columns=["id", "tag"])
    assert proj.schema == T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("tag", T.StringType())])
    vals = {r["id"]: r["tag"] for r in proj.collect()}
    assert vals[1] == "new"
    assert vals[2] is None and len(vals) == 3000

    with pytest.raises(ValueError, match="unknown columns"):
        t.read(columns=["nope"])


def test_plane_projection_over_gcs(spark, gcs):
    """The same pruning over the GCS backend (media-download Range) —
    backend-generic, not S3-shaped."""
    emu, backend = gcs
    t = KeyedTable(spark, "gsrr://bkt/tbl", ["id"], n_buckets=2)
    pad = F.concat(*[F.sha2(F.concat(F.col("id").cast("string"),
                                     F.lit(str(k))), 512)
                     for k in range(4)])
    t.apply_mutations(
        spark.range(0, 2000).select(
            F.col("id"), (F.col("id") % 13).alias("v"),
            pad.alias("pad")),
        "INSERT")
    emu.object_get_bytes = 0
    assert t.read().count() == 2000
    full_bytes = emu.object_get_bytes
    emu.object_get_bytes = 0
    s = t.read(columns=["v"]).agg(F.sum("v")).first()[0]
    assert s == sum(i % 13 for i in range(2000))
    assert emu.object_get_bytes * 3 <= full_bytes


def test_predicate_row_group_skipping_byte_economics(s3):
    """Row-group predicate skipping: footer min/max statistics refute
    whole groups, whose chunk bytes are then never fetched. With ids
    sorted across 4 row groups of 1000, `id >= 3000` must fetch ~1/4
    of the projection's data bytes and return exactly the last
    group's rows (statistics happen to be exact here because the
    groups partition the sort order)."""
    emu, backend = s3
    raw, cols = _wide_parquet_bytes()  # id = 0..3999 sorted, rg=1000
    path = "s3rr://b/p/wide.parquet"
    backend.write_bytes(path, raw)

    emu.object_get_bytes = 0
    all_proj = rangedparquet.fetch_table(backend, path,
                                         ["id", "fat00"])
    proj_bytes = emu.object_get_bytes
    assert all_proj.num_rows == 4000

    emu.object_get_bytes = 0
    tbl = rangedparquet.fetch_table(backend, path, ["id", "fat00"],
                                    predicate=[("id", ">=", 3000)])
    pred_bytes = emu.object_get_bytes
    assert tbl.column("id").to_pylist() == list(range(3000, 4000))
    # 1 of 4 groups fetched: well under half the projection's bytes
    assert pred_bytes * 2 < proj_bytes, (pred_bytes, proj_bytes)

    # conjunction narrows to one group via two bounds
    mid = rangedparquet.fetch_table(
        backend, path, ["id"],
        predicate=[("id", ">=", 1200), ("id", "<", 1800)])
    assert mid.column("id").to_pylist() == list(range(1000, 2000))
    # superset contract: the group's non-matching rows remain — the
    # caller (read_parquet) applies the exact residual filter

    # equality probe: one group
    one = rangedparquet.fetch_table(backend, path, ["small"],
                                    predicate=[("id", "==", 2500)])
    assert one.num_rows == 1000

    # fully refuted: zero data bytes, empty table with the projection
    emu.object_get_bytes = 0
    none = rangedparquet.fetch_table(backend, path, ["id", "fat00"],
                                     predicate=[("id", ">", 10**6)])
    assert none.num_rows == 0
    assert none.column_names == ["id", "fat00"]
    assert emu.object_get_bytes * 10 <= len(raw)  # footer only

    # a predicate column with NO statistics value in this op set, or
    # absent from the file entirely, never prunes (superset safety)
    missing = rangedparquet.fetch_table(backend, path, ["id"],
                                        predicate=[("later", "==", 1)])
    assert missing.num_rows == 4000

    with pytest.raises(ValueError, match="unsupported predicate op"):
        rangedparquet.fetch_table(backend, path, ["id"],
                                  predicate=[("id", "!=", 1)])


def test_plane_predicate_exact_filter_and_pruning(spark, s3):
    """read_parquet(predicate=...): rows filter EXACTLY (residual
    filter on top of the statistics pruning), predicate-only columns
    ride the fetch but are dropped from the result, bytes drop vs the
    same projection unpredicated, and a predicate over an evolved
    column null-fills (no rows match from old files)."""
    from dataflowtemplates_spark.operators import objstore_plane as op

    emu, backend = s3
    raw, cols = _wide_parquet_bytes()
    backend.write_bytes("s3rr://b/t/data.parquet", raw)
    obj = [("s3rr://b/t/data.parquet", len(raw))]
    schema = T.StructType(
        [T.StructField("id", T.LongType()),
         T.StructField("small", T.LongType()),
         T.StructField("later", T.LongType())]
        + [T.StructField(f"fat{c:02d}", T.StringType())
           for c in range(18)])

    emu.object_get_bytes = 0
    got = op.read_parquet(spark, obj, schema, backend,
                          columns=["small", "fat00"],
                          predicate=[("id", ">=", 3000),
                                     ("small", "==", 3)]).collect()
    pred_bytes = emu.object_get_bytes
    want = sorted((cols["small"][i], cols["fat00"][i])
                  for i in range(3000, 4000) if cols["small"][i] == 3)
    assert sorted((r["small"], r["fat00"]) for r in got) == want
    assert got and got[0].asDict().keys() == {"small", "fat00"}
    #                                         ^ id rode the fetch
    #                                           but is dropped

    emu.object_get_bytes = 0
    op.read_parquet(spark, obj, schema, backend,
                    columns=["small", "fat00", "id"]).collect()
    assert pred_bytes * 2 < emu.object_get_bytes  # pruning saved bytes

    # evolved column: absent -> null -> matches nothing
    assert op.read_parquet(spark, obj, schema, backend,
                           columns=["id"],
                           predicate=[("later", ">=", 0)]).count() == 0

    # non-ranged path (columns=None): exact filter, full bytes
    got2 = op.read_parquet(spark, obj, schema, backend,
                           predicate=[("id", "<", 5)]).collect()
    assert sorted(r["id"] for r in got2) == [0, 1, 2, 3, 4]


def test_keyedtable_predicate_native_vs_plane_parity(spark, s3,
                                                     tmp_path):
    """KeyedTable.read(predicate=...) returns the same rows on the
    native parquet path (Catalyst filter pushed into the scan) and
    the object-store plane (statistics row-group pruning + exact
    residual filter) — and composes with a column projection on
    both."""
    rows = [Row(id=i, v=float(i % 13), s=f"s-{i % 5}")
            for i in range(400)]
    pred = [("v", ">=", 4.0), ("v", "<", 9.0)]

    native = KeyedTable(spark, f"file://{tmp_path}/t", ["id"],
                        n_buckets=3)
    native.apply_mutations(spark.createDataFrame(rows), "INSERT")
    plane = KeyedTable(spark, "s3rr://bkt/t", ["id"], n_buckets=3)
    plane.apply_mutations(spark.createDataFrame(rows), "INSERT")

    for cols in (None, ["id", "s"]):
        a = sorted(map(tuple, native.read(
            columns=cols, predicate=pred).collect()))
        b = sorted(map(tuple, plane.read(
            columns=cols, predicate=pred).collect()))
        assert a == b and len(a) == sum(
            1 for r in rows if 4.0 <= r.v < 9.0)
    # projection shape: predicate column v is NOT in the output
    got = plane.read(columns=["id", "s"], predicate=pred).columns
    assert got == ["id", "s"]
    # one check of a read's arguments, before any fetch, on both paths
    for t in (native, plane):
        with pytest.raises(ValueError, match="unknown predicate column"):
            t.read(predicate=[("nope", "==", 1)])
        with pytest.raises(ValueError, match="unsupported predicate op"):
            t.read(columns=["id"], predicate=[("v", "!=", 1.0)])


def test_range_ignoring_server_degrades_to_correct_slices(s3):
    """A server (or intermediary proxy) that IGNORES the Range header
    and answers 200 + whole body must degrade to the CORRECT window —
    returning the whole body verbatim would place those bytes at the
    wrong offset in the sparse assembly and decode garbage. The
    ranged read then costs full bytes but stays value-exact."""
    _, real = s3
    raw, cols = _wide_parquet_bytes()
    path = "s3rr://b/ig/wide.parquet"
    real.write_bytes(path, raw)

    class RangeDeaf:
        """Proxy over the real backend that strips Range handling."""

        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def _get_ranged(self, bucket, key, range_value):
            body = self._inner._get_or_none(bucket, key)
            return (404, {}, b"") if body is None else (200, {}, body)

    deaf = RangeDeaf(real)
    # make deaf a DerivedObjectOps-shaped object: read_tail/read_range
    # come from the class of the INNER object via explicit binding
    from dataflowtemplates_spark.operators.httpstore import (
        DerivedObjectOps,
    )
    deaf.read_tail = DerivedObjectOps.read_tail.__get__(deaf)
    deaf.read_range = DerivedObjectOps.read_range.__get__(deaf)
    deaf._split = DerivedObjectOps._split.__get__(deaf)
    deaf._range_reply = DerivedObjectOps._range_reply

    tail, total = deaf.read_tail(path, 100)
    assert tail == raw[-100:] and total == len(raw)
    assert deaf.read_range(path, 777, 5) == raw[777:782]

    tbl = rangedparquet.fetch_table(deaf, path, ["id", "small"])
    assert tbl.column("id").to_pylist() == cols["id"]
    assert tbl.column("small").to_pylist() == cols["small"]
