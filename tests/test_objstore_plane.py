"""Distributed object-store data plane (operators/objstore_plane.py):
KeyedTable DATA — not just the metadata CAS — flowing through the HTTP
backends from executor tasks, over both emulators, plus the N-writer
mixed-operation race with fault injection.

What a native connector (s3a / GCS Hadoop connector) would do on a
real cluster, exercised here through the pure-Python plane: the same
commit protocol publishes the same immutable directories, so every
storage-engine invariant (dense log, owner folds, orphan reclaim)
must hold verbatim when the bytes live behind live HTTP."""

import threading
from urllib.parse import unquote

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dataflowtemplates_spark.operators import fsio
from dataflowtemplates_spark.operators.gcshttp import GcsHttpBackend
from dataflowtemplates_spark.operators.mutations import (
    ConcurrentWriteError,
    KeyedTable,
)
from dataflowtemplates_spark.operators.s3http import S3HttpBackend
from dataflowtemplates_spark.testing.gcs_emulator import GcsEmulator
from dataflowtemplates_spark.testing.s3_emulator import S3Emulator

#: LIST requests of one fresh-handle read of a 4-bucket table after an
#: insert and an upsert (test_read_lists_log_without_is_dir_probes):
#: ONE listing of its three log entries, in two of the emulator's
#: 2-key pages, and no listing of data
LISTS_PER_READ = 2

SIGV4_CREDS = ("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY")


def _count_lists(emu) -> list[str]:
    """The decoded path of every LIST request ``emu`` serves from now
    on. Handlers serve a kept-alive connection for its whole life, so
    call this before the test's first request."""
    lists = []
    base = emu._server.RequestHandlerClass

    def do_GET(self):
        if "list-type=" in self.path:
            lists.append(unquote(self.path))
        return base.do_GET(self)

    emu._server.RequestHandlerClass = type(
        "ListCounting", (base,), {"do_GET": do_GET})
    return lists


@pytest.fixture()
def s3(request):
    emu = S3Emulator().start()
    emu.require_sigv4 = SIGV4_CREDS
    b = S3HttpBackend(emu.endpoint, timeout_s=5.0,
                      credentials=SIGV4_CREDS)
    fsio.register_object_backend("s3pl", b)
    try:
        yield emu, b
    finally:
        fsio.unregister_object_backend("s3pl")
        emu.stop()


def test_full_data_lifecycle_over_live_s3_http(spark, s3):
    """create -> upsert -> apply_changes -> rebucket -> vacuum ->
    reclaim -> read with every parquet byte behind the signed HTTP
    endpoint. Values pinned exactly; schema evolution (a column added
    mid-life) must null-fill on read like the native source."""
    emu, backend = s3
    t = KeyedTable(spark, "s3pl://bkt/tbl", ["id"], n_buckets=4)
    t.apply_mutations(spark.createDataFrame(
        [Row(id=i, v=float(i)) for i in range(40)]), "INSERT")
    t.apply_mutations(spark.createDataFrame(
        [Row(id=i, v=float(i) + 100) for i in range(0, 40, 5)]),
        "INSERT_OR_UPDATE")
    # CDC batch: update / delete / insert in one atomic commit
    r = t.apply_changes(spark.createDataFrame(
        [Row(id=1, v=999.0, _op="U", seq=1),
         Row(id=2, v=None, _op="D", seq=1),
         Row(id=77, v=77.0, _op="I", seq=1)]),
        op_col="_op", seq_col="seq")
    assert r.applied == 3
    # schema evolution (opt-in handle): later batch carries a NEW
    # column; existing HTTP-resident files must null-fill it on read
    evolving = KeyedTable(spark, "s3pl://bkt/tbl", ["id"],
                          schema_evolution=True)
    evolving.apply_mutations(spark.createDataFrame(
        [Row(id=0, v=0.5, tag="new")]), "INSERT_OR_UPDATE")
    t.rebucket(8)
    t.vacuum(keep_last=2, truncate_log=True)
    assert t.reclaim_orphans(grace_s=0.0) == 0
    got = {r["id"]: (r["v"], r["tag"]) for r in t.read().collect()}
    assert len(got) == 40  # 40 - 1 delete + 1 insert
    assert 2 not in got
    assert got[1] == (999.0, None)
    assert got[77] == (77.0, None)
    assert got[0] == (0.5, "new")
    assert got[5] == (105.0, None) and got[3] == (3.0, None)
    # nothing but one parquet object per bucket under published data
    # dirs, named by its bucket alone
    names = [k.split("/data/", 1)[1].split("/", 1)[1]
             for k in backend.list_files("s3pl://bkt/tbl/data")]
    assert names and all(n.startswith("kb=") and
                         n.endswith("/part.parquet") for n in names)


def test_row_group_cap_and_missing_column_nullfill(spark, s3):
    """plane_flush_rows caps the rows of every parquet row group the
    plane stages (one object per bucket per task), nothing is lost on
    read-back, and a file written under an OLDER schema null-fills the
    new column."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from dataflowtemplates_spark.operators import objstore_plane as op

    _, backend = s3
    t = KeyedTable(spark, "s3pl://bkt/rg", ["id"], n_buckets=2,
                   plane_flush_rows=300)
    t.apply_mutations(spark.range(0, 2000).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("s")),
        "INSERT")
    files = backend.list_files("s3pl://bkt/rg/data")
    assert len(files) == 2  # one object per bucket
    groups = [pq.ParquetFile(pa.BufferReader(backend.read_bytes(f)))
              .metadata for f in files]
    sizes = [m.row_group(i).num_rows for m in groups
             for i in range(m.num_row_groups)]
    assert sum(sizes) == 2000
    assert max(sizes) <= 300 and len(sizes) >= 7  # the cap fired
    wide = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("later", T.DoubleType()),  # not in the files
    ])
    back = op.read_parquet(spark, [(f, None) for f in files], wide,
                           backend)
    assert back.count() == 2000
    assert back.filter(F.col("later").isNull()).count() == 2000
    assert back.agg(F.sum("id")).first()[0] == sum(range(2000))



def test_plane_objects_carry_no_arrow_schema_blob(spark, s3):
    """Plane objects leave pyarrow's ARROW:schema blob out of the
    parquet footer: the reader conforms every object to the table's
    schema, so the blob only added bytes to each PUT."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _, backend = s3
    t = KeyedTable(spark, "s3pl://bkt/nometa", ["id"], n_buckets=2)
    t.apply_mutations(spark.range(0, 100).select(
        F.col("id"), F.col("id").cast("string").alias("s")), "INSERT")
    files = backend.list_files("s3pl://bkt/nometa/data")
    assert len(files) == 2
    for f in files:
        footer = pq.ParquetFile(
            pa.BufferReader(backend.read_bytes(f))).metadata.metadata
        assert b"ARROW:schema" not in (footer or {}), f
    assert sorted(r.id for r in t.read().collect()) == list(range(100))


def _lists_table(spark, emu):
    """A 4-bucket S3 table after an insert and an upsert (three log
    entries), with every LIST from its creation on counted."""
    lists = _count_lists(emu)
    t = KeyedTable(spark, "s3pl://bkt/lists", ["id"], n_buckets=4)
    t.apply_mutations(spark.range(0, 40).select(
        F.col("id"), (F.col("id") * 1.5).alias("v")), "INSERT")
    t.apply_mutations(spark.range(0, 40, 5).select(
        F.col("id"), F.lit(-1.0).alias("v")), "INSERT_OR_UPDATE")
    return t, lists


def _log_only(lists) -> bool:
    return all("prefix=lists/_log/" in p for p in lists)


def test_read_lists_log_without_is_dir_probes(spark, s3):
    """A fresh-handle read or read_at of an S3 table lists `_log` once,
    with no is_dir probe in front, and lists no data: the log names
    every object and its size."""
    emu, _ = s3
    t, lists = _lists_table(spark, emu)
    bound = t._commits()[-1]["time"]
    del lists[:]
    rows = KeyedTable(spark, "s3pl://bkt/lists", ["id"]).read().collect()
    assert len(rows) == 40
    assert sum(r.v == -1.0 for r in rows) == 8
    assert len(lists) == LISTS_PER_READ and _log_only(lists), lists
    del lists[:]
    fresh = KeyedTable(spark, "s3pl://bkt/lists", ["id"])
    assert fresh.read_at(bound).count() == 40
    assert len(lists) == LISTS_PER_READ and _log_only(lists), lists


def test_upsert_commit_lists_log_once(spark, s3):
    """A fresh-handle upsert commit lists `_log` once (its base version,
    config and owner fold all come from that listing) and takes the
    buckets it staged from the write's result, not from a data
    LIST."""
    emu, _ = s3
    _, lists = _lists_table(spark, emu)
    del lists[:]
    KeyedTable(spark, "s3pl://bkt/lists", ["id"]).apply_mutations(
        spark.range(0, 40, 3).select(
            F.col("id"), F.lit(-2.0).alias("v")), "INSERT_OR_UPDATE")
    assert len(lists) == LISTS_PER_READ and _log_only(lists), lists
    rows = KeyedTable(spark, "s3pl://bkt/lists", ["id"]).read().collect()
    assert sum(r.v == -2.0 for r in rows) == 14


def test_plane_entry_sizes_match_objects(spark, s3):
    """A plane commit records each staged object's length under
    `sizes`, and checkpoints fold them beside `owners`: both equal
    the stored objects' byte lengths."""
    _, backend = s3
    path = "s3pl://bkt/sizes"
    t = KeyedTable(spark, path, ["id"], n_buckets=4)
    for c in range(9):  # versions 2..10: version 10 checkpoints
        t.apply_mutations(spark.range(c * 50, c * 50 + 50).select(
            F.col("id"), F.col("id").cast("string").alias("s")), "INSERT")
    e = t._commits()[-1]
    assert sorted(e["present"]) == [0, 1, 2, 3]
    for b in e["present"]:
        obj = f"{path}/data/{e['dir']}/kb={b}/part.parquet"
        assert e["sizes"][str(b)] == len(backend.read_bytes(obj)) > 0
    ck = t._read_log_json(t._ckpt_path(10))
    assert ck["sizes"] == e["sizes"]
    assert ck["owners"] == {str(b): e["dir"] for b in range(4)}


def test_sizeless_plane_entry_raises(spark, s3):
    """The log is the manifest: an object-store entry that names a
    bucket's object without its size makes the read raise, naming the
    version, instead of falling back to listing the data."""
    _, backend = s3
    path = "s3pl://bkt/nosize"
    t = KeyedTable(spark, path, ["id"], n_buckets=2)
    t.apply_mutations(spark.range(0, 10).select(
        F.col("id"), F.col("id").cast("string").alias("s")), "INSERT")
    e = t._commits()[-1]
    v = t._latest_version() + 1
    dirname = f"v{v:05d}-nosize"
    backend.write_bytes(
        f"{path}/data/{dirname}/kb=0/part.parquet",
        backend.read_bytes(f"{path}/data/{e['dir']}/kb=0/part.parquet"))
    t._commit_entry(v, [0], dirname, [0], t._config_at(v - 1))
    with pytest.raises(ValueError, match=f"version {v} "):
        KeyedTable(spark, path, ["id"]).read()


def test_object_names_and_rows_are_pure_function_of_row_multiset(
        spark, s3):
    """Retry-idempotence grounding: the SAME row multiset committed
    from two different input orders (different slicing, shuffled row
    order) yields the same relative object names and the same row
    multiset per object. Every attempt at a partition writes its whole
    bucket slices under the same names, so a task retry or speculative
    attempt replaces whole objects whatever order its rows arrived
    in."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    _, backend = s3
    rows = [Row(id=i, v=float(i % 17), s=f"s-{i % 7}")
            for i in range(500)]
    shuffled = rows[:]
    random.Random(15).shuffle(shuffled)

    def objects(path, data, slices):
        t = KeyedTable(spark, path, ["id"], n_buckets=3)
        df = spark.createDataFrame(data)
        if slices:
            df = df.repartition(slices)
        t.apply_mutations(df, "INSERT")
        out = {}
        for f in backend.list_files(path + "/data"):
            rel = f.split("/data/", 1)[1].split("/", 1)[1]
            tbl = pq.read_table(pa.BufferReader(backend.read_bytes(f)))
            out[rel] = sorted(tbl.to_pylist(), key=lambda r: r["id"])
        return out

    a = objects("s3pl://bkt/det-a", rows, 0)
    b = objects("s3pl://bkt/det-b", shuffled, 7)
    assert sorted(a) == sorted(b)
    assert len(a) == 3  # one object per bucket
    for rel in a:
        assert a[rel] == b[rel], f"rows differ for {rel}"


def test_write_partitioned_refuses_unsorted_buckets(spark, s3):
    """write_partitioned's caller contract: a partition must hold each
    bucket as one run. Interleaved buckets raise in the sink stage
    instead of replacing a bucket's object with its second run."""
    from dataflowtemplates_spark.operators import objstore_plane as op

    df = (spark.range(0, 40, numPartitions=1)
          .withColumn("kb", (F.col("id") % 2).cast("int")))
    with pytest.raises(Exception, match="not contiguous"):
        op.write_partitioned(df, "s3pl://bkt/unsorted", "kb")


def test_plane_native_parity_on_wide_types(spark, s3, tmp_path):
    """The plane must be a drop-in for the native parquet source on
    the FULL type surface KeyedTable schemas can carry: timestamps
    (tz and ntz), dates, decimals, arrays, structs, maps, binary,
    booleans, unicode strings, nulls. The same DataFrame goes through
    (a) write_partitioned+read_parquet over live HTTP and (b) the
    native partitionBy writer + schema'd reader; the two read-backs
    must agree row-for-row."""
    from dataflowtemplates_spark.operators import objstore_plane as op
    from pyspark.sql import types as T

    _, backend = s3
    df = (spark.range(0, 400)
          .select(
              F.col("id"),
              F.when(F.col("id") % 7 == 0, F.lit(None))
               .otherwise(F.col("id") * 3).alias("nullable_long"),
              F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
              F.to_timestamp_ntz(
                  F.timestamp_seconds(F.col("id") * 60)).alias("ts_ntz"),
              F.date_add(F.lit("2024-01-01").cast("date"),
                         F.col("id").cast("int")).alias("d"),
              (F.col("id") * 1.25).cast("decimal(18,2)").alias("dec"),
              F.array(F.col("id") * 1.0,
                      F.col("id") * 2.0).alias("vec"),
              F.struct(F.col("id").alias("a"),
                       F.array(F.concat(F.lit("s"),
                                        F.col("id"))).alias("tags"))
               .alias("st"),
              F.create_map(F.lit("k"), F.col("id").cast("int"),
                           F.lit("k2"),
                           (F.col("id") * 2).cast("int")).alias("m"),
              F.encode(F.concat(F.lit("raw-é"), F.col("id")),
                       "utf-8").alias("b"),
              (F.col("id") % 2 == 0).alias("flag"),
              F.concat(F.lit("日本語-"),
                       F.col("id")).alias("s"))
          .withColumn("kb", (F.col("id") % 4).cast("int"))
          .repartition(4, F.col("kb"))
          .sortWithinPartitions("kb"))
    res = op.write_partitioned(df, "s3pl://bkt/wide", "kb")
    native_dir = str(tmp_path / "wide_native")
    df.write.partitionBy("kb").parquet(native_dir)
    # declared read schema = what the native reader itself infers
    # (parquet normalizes nullability on read; KeyedTable stores this
    # normalized form in its config too)
    schema = T.StructType([
        f for f in spark.read.parquet(f"{native_dir}/kb=0").schema.fields
        if f.name != "kb"])

    plane_back = op.read_parquet(spark, list(res.sizes.items()), schema,
                                 backend)
    native_back = spark.read.schema(schema).parquet(
        *[f"{native_dir}/kb={i}" for i in range(4)])
    assert plane_back.schema == native_back.schema == schema
    a = sorted(plane_back.collect(), key=lambda r: r["id"])
    b = sorted(native_back.collect(), key=lambda r: r["id"])
    assert len(a) == len(b) == 400
    for ra, rb in zip(a, b):
        assert ra == rb, (ra, rb)


def test_plane_streams_large_objects_via_multipart(spark, s3):
    """An object larger than the seam's 8 MB part streams through an
    S3 multipart upload (bounded memory per object) and the read-back
    is exact — the emulator counts the completes."""
    from dataflowtemplates_spark.operators import objstore_plane as op
    from pyspark.sql import types as T

    emu, backend = s3
    # ~16 MB of high-entropy rows: the object crosses the seam's 8 MB
    # part, above S3's REAL 5 MiB part floor, so streaming engages
    # without opting the emulator's enforcement down
    df = _entropy_df(spark, 16000)
    res = op.write_partitioned(df, "s3pl://bkt/mp", "kb")
    assert emu.multipart_completed >= 1  # streamed, not buffered
    files = backend.list_files("s3pl://bkt/mp")
    assert len(files) == 1  # one object per bucket per task
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("s", T.StringType())])
    back = op.read_parquet(spark, list(res.sizes.items()), schema,
                           backend)
    assert back.count() == 16000
    assert back.agg(F.sum("id")).first()[0] == sum(range(16000))


def test_data_lifecycle_over_live_gcs_http(spark):
    """The same data plane over the GCS JSON API emulator with bearer
    auth — proving the plane is backend-generic, not S3-shaped."""
    emu = GcsEmulator().start()
    emu.require_bearer = "data-token"
    b = GcsHttpBackend(emu.endpoint, timeout_s=5.0,
                       bearer_token="data-token")
    fsio.register_object_backend("gspl", b)
    try:
        t = KeyedTable(spark, "gspl://bkt/tbl", ["id"], n_buckets=2)
        t.apply_mutations(spark.createDataFrame(
            [Row(id=i, v=i * 10) for i in range(12)]), "INSERT")
        t.apply_mutations(spark.createDataFrame(
            [Row(id=3, v=-1)]), "INSERT_OR_UPDATE")
        t.apply_mutations(spark.createDataFrame(
            [Row(id=11)]), "DELETE")
        # the maintenance ops compose over GCS exactly like the S3
        # twin: layout rewrite, retention, debris reclamation
        t.rebucket(4)
        t.vacuum(keep_last=2, truncate_log=True)
        b.write_bytes("gspl://bkt/tbl/data/v99999-dead/kb=0/p0",
                      b"dead")
        assert t.reclaim_orphans(grace_s=0.0) == 1
        got = {r["id"]: r["v"] for r in t.read().collect()}
        assert len(got) == 11 and got[3] == -1 and 11 not in got
        assert int(t._config_at(t._latest_version())["n_buckets"]) == 4
    finally:
        fsio.unregister_object_backend("gspl")
        emu.stop()


def test_n_writer_mixed_op_race_with_faults(spark, s3):
    """6 writers x mixed upsert/delete plus a rebucket thread and a
    vacuum thread, racing one table over live signed HTTP WITH fault
    injection (transient 500s and an applied-but-response-lost put
    fired mid-race): the version counter never wedges (every writer
    finishes), the log stays dense, the final state equals the serial
    expectation (ops are key-disjoint, hence order-free), and after
    reclaim every surviving data dir is referenced."""
    emu, backend = s3
    path = "s3pl://bkt/race"
    seed = KeyedTable(spark, path, ["id"], n_buckets=4)
    seed.apply_mutations(
        spark.createDataFrame([Row(id=i, v=-1) for i in range(10)]),
        "INSERT")

    errors = []
    done = threading.Event()

    def writer(wid):
        t = KeyedTable(spark, path, ["id"])
        for op in range(2):
            key = 100 + wid * 10 + op
            try:
                if wid % 3 == 2 and op == 1:
                    # delete one of the seed keys (writer-unique)
                    t.apply_mutations_with_retry(
                        spark.createDataFrame([Row(id=wid)]),
                        "DELETE", retries=40, backoff_s=0.05)
                else:
                    t.apply_mutations_with_retry(
                        spark.createDataFrame([Row(id=key, v=wid)]),
                        "INSERT_OR_UPDATE", retries=40, backoff_s=0.05)
            except Exception as exc:  # noqa: BLE001 - recorded for assert
                errors.append((wid, op, repr(exc)))

    landed = {"rebucket": False, "vacuum": False}

    def maintenance():
        t = KeyedTable(spark, path, ["id"])
        for step, act in (("rebucket", lambda: t.rebucket(8)),
                          ("vacuum", lambda: t.vacuum(keep_last=50))):
            for _ in range(40):
                try:
                    act()
                    landed[step] = True
                    break
                except Exception:  # noqa: BLE001 - CAS loss or an
                    #   injected fault mid-scan: retry like any writer
                    if done.is_set():
                        return

    def chaos():
        import time

        time.sleep(0.3)
        emu.reject_next_put = 2       # two transient 500s
        time.sleep(0.3)
        emu.drop_response_next_put = True  # one ambiguous timeout

    threads = ([threading.Thread(target=writer, args=(w,))
                for w in range(6)]
               + [threading.Thread(target=maintenance),
                  threading.Thread(target=chaos)])
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    done.set()
    # an injected 500 mid-commit surfaces as an error and leaves an
    # orphan — the documented crash-equivalence. The CONTRACT under
    # test: nothing wedges, so each such op replays cleanly, and only
    # the injected faults (2 rejects + their collateral) may have
    # errored at all.
    assert len(errors) <= 3, f"more failures than injected: {errors}"
    for wid, op, _msg in list(errors):
        key = 100 + wid * 10 + op
        t = KeyedTable(spark, path, ["id"])
        if wid % 3 == 2 and op == 1:
            t.apply_mutations_with_retry(
                spark.createDataFrame([Row(id=wid)]), "DELETE",
                retries=40, backoff_s=0.05)
        else:
            t.apply_mutations_with_retry(
                spark.createDataFrame([Row(id=key, v=wid)]),
                "INSERT_OR_UPDATE", retries=40, backoff_s=0.05)

    t = KeyedTable(spark, path, ["id"])
    # serial expectation: seed 0..9 minus the writer-deleted keys
    # {2, 5} (wid % 3 == 2), plus the key-disjoint upserts
    expect = set(range(10)) - {2, 5}
    for w in range(6):
        for op in range(2):
            if not (w % 3 == 2 and op == 1):
                expect.add(100 + w * 10 + op)
    got = {r["id"] for r in t.read().collect()}
    assert got == expect
    # dense log: every version present exactly once
    versions = [c["version"] for c in t._commits()]
    assert versions == list(range(versions[0], versions[0] + len(versions)))
    # both maintenance ops landed despite the race; layout moved
    assert landed == {"rebucket": True, "vacuum": True}
    assert int(t._config_at(t._latest_version())["n_buckets"]) == 8
    # crash debris (500-killed stagings) reclaims; referenced dirs stay
    t.reclaim_orphans(grace_s=0.0)
    referenced = {c["dir"] for c in t._commits() if c.get("dir")}
    on_disk = set(backend.list_dir(path + "/data"))
    assert on_disk <= referenced
    assert {r["id"] for r in t.read().collect()} == expect


def _entropy_df(spark, n_rows, width=8):
    """Deterministic high-entropy rows (incompressible, ~1 KB each, so
    objects cross streaming thresholds) carrying the plane's bucket
    column, sorted by it: write_partitioned's caller contract."""
    wide = F.concat(*[
        F.sha2(F.concat(F.col("id").cast("string"), F.lit(str(k))), 512)
        for k in range(width)])
    return (spark.range(0, n_rows)
            .select(F.col("id"), wide.alias("s"))
            .withColumn("kb", F.lit(0))
            .repartition(1, F.col("kb"))
            .sortWithinPartitions("kb"))


def test_uploadpart_response_loss_is_transport_retried(s3):
    """UploadPart is service-idempotent (re-PUT of the same
    partNumber overwrites the staged part), so an applied-but-
    response-lost part recovers TRANSPARENTLY via the transport's
    one fresh-socket retry — the write completes, bytes exact, no
    upload left staged."""
    import os as _os

    emu, b = s3
    emu.min_part_bytes = 64 * 1024
    b.MIN_PART_BYTES = 64 * 1024  # instance override: cheap parts
    data = _os.urandom(200 * 1024)
    emu.drop_response_next_part = True
    with b.open_write("s3pl://bkt/amb/part-00000-0000.bin",
                      part_bytes=64 * 1024) as sink:
        sink.write(data)
    assert b.read_bytes("s3pl://bkt/amb/part-00000-0000.bin") == data
    assert not emu._uploads
    assert not emu.drop_response_next_part  # the fault did fire


def test_complete_response_loss_s3_task_retry_overwrites(spark, s3):
    """CompleteMultipartUpload applied but the response lost: the
    backend surfaces the ambiguity (never guesses), the plane task
    aborts its staged uploads on the way out, and a task RETRY —
    rerunning the same write — overwrites the deterministically
    named object: final state exact, no duplicate rows, no orphaned
    UploadId (the recovery the objstore_plane module docstring
    describes)."""
    from dataflowtemplates_spark.operators import objstore_plane as op
    from pyspark.sql import types as T

    emu, b = s3
    df = _entropy_df(spark, 10000)  # ~10 MB: more than one 8 MB part
    emu.drop_response_next_complete = True
    with pytest.raises(Exception, match="CompleteMultipartUpload"):
        op.write_partitioned(df, "s3pl://bkt/ambc", "kb")
    # the ambiguity resolved server-side: object live OR absent, but
    # the UploadId is consumed/aborted either way — nothing staged
    assert not emu._uploads
    # the task retry: same input, same deterministic names
    res = op.write_partitioned(df, "s3pl://bkt/ambc", "kb")
    assert not emu._uploads
    files = b.list_files("s3pl://bkt/ambc")
    assert len(files) == 1  # overwritten, not duplicated
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("s", T.StringType())])
    back = op.read_parquet(spark, list(res.sizes.items()), schema, b)
    assert back.count() == 10000
    assert back.agg(F.sum("id")).first()[0] == sum(range(10000))


def test_final_chunk_response_loss_gcs_task_retry_overwrites(spark):
    """The GCS twin: the resumable FINAL chunk applied (object
    materialized, session consumed) but the response lost — the
    backend raises, the plane aborts the session (404-tolerant), and
    the task retry overwrites the same object name. Exact final
    state, no session debris."""
    from dataflowtemplates_spark.operators import objstore_plane as op
    from pyspark.sql import types as T

    emu = GcsEmulator().start()
    emu.require_bearer = "tok-amb"
    b = GcsHttpBackend(emu.endpoint, timeout_s=5.0,
                       bearer_token="tok-amb")
    fsio.register_object_backend("gsamb", b)
    try:
        df = _entropy_df(spark, 10000)  # ~10 MB: more than one 8 MB
        #                                 chunk -> resumable path
        emu.drop_response_next_final_chunk = True
        with pytest.raises(Exception, match="resumable chunk"):
            op.write_partitioned(df, "gsamb://bkt/ambg", "kb")
        assert not emu._sessions  # consumed by the applied finalize
        #                           and/or aborted by the error path
        assert emu.resumable_completed == 1  # the fault DID apply
        res = op.write_partitioned(df, "gsamb://bkt/ambg", "kb")
        assert not emu._sessions
        files = b.list_files("gsamb://bkt/ambg")
        assert len(files) == 1
        schema = T.StructType([T.StructField("id", T.LongType()),
                               T.StructField("s", T.StringType())])
        back = op.read_parquet(spark, list(res.sizes.items()),
                               schema, b)
        assert back.count() == 10000
        assert back.agg(F.sum("id")).first()[0] == sum(range(10000))
    finally:
        fsio.unregister_object_backend("gsamb")
        emu.stop()


def test_read_exact_over_many_commit_dirs(spark, s3):
    """A snapshot whose buckets were last written by many different
    commits (one commit dir each) reads exactly, from one `_log`
    listing and no data LIST, across a checkpoint."""
    emu, _ = s3
    lists = _count_lists(emu)
    path = "s3pl://bkt/many"
    t = KeyedTable(spark, path, ["id"], n_buckets=16)
    # 12 single-row commits: each rewrites the one bucket its key
    # hashes into, so the buckets' owners spread over many commits
    for c in range(12):
        t.apply_mutations(spark.createDataFrame(
            [Row(id=c * 100, v=float(c))]), "INSERT")
    owners = t._owners(t._latest_version())
    assert len({d for d in owners.values() if d}) >= 6, owners
    assert 10 in t._log().ckpts
    del lists[:]
    got = {r["id"]: r["v"]
           for r in KeyedTable(spark, path, ["id"]).read().collect()}
    assert got == {c * 100: float(c) for c in range(12)}
    assert lists and all("prefix=many/_log/" in p for p in lists), lists
    assert sum("continuation-token" not in p for p in lists) == 1
