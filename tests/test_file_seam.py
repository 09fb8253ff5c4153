"""The executor file seam (operators/fsio.task_files): every file the
engine encodes or decodes in a task — the sink's six formats, the Avro
and TFRecord readers — reaches a bare path, a ``file://`` URI and a
registered object store the same way."""

import io
import os
import re

import pytest
from pyspark.sql import Row

from dataflowtemplates_spark.operators import fsio
from dataflowtemplates_spark.operators.avro_io import read_avro, write_avro
from dataflowtemplates_spark.operators.gcshttp import GcsHttpBackend
from dataflowtemplates_spark.operators.s3http import S3HttpBackend
from dataflowtemplates_spark.operators.tfrecord import (
    read_tfrecord_df,
    write_tfrecords,
)
from dataflowtemplates_spark.sources.writers import (
    write_columnar_dynamic,
    write_sink,
    write_text_dynamic,
)
from dataflowtemplates_spark.testing.gcs_emulator import GcsEmulator
from dataflowtemplates_spark.testing.s3_emulator import S3Emulator

SIGV4_CREDS = ("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY")


@pytest.fixture()
def s3():
    emu = S3Emulator().start()
    emu.require_sigv4 = SIGV4_CREDS
    fsio.register_object_backend(
        "s3seam", S3HttpBackend(emu.endpoint, timeout_s=5.0,
                                credentials=SIGV4_CREDS))
    try:
        yield emu
    finally:
        fsio.unregister_object_backend("s3seam")
        emu.stop()


@pytest.fixture()
def gcs():
    with GcsEmulator() as emu:
        fsio.register_object_backend(
            "gsseam", GcsHttpBackend(emu.endpoint, timeout_s=5.0))
        try:
            yield emu
        finally:
            fsio.unregister_object_backend("gsseam")


@pytest.fixture()
def sample(spark):
    return spark.createDataFrame([
        Row(id=1, grp="a", name="one", score=1.5),
        Row(id=2, grp="b", name=None, score=None),
        Row(id=3, grp="a", name="three", score=-2.0),
        Row(id=4, grp=None, name="ungrouped", score=0.25),
    ], "id long, grp string, name string, score double")


def test_unreachable_backend_target_is_refused_before_clearing(spark,
                                                               sample):
    """A scheme registered to a driver-memory store cannot be written
    by tasks: the sink refuses it on the driver, naming the scheme,
    and the previous export is still there."""
    store = fsio.MemoryObjectStore()
    marker = "memseam://b/out/output-00000.csv"
    store.write_bytes(marker, b"previous export\n")
    fsio.register_object_backend("memseam", store)
    try:
        with pytest.raises(ValueError, match="memseam"):
            write_text_dynamic(sample, "memseam://b/out", fmt="csv")
        assert store.read_bytes(marker) == b"previous export\n"
    finally:
        fsio.unregister_object_backend("memseam")


def test_failed_task_publishes_no_partial_object(spark, sample, s3):
    """A task that fails after writing bytes abandons its object-store
    upload: closing it would publish a partial object. 9 MB crosses
    the 8 MB part size, so a multipart upload is in flight and must
    be aborted too."""

    def start(out, schema):
        def write(batch):
            out.write(b"x" * (9 << 20))
            raise RuntimeError("writer failed mid-file")

        return write, lambda: None

    target = "s3seam://bkt/failed"
    with pytest.raises(Exception, match="writer failed mid-file"):
        write_sink(sample.coalesce(1), target, start, ".bin", "bin")
    assert not fsio.exists(f"{target}/output-00000.bin")
    assert not s3._uploads  # the staged multipart upload was aborted


def _writers():
    """format -> write(df, path) -> written files, split on ``grp``."""
    return {
        "json": lambda df, p: write_text_dynamic(
            df, p, fmt="json", split_field="grp").files,
        "csv": lambda df, p: write_text_dynamic(
            df, p, fmt="csv", split_field="grp", header=True).files,
        "avro": lambda df, p: write_avro(
            df, p, split_field="grp", codec="snappy").files,
        "tfrecord": lambda df, p: write_tfrecords(
            df, p, split_field="grp", compress=True),
        "parquet": lambda df, p: write_columnar_dynamic(
            df, p, split_field="grp", fmt="parquet").files,
        "orc": lambda df, p: write_columnar_dynamic(
            df, p, split_field="grp", fmt="orc", compression="zlib").files,
    }


def _decoded(fmt, raw):
    """Format-level content of one file: text bytes as they are,
    Parquet/ORC as the decoded table."""
    import pyarrow as pa

    if fmt == "parquet":
        import pyarrow.parquet as pq

        return pq.read_table(pa.BufferReader(raw))
    if fmt == "orc":
        import pyarrow.orc as orc

        return orc.ORCFile(io.BytesIO(raw)).read()
    return raw


def test_every_sink_format_behaves_alike_on_every_target(spark, sample,
                                                          tmp_path, s3, gcs):
    """The six sink formats written to a bare path, a file:// URI, the
    S3 emulator and the GCS emulator hold the same relative file names.
    JSON/CSV bytes are equal, Parquet/ORC decode equal from
    fsio.read_bytes, and Avro/TFRecord read back equal through the
    engine readers on that target, which skip hidden and non-TFRecord
    files (Avro sync markers and gzip headers differ by design).
    Memory bound on the object stores: both HTTP backends stream each
    open file in parts of at least 8 MB, so a task holds at most one
    part per open file."""
    df = sample.repartition(2)
    bare = str(tmp_path / "bare")
    targets = {"file": f"file://{tmp_path}/uri", "s3": "s3seam://bkt/exp",
               "gcs": "gsseam://bkt/exp"}
    features = {"id": "int64", "name": "string", "score": "float"}

    def rel(files, root):
        return sorted(f[len(root) + 1:] for f in files)

    def readback(fmt, root):
        if fmt == "avro":
            got = read_avro(spark, root).collect()
        else:
            got = read_tfrecord_df(spark, root, features).collect()
        return sorted(got, key=lambda r: r.id)

    for fmt, write in _writers().items():
        want_files = write(df, f"{bare}/{fmt}")
        names = rel(want_files, f"{bare}/{fmt}")
        assert names and all(
            re.fullmatch(r"(\w+/)?output-\d{5}\.\w+(\.gz)?", n) for n in names)
        if fmt in ("avro", "tfrecord"):
            want_rows = readback(fmt, f"{bare}/{fmt}")
            assert len(want_rows) == 4
        for target, root in targets.items():
            root = f"{root}/{fmt}"
            files = write(df, root)
            assert rel(files, root) == names, (fmt, target)
            if fmt in ("avro", "tfrecord"):
                fsio.write_bytes(f"{root}/_SUCCESS", b"")
                fsio.write_bytes(f"{root}/notes.txt", b"not a record")
                assert readback(fmt, root) == want_rows, (fmt, target)
                continue
            for name in names:
                with open(os.path.join(bare, fmt, name), "rb") as fh:
                    want = _decoded(fmt, fh.read())
                got = _decoded(fmt, fsio.read_bytes(f"{root}/{name}"))
                assert got == want, (fmt, target, name)


def test_one_file_seam_in_the_package():
    """Executor file I/O has one route: outside operators/fsio.py the
    package neither resolves a pyarrow filesystem itself nor reads
    through Spark's binaryFile or spark-avro sources."""
    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "dataflowtemplates_spark")
    banned = ("FileSystem.from_uri", "LocalFileSystem(", '"binaryFile"',
              'format("avro")')
    hits = []
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path.endswith(
                    os.path.join("operators", "fsio.py")):
                continue
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            hits += [f"{os.path.relpath(path, root)}: {b}"
                     for b in banned if b in text]
    assert not hits, hits


def test_one_write_kernel_in_the_package():
    """Executors write files through one kernel: outside
    sources/writers.py the package opens no parquet or ORC writer and
    no streaming object-store upload of its own."""
    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "dataflowtemplates_spark")
    banned = ("ParquetWriter(", "ORCWriter(", ".open_write(")
    hits = []
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path.endswith(
                    os.path.join("sources", "writers.py")):
                continue
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            hits += [f"{os.path.relpath(path, root)}: {b}"
                     for b in banned if b in text]
    assert not hits, hits
