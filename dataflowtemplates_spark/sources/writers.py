"""Dynamic-destination file writers + finish transform (reference K1,
K2, K3, K9).

Every file the engine's executors write goes through ONE
destination-writing stage, :func:`sink_stage`: the exports through
:func:`write_sink`, KeyedTable staging on object stores through
``objstore_plane.write_partitioned``. The formats differ only in the
small file writer they hand it.

Reference semantics reproduced:

* **Dynamic destinations** (templates/SpannerToText.java:118-130;
  transforms/sinks/TextDynamicSink.java:36-54): each row routes to a
  file group named after the value of `split_field`; a null split
  value routes to the `""` group, i.e. the output root
  (StructToAvroTransform.java:84). Here the rows are shuffled by split
  key and sorted within each partition, so every task meets each of
  its keys as one contiguous run and writes it to
  `<root>/<key>/{prefix}-{partition:05d}{suffix}` — no per-key
  re-scan, no rename afterwards. A key that would resolve outside the
  output root is refused before its file opens.
* **Header line** (TextDynamicSink.java:41-43) for CSV, first in every
  file.
* **withoutSharding** (util/FixedFileNaming.java:27-34): exactly one
  shard with a fixed filename `prefix + suffix` (`coalesce(1)`).
* **Finish transform** (transforms/WriteFilesFinishTransform.java:39-61):
  - `output_notify`: one manifest file listing every written file path
    (newline-joined, the reference's Combine.globally string concat);
  - `output_empty`: when the result set is empty, still write a single
    output file containing `empty_text` so downstream consumers see a
    file (WriteFilesFinishTransform.java:48-52).

Shards are numbered by the Spark partition that wrote them, so the
numbers within one directory need not be consecutive.

Scale note: every write is one Spark job over the input (plus the split
shuffle); only (file, rows, bytes) triples return to the driver. The
deliberately non-scalable path is `without_sharding` (`coalesce(1)`),
which exists for byte-parity with the reference's fixed-filename mode
and should only be used for small exports — the reference's own caveat.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataflowtemplates_spark.functions.convert import text_line
from dataflowtemplates_spark.operators import fsio
from dataflowtemplates_spark.operators.arrowkernels import arrow_kernels

_SPLIT_COL = "_split"


@dataclass
class WriteResult:
    """What a dynamic write produced (the reference's WriteFilesResult).
    ``sizes`` maps each written file to its length in bytes."""
    files: list[str] = field(default_factory=list)
    row_count: int = 0
    format: str = "text"
    sizes: dict[str, int] = field(default_factory=dict)

    @property
    def empty(self) -> bool:
        return self.row_count == 0


def write_sink(df: DataFrame, path: str, start, suffix: str, fmt: str,
               split_field: str | None = None,
               columns: list[Column] | None = None,
               prefix: str = "output",
               without_sharding: bool = False) -> WriteResult:
    """Every export file sink: prepares ``df`` for :func:`sink_stage`.

    Resolves ``path`` through :func:`fsio.task_files` (which raises if
    tasks cannot reach it), clears it, then runs :func:`sink_stage`
    over the payload ``columns`` (expressions over ``df``; all of its
    columns by default). With ``split_field`` the rows are first
    shuffled by the key (``repartition`` on it, sized by AQE) and
    sorted within each partition; without it the input partitions are
    written as they are, or as one partition for ``without_sharding``.
    """
    files = fsio.task_files(path)
    _clear(path)
    payload = list(columns) if columns is not None else ["*"]
    keyed = split_field is not None
    if keyed:
        key = F.coalesce(F.col(split_field).cast("string"), F.lit(""))
        frame = (df.select(key.alias(_SPLIT_COL), *payload)
                 .repartition(F.col(_SPLIT_COL))
                 .sortWithinPartitions(_SPLIT_COL))
    else:
        frame = df.select(*payload)
        if without_sharding:
            frame = frame.coalesce(1)
    return sink_stage(frame, files, start, suffix, fmt, prefix, keyed,
                      without_sharding)


def sink_stage(frame: DataFrame, files, start, suffix: str, fmt: str,
               prefix: str, keyed: bool = True,
               without_sharding: bool = False) -> WriteResult:
    """Write ``frame`` from its tasks through ``files`` (a resolved
    :func:`fsio.task_files` seam) in one ``mapInArrow`` stage.

    With ``keyed`` the frame's first column is the split key and every
    partition holds each key as one contiguous run (a key met twice
    raises). Each task slices its Arrow batches into runs of one key,
    refuses a key that would resolve outside the output root (the path
    after its scheme), and opens ``{prefix}-{partition:05d}{suffix}``
    (``{prefix}{suffix}`` for ``without_sharding``) under
    ``<root>/<key>/`` through the seam; on a task error the open file
    is abandoned, so no partial object is published. Every attempt at a
    partition writes the same names, so a retried task replaces whole
    files.

    ``start(stream, schema) -> (write, close)`` is the format's file
    writer (a self-contained closure — it is pickled by value):
    ``write(batch)`` gets Arrow batches of the payload columns holding
    one key each, ``close()`` finishes the file before the stream is
    closed. Only (file, rows, bytes) triples return to the driver; a
    file's bytes are the stream's position once the format writer has
    finished it.
    """
    k = arrow_kernels()

    def task(batches):
        import posixpath

        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        root = posixpath.normpath(files.root)
        name = (f"{prefix}{suffix}" if without_sharding else
                f"{prefix}-{TaskContext.get().partitionId():05d}{suffix}")
        written = []  # (file, rows, bytes) per finished file
        done = set()  # keys whose file is open or finished
        cur = None  # the open file: its key, stream, writer and row count

        def open_file(key, schema):
            if key in done:
                raise RuntimeError(f"split key {key!r} is not contiguous")
            done.add(key)
            where = root
            if key:
                where = posixpath.normpath(posixpath.join(root, key))
                if not where.startswith(root.rstrip("/") + "/"):
                    raise ValueError(
                        f"split value {key!r} escapes output root "
                        f"{files.scheme + files.root!r}")
            target = files.scheme + posixpath.join(where, name)
            stream = files.open_write(target)
            write, close = start(stream, schema)
            return {"key": key, "stream": stream, "write": write,
                    "close": close, "file": target, "rows": 0}

        def finish(f):
            f["close"]()
            size = f["stream"].tell()
            f["stream"].close()
            written.append((f["file"], f["rows"], size))

        try:
            for batch in batches:
                if not batch.num_rows:
                    continue
                if keyed:
                    runs = pc.run_end_encode(batch.column(0))
                    ends = runs.run_ends.to_pylist()
                    keys = runs.values.to_pylist()
                    batch = batch.select(list(range(1, batch.num_columns)))
                else:
                    ends, keys = [batch.num_rows], [""]
                begin = 0
                for key, end in zip(keys, ends):
                    piece = batch.slice(begin, end - begin)
                    begin = end
                    if cur is None or cur["key"] != key:
                        if cur is not None:
                            finish(cur)
                            cur = None  # finished: nothing left to close
                        cur = open_file(key, piece.schema)
                    cur["write"](piece)
                    cur["rows"] += piece.num_rows
            if cur is not None:
                finish(cur)
                cur = None
        finally:
            if cur is not None:
                files.abandon(cur["stream"])
        yield pa.RecordBatch.from_arrays(
            [k.array([f for f, _, _ in written], pa.string()),
             k.array([n for _, n, _ in written], pa.int64()),
             k.array([b for _, _, b in written], pa.int64())],
            names=["file", "rows", "bytes"])

    stats = frame.mapInArrow(
        task, "file string, rows long, bytes long").collect()
    return WriteResult(files=sorted(r.file for r in stats),
                       row_count=sum(r.rows for r in stats), format=fmt,
                       sizes={r.file: r.bytes for r in stats})


def _clear(path: str) -> None:
    """Remove whatever ``path`` holds and leave it an empty directory."""
    if fsio.is_dir(path):
        fsio.delete_dir(path)
    elif fsio.exists(path):
        fsio.delete_file(path)
    fsio.mkdirs(path)


def _text_writer(header: str | None):
    """File writer for pre-rendered lines: each payload batch is one
    string column whose values end in a newline; its value buffer is
    written as is, after the header line if there is one."""
    head = b"" if header is None else (header + "\n").encode()

    def start(out, schema):
        import numpy as np
        import pyarrow as pa

        if head:
            out.write(head)

        def write(batch):
            lines = batch.column(0)
            dtype = np.dtype(np.int64 if pa.types.is_large_string(lines.type)
                             else np.int32)
            lo, hi = np.frombuffer(lines.buffers()[1], dtype, len(lines) + 1,
                                   lines.offset * dtype.itemsize)[[0, -1]]
            out.write(lines.buffers()[2].slice(int(lo), int(hi - lo)))

        return write, lambda: None

    return start


def _columnar_writer(fmt: str, compression: str,
                     row_group_size: int | None = None,
                     store_schema: bool = True):
    """File writer for Parquet or ORC through pyarrow's writers;
    ``row_group_size`` caps the rows of a parquet row group, and
    ``store_schema=False`` leaves the ``ARROW:schema`` blob out of a
    parquet footer."""

    def start(out, schema):
        import pyarrow as pa

        if fmt == "parquet":
            import pyarrow.parquet as pq

            w = pq.ParquetWriter(out, schema, compression=compression,
                                 store_schema=store_schema)
            return (lambda batch: w.write_batch(
                batch, row_group_size=row_group_size)), w.close
        import pyarrow.orc as orc

        w = orc.ORCWriter(out, compression=compression)
        return lambda batch: w.write(pa.Table.from_batches([batch])), w.close

    return start


def write_text_dynamic(df: DataFrame, path: str, fmt: str = "json",
                       split_field: str | None = None,
                       header: bool = False,
                       without_sharding: bool = False,
                       prefix: str = "output",
                       empty_text: str = "",
                       output_empty: bool = False,
                       output_notify: str | None = None) -> WriteResult:
    """K1: dynamic-destination CSV/JSON writer.

    Rows are rendered to single-line strings in the JVM by the
    conversion layer (C1/C2 semantics: base64 bytes, Zulu timestamps,
    Java-style nested rendering for CSV) and routed by ``split_field``
    through :func:`write_sink`, which writes the rendered lines as they
    are. With ``header`` a CSV file starts with the column names.
    """
    fmt = fmt.lower()
    if fmt not in ("json", "csv"):
        raise ValueError(f"unsupported text format {fmt!r}: json or csv")
    suffix = f".{fmt}"
    head_line = ",".join(df.columns) if header and fmt == "csv" else None
    line = F.concat(text_line(df, fmt), F.lit("\n")).alias("_line")
    result = write_sink(df, path, _text_writer(head_line), suffix, fmt,
                        split_field=split_field, columns=[line],
                        prefix=prefix, without_sharding=without_sharding)
    if result.empty and output_empty:
        target = f"{path.rstrip('/')}/{prefix}{suffix}"
        head = "" if head_line is None else head_line + "\n"
        fsio.write_bytes(target, (head + empty_text).encode())
        result.files.append(target)
    _write_notify(result, output_notify)
    return result


def write_columnar_dynamic(df: DataFrame, path: str,
                           split_field: str | None = None,
                           fmt: str = "avro",
                           compression: str = "snappy",
                           output_notify: str | None = None) -> WriteResult:
    """K2: dynamic-destination columnar writer, Avro+snappy per the
    reference (transforms/sinks/AvroDynamicSink.java:33-49).

    `fmt="avro"` produces real .avro container files through the
    container writer in operators/avro_io.py (Arrow's native snappy, so
    the reference's pinned snappy+CRC block format is honored without
    the spark-avro jar); `"parquet"` and `"orc"` go through pyarrow's
    writers. All three run in :func:`write_sink`. (Schema handling
    needs none of the reference's per-key sampling: `df.schema` is
    static.)
    """
    fmt = fmt.lower()
    if fmt == "avro":
        from dataflowtemplates_spark.operators.avro_io import write_avro
        result = write_avro(df, path, split_field=split_field,
                            codec=compression)
    elif fmt in ("parquet", "orc"):
        result = write_sink(df, path, _columnar_writer(fmt, compression),
                            f".{fmt}", fmt, split_field=split_field)
    else:
        raise ValueError(
            f"unsupported columnar format {fmt!r}: avro, parquet or orc")
    _write_notify(result, output_notify)
    return result


def _write_notify(result: WriteResult, notify_path: str | None) -> None:
    """K9: newline-joined list of written files -> one manifest file
    (reference: WriteFilesFinishTransform.java:43,53-56). Written
    through the fsio seam, so a manifest destined for an object store
    rides the same registered backend as the commit protocol instead
    of a driver-local ``open``."""
    if not notify_path:
        return
    parent = notify_path.rsplit("/", 1)[0] if "/" in notify_path else ""
    if parent:
        fsio.mkdirs(parent)
    fsio.write_bytes(notify_path, "\n".join(result.files).encode())
