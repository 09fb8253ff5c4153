"""Distributed parquet data plane over registered object-store
backends (the fsio seam), for schemes Spark's own datasources cannot
reach in this environment.

The KeyedTable engine (operators/mutations.py) separates METADATA
(commit-log JSON, always through fsio and its conditional-put CAS)
from DATA (immutable parquet under ``data/vNNNNN-uuid/kb=N/``). On
``file://``/HDFS paths Spark's native parquet source reads and writes
the data; on an object-store scheme a production cluster would mount
the native connector (s3a / the GCS Hadoop connector) for the same
effect. This sandbox ships neither connector jar, so this module
provides the pure-Python equivalent — and it is a real distributed
plane, not a driver shim:

* **Write** (:func:`write_partitioned`): the staged slice runs the
  engine's one sink stage (``sources/writers.sink_stage``, the stage
  every export runs): each EXECUTOR task writes one snappy parquet
  object per bucket it holds, named by the bucket, ``kb=B/part.parquet``,
  through the seam's pickled backend (``fsio.task_files``;
  ``S3HttpBackend``/``GcsHttpBackend`` pickle by configuration), the
  object-store analogue of Spark's native ``partitionBy`` writer, and
  returns each object's bytes for the commit entry to record.
  Objects stream as S3 multipart uploads or GCS resumable sessions in
  parts of at least 8 MB, so a task holds one part per open object
  however large it grows; parts stage invisibly and only the complete
  call materializes the object. A failed task abandons its open
  upload. Retry idempotence comes from the names alone: every attempt
  at a partition writes the whole bucket slice under the same object
  name, so a task retry or speculative attempt replaces whole objects
  and leaves no debris to duplicate rows, whatever order its rows
  arrived in.
* **Read** (:func:`read_parquet`): the caller hands in the snapshot's
  ``(object, bytes)`` pairs, which the commit log's ``_owners`` fold
  names (bucket pruning happened there — the object list IS the
  pruned scan; no data directory is ever LISTed), then one
  ``mapInArrow`` task per packed bin of objects (:func:`scan_files`)
  fetches and decodes each object executor-side, conforming to the
  table schema (missing columns null-fill: the engine's
  schema-evolution rule, same as parquet's missing-column
  semantics).

Both directions are map-only (no shuffle, no driver-side data
movement; the driver handles O(objects) strings).
Column pruning pushes into this plane through the EXPLICIT
``columns=`` projection (``KeyedTable.read(columns=...)`` plumbs it):
the task then fetches only the parquet footer plus the projected
chunks' byte ranges via HTTP ``Range:`` GETs
(operators/rangedparquet.py) — the native connector's economics for
a narrow projection over a wide table. An EXPLICIT ``predicate=``
additionally skips row groups whose footer statistics refute it
(their chunk bytes are never fetched), with the exact residual
filter applied executor-side. What does NOT push down is
Catalyst-INFERRED pruning (a ``select``/``filter`` above
``mapInArrow`` cannot reach inside the Python stage) — callers that
want it without the explicit arguments need the native connector;
this remains the documented residual cost of the pure-Python seam,
bounded by rewrite-granularity object sizes (n_buckets sizing,
SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflowtemplates_spark.operators import fsio


def _arrow_schema(spark_schema: T.StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def write_partitioned(staged: DataFrame, data_dir: str, bucket_col: str,
                      row_group_size: int | None = None):
    """Write ``staged`` as ``data_dir/{bucket_col}={b}/part.parquet``
    objects from executor tasks, like
    ``df.write.partitionBy(bucket_col).parquet(data_dir)``: the bucket
    column lives in the directory name, not in the files. CALLER
    CONTRACT: ``bucket_col`` is the leading sort key of every
    partition (the sink stage raises on a bucket met twice) and each
    bucket lives in one partition (two tasks holding one bucket would
    write the same object; the result then names it twice).
    ``row_group_size`` caps the rows of a parquet row group. Returns
    the stage's ``WriteResult``, whose ``sizes`` give each object's
    bytes."""
    from dataflowtemplates_spark.sources import writers

    split = F.concat(F.lit(f"{bucket_col}="),
                     F.col(bucket_col).cast("string"))
    frame = staged.select(split.alias("_split"), *[
        F.col(c) for c in staged.columns if c != bucket_col])
    return writers.sink_stage(
        frame, fsio.task_files(data_dir),
        # no ARROW:schema footer blob (about 400 B of a 125-row object):
        # read_object conforms every object to the table's schema
        writers._columnar_writer("parquet", "snappy", row_group_size,
                                 store_schema=False),
        ".parquet", "parquet", "part", without_sharding=True)


#: Partition packing: target bytes of parquet objects per scan task.
#: One object per task matches the native source's file-split
#: granularity when objects are tens of MB (the n_buckets sizing), but
#: a small-object layout then pays Python worker spin-up and task
#: scheduling PER TINY OBJECT (guide §4/§6). Packing bins objects into
#: ~this many bytes per task, floored at the cluster's default
#: parallelism so a small scan still fills every core; object sizes
#: come from the commit log.
_PACK_TARGET_BYTES = 32 << 20


def _pack_files(sized_files: list, target_bytes: int,
                floor_bins: int) -> list[list[str]]:
    """Deterministic greedy (longest-processing-time) packing of
    ``(path, size)`` pairs into ``max(ceil(total/target), floor)``
    bins — never more bins than files. Unknown sizes (None) assume
    ``target_bytes`` so they land in their own bin. Returns each
    bin's paths sorted; the bin list itself is a pure function of the
    input multiset (sorted input, stable tie-break), so retried
    plans pack identically."""
    if not sized_files:
        return []
    sized = [(p, (target_bytes if s is None else int(s)))
             for p, s in sorted(sized_files)]
    total = sum(s for _, s in sized)
    n_bins = max(1, min(len(sized),
                        max(-(-total // target_bytes), floor_bins)))
    if n_bins >= len(sized):
        return [[p] for p, _ in sized]
    import heapq

    heap = [(0, i) for i in range(n_bins)]
    heapq.heapify(heap)
    bins: list[list[str]] = [[] for _ in range(n_bins)]
    for p, s in sorted(sized, key=lambda x: (-x[1], x[0])):
        load, i = heapq.heappop(heap)
        bins[i].append(p)
        heapq.heappush(heap, (load + s, i))
    return [sorted(b) for b in bins if b]


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """An empty frame of ``schema`` built from an empty Arrow table, so
    it plans as a JVM ``LocalRelation``. ``createDataFrame([], schema)``
    plans as a Python-RDD ``LogicalRDD`` instead, and every job over it
    starts a Python stage only to unpickle nothing: a cold anti-join
    against one took 4.7 s, against the ``LocalRelation`` 0.3 s
    (4-vCPU host, fresh SparkContext)."""
    return spark.createDataFrame(_arrow_schema(schema).empty_table(), schema)


def scan_files(spark: SparkSession, sized_files: list, schema,
               per_file) -> DataFrame:
    """The executor fan-out of the engine file readers (parquet, Avro,
    TFRecord): ``(path, size)`` pairs packed into bins of
    ~``_PACK_TARGET_BYTES`` by :func:`_pack_files` (amortizing per-task
    worker cost over small files; unknown sizes get a bin each), one
    ``mapInArrow`` task per bin, ``per_file(path)`` yielding the file's
    Arrow batches in ``schema``. Tasks are a JVM range of bin indexes,
    the bins riding in the task closure: no Python stage or shuffle runs
    before the scan."""
    if not sized_files:
        return empty_frame(spark, schema)
    bins = _pack_files(sized_files, _PACK_TARGET_BYTES,
                       spark.sparkContext.defaultParallelism)

    def task(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                for path in bins[i]:
                    yield from per_file(path)

    return spark.range(len(bins), numPartitions=len(bins)) \
        .mapInArrow(task, schema)


def read_object(backend, path: str, arrow_schema, ranged: bool,
                predicate: list[tuple] | None = None):
    """One parquet object as an Arrow table conformed to
    ``arrow_schema`` (missing columns null-fill: the engine's
    schema-evolution rule), read executor-side through ``backend``.
    ``ranged`` fetches the footer and the schema's column chunks only,
    skipping row groups whose footer statistics refute ``predicate``
    (operators/rangedparquet.py); otherwise the whole object is
    fetched. Rows are not filtered here."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if ranged:
        from dataflowtemplates_spark.operators import rangedparquet

        tbl = rangedparquet.fetch_table(backend, path, arrow_schema.names,
                                        predicate=predicate)
    else:
        tbl = pq.read_table(pa.BufferReader(backend.read_bytes(path)))
    cols = [tbl.column(f.name).cast(f.type) if f.name in tbl.column_names
            else pa.nulls(tbl.num_rows, f.type) for f in arrow_schema]
    return pa.table(dict(zip(arrow_schema.names, cols)), schema=arrow_schema)


def read_parquet(spark: SparkSession, sized_files: list,
                 schema: T.StructType, backend,
                 columns: list[str] | None = None,
                 predicate: list[tuple] | None = None) -> DataFrame:
    """Distributed read of the ``(path, bytes)`` parquet objects in
    ``sized_files`` through ``backend``, conformed to ``schema``
    (missing columns null-fill — the engine's schema-evolution rule).
    The caller has checked ``columns`` and ``predicate`` against
    ``schema`` (``mutations._projection``, the one check every
    KeyedTable read passes).

    ``columns`` projects the read down to the named top-level columns
    (result column order = request order). On backends exposing
    ranged reads (the HTTP stores — operators/httpstore.py) the task
    then fetches only the parquet FOOTER plus the projected columns'
    chunk byte ranges (operators/rangedparquet.py) instead of whole
    objects — the native connector's column-pruning economics, over
    plain ``Range:`` GETs. Backends without ranged reads still fetch
    whole objects and project after decode (correct, full-bytes).

    ``predicate`` ([(column, op, value)] conjunction, op in
    ``rangedparquet.PREDICATE_OPS``) filters rows EXACTLY (SQL
    three-valued semantics: a null comparison never matches) and, on
    the ranged path, additionally skips row groups whose footer
    statistics refute it — those groups' chunk bytes are never
    fetched, the native reader's row-group predicate pruning. A
    predicate column absent from an evolved file null-fills, so no
    row of that file matches."""
    out_names = list(columns) if columns is not None else None
    if columns is not None:
        if predicate is not None:
            # the residual filter evaluates executor-side on the
            # fetched table: predicate columns ride the fetch and are
            # dropped again after filtering
            columns = columns + [
                n for n in dict.fromkeys(n for n, _, _ in predicate)
                if n not in columns]
        schema = T.StructType([schema[c] for c in columns])
    final_schema = (T.StructType([schema[c] for c in out_names])
                    if out_names is not None else schema)
    arrow_schema = _arrow_schema(schema)
    ranged = (columns is not None and hasattr(backend, "read_tail")
              and hasattr(backend, "read_range"))
    final_names = list(final_schema.names)

    def read_file(path):
        import pyarrow as pa
        import pyarrow.compute as pc

        out = read_object(backend, path, arrow_schema, ranged, predicate)
        if predicate:
            # the EXACT residual filter: statistics pruned groups, not
            # rows (and the non-ranged path never pruned at all) —
            # three-valued null semantics
            cmp_fn = {"==": pc.equal, "<=": pc.less_equal,
                      ">=": pc.greater_equal, "<": pc.less,
                      ">": pc.greater}
            mask = None
            for pname, op, val in predicate:
                c = cmp_fn[op](out.column(pname), pa.scalar(val))
                mask = c if mask is None else pc.and_kleene(mask, c)
            out = out.filter(pc.fill_null(mask, False))
        if final_names != list(out.column_names):
            out = out.select(final_names)
        yield from out.to_batches()

    return scan_files(spark, sized_files, final_schema, read_file)
