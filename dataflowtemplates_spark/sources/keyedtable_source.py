"""KeyedTable as a PySpark Python DataSource — ``spark.read
.format("keyedtable")`` with CATALYST-INFERRED filter pushdown.

The object-store data plane's documented residual
(operators/objstore_plane.py) is that a ``filter``/``select`` written
above ``mapInArrow`` cannot reach inside the Python stage — callers
had to pass explicit ``columns=``/``predicate=`` arguments. PySpark's
DataSource API (pyspark.sql.datasource, 4.x; ``pushFilters`` added in
4.1) closes the FILTER half for real: register
:class:`KeyedTableDataSource` and an ordinary

    spark.read.format("keyedtable").options(path=...).load()
         .filter("k >= 100")

plans through Catalyst, which hands the conjunctive comparison
filters to :meth:`KeyedTableReader.pushFilters`; the reader turns
them into the ranged reader's predicate, so row groups whose footer
statistics refute the filter never have their chunk bytes fetched
(operators/rangedparquet.py). Every filter is also RETURNED to Spark
for re-application — pushdown here is purely an I/O reducer, so the
engine's exact filter semantics (nulls, NaN, collations) are Spark's
own, never a reimplementation. Column pruning has no DataSource API
hook yet; the explicit ``columns`` option projects the fetch the same
way ``KeyedTable.read(columns=...)`` does.

Read path: one :class:`InputPartition` per ~pack-target bytes of data
objects (small objects bin together so Python-worker spin-up and
per-task overhead amortize instead of repeating per tiny object — the
plane's ``_pack_files`` discipline), the snapshot's objects and their
sizes named driver-side by the commit log's fold — so the partition
list IS the pruned scan, and planning lists ``_log`` once per planner
call (``schema`` and ``reader``) and never lists data. ``read()`` runs
in the Python worker with the PICKLED backend (no fsio registry exists
there) and yields Arrow record batches conformed to the table schema
(missing-column null-fill, the engine's schema-evolution rule).

Scope: object-store-backed tables (a registered DISTRIBUTED fsio
backend — the HTTP stores). Tables on file:///HDFS already get full
Catalyst pushdown through the native parquet source via
``KeyedTable.read``.

Reference parity note: the reference reads Spanner through
``SpannerIO`` with the service planning partitioned reads
(templates/SpannerQueryIO.java:139-150); this module is the Spark-
native spelling — the source plans one partition per storage object
and the engine's own optimizer drives the pushdown.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

#: Catalyst filter classes -> the ranged reader's predicate ops
#: (rangedparquet.PREDICATE_OPS). Only flat single-column comparisons
#: against int/float/str values prune; everything else stays
#: Spark-side untouched.
_PUSH_OPS = {
    EqualTo: "==",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


class _FilePartition(InputPartition):
    def __init__(self, paths: list[str]):
        self.paths = paths

    def __repr__(self) -> str:
        return f"_FilePartition({self.paths!r})"


class KeyedTableReader(DataSourceReader):
    """One partition per ~pack-target bytes of data objects (small
    objects bin together so Python-worker and task overhead amortize;
    a tens-of-MB object still gets its own partition — the plane's
    ``_pack_files`` discipline); pushed comparison filters feed the
    ranged reader's row-group statistics pruning."""

    def __init__(self, schema, sized_files: list[tuple], backend,
                 pack_bytes: int | None = None):
        self._schema = schema
        self._sized_files = sized_files
        self._backend = backend
        self._pack_bytes = pack_bytes
        self._predicate: list[tuple] = []

    def pushFilters(self, filters):
        names = set(self._schema.names)
        for f in filters:
            op = _PUSH_OPS.get(type(f))
            if (op is not None and len(f.attribute) == 1
                    and f.attribute[0] in names
                    and isinstance(f.value, (int, float, str))
                    and not isinstance(f.value, bool)):
                self._predicate.append((f.attribute[0], op, f.value))
        # return EVERYTHING: Spark re-applies the exact semantics;
        # the pushed copies only reduce I/O (statistics refutation is
        # a superset guarantee, so double application is sound)
        return filters

    def partitions(self):
        import os as _os

        from dataflowtemplates_spark.operators.objstore_plane import (
            _PACK_TARGET_BYTES,
            _pack_files,
        )

        if not self._sized_files:
            # zero data objects: one empty partition keeps the scan
            # well-formed (read() yields nothing for it)
            return [_FilePartition([])]
        # floor at the harness's core count (the planner process has
        # no SparkContext to ask) so a small scan still fills the
        # cluster; override per read with the pack_bytes option
        floor = int(_os.environ.get("SPARK_GRAFT_CPUS", "32"))
        bins = _pack_files(self._sized_files,
                           self._pack_bytes or _PACK_TARGET_BYTES,
                           floor)
        return [_FilePartition(b) for b in bins]

    def read(self, partition):
        from dataflowtemplates_spark.operators.objstore_plane import (
            read_object,
        )
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self._schema)
        backend = self._backend
        ranged = (hasattr(backend, "read_tail")
                  and hasattr(backend, "read_range"))
        for path in partition.paths:
            yield from read_object(backend, path, arrow_schema, ranged,
                                   self._predicate or None).to_batches()


class KeyedTableDataSource(DataSource):
    """``spark.read.format("keyedtable")`` over an HTTP object
    store. Options:

    * ``path`` (required) — the table root, e.g. ``s3l://bkt/tbl``.
    * ``endpoint`` (required) — the store's http(s) URL; the source
      constructs its own backend from options (planning runs in
      Spark's separate Python planner process, so a driver-side
      registry cannot be consulted).
    * ``store`` — ``s3`` (default) or ``gcs``.
    * ``access_key``/``secret_key``/``session_token``/``region`` —
      SigV4 signing (s3); ``bearer_token`` — OAuth2 (gcs).
    * ``columns`` — comma-separated projection (fetches only those
      columns' chunk byte ranges, like ``KeyedTable.read(columns=)``).
    * ``timestamp_bound`` — snapshot-at-bound read
      (``KeyedTable.read_at`` semantics).
    * ``timeout_s`` — HTTP timeout (default 10).
    * ``pack_bytes`` — target object bytes per input partition
      (default: the plane's ``_PACK_TARGET_BYTES``).
    """

    @classmethod
    def name(cls) -> str:
        return "keyedtable"

    def _handle(self):
        # DataSource planning runs in a SEPARATE Python planner
        # process (Spark's UserDefinedPythonDataSourceRunner), so the
        # driver process's fsio registry does not exist here — the
        # backend is CONSTRUCTED from options, the way any Spark
        # source takes its endpoint/auth (spark.read.option), and
        # registered into THIS process's fsio so the KeyedTable
        # metadata walk routes through it.
        from dataflowtemplates_spark.operators import fsio
        from dataflowtemplates_spark.operators.mutations import (
            KeyedTable,
        )

        path = self.options.get("path")
        if not path:
            raise ValueError("keyedtable source requires option "
                             "'path' (the table root URI)")
        endpoint = self.options.get("endpoint")
        if not endpoint:
            raise ValueError(
                "keyedtable source requires option 'endpoint' (the "
                "object store's http(s) URL); file:// tables already "
                "get full pushdown via KeyedTable.read")
        kind = (self.options.get("store") or "s3").lower()
        if kind == "s3":
            from dataflowtemplates_spark.operators.s3http import (
                S3HttpBackend,
            )

            ak = self.options.get("access_key")
            creds = None
            if ak:
                creds = (ak, self.options.get("secret_key", ""))
                token = self.options.get("session_token")
                if token:
                    creds = creds + (token,)
            backend = S3HttpBackend(
                endpoint,
                timeout_s=float(self.options.get("timeout_s", 10.0)),
                credentials=creds,
                region=self.options.get("region", "us-east-1"))
        elif kind == "gcs":
            from dataflowtemplates_spark.operators.gcshttp import (
                GcsHttpBackend,
            )

            backend = GcsHttpBackend(
                endpoint,
                timeout_s=float(self.options.get("timeout_s", 10.0)),
                bearer_token=self.options.get("bearer_token"))
        else:
            raise ValueError(f"unknown store kind {kind!r}: "
                             "expected 's3' or 'gcs'")
        fsio.register_object_backend(path.split("://", 1)[0], backend)
        # reads are key-agnostic (mutations.py guards mutations only):
        # a metadata-only handle with a placeholder key is sound here
        t = KeyedTable(None, path, ["__read_only__"])
        return t, backend

    def schema(self):
        from dataflowtemplates_spark.operators.mutations import (
            _projection,
        )

        t, _ = self._handle()
        cols = self.options.get("columns")
        wanted = ([c.strip() for c in cols.split(",") if c.strip()]
                  if cols else None)
        return _projection(t._schema(), wanted, None)

    def reader(self, schema) -> KeyedTableReader:
        t, backend = self._handle()
        log = t._log()
        bound = self.options.get("timestamp_bound")
        version = t._resolve_version(bound, log) if bound else log.latest
        if version == 0:
            raise FileNotFoundError(
                f"table not initialized: {self.options.get('path')}")
        sized = t._objects(*t._fold(version, log))
        pack = self.options.get("pack_bytes")
        return KeyedTableReader(schema, sized, backend,
                                pack_bytes=int(pack) if pack else None)


def register(spark) -> None:
    """Register the format with a session and enable the engine's
    Python-source filter pushdown (off by default in Spark 4.1;
    runtime-settable, so this works on any session including the
    driver's plain one)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(KeyedTableDataSource)
