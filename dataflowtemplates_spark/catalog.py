"""Table catalog: register parquet/avro/csv/json paths as temp views.

Replaces the reference's runtime schema discovery (sample-1-element +
side-input broadcast, reference: templates/SpannerToBigQuery.java:84-89,
transforms/StructToAvroTransform.java:95-97): a Spark DataFrame carries
its schema statically, so registration is just `createOrReplaceTempView`
and every downstream operator reads `df.schema`.

Loading a table is memoized at two levels:

* process-wide, the raw parquet schema Spark inferred for a path
  (`_SCHEMA_MEMO`): inference is one Spark job per table, so a new
  session whose tables are unchanged builds its plans from the memoized
  schema and runs no job at all. This pays off in any process that
  builds more than one session (a driver that stops and rebuilds its
  session, ``spark.newSession()`` per caller, a test suite); a one-shot
  run with a single session infers every table once, as before;
* per session, the loaded DataFrame plan and the registered views
  (`_DF_MEMO`), so the `register_tables` call at every query's entry
  costs a few stat calls.

Both levels are invalidated by the path's stat signature (`_path_sig`).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from dataflowtemplates_spark.session import ensure_engine_confs

#: The driver-generated test tables (TESTDATA.md).
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects. Footer-only inspection (no data read)."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    probe = path
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
        if not parts:
            return []
        probe = os.path.join(path, parts[0])
    schema = pq.read_schema(probe)
    return [f.name for f in schema
            if pat.is_timestamp(f.type) and f.type.unit == "ns"]


#: Per-session memo of loaded table DataFrames, keyed by path and
#: holding (stat signature, DataFrame), plus the session's registered
#: views under "_views". A DataFrame is an immutable PLAN over a
#: snapshot of the path's file listing — pure metadata, no data or
#: results are held — so reusing it is exactly equivalent to rebuilding
#: it while skipping even the schema-memo lookup and the read's py4j
#: round trips that every `register_tables` call (each query's entry)
#: would otherwise repeat. WeakKeyDictionary drops the memo with its
#: session.
_DF_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary())

#: The SQL confs that change what parquet schema inference returns.
_INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)

#: Process-wide memo of inferred parquet schemas, keyed by (path, values
#: of `_INFER_CONFS`) and holding (stat signature, TIMESTAMP(NANOS)
#: column names, the StructType `spark.read.parquet` inferred — under
#: nanosAsLong when the table has nanos columns). Inference is a pure
#: function of the files' bytes under those confs, so any session of the
#: process may read the table with the memoized schema instead of
#: running the inference job again. A changed signature replaces the
#: entry, so a path holds one entry per conf tuple.
_SCHEMA_MEMO: dict[tuple, tuple] = {}


def _path_sig(path: str) -> tuple:
    st = os.stat(path)
    if os.path.isdir(path):
        # Every member's (name, mtime_ns, size) folds into the
        # signature: rewriting a part file IN PLACE (same name) does
        # not bump the directory's own mtime, so the dir stat alone
        # would serve a stale plan with stale file lengths. O(entries)
        # stat calls — microseconds against the 0.2-0.8s rebuild this
        # memo exists to skip.
        members = []
        for name in sorted(os.listdir(path)):
            try:
                m = os.stat(os.path.join(path, name))
                members.append((name, m.st_mtime_ns, m.st_size))
            except OSError:
                members.append((name, -1, -1))
        return (st.st_mtime_ns, tuple(members))
    return (st.st_mtime_ns, st.st_size)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one parquet table from a scale-factor directory.

    TIMESTAMP(NANOS) columns (illegal for Spark's parquet reader) are
    read as raw nanos longs and truncated to microsecond timestamps —
    the same truncation DuckDB applies natively.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        memo = _DF_MEMO.setdefault(spark, {})
    except TypeError:  # un-weakref-able session stand-in (tests)
        memo = {}
    sig = _path_sig(path)
    hit = memo.get(path)
    if hit is not None and hit[0] == sig:
        return hit[1]
    ns_cols, raw, df = raw_schema(spark, path, sig)
    if df is None:
        df = spark.read.schema(raw).parquet(path)
    for c in ns_cols:
        # nanosAsLong only applies to files WITHOUT Spark writer
        # metadata (the driver's pyarrow-written tables). Spark reads
        # its OWN nanos files as proper timestamps via the footer
        # schema — only convert when the column actually arrived long.
        if isinstance(raw[c].dataType, LongType):
            df = df.withColumn(
                c, F.expr(f"timestamp_micros(CAST({c} DIV 1000 AS LONG))"))
    memo[path] = (sig, df)
    return df


def raw_schema(spark: SparkSession, path: str, sig: tuple | None = None,
               ) -> tuple[list[str], StructType, DataFrame | None]:
    """(TIMESTAMP(NANOS) column names, raw inferred schema, inferred
    DataFrame) of a parquet table.

    The schema comes from `_SCHEMA_MEMO` when the path's signature
    still matches, with no DataFrame. Otherwise inference runs and its
    DataFrame comes back too, so the caller need not read again. A
    table with nanos columns is inferred (and must be read) under
    ``spark.sql.legacy.parquet.nanosAsLong``, which this sets on the
    session either way.
    """
    if sig is None:
        sig = _path_sig(path)
    key = (path, tuple(spark.conf.get(k) for k in _INFER_CONFS))
    hit = _SCHEMA_MEMO.get(key)
    fresh = hit is not None and hit[0] == sig
    ns_cols = hit[1] if fresh else _nanos_timestamp_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if fresh:
        return ns_cols, hit[2], None
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[key] = (sig, ns_cols, df.schema)
    return ns_cols, df.schema, df


def register_tables(spark: SparkSession, sf_dir: str,
                    tables: tuple[str, ...] = TABLES) -> SparkSession:
    """Register every table in ``sf_dir`` as a temp view named after it.

    Idempotent and cheap (no data read — parquet footer only), so query
    functions call it on entry.
    """
    if not os.path.isdir(sf_dir):
        raise FileNotFoundError(
            f"scale-factor directory does not exist: {sf_dir!r} "
            "(would silently keep previously-registered views)")
    ensure_engine_confs(spark)
    try:
        memo = _DF_MEMO.setdefault(spark, {})
    except TypeError:
        memo = {}
    views = memo.setdefault("_views", {})
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = load_table(spark, sf_dir, name)
            # Re-registering the identical plan is a no-op by
            # definition (and nothing else in the repo ever binds these
            # view names — verified), so skip the py4j round trip when
            # this session already holds exactly this registration.
            key = (path, memo.get(path, (None,))[0])
            if views.get(name) != key:
                df.createOrReplaceTempView(name)
                views[name] = key
    return spark


def register_path(spark: SparkSession, name: str, path: str,
                  fmt: str = "parquet", **options) -> DataFrame:
    """Register an arbitrary file path as a named view (any format)."""
    df = spark.read.format(fmt).options(**options).load(path)
    df.createOrReplaceTempView(name)
    return df
