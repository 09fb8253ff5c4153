"""Keyed-table mutation sink: the upsert/delete write dispositions
(reference K5/K6/K8/K10).

The reference writes Spanner `Mutation`s with an op in {INSERT, UPDATE,
REPLACE, INSERT_OR_UPDATE} plus DELETE-by-key, under REPORT_FAILURES
(failed mutations stream out as an error collection instead of killing
the job) — templates/SpannerToSpanner.java:109-121, op dispatch at
util/converter/StructToMutationConverter.java:152-167, delete-key build
at `:112-150`.

Spark-first equivalent: a parquet-backed keyed table (the local
stand-in for a Spanner table; a Delta/Iceberg MERGE or JDBC connector
slots into the same seam) with join-based conflict detection *before*
the write — that is how per-row failure isolation works without a
transactional store:

* INSERT          — key already present  -> quarantined (AlreadyExists)
* UPDATE          — key absent           -> quarantined (NotFound)
* REPLACE         — delete-then-insert: unspecified target columns
                    become NULL
* INSERT_OR_UPDATE— upsert: unspecified target columns keep their
                    current value
* DELETE          — by composite key, in the user-given field order;
                    a null key field is an error -> quarantined
                    (StructToMutationConverter.java:115-117)

Duplicate keys within one batch mirror Spanner's "multiple mutations
for the same row in one commit" error: one row (deterministically the
first by batch order hash) applies, the rest quarantine.

STORAGE LAYOUT — log-structured, immutable data, hash-bucket pruned.
The table directory holds a commit log of tiny JSON objects plus
per-commit immutable data directories::

    table/
      _log/00000000000000000001.json        # commit objects (the log)
      _log/00000000000000000010.ckpt.json   # folded state, every 10th
      data/v00002-3fa9c1d2/kb=0/part.parquet     # commit 2's object
      data/v00005-77be01aa/kb=7/part-*.parquet   # commit 5's files (local)

Each commit object records {version, time, buckets touched, data dir,
buckets with data, full table config}, and on an object store the
``sizes`` {bucket: bytes} of its objects, each named by its bucket
alone: the log is the manifest (Delta's), so reads and commits list
``_log`` once and never list data. Data directories are IMMUTABLE:
a commit stages its rewritten buckets into a fresh uniquely-named
directory and the log entry — never a rename — is what publishes it.
Bucket ``k``'s current files live in the data dir of the LAST commit
that touched ``k``; resolving any snapshot is a pure fold over commit
metadata (accelerated by the periodic checkpoint objects, exactly
Delta's ``_last_checkpoint`` economics), and ``read_at`` timestamp
bounds stay honest for free because superseded files are never moved
or deleted until ``vacuum`` reclaims versions below the retention
floor recorded in the log.

A key's bucket is a pure function of its value
(``pmod(xxhash64(keys), n_buckets)``), so a mutation batch can only
ever touch the buckets its keys hash into: conflict detection reads
ONLY those buckets' current files (path-level pruning — untouched
buckets are not even listed), and the commit rewrites ONLY those
buckets. A 1-row upsert into a 100 TB table therefore costs
O(table / n_buckets), not O(table) — the same economics as the
reference's batched Spanner mutations (SpannerToSpanner.java:109-114
never rewrites the table) and as a Delta/Iceberg MERGE.

CONCURRENCY — optimistic, lock-free, object-store ready. Committing
version N+1 means atomically creating the log object
``_log/{N+1}.json`` with a *conditional put* (create-if-absent):
exactly one writer can win each version, so the put IS the
compare-and-swap — there is no lock, no lock to orphan, and no window
between "check" and "publish". Versions are dense, so a writer whose
reads are based on version N either wins N+1 or finds it taken and
fails cleanly with :class:`ConcurrentWriteError` (its staged directory
is private and is deleted; no interleaved state is possible). Readers
get snapshot isolation for free: the files a version references are
immutable, so a commit landing mid-scan changes nothing under a
running query. The conditional put comes from ``fsio.create_exclusive``
— OS ``O_EXCL`` on local/HDFS-like paths, and the store's public
conditional-write API on object stores (S3 ``If-None-Match: *`` / GCS
``if-generation-match: 0``) via ``fsio.register_object_backend``; an
unregistered scheme fails fast BEFORE any Spark work, never silently.
This is the same protocol a Delta commit log runs (the reference
delegates the equivalent guarantee to Spanner's transactions,
SpannerToSpanner.java:109-114). Table CREATION is first-writer-wins on
commit object 1 (create() is an idempotent IF NOT EXISTS); config
changes (rebucket / optimize / schema evolution / vacuum retention)
ride the SAME commit object as the version bump, so a config change
and its version advance are one atomic publish — a concurrent writer
staged against the old layout simply loses the CAS.
"""

from __future__ import annotations

import json
import posixpath
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflowtemplates_spark.operators import fsio
from dataflowtemplates_spark.operators.objstore_plane import empty_frame

VALID_OPS = ("INSERT", "UPDATE", "REPLACE", "INSERT_OR_UPDATE", "DELETE")

_ERR_COL = "_error"
_BUCKET_COL = "kb"  # no underscore: Spark's file index hides _-prefixed dirs
#: fold checkpoint cadence: every K-th commit also writes a
#: .ckpt.json with the fully folded bucket->dir map, so opening a
#: long-lived table reads O(K) log objects, not O(commits) — Delta's
#: checkpoint economics.
_CKPT_EVERY = 10


class ConcurrentWriteError(RuntimeError):
    """A second writer raced this commit: the commit log advanced past
    the version this mutation was computed against (the conditional
    put on the next version's log object found it already taken —
    lost-update prevention). The mutation did NOT apply; retry against
    the new table state."""


@dataclass
class MutationResult:
    """Applied row count + quarantine stream (reference K8/K10).
    ``replayed`` marks a transactional no-op: the batch's
    (txn_app, txn_version) was already recorded by an earlier commit,
    so nothing ran and nothing changed."""
    applied: int
    quarantine: DataFrame
    replayed: bool = False

    @property
    def failed(self) -> int:
        return self.quarantine.count()


@dataclass(frozen=True)
class _Log:
    """One listing of ``_log``: its entry and checkpoint versions,
    sorted. Each public call lists once and hands this down."""
    versions: tuple[int, ...] = ()
    ckpts: tuple[int, ...] = ()

    @property
    def latest(self) -> int:
        return self.versions[-1] if self.versions else 0


def _parse_log(names) -> _Log:
    """The one parser of ``_log`` object names: ``{v:020d}.json`` is a
    commit entry and ``{v:020d}.ckpt.json`` a checkpoint."""
    versions, ckpts = [], []
    for n in names:
        stem, _, kind = n.partition(".")
        if stem.isdigit() and kind in ("json", "ckpt.json"):
            (versions if kind == "json" else ckpts).append(int(stem))
    return _Log(tuple(sorted(versions)), tuple(sorted(ckpts)))


@dataclass
class _Front:
    """What ``KeyedTable._front`` hands a mutation op: the storable
    batch, the log listing its reads are pinned to (whose latest
    version is the base version), that version's bucket count, and
    the txn watermark update its commit publishes."""
    batch: DataFrame
    log: _Log
    n_buckets: int
    txn_update: dict | None

    @property
    def base_version(self) -> int:
        return self.log.latest


def _validate_cluster_spec(cluster_by, cluster_mode: str):
    """Shared ctor/optimize validation -> cluster meta dict or None."""
    if cluster_by is None:
        return None
    if cluster_mode not in ("linear", "zorder"):
        raise ValueError(
            f"cluster_mode must be linear|zorder, got {cluster_mode}")
    if cluster_mode == "zorder" and len(cluster_by) != 2:
        raise ValueError("zorder clustering interleaves exactly 2 columns")
    if not cluster_by:
        raise ValueError("cluster_by must be non-empty when given")
    return {"by": list(cluster_by), "mode": cluster_mode}


def _validate_cluster_columns(cluster: dict, schema: T.StructType) -> None:
    """Cluster columns must exist; zorder needs integer-castable ones."""
    have = {f.name for f in schema.fields}
    missing = [c for c in cluster["by"] if c not in have]
    if missing:
        raise ValueError(
            f"cluster_by columns not in table schema: {missing}")
    if cluster["mode"] == "zorder":
        numeric = (T.ByteType, T.ShortType, T.IntegerType,
                   T.LongType, T.DateType, T.TimestampType,
                   T.TimestampNTZType)
        bad = [f.name for f in schema.fields
               if f.name in cluster["by"]
               and not isinstance(f.dataType, numeric)]
        if bad:
            raise ValueError(
                "zorder clustering needs integer-castable "
                f"columns; got non-numeric: {bad}")


def _zorder_bigint_expr(schema: T.StructType, col: str) -> str:
    """SQL expression reducing a zorder cluster column to BIGINT.

    DATE is whitelisted by `_validate_cluster_columns` but Spark
    rejects a direct DATE->BIGINT cast (DATATYPE_MISMATCH), so dates
    lower to epoch days via datediff — order-preserving, which is all
    the Morton normalization needs. TIMESTAMP casts to epoch seconds
    natively; integral types cast directly."""
    dt = {f.name: f.dataType for f in schema.fields}.get(col)
    if isinstance(dt, T.DateType):
        return f"datediff({col}, DATE '1970-01-01')"
    return f"cast({col} as bigint)"


class KeyedTable:
    """Hash-bucketed, log-structured parquet keyed table (the local
    Spanner stand-in; see module docstring for the commit protocol).

    ``n_buckets`` sizes the rewrite granularity: a mutation commit
    rewrites only the buckets its keys hash into, so at scale pick
    n_buckets ~ table_bytes / desired_rewrite_bytes (thousands for a
    100 TB table). The value is fixed at table creation, recorded in
    every commit object, and changed only by ``rebucket``; readers
    always use the logged value.
    """

    def __init__(self, spark: SparkSession, path: str,
                 key_fields: list[str], n_buckets: int = 16,
                 schema_evolution: bool = False,
                 cluster_by: list[str] | None = None,
                 cluster_mode: str = "linear",
                 plane_flush_rows: int | None = None):
        if not key_fields:
            raise ValueError("key_fields must be non-empty")
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        if plane_flush_rows is not None and int(plane_flush_rows) < 1:
            raise ValueError("plane_flush_rows must be >= 1")
        _validate_cluster_spec(cluster_by, cluster_mode)
        self.spark = spark
        self.path = path
        self.keys = list(key_fields)
        self._default_n_buckets = int(n_buckets)
        #: Within-bucket file clustering, fixed at creation like
        #: n_buckets and recorded in every commit object: staged files
        #: come out sorted by the cluster key ("linear": the columns in
        #: order; "zorder": the Morton interleave of two numeric
        #: columns, min/max-normalized per rewritten slice — Delta
        #: OPTIMIZE ZORDER economics). Readers then skip files /
        #: row groups on the clustered columns via parquet min-max
        #: stats; q171 measures what that buys.
        self._default_cluster = (
            {"by": list(cluster_by), "mode": cluster_mode}
            if cluster_by else None)
        #: Delta mergeSchema-style opt-in: with it on, storable batch
        #: columns the table lacks EXTEND the stored schema (existing
        #: rows read NULL for them — parquet's missing-column
        #: semantics); with it off (default) they are dropped at the
        #: boundary, mirroring the STRUCT/nested-array skip.
        self.schema_evolution = bool(schema_evolution)
        #: Rows per parquet row group of THIS handle's writes through
        #: the object-store data plane (pyarrow's default when None):
        #: smaller groups give the plane's statistics pruning finer
        #: units to refute. A write-side option (like a parquet block
        #: size), not table config: readers never consult it. Object
        #: sizes follow n_buckets: one object per bucket per task.
        self._plane_flush_rows = (None if plane_flush_rows is None
                                  else int(plane_flush_rows))
        #: log objects are immutable once written, so parsed entries
        #: cache forever (keyed by full path)
        self._log_cache: dict[str, dict] = {}

    def rebind(self, spark: SparkSession) -> "KeyedTable":
        """Return a handle to the same table bound to ``spark``.

        foreachBatch hands each micro-batch a SESSION CLONE
        (``batch_df.sparkSession`` is not the driver session); mixing
        a driver-session-bound handle into a micro-batch plan splices
        two sessions into one DAG. Sinks rebind inside the batch
        callable: ``table.rebind(batch_df.sparkSession)``. The rebound
        handle shares the immutable-log parse cache — log objects are
        write-once, so the cache is session-independent."""
        if spark is self.spark:
            return self
        t = KeyedTable.__new__(KeyedTable)
        t.__dict__.update(self.__dict__)
        t.spark = spark
        return t

    # -- commit log --------------------------------------------------------
    # All metadata I/O goes through pyarrow.fs / registered object-store
    # backends (operators/fsio.py); data files are written by Spark and
    # published by the log, never renamed — so the table works on any
    # filesystem whose scheme supports (or registers) an atomic
    # conditional put.
    def _log_dir(self) -> str:
        return posixpath.join(self.path, "_log")

    def _entry_path(self, version: int) -> str:
        return posixpath.join(self._log_dir(), f"{version:020d}.json")

    def _ckpt_path(self, version: int) -> str:
        return posixpath.join(self._log_dir(), f"{version:020d}.ckpt.json")

    def _log(self) -> _Log:
        # one LIST: a missing _log lists empty on an object store and
        # raises FileNotFoundError on a local path
        try:
            return _parse_log(fsio.list_dir(self._log_dir()))
        except FileNotFoundError:
            return _Log()

    def _read_log_json(self, path: str) -> dict:
        hit = self._log_cache.get(path)
        if hit is None:
            hit = json.loads(fsio.read_bytes(path))
            self._log_cache[path] = hit
        return hit

    def _latest_version(self) -> int:
        return self._log().latest

    def _commits(self, log: _Log | None = None) -> list[dict]:
        """The commit entries ``log`` (default: a fresh listing) names,
        oldest first. Entries are immutable and cache per instance."""
        log = self._log() if log is None else log
        return [self._read_log_json(self._entry_path(v))
                for v in log.versions]

    def _config_at(self, version: int) -> dict:
        """Table config (n_buckets / keys / schema / cluster /
        retention floor) as of ``version`` — read from that version's
        immutable commit object, so the result is race-free by
        construction."""
        return self._read_log_json(self._entry_path(version))["config"]

    def _meta(self, log: _Log | None = None) -> dict:
        """Current table config (``log``'s latest commit object's).
        Kept under the historical name: callers treat it as the live
        metadata record."""
        v = (self._log() if log is None else log).latest
        if v < 1:
            raise FileNotFoundError(f"table not initialized: {self.path}")
        cfg = dict(self._config_at(v))
        if cfg.get("cluster") is None:
            cfg.pop("cluster", None)
        return cfg

    def _schema(self, log: _Log | None = None) -> T.StructType:
        return T.StructType.fromJson(json.loads(self._meta(log)["schema"]))

    def _bucket_expr(self, n_buckets: int):
        # one py4j round trip (F.expr) instead of ~6 column-op calls:
        # this expression is rebuilt on every commit's annotate,
        # probe, and staging plans, so its construction cost is part
        # of the per-commit constant (guide §4)
        cols = ", ".join(f"`{k}`" for k in self.keys)
        return F.expr(
            f"CAST(pmod(xxhash64({cols}), {int(n_buckets)}) AS INT)")

    def _owners(self, version: int,
                log: _Log | None = None) -> dict[int, str | None]:
        """bucket id -> data dir name whose files hold that bucket's
        rows at ``version`` (None: bucket currently empty)."""
        return self._fold(version, log)[0]

    def _fold(self, version: int, log: _Log | None = None):
        """``(owners, sizes)`` at ``version``: ``_owners``' map, and
        bucket id -> object bytes (None: the owning entry records none).
        A pure metadata fold: start from ``log``'s latest checkpoint at
        or below ``version`` and apply the commit entries after it —
        O(_CKPT_EVERY) object reads regardless of table age."""
        log = self._log() if log is None else log
        ckpts = [c for c in log.ckpts if c <= version]
        owners: dict[int, str | None] = {}
        sizes: dict[int, int | None] = {}
        start = 0
        if ckpts:
            ck = self._read_log_json(self._ckpt_path(ckpts[-1]))
            owners = {int(b): d for b, d in ck["owners"].items()}
            sizes = {int(b): n for b, n in ck.get("sizes", {}).items()}
            start = int(ck["version"])
        for v in range(start + 1, version + 1):
            e = self._read_log_json(self._entry_path(v))
            present = set(int(b) for b in e.get("present", []))
            recorded = e.get("sizes", {})
            for b in map(int, e.get("buckets", [])):
                owners[b] = e["dir"] if b in present else None
                sizes[b] = recorded.get(str(b))
        return owners, sizes

    def _commit_entry(self, version: int, buckets: list[int],
                      dirname: str | None, present: list[int],
                      config: dict, sizes: dict[int, int] | None = None,
                      log: _Log | None = None) -> None:
        """Publish a commit: conditional-put the version's log object.
        The put failing means another writer already holds this
        version — the CAS loss, surfaced as ConcurrentWriteError.
        ``sizes`` (bucket -> object bytes) rides the entry; a
        checkpoint folds from ``log``, the base version's listing.

        Commit times are the read_at contract's key: two commits
        landing in the same microsecond would make both bounds resolve
        to the later version, so a non-advancing clock is bumped 1µs
        past the prior commit (the prior entry is immutable — reading
        it is race-free)."""
        from datetime import datetime, timedelta, timezone
        now = datetime.now(timezone.utc)
        if version > 1:
            prev = datetime.fromisoformat(
                self._read_log_json(self._entry_path(version - 1))["time"])
            if now <= prev:
                now = prev + timedelta(microseconds=1)
        entry = {
            "version": int(version),
            "time": now.isoformat(),
            "buckets": sorted(int(b) for b in buckets),
            "dir": dirname,
            "present": sorted(int(b) for b in present),
            "config": config,
        }
        if sizes:
            entry["sizes"] = {str(b): int(n)
                              for b, n in sorted(sizes.items())}
        if not fsio.create_exclusive(self._entry_path(version),
                                     json.dumps(entry).encode()):
            raise ConcurrentWriteError(
                f"commit log at {self.path} advanced to version "
                f"{version} (or beyond) while this mutation was computed "
                f"against version {version - 1}; retry")
        self._log_cache[self._entry_path(version)] = entry
        if version % _CKPT_EVERY == 0:
            # only the version's winner reaches this, so the object is
            # written once; content is a pure function of the immutable
            # log prefix
            owners, folded = self._fold(version, log)
            ck = {"version": int(version),
                  "owners": {str(b): d for b, d in owners.items()},
                  "config": config}
            folded = {str(b): n for b, n in folded.items() if n is not None}
            if folded:
                ck["sizes"] = folded
            fsio.create_exclusive(self._ckpt_path(version),
                                  json.dumps(ck).encode())

    def _require_matching_keys(self, cfg: dict) -> None:
        """A handle whose key columns disagree with the table's logged
        keys would hash batches into the WRONG buckets — conflict
        detection against pruned slices would silently miss existing
        rows. Mutations reject the handle instead (reads are
        key-agnostic and stay allowed)."""
        stored = list(cfg.get("keys") or [])
        if stored and stored != self.keys:
            raise ValueError(
                f"key mismatch: table at {self.path} was created with "
                f"keys {stored}, this handle declares {self.keys} — "
                "mutations through a mis-keyed handle would corrupt "
                "bucketing")

    def _require_conditional_put(self) -> None:
        """Fail BEFORE any Spark work runs if the table path's scheme
        cannot perform the commit CAS: local/file paths use OS O_EXCL;
        object-store schemes need a registered conditional-put backend
        (fsio.register_object_backend — S3 If-None-Match / GCS
        if-generation-match). An expensive staging job must never run
        only to discover the commit cannot be published atomically."""
        if not fsio.supports_conditional_put(self._entry_path(1)):
            raise fsio.ConditionalPutUnsupported(
                "KeyedTable commits require an atomic conditional put "
                f"for {self._log_dir()!r}: register an object-store "
                "backend for this scheme via "
                "fsio.register_object_backend (S3 If-None-Match / GCS "
                "if-generation-match), or use a log-based table format "
                "(Delta/Iceberg) whose connector provides the same CAS")

    def _base_version(self) -> int:
        """The version this mutation's reads are based on — the CAS
        token `_commit_buckets` later spends on the conditional put."""
        return self._latest_version()

    # -- read ------------------------------------------------------------
    def exists(self) -> bool:
        return self._latest_version() >= 1

    def _bucket_dirs(self) -> list[str]:
        """Bucket ids currently holding data, as ``kb=N`` names."""
        return [f"{_BUCKET_COL}={b}"
                for b, d in sorted(self._owners(
                    self._latest_version()).items())
                if d is not None]

    def read(self, columns: list[str] | None = None,
             predicate: list[tuple] | None = None) -> DataFrame:
        """Current snapshot; ``columns`` projects the scan down to the
        named columns (result order = request order). On the native
        parquet path Catalyst prunes the same projection into the scan
        from any downstream ``select``; passing it here matters on the
        object-store data plane, where the explicit list lets tasks
        fetch only the projected chunks' byte ranges
        (objstore_plane.read_parquet).

        ``predicate`` ([(column, op, value)] conjunction, op in
        ``rangedparquet.PREDICATE_OPS``) filters rows exactly. On the
        native path it becomes a Catalyst filter (pushed into the
        scan, parquet row-group statistics applied by Spark); on the
        data plane it prunes row groups via footer statistics before
        their chunk bytes are fetched, with the exact residual filter
        applied executor-side — same result either way."""
        log = self._log()
        if not log.latest:
            raise FileNotFoundError(f"table not initialized: {self.path}")
        return self._snapshot(log.latest, columns=columns,
                              predicate=predicate, log=log)

    def _read_buckets(self, buckets: list[int]) -> DataFrame:
        """Current state of the given buckets only — the path-pruned
        slice a mutation batch joins against."""
        log = self._log()
        return self._snapshot(log.latest, buckets, log=log)

    def _resolve_version(self, timestamp_bound: str,
                         log: _Log | None = None) -> int:
        """Timestamp bound -> version id (last commit at or before the
        bound), with the first-commit and vacuum-floor guards."""
        ts = _parse_bound(timestamp_bound)
        commits = self._commits(log)
        if not commits:
            raise FileNotFoundError(f"table not initialized: {self.path}")
        visible = [c for c in commits if _parse_bound(c["time"]) <= ts]
        if not visible:
            if commits[0]["version"] > 1:
                # the log was truncated below the retention floor: the
                # bound lands in the reclaimed prefix, not before the
                # table existed
                raise ValueError(
                    f"timestamp bound {timestamp_bound!r} precedes the "
                    f"oldest retained commit (version "
                    f"{commits[0]['version']}); earlier history was "
                    "vacuumed")
            raise ValueError(
                f"timestamp bound {timestamp_bound!r} precedes the "
                f"table's first commit at {commits[0]['time']}")
        version = visible[-1]["version"]
        if version < commits[-1]["version"]:
            floor = int(commits[-1]["config"].get(
                "min_retained_version", 1))
            if version < floor:
                raise ValueError(
                    f"timestamp bound {timestamp_bound!r} resolves to "
                    f"version {version}, which was vacuumed (retention "
                    f"floor: version {floor})")
        return version

    def _snapshot(self, version: int,
                  only_buckets: list[int] | None = None,
                  columns: list[str] | None = None,
                  predicate: list[tuple] | None = None,
                  log: _Log | None = None) -> DataFrame:
        """The table state at ``version``, optionally restricted to a
        bucket subset, projected to ``columns``, and/or filtered by a
        conjunctive ``predicate``, in ``log``'s latest schema.
        Resolution is commit-log metadata only (the `_fold`); the scan
        reads EXACTLY the requested buckets' current files — no data
        is scanned or listed to resolve a snapshot."""
        log = self._log() if log is None else log
        schema = self._schema(log)
        out_schema = _projection(schema, columns, predicate)
        owners, sizes = self._fold(version, log)
        only = (None if only_buckets is None
                else {int(b) for b in only_buckets})
        held = [(b, d) for b, d in sorted(owners.items())
                if d is not None and (only is None or b in only)]
        if not held:
            return empty_frame(self.spark, out_schema)
        plane = fsio.distributed_backend_for(self.path)
        if plane is not None:
            # object-store scheme without a native Hadoop connector:
            # executor-side parquet fetch through the backend of the
            # objects the log names; an explicit projection prunes to
            # ranged column-chunk GETs, and a predicate skips
            # statistics-refuted row groups
            from dataflowtemplates_spark.operators.objstore_plane import (
                read_parquet)
            return read_parquet(self.spark,
                                self._objects(dict(held), sizes), schema,
                                plane, columns=columns, predicate=predicate)
        out = self.spark.read.schema(schema).parquet(*[
            posixpath.join(self.path, "data", d, f"{_BUCKET_COL}={b}")
            for b, d in held])
        if predicate is not None:
            import operator as _op
            fns = {"==": _op.eq, "<=": _op.le, ">=": _op.ge,
                   "<": _op.lt, ">": _op.gt}
            for name, op, val in predicate:
                # Catalyst pushes these into the parquet scan, where
                # Spark's own reader applies row-group statistics
                out = out.filter(fns[op](F.col(name), F.lit(val)))
        if columns is not None:
            out = out.select(*columns)  # Catalyst prunes into the scan
        return out

    def _objects(self, owners: dict[int, str | None],
                 sizes: dict[int, int | None]) -> list[tuple[str, int]]:
        """``(object, bytes)`` of each bucket ``owners`` (a `_fold`)
        holds data for, from the log alone: no size, no read."""
        held = [(b, d) for b, d in sorted(owners.items()) if d is not None]
        for b, d in held:
            if sizes.get(b) is None:  # dirs are named v{version:05d}-...
                raise ValueError(
                    f"commit version {int(d[1:].split('-', 1)[0])} of "
                    f"{self.path} records no object size for bucket {b}")
        return [(posixpath.join(self.path, "data", d, f"{_BUCKET_COL}={b}",
                                "part.parquet"), sizes[b])
                for b, d in held]

    def read_at(self, timestamp_bound: str,
                columns: list[str] | None = None,
                predicate: list[tuple] | None = None) -> DataFrame:
        """Snapshot read at an exact-staleness timestamp bound — the
        reference's TimestampBound.ofReadTimestamp semantics
        (SpannerQueryIO.java:129-136): the state produced by the last
        commit at or before the bound, regardless of later mutations.
        ``columns`` projects and ``predicate`` filters the scan (see
        :meth:`read`).
        """
        log = self._log()
        return self._snapshot(self._resolve_version(timestamp_bound, log),
                              columns=columns, predicate=predicate,
                              log=log)

    def changes_between(self, bound_from: str, bound_to: str) -> DataFrame:
        """Change-data-feed between two timestamp bounds: every row
        inserted, deleted, or updated in ``(from, to]``, tagged with a
        ``_change_type`` column in Delta CDF's convention (``insert`` /
        ``delete`` / ``update_preimage`` / ``update_postimage``).
        Semantics are NET row differences between the two snapshots: an
        upsert that leaves a row value-identical is not a change.

        Scale shape: the commit log names the buckets touched between
        the two versions, so BOTH snapshots are read path-pruned to
        that subset — a CDC pull after a small mutation window reads
        O(changed buckets), never O(table). The diff itself is one
        full-outer key join between the two pruned slices (AQE handles
        skew); the four change classes are selects over that single
        join (Catalyst reuses the exchange across the union branches).
        """
        log = self._log()
        v0 = self._resolve_version(bound_from, log)
        v1 = self._resolve_version(bound_to, log)
        if v1 < v0:
            raise ValueError(
                f"bound_to resolves to version {v1}, before bound_from "
                f"(version {v0})")
        touched = sorted({int(b)
                          for c in self._commits(log)
                          if v0 < c["version"] <= v1
                          for b in c.get("buckets", [])})
        schema = self._schema(log)
        data_cols = [f.name for f in schema.fields]
        if not touched or v0 == v1:
            return (empty_frame(self.spark, schema)
                    .withColumn("_change_type", F.lit(None).cast("string")))
        old = self._snapshot(v0, touched, log=log)
        new = self._snapshot(v1, touched, log=log)
        o = old.select(*[F.col(c).alias(f"_o_{c}") for c in data_cols])
        n = new.select(*[F.col(c).alias(f"_n_{c}") for c in data_cols])
        cond = None
        for k in self.keys:
            p = F.col(f"_o_{k}") == F.col(f"_n_{k}")
            cond = p if cond is None else (cond & p)
        j = o.join(n, cond, "full_outer")
        ok = F.col(f"_o_{self.keys[0]}")
        nk = F.col(f"_n_{self.keys[0]}")
        non_keys = [c for c in data_cols if c not in self.keys]
        differs = F.lit(False)
        for c in non_keys:
            differs = differs | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))

        def project(frame: DataFrame, prefix: str, tag: str) -> DataFrame:
            return frame.select(
                *[F.col(f"{prefix}{c}").alias(c) for c in data_cols],
                F.lit(tag).alias("_change_type"))

        inserts = project(j.filter(ok.isNull()), "_n_", "insert")
        deletes = project(j.filter(nk.isNull()), "_o_", "delete")
        upd = j.filter(ok.isNotNull() & nk.isNotNull() & differs)
        pre = project(upd, "_o_", "update_preimage")
        post = project(upd, "_n_", "update_postimage")
        return inserts.unionByName(deletes).unionByName(pre) \
            .unionByName(post)

    def register(self, name: str,
                 timestamp_bound: str | None = None) -> None:
        """Expose the table (optionally a snapshot) to spark.sql.

        Base catalog view names are rejected: ``register_tables``
        skips re-binding a view it believes it already holds, so
        silently shadowing e.g. ``customer`` with a KeyedTable view
        would leave later queries reading the wrong table instead of
        failing loudly (catalog.py's skip-if-identical invariant)."""
        from dataflowtemplates_spark.catalog import TABLES
        if name in TABLES:
            raise ValueError(
                f"view name {name!r} collides with a base catalog "
                f"table ({', '.join(TABLES)}); register_tables "
                "assumes nothing else binds those names")
        df = self.read_at(timestamp_bound) if timestamp_bound else self.read()
        df.createOrReplaceTempView(name)

    # -- DDL -------------------------------------------------------------
    def create(self, df_schema_source: DataFrame) -> None:
        """CREATE TABLE IF NOT EXISTS from a DataFrame's schema
        (reference R12: auto-create before first write,
        SpannerTablePrepareDoFn.java:44-159). First-writer-wins on
        commit object 1; a racing creator simply finds the table
        created."""
        if self.exists():
            return
        self._require_conditional_put()
        src = df_schema_source
        skipped = self._unstorable_columns(src)
        if skipped:
            src = src.drop(*skipped)
        config = {
            "n_buckets": self._default_n_buckets,
            "keys": self.keys,
            "schema": src.schema.json(),
            "cluster": self._default_cluster,
            "min_retained_version": 1,
        }
        if self._default_cluster:
            _validate_cluster_columns(self._default_cluster, src.schema)
        fsio.mkdirs(self._log_dir())
        try:
            self._commit_entry(1, [], None, [], config)
        except ConcurrentWriteError:
            pass  # IF NOT EXISTS: the racing creator's table stands

    def _evolve_schema(self, batch: DataFrame, log: _Log) -> _Log:
        """Extend the stored schema with storable batch columns it
        lacks (schema_evolution=True). Metadata-only: no data files are
        rewritten — existing files simply read NULL for the new columns
        under the explicit read schema, exactly Delta's mergeSchema
        economics.

        The evolution is its own data-free commit, so it CASes like any
        other: two concurrent writers evolving DIFFERENT columns each
        union against the entry they read, and the loser retries
        against the winner's already-extended schema — every evolution
        is additive over the latest state, never a lost column.
        Returns the listing the caller goes on from."""
        for attempt in range(5):
            if attempt:
                log = self._log()  # a rival commit landed: re-list
            v = log.latest
            cfg = self._config_at(v)
            stored = T.StructType.fromJson(json.loads(cfg["schema"]))
            names = {f.name for f in stored.fields}
            new = [f for f in batch.schema.fields if f.name not in names]
            if not new:
                return log
            evolved = dict(cfg)
            evolved["schema"] = T.StructType(
                list(stored.fields) + new).json()
            try:
                self._commit_entry(v + 1, [], None, [], evolved, log=log)
                return _Log(log.versions + (v + 1,), log.ckpts)
            except ConcurrentWriteError:
                continue
        raise ConcurrentWriteError(
            f"schema evolution at {self.path} lost the commit CAS 5 "
            "times in a row; retry under less write contention")

    # -- mutations -------------------------------------------------------
    def apply_mutations(self, batch: DataFrame, op: str,
                        txn_app: str | None = None,
                        txn_version: int | None = None,
                        collapsed: dict | None = None) -> MutationResult:
        """Apply one mutation batch. ``txn_app``/``txn_version`` opt in
        to TRANSACTIONAL IDEMPOTENCE (Delta's txnAppId/txnVersion): the
        commit object records, per application id, the highest version
        it has applied, and a batch whose (app, version) is at or below
        the recorded watermark SKIPS — zero Spark jobs, nothing
        published, ``result.replayed`` True. Because the marker rides
        the SAME conditional-put commit object as the data, a crash
        before publish records neither (the retry re-applies) and a CAS
        win records both — which upgrades any at-least-once redelivery
        (Structured Streaming's foreachBatch contract) to exactly-once
        table state, including NON-idempotent folds like additive
        counters.

        ``collapsed`` is a CALLER CONTRACT that skips the per-commit
        annotate-and-checkpoint job for REPLACE / INSERT_OR_UPDATE: a
        dict ``{"buckets": sorted bucket ids of the batch's keys,
        "n_rows": exact batch row count, "n_buckets": the bucket
        count those ids were hashed under}`` asserting the batch
        holds EXACTLY ONE row per key and NO null key field — true by
        construction for a ``groupBy(keys)`` aggregate, whose
        Observation metrics provide the three values on the job the
        caller already runs (streaming/pipelines.versioned_upsert_fold
        is the canonical caller). Result state is identical to the
        slow path (keep == batch, quarantine empty); a stale
        ``n_buckets`` (concurrent rebucket) falls back to the full
        annotate pass, and a batch whose keys land outside
        ``buckets`` is caught by the commit-time present⊆touched
        guard. Semantics are UNCHANGED whenever the assertion holds;
        callers that cannot prove it must not pass ``collapsed``."""
        op = op.upper()
        if op not in VALID_OPS:
            raise ValueError(f"op must be one of {VALID_OPS}, got {op!r}")
        if op == "DELETE":
            return self._delete(batch, txn_app, txn_version)
        return self._write(batch, op, txn_app, txn_version,
                           collapsed=collapsed)

    def _txn_gate(self, cfg: dict, txn_app: str | None,
                  txn_version: int | None):
        """(replay?, config_update) for a transactional mutation: replay
        if the app's recorded watermark already covers this version,
        else the txn-map update the commit must publish atomically."""
        if txn_app is None:
            return False, None
        recorded = dict(cfg.get("txn") or {})
        if int(recorded.get(txn_app, -1)) >= int(txn_version):
            return True, None
        recorded[txn_app] = int(txn_version)
        return False, {"txn": recorded}

    def apply_mutations_with_retry(self, batch: DataFrame, op: str,
                                   retries: int = 5,
                                   backoff_s: float = 0.2,
                                   txn_app: str | None = None,
                                   txn_version: int | None = None
                                   ) -> MutationResult:
        """``apply_mutations`` with the optimistic-concurrency retry
        loop written out: a :class:`ConcurrentWriteError` means another
        writer won the version CAS and NOTHING of this mutation was
        published — recomputing against the new state and retrying is
        always safe (each attempt re-reads the latest version, so its
        conflict detection and merge see the winner's rows). Backoff
        doubles per attempt from ``backoff_s``; the last error is
        re-raised once ``retries`` extra attempts are exhausted.

        This is the whole client-side protocol a contended writer
        needs — the multi-writer property test drives exactly this
        loop (tests/test_commit_protocol.py)."""
        import time
        last: ConcurrentWriteError | None = None
        for attempt in range(retries + 1):
            if attempt:
                time.sleep(backoff_s * (2 ** (attempt - 1)))
            try:
                return self.apply_mutations(batch, op,
                                            txn_app=txn_app,
                                            txn_version=txn_version)
            except ConcurrentWriteError as exc:
                last = exc
        raise last

    def _unstorable_columns(self, batch: DataFrame) -> list[str]:
        """C4 boundary rule: Spanner cannot store STRUCT columns, and
        ARRAY<ARRAY>/ARRAY<STRUCT> are rejected — the reference's
        converter silently skips them when building mutations
        (StructToMutationConverter.java:59-62,89-96)."""
        out = []
        for f in batch.schema.fields:
            dt = f.dataType
            if isinstance(dt, T.StructType):
                out.append(f.name)
            elif isinstance(dt, T.ArrayType) and isinstance(
                    dt.elementType, (T.ArrayType, T.StructType)):
                out.append(f.name)
        return out

    # The commit path's front, shared by _write, apply_changes and
    # _delete: _front (driver-side checks, no Spark job), _annotate (ONE
    # checkpointed pass over the batch), then _publish (the one commit
    # call; an empty rewrite is the data-free commit).
    def _front(self, batch: DataFrame, txn_app: str | None,
               txn_version: int | None, extra: tuple = (),
               create: bool = True) -> _Front | MutationResult:
        """The prologue of every mutation op; it runs no Spark job.
        Checks the txn arguments, drops unstorable columns with a
        warning (``extra`` names control columns that are not table
        data), fails fast when the scheme cannot CAS, creates/evolves
        the table (``create``; DELETE instead requires it to exist),
        and reads the base version. That version's commit object also
        carries the config this mutation reads (n_buckets / schema /
        cluster) — ONE immutable record, so there is no
        version-vs-layout read-ordering race by construction (a
        concurrent rebucket bumps the version and this writer's CAS on
        base+1 simply fails). Returns the replay result when the txn
        gate says the batch already applied (zero jobs)."""
        if (txn_app is None) != (txn_version is None):
            raise ValueError("txn_app and txn_version go together")
        if txn_app is not None and int(txn_version) < 0:
            # the gate's watermark default is -1, so a negative version
            # would silently always-apply
            raise ValueError("txn_version must be >= 0")
        skipped = [c for c in self._unstorable_columns(batch)
                   if c not in extra]
        if skipped:
            import logging
            logging.getLogger(__name__).warning(
                "skipping non-storable mutation columns %s "
                "(STRUCT / nested ARRAY at the keyed-table boundary)",
                skipped)
            batch = batch.drop(*skipped)
        self._require_conditional_put()  # fail BEFORE any Spark job runs
        log = self._log()  # the op's one listing on an existing table
        if create:
            data = batch.drop(*extra)
            if not log.latest:
                self.create(data)
                log = self._log()
            if self.schema_evolution:
                log = self._evolve_schema(data, log)
        elif not log.latest:
            raise FileNotFoundError(f"table not initialized: {self.path}")
        cfg = self._config_at(log.latest)
        self._require_matching_keys(cfg)
        replay, txn_update = self._txn_gate(cfg, txn_app, txn_version)
        if replay:  # already applied by an earlier commit: zero jobs
            return MutationResult(0, _empty_with_error(batch),
                                  replayed=True)
        return _Front(batch, log, int(cfg["n_buckets"]), txn_update)

    def _annotate(self, f: _Front, touch, counts: dict,
                  order: list | None = None, ranked=None):
        """ONE annotate-and-checkpoint pass over the batch. Adds
        ``_bad`` (a null key field is an error, reference
        StructToMutationConverter.java:115-117) and, given ``order``,
        the per-key rank ``_rn`` under that ordering (``_mid`` is batch
        order) plus the ``ranked(window)`` columns. The annotated batch
        is checkpointed once; the buckets of the ``touch`` rows and
        ``count(when(cond))`` per ``counts`` entry ride that same job
        as Observation metrics. The checkpoint also freezes the rank:
        a window over monotonically_increasing_id is nondeterministic
        under re-evaluation, and it cuts the batch's lineage, which
        may read this table's own live files. Every quarantine and
        keep set is then a plain filter over the checkpointed rows.
        Returns (annotated frame, sorted touched buckets, metrics)."""
        from pyspark.sql import Window as W
        bad = None
        for k in self.keys:
            p = F.col(k).isNull()
            bad = p if bad is None else (bad | p)
        ann = f.batch.withColumn("_bad", bad)
        if order is not None:
            # null-key rows sit in their own window partitions and
            # never affect a real key's rank
            w = W.partitionBy(*self.keys).orderBy(*order)
            ann = (ann.withColumn("_mid", F.monotonically_increasing_id())
                   .withColumn("_rn", F.row_number().over(w)))
            if ranked is not None:
                ann = ann.withColumns(ranked(w))
            ann = ann.drop("_mid")
        return self._checkpoint(ann, f.n_buckets, touch, counts)

    def _checkpoint(self, frame: DataFrame, n_buckets: int, touch,
                    counts: dict):
        """Eager ``localCheckpoint`` of ``frame`` with the buckets of
        its ``touch`` rows and ``count(when(cond))`` per ``counts``
        entry riding the same job as one Observation. Returns
        (checkpointed frame, sorted buckets, metrics)."""
        from pyspark.sql import Observation
        obs = Observation()
        frame = frame.observe(
            obs,
            F.collect_set(F.when(touch, self._bucket_expr(n_buckets)))
            .alias("_bks"),
            *[F.count(F.when(c, F.lit(1))).alias(n)
              for n, c in counts.items()])
        frame = frame.localCheckpoint(eager=True)
        m = obs.get
        return frame, sorted(int(b) for b in m["_bks"]), m

    def _publish(self, f: _Front, new_slice: DataFrame | None,
                 rewrite: list[int]) -> None:
        """The one commit call of every mutation op. An empty
        ``rewrite`` is the data-free commit: nothing stages, and the
        txn watermark, if any, still publishes — the batch WAS
        processed, its rows just changed nothing."""
        self._commit_buckets(new_slice if rewrite else None, rewrite,
                             f.n_buckets, f.base_version,
                             config_update=f.txn_update, log=f.log)

    def _write(self, batch: DataFrame, op: str,
               txn_app: str | None = None,
               txn_version: int | None = None,
               collapsed: dict | None = None) -> MutationResult:
        """Job economics (on a 16-bucket local table, counted per op
        by job group in tests/test_mutations.py): REPLACE and
        INSERT_OR_UPDATE run the annotate pass (the touched buckets
        and kept-row count ride it, and its filters yield the
        quarantine with no further job) and the staging write — or
        the staging write alone when the caller supplies the
        ``collapsed`` contract, which provides exactly what the
        annotate pass would have computed for a batch that is already
        one-row-per-key and null-key-free. INSERT/UPDATE add ONE
        classify checkpoint: the kept rows left-joined against the
        touched slice's keys with a hit flag, the applied
        count and the rewrite buckets riding it as Observation
        metrics. Applies and conflicts are filters over it (so the
        conflicts are materialized before publish), and the staging
        write rewrites ONLY the buckets an applying row hashes into —
        a bucket whose batch rows all quarantined is never rewritten,
        and an all-conflict batch commits as a data-free log entry
        with no staging write at all."""
        f = self._front(batch, txn_app, txn_version)
        if isinstance(f, MutationResult):
            return f
        if (collapsed is not None
                and op in ("REPLACE", "INSERT_OR_UPDATE")
                and int(collapsed.get("n_buckets", -1)) == f.n_buckets):
            # The collapsed contract (see apply_mutations) supplies
            # exactly what the annotate job computes for a batch that
            # is one-row-per-key with no null key: every row is kept,
            # nothing quarantines, and the touched buckets + row count
            # rode the CALLER's own aggregate job — so the commit's
            # only action is the staging write. A stale n_buckets
            # (racing rebucket between the caller's probe and here)
            # fails the equality above and takes the annotate path,
            # which re-derives buckets under the current layout.
            touched = sorted(int(b) for b in collapsed["buckets"])
            applied = int(collapsed["n_rows"])
            keep = f.batch
            quarantine = _empty_with_error(f.batch)
        else:
            kept = (~F.col("_bad")) & (F.col("_rn") == 1)
            ann, touched, m = self._annotate(
                f, kept, {"n": kept}, order=[F.col("_mid")])
            applied = int(m["n"])
            keep = ann.filter(kept).drop("_bad", "_rn")
            quarantine = (ann.filter(~kept).drop("_rn")
                          .withColumn(_ERR_COL, F.when(
                              F.col("_bad"), F.lit("NULL_KEY_FIELD"))
                              .otherwise(F.lit("DUPLICATE_KEY_IN_BATCH")))
                          .drop("_bad"))
        # snapshot-isolated: the base version's files are immutable, so
        # this slice cannot shift under the merge even if a rival
        # commits mid-flight (the CAS will catch that at publish time)
        target = self._snapshot(f.base_version, touched, log=f.log)
        if op in ("INSERT", "UPDATE"):
            # ONE flag join classifies every kept row against the
            # touched slice. keep holds one row per key and the table
            # holds a key at most once (every commit merges by key),
            # so the join never duplicates a row and needs no distinct.
            # The checkpoint also materializes the conflicts before
            # publish: callers hold the quarantine past temp-table
            # teardown, so its lineage must not re-read table files a
            # later vacuum may reclaim
            hit = F.col("_hit").isNotNull()
            applies_if = ~hit if op == "INSERT" else hit
            existing = (target.select(*self.keys)
                        .withColumn("_hit", F.lit(True)))
            cls, rewrite, m = self._checkpoint(
                keep.join(existing, self.keys, "left"),
                f.n_buckets, applies_if, {"n": applies_if})
            applied = int(m["n"])
            applies = cls.filter(applies_if).drop("_hit")
            quarantine = quarantine.unionByName(
                cls.filter(~applies_if).drop("_hit")
                .withColumn(_ERR_COL, F.lit(
                    "ALREADY_EXISTS" if op == "INSERT" else "NOT_FOUND")))
            new_slice = None
            if rewrite:
                # conflict-only buckets are untouched: the new slice
                # reads only the buckets an applying row hashes into
                target = self._snapshot(f.base_version, rewrite,
                                        log=f.log)
                new_slice = (target.unionByName(_conform(applies, target))
                             if op == "INSERT" else
                             self._merge(target, applies,
                                         keep_unspecified=True))
        else:  # REPLACE / INSERT_OR_UPDATE: every kept row applies
            rewrite = touched
            new_slice = self._merge(target, keep,
                                    keep_unspecified=(op != "REPLACE"))
        self._publish(f, new_slice, rewrite)
        return MutationResult(applied=applied, quarantine=quarantine)

    def apply_changes(self, batch: DataFrame, op_col: str = "_op",
                      seq_col: str | None = None,
                      txn_app: str | None = None,
                      txn_version: int | None = None) -> MutationResult:
        """Atomic CDC apply: one batch mixing inserts, updates, and
        deletes — rows tagged by ``op_col`` with ``I``/``U`` (upsert
        image, unspecified columns keep their current value) or ``D``
        (delete by key) — lands as ONE commit. The sequential
        alternative (upsert commit + delete commit) exposes an
        intermediate version to readers and to ``changes_between``;
        here the net effect is a single version advance, which is what
        a CDC feed (Debezium envelope, Delta APPLY CHANGES INTO)
        needs.

        Per-key collapse is LAST-Wins, not first-wins like
        ``apply_mutations``: a CDC stream legitimately carries many
        events per key, so events fold instead of quarantining — the
        winner is the highest ``seq_col`` value, and ONLY the winner's
        disposition applies. ``seq_col`` is REQUIRED whenever a batch
        carries more than one valid event for any key, and equal seqs
        between two DIFFERENT events of one key are rejected: in both
        cases the only remaining tiebreak is "batch order", whose
        cross-partition meaning depends on the batch's physical
        partition layout — a repartitioned batch could pick a
        different winner, which is not a contract a CDC apply may
        offer (Delta's APPLY CHANGES requires SEQUENCE BY for the
        same reason). BYTE-IDENTICAL duplicate events (the normal
        at-least-once redelivery shape: same key, op, image, and seq)
        are exempt — any winner among identical rows produces the
        identical state, so they fold silently. The checks ride the
        same annotate-and-checkpoint pass as the winner rank, so they
        cost no extra job; detection raises ``ValueError`` BEFORE
        anything stages or commits. Quarantined: null-key rows and
        rows whose op is not I/U/D. ``applied`` counts winner upserts
        plus deletes that matched a live row.
        ``txn_app``/``txn_version`` ride exactly as in
        :meth:`apply_mutations`.

        Job economics: the shared annotate pass (winner rank +
        contender flag; the touched buckets and the upsert, delete and
        contender counts ride it as Observation metrics), one bounded
        matched-delete aggregate over the pruned slice (only when the
        batch has deletes and the count cannot ride the write), and
        the staging write. The rewrite touches only the buckets the
        winner keys hash into — O(batch + table/n_buckets × touched),
        never O(table)."""
        if op_col not in batch.columns:
            raise ValueError(f"op_col {op_col!r} not in batch columns")
        if seq_col is not None and seq_col not in batch.columns:
            raise ValueError(f"seq_col {seq_col!r} not in batch columns")
        extra = (op_col,) + ((seq_col,) if seq_col else ())
        f = self._front(batch, txn_app, txn_version, extra=extra)
        if isinstance(f, MutationResult):
            return f
        op_norm = F.upper(F.col(op_col))
        # a NULL op is an unknown op, not a row to drop: isin on NULL
        # is NULL, which every filter below would silently discard
        valid = (~F.col("_bad")) & F.coalesce(
            op_norm.isin("I", "U", "D"), F.lit(False))
        # winner rank: valid rows outrank invalid, then seq desc, then
        # batch order desc (LAST wins) — all frozen by the checkpoint
        order = ([valid.desc()]
                 + ([F.desc(seq_col)] if seq_col is not None else [])
                 + [F.desc("_mid")])
        # CONTENDER detection: a valid non-rank-1 row that could have
        # won under a different physical layout — it differs from the
        # rank-1 row's full image AND (with a seq) carries the same
        # seq as rank-1, or (without a seq) merely exists. Compared
        # against the rank-1 row via first()-over-window, not lag(),
        # so three-plus equal-seq events cannot hide a differing
        # contender behind an identical one. BYTE-IDENTICAL duplicates
        # (normal at-least-once redelivery) are exempt in both modes:
        # any winner among identical events yields the identical
        # state — struct equality is exact, no hash collisions;
        # null-safe so NULL seqs tie rather than silently pass. Map
        # columns (which survive the storability boundary) are not
        # comparable in Spark, so the image canonicalizes them to
        # key-sorted entry arrays
        row_img = F.struct(*[
            _orderable_expr(F.col(c.name), c.dataType).alias(c.name)
            for c in f.batch.schema.fields])

        def contender(w):
            tie = (valid & (F.col("_rn") >= 2)
                   & ~F.first(row_img).over(w).eqNullSafe(row_img))
            if seq_col is not None:
                tie = tie & F.first(
                    F.col(seq_col)).over(w).eqNullSafe(F.col(seq_col))
            return {"_tie": tie}

        win = valid & (F.col("_rn") == 1)
        win_up = win & op_norm.isin("I", "U")
        win_del = win & (op_norm == "D")
        ann, touched, m = self._annotate(
            f, win, {"n_up": win_up, "n_del": win_del,
                     "n_ties": F.col("_tie")},
            order=order, ranked=contender)
        if int(m["n_ties"]) > 0:
            # nothing has staged or committed yet — fail the batch
            # before a partition-layout-dependent winner can land
            n = int(m["n_ties"])
            if seq_col is None:
                raise ValueError(
                    f"{n} distinct valid change event(s) share a key "
                    "with another event in this batch: pass seq_col — "
                    "without a sequence the winner would depend on the "
                    "batch's partition layout (CDC applies need "
                    "Delta's SEQUENCE BY discipline)")
            raise ValueError(
                f"{n} distinct valid change event(s) carry a seq "
                f"EQUAL to their key's winning {seq_col!r}: the "
                "winner would depend on the batch's partition layout "
                "— make the sequence a per-key total order (binlog "
                "offset, LSN)")
        n_up, n_del = int(m["n_up"]), int(m["n_del"])
        quarantine = (ann.filter(~valid).drop("_rn", "_tie")
                      .withColumn(_ERR_COL, F.when(
                          F.col("_bad"), F.lit("NULL_KEY_FIELD"))
                          .otherwise(F.lit("UNKNOWN_CHANGE_OP")))
                      .drop("_bad"))
        upserts = ann.filter(win_up).drop("_bad", "_rn", "_tie", *extra)
        del_keys = ann.filter(win_del).select(*self.keys)
        target = (self._snapshot(f.base_version, touched, log=f.log)
                  if touched else None)
        matched_del = 0
        del_obs = None
        # a slice with no files matches no delete. Skip the join: the
        # slice plans as an empty LocalRelation, and a fused count
        # riding a plan over it failed Observation.get (toPyRow
        # AssertionError) once the optimizer folded the empty side
        if n_del and any(self._owners(f.base_version, f.log).get(b)
                         for b in touched):
            # When the batch also carries upserts the staging write is
            # guaranteed to run, so the matched-delete count RIDES it
            # as an Observation on a left-join flag instead of paying
            # its own left-semi aggregate job (the guide's §1.2
            # pass-count rule). Flag-join ≡ semi/anti pair: del_keys
            # is one row per key (winner rank), so the left join never
            # duplicates a target row, count(flag) is the semi count
            # and filter(flag IS NULL) the anti set. Fused only when
            # the merge references `target` once (the upsert image
            # covers every table column — true for whole-image CDC
            # feeds); a partial-image merge reads target twice, which
            # would double-count the metric.
            fuse = (n_up > 0 and "_kt_del" not in target.columns
                    and set(upserts.columns) >= set(target.columns))
            if fuse:
                from pyspark.sql import Observation
                flagged = target.join(
                    del_keys.withColumn("_kt_del", F.lit(True)),
                    self.keys, "left")
                del_obs = Observation()
                flagged = flagged.observe(
                    del_obs,
                    F.count(F.when(F.col("_kt_del"),
                                   F.lit(1))).alias("n"))
                target = (flagged.filter(F.col("_kt_del").isNull())
                          .drop("_kt_del"))
            else:
                # one bounded agg over the pruned slice (mirrors
                # _delete); also the delete-only path, where the
                # count must exist BEFORE the data-free decision
                matched_del = target.join(
                    del_keys, self.keys, "left_semi").count()
                target = target.join(del_keys, self.keys, "left_anti")
        # a delete-only batch whose every key missed changes nothing:
        # the data-free commit (the txn watermark still publishes)
        rewrite = touched if (n_up or matched_del) else []
        new_slice = (self._merge(target, upserts, keep_unspecified=True)
                     if n_up else target)
        self._publish(f, new_slice, rewrite)
        if del_obs is not None:
            # the staging write has run; the riding metric is final
            matched_del = int(del_obs.get["n"])
        return MutationResult(applied=n_up + matched_del,
                              quarantine=quarantine)

    def _merge(self, target: DataFrame, batch: DataFrame,
               keep_unspecified: bool) -> DataFrame:
        """Upsert batch into target. Columns present in the target but
        not in the batch: kept (INSERT_OR_UPDATE/UPDATE) or nulled
        (REPLACE = delete-then-insert, Spanner semantics)."""
        tcols = target.columns
        bcols = set(batch.columns)
        survivors = target.join(batch.select(*self.keys), self.keys, "left_anti")
        if keep_unspecified and not bcols.issuperset(tcols):
            # pull unspecified columns' current values via join on key
            current = target.select(
                *self.keys,
                *[c for c in tcols if c not in bcols])
            enriched = batch.join(current, self.keys, "left")
        else:
            enriched = batch
        return survivors.unionByName(_conform(enriched, target))

    def _delete(self, batch: DataFrame,
                txn_app: str | None = None,
                txn_version: int | None = None) -> MutationResult:
        """K6: delete by composite key, key fields in the given order
        (reference: templates/SpannerToSpannerDelete.java:78-91).

        Job economics: the shared annotate pass over the key columns
        (null-key flag; the touched buckets ride it), one bounded agg
        job over the bucket-pruned touched slice counting matched rows
        and the buckets that actually lose rows, and the staging write
        of those buckets only; untouched and miss-only buckets are
        never rewritten. Duplicate keys fold: the count and the
        survivor filter are a semi and an anti join, which a repeated
        key cannot change. The applied count deliberately does NOT
        ride the commit write's Observation — that pattern crashed
        `Observation.get` (toPyRow AssertionError) on small result
        sets, the exact shape of the reference template
        (key-columns-only batch against a few-row table)."""
        f = self._front(batch.select(*self.keys), txn_app, txn_version,
                        create=False)
        if isinstance(f, MutationResult):
            return f
        ok = ~F.col("_bad")
        ann, touched, _ = self._annotate(f, ok, {})
        quarantine = (ann.filter(F.col("_bad")).drop("_bad")
                      .withColumn(_ERR_COL, F.lit("NULL_KEY_FIELD")))
        hits = ann.filter(ok).drop("_bad")
        applied, rewrite, survivors = 0, [], None
        if touched:
            # one job: deleted-row count + the buckets that actually
            # change
            row = (self._snapshot(f.base_version, touched, log=f.log)
                   .join(hits, self.keys, "left_semi")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.collect_set(self._bucket_expr(f.n_buckets))
                        .alias("bks"))
                   .collect()[0])
            applied = int(row["n"])
            rewrite = sorted(int(b) for b in row["bks"])
        if rewrite:
            # join strategy left to AQE: hits is checkpointed with a
            # known size, so small delete batches broadcast and large
            # ones shuffle
            survivors = (self._snapshot(f.base_version, rewrite, log=f.log)
                         .join(hits, self.keys, "left_anti"))
        self._publish(f, survivors, rewrite)
        return MutationResult(applied=applied, quarantine=quarantine)

    # -- storage ---------------------------------------------------------
    def _apply_clustering(self, staged: DataFrame,
                          cluster: dict | None) -> DataFrame:
        """Sort the staged slice within each partition by the bucket
        column, then by the table's cluster key (from the commit
        config), so every committed file carries tight parquet min/max
        stats on the clustered columns — the write-time purchase of
        read-time file and row-group skipping that q171 measures. The
        bucket column always leads: both writers need each bucket as
        one contiguous run (the native ``partitionBy`` writer would
        otherwise sort by it itself; the object-store plane's sink
        stage raises on a bucket met twice).

        linear: sortWithinPartitions on the columns in order. zorder:
        min/max-normalize the two columns over THIS slice (a broadcast
        1-row aggregate — per-rewrite scaling, exactly Delta's
        OPTIMIZE ZORDER) and sort by their Morton interleave. Both are
        map-side only: no exchange is added after the bucket
        repartition, and the helper columns are projected away before
        the write (a projection preserves per-partition sort order).
        NULL cluster values sort first, deterministically."""
        if not cluster:
            return staged.sortWithinPartitions(_BUCKET_COL)
        if cluster["mode"] == "linear":
            return staged.sortWithinPartitions(
                _BUCKET_COL, *cluster["by"])
        from dataflowtemplates_spark.functions.zorder import (
            normalized_zorder_spark)
        c1, c2 = cluster["by"]
        e1 = _zorder_bigint_expr(staged.schema, c1)
        e2 = _zorder_bigint_expr(staged.schema, c2)
        bounds = staged.agg(
            F.min(F.expr(e1)).alias("__zlo1"),
            F.max(F.expr(e1)).alias("__zhi1"),
            F.min(F.expr(e2)).alias("__zlo2"),
            F.max(F.expr(e2)).alias("__zhi2"))
        z = normalized_zorder_spark(
            e1, e2, "__zlo1", "__zhi1", "__zlo2", "__zhi2")
        return (staged.crossJoin(F.broadcast(bounds))
                .withColumn("__zval", F.expr(z))
                .sortWithinPartitions(_BUCKET_COL, "__zval")
                .drop("__zlo1", "__zhi1", "__zlo2", "__zhi2", "__zval"))

    def _commit_buckets(self, new_slice: DataFrame | None,
                        touched: list[int], n_buckets: int,
                        expected_version: int,
                        config_update: dict | None = None,
                        log: _Log | None = None) -> None:
        """Commit the rewritten slice: stage the touched buckets' new
        files into a fresh immutable data directory (the expensive
        Spark job — it runs against immutable inputs and touches only
        its own private directory), then publish with ONE conditional
        put on the next version's log object. Buckets outside
        ``touched`` are not read or rewritten — their files stay
        byte-identical on disk (`tests/test_mutations.py` pins this).
        A concurrent second writer loses the CAS, deletes its private
        staging directory, and raises :class:`ConcurrentWriteError` —
        it can never interleave state or silently drop a version.

        ``config_update`` (rebucket: n_buckets; optimize: cluster;
        vacuum: retention floor) rides the same commit object, so a
        layout change and its version advance are one atomic publish.
        Without an update, ``n_buckets`` must match the base version's
        config — a direct caller staging against a stale layout is
        rejected before anything is published. ``log`` is the listing
        ``expected_version`` came from."""
        base_cfg = self._config_at(expected_version)
        if ("n_buckets" not in (config_update or {})
                and int(base_cfg["n_buckets"]) != n_buckets):
            raise ConcurrentWriteError(
                f"table at {self.path} was rebucketed to "
                f"{int(base_cfg['n_buckets'])} buckets while this "
                f"mutation was staged against {n_buckets}; retry")
        cfg = dict(base_cfg)
        if config_update:
            cfg.update(config_update)
        dirname = None
        present: list[int] = []
        sizes: dict[int, int] = {}
        if touched:
            dirname = f"v{expected_version + 1:05d}-{uuid.uuid4().hex[:8]}"
            data_dir = posixpath.join(self.path, "data", dirname)
            try:
                staged = (new_slice
                          .withColumn(_BUCKET_COL,
                                      self._bucket_expr(n_buckets))
                          .repartition(len(touched), F.col(_BUCKET_COL)))
                staged = self._apply_clustering(staged,
                                                cfg.get("cluster"))
                if fsio.distributed_backend_for(data_dir) is not None:
                    # executor tasks stream parquet straight to the
                    # object store through the pickled backend
                    from dataflowtemplates_spark.operators import (
                        objstore_plane)
                    res = objstore_plane.write_partitioned(
                        staged, data_dir, _BUCKET_COL,
                        self._plane_flush_rows)
                    # no LIST: the result names .../kb=B/part.parquet
                    present = [int(f.rsplit("/", 2)[1].split("=", 1)[1])
                               for f in res.files]
                    sizes = {b: res.sizes[f]
                             for b, f in zip(present, res.files)}
                else:
                    (staged.write.mode("overwrite")
                     .partitionBy(_BUCKET_COL).parquet(data_dir))
                    present = [int(fn.split("=", 1)[1])
                               for fn in fsio.list_dir(data_dir)
                               if fn.startswith(f"{_BUCKET_COL}=")]
                # a bucket staged by two tasks (one object overwrote
                # the other's rows) or OUTSIDE the declared touched
                # set (invisible to the owner fold, which advances
                # owners for entry["buckets"] only) is silent row
                # loss. Unreachable through the annotate path (touched
                # is derived from the same bucket expression); this
                # guards the collapsed caller contract and any future
                # direct caller.
                if (len(set(present)) < len(present)
                        or not set(present) <= set(map(int, touched))):
                    raise RuntimeError(
                        f"staged buckets {sorted(present)} of "
                        f"{self.path} repeat a bucket or leave the "
                        f"declared touched set {sorted(touched)}: the "
                        "batch violated its collapsed/touched contract; "
                        "nothing was published")
            except Exception:
                if fsio.exists(data_dir):
                    fsio.delete_dir(data_dir)
                raise
        try:
            self._commit_entry(expected_version + 1, touched, dirname,
                               present, cfg, sizes=sizes, log=log)
        except ConcurrentWriteError:
            # CAS lost: the staged directory was never published —
            # delete it and surface the retry contract
            if dirname is not None:
                data_dir = posixpath.join(self.path, "data", dirname)
                if fsio.exists(data_dir):
                    fsio.delete_dir(data_dir)
            raise

    # -- maintenance -----------------------------------------------------
    def optimize(self, cluster_by: list[str] | None = None,
                 cluster_mode: str = "linear") -> None:
        """Delta ``OPTIMIZE [ZORDER BY]`` for this table: one O(table)
        rewrite commit that re-lays every bucket's files out under the
        given clustering (or UN-clusters with ``cluster_by=None``) and
        records the new layout in the same commit object, so every
        subsequent mutation commit keeps it. Retrofit path for tables
        created without ``cluster_by`` — the amortization argument is
        rebucket's: one table-scan rewrite buys tight parquet min/max
        stats on every read thereafter.

        History stays resolvable: pre-optimize ``read_at`` bounds keep
        resolving to the pre-optimize data directories (immutable, so
        bit-exact), and a pure layout change contributes no
        ``changes_between`` rows (values are untouched)."""
        new_cluster = _validate_cluster_spec(cluster_by, cluster_mode)
        log = self._log()
        if new_cluster:
            _validate_cluster_columns(new_cluster, self._schema(log))
        self._require_conditional_put()  # fail BEFORE the O(table) rewrite
        n_buckets = int(self._config_at(log.latest)["n_buckets"])
        touched = sorted(range(n_buckets))
        self._commit_buckets(self._snapshot(log.latest, log=log), touched,
                             n_buckets, log.latest,
                             config_update={"cluster": new_cluster},
                             log=log)

    def rebucket(self, n_buckets_new: int) -> None:
        """Change the hash-bucket layout — the grow path for a table
        that has outgrown its creation-time ``n_buckets`` (rewrite
        granularity sizing: n_buckets ~ table_bytes /
        desired_rewrite_bytes, so a growing table periodically doubles
        it). One O(table) rewrite commit — inherent for a layout
        change and amortized over every subsequent O(table/n_buckets)
        mutation.

        Snapshot history stays resolvable across the boundary because
        the rebucket commit records the UNION of old and new bucket
        ids: every old id's owner advances to the rebucket commit
        (whose directory simply has no files for old-only ids — a
        shrink's dropped ids read as empty post-boundary), while
        pre-boundary ``read_at`` bounds keep resolving to the old
        commits' immutable directories. ``changes_between`` across the
        boundary diffs VALUES, so a pure layout change contributes no
        change rows (pinned in test_mutations.py).

        The bucket-count change rides the SAME commit object as the
        version advance — one atomic publish, so no writer can ever
        observe the new layout without also observing the new version
        (the race class the old meta-file design had to order reads
        around is unrepresentable here)."""
        if n_buckets_new < 1:
            raise ValueError("n_buckets must be >= 1")
        self._require_conditional_put()  # fail BEFORE the O(table) rewrite
        log = self._log()
        old_n = int(self._config_at(log.latest)["n_buckets"])
        if n_buckets_new == old_n:
            return
        touched = sorted(set(range(old_n)) | set(range(n_buckets_new)))
        self._commit_buckets(
            self._snapshot(log.latest, log=log), touched, n_buckets_new,
            log.latest, config_update={"n_buckets": int(n_buckets_new)},
            log=log)

    def vacuum(self, keep_last: int = 1,
               truncate_log: bool = False) -> int:
        """Reclaim data directories unreachable from the last
        ``keep_last`` versions (the current version always counts as
        one of them), mirroring Delta's VACUUM retention contract:
        ``read_at`` bounds resolving to a retained version keep working
        bit-exactly; earlier bounds raise with the recorded retention
        floor instead of silently reading a half-present snapshot.
        Returns the number of data directories removed.

        ``truncate_log=True`` additionally reclaims commit OBJECTS the
        retention floor has made unreadable — the other unbounded-
        growth axis at 100 TB (a log of tiny JSONs is still O(commits)
        to list; Delta's log cleanup after checkpointing is the same
        move). Entries at or below the newest checkpoint that does not
        exceed the floor are deleted (the checkpoint object itself is
        kept — it IS those entries' fold, so every retained version
        still resolves identically); without a qualifying checkpoint
        nothing is truncated. Bounds landing below the truncated
        prefix keep raising the retention-floor error.

        Protocol: vacuum first publishes the new retention floor as a
        data-free commit (the same CAS as any commit — a concurrent
        writer makes it fail cleanly rather than base deletion
        decisions on a moving log), THEN deletes directories whose
        every data-holding bucket was re-touched by the floor version.
        A directory referenced by any retained snapshot is therefore
        never deleted; a reader that resolved a now-vacuumed version
        before the floor moved may still lose files mid-scan — the
        documented Delta VACUUM caveat. Directories orphaned by a
        crashed writer between staging and publish are NOT reclaimed
        here (they are unreferenced and invisible) — that is
        :meth:`reclaim_orphans`' job."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        log = self._log()
        if not log.latest:
            raise FileNotFoundError(f"table not initialized: {self.path}")
        self._require_conditional_put()
        latest = log.latest
        cfg = self._config_at(latest)
        floor = max(int(cfg.get("min_retained_version", 1)),
                    latest - keep_last + 1)
        self._commit_buckets(
            None, [], int(cfg["n_buckets"]), latest,
            config_update={"min_retained_version": int(floor)}, log=log)
        # deletion decisions read the log prefix <= floor, which the
        # published floor has frozen semantically: entries are immutable
        # and the floor only rises (the CAS proved ``log`` complete)
        entries = self._commits(log)
        touches: dict[int, list[int]] = {}
        for e in entries:
            for b in e.get("buckets", []):
                touches.setdefault(int(b), []).append(e["version"])
        removed = 0
        for e in entries:
            if e.get("dir") is None or e["version"] >= floor:
                continue
            holders = [int(b) for b in e.get("present", [])]
            dead = all(
                any(e["version"] < v <= floor
                    for v in touches.get(b, []))
                for b in holders)
            if dead:
                d = posixpath.join(self.path, "data", e["dir"])
                if fsio.is_dir(d):
                    fsio.delete_dir(d)
                    removed += 1
        if truncate_log:
            # entries <= the newest checkpoint at-or-below the floor
            # are unreadable (below the floor) AND redundant (the
            # checkpoint is their fold) — safe to delete. Every
            # retained version v >= floor still folds from that
            # checkpoint plus the retained entries (ck, v].
            cks = [c for c in log.ckpts if c <= floor]
            if cks:
                ck = cks[-1]
                for e in entries:
                    if e["version"] <= ck:
                        p = self._entry_path(e["version"])
                        if fsio.exists(p):
                            fsio.delete_file(p)
                        self._log_cache.pop(p, None)
                for old_ck in cks[:-1]:  # superseded by ck's fold
                    p = self._ckpt_path(old_ck)
                    if fsio.exists(p):
                        fsio.delete_file(p)
                    self._log_cache.pop(p, None)
        return removed

    def reclaim_orphans(self, grace_s: float = 86400.0) -> int:
        """Reclaim data directories no surviving log object references
        — the debris a writer CRASHED between staging and publish
        leaves behind (a CAS loser deletes its own staging dir; a dead
        process cannot). Returns the number of directories removed.

        Safety argument: every resolvable read derives its file set
        from surviving log objects (entries' ``dir`` + checkpoints'
        ``owners``), so a directory named by none of them is invisible
        to every reader at every retained version — deleting it cannot
        change any result. The one hazard is a LIVE writer whose
        staging dir has no log object YET; two defenses cover it:

        * **Scan order.** data/ is listed BEFORE the log is read, so a
          dir staged after the listing is never a candidate, and a dir
          published before the log read is referenced. The log is then
          re-read once more right before deleting, so a publish that
          landed between the first log scan and the delete also
          rescues its dir. The only dir both scans can miss is one
          staged before the listing and still unpublished at the
          re-check — i.e. a writer whose staging-to-publish span
          covers the whole reclaim run — and that is exactly what
          ``grace_s`` bounds.
        * **Grace.** A directory whose newest file was modified within
          ``grace_s`` is skipped. Size the grace above the longest
          plausible staging write (the default, one day, is Delta
          VACUUM's interval-economics answer to the same
          in-flight-writer race). ``grace_s=0`` is only safe when no
          concurrent writer can be mid-commit (tests, single-writer
          maintenance windows).

        O(data dirs + log objects) driver-side metadata work; no Spark
        job runs."""
        if not self.exists():
            raise FileNotFoundError(f"table not initialized: {self.path}")
        data_root = posixpath.join(self.path, "data")
        if not fsio.is_dir(data_root):
            return 0
        # list BEFORE reading the log: anything staged later is
        # invisible here, anything published earlier is referenced
        listed = list(fsio.list_dir(data_root))

        def _referenced() -> set[str]:
            log = self._log()
            refs = {e["dir"] for e in self._commits(log) if e.get("dir")}
            for c in log.ckpts:
                refs.update(d for d in self._read_log_json(
                    self._ckpt_path(c))["owners"].values() if d)
            return refs

        referenced = _referenced()
        import time as _time
        now = _time.time()
        candidates = []
        for name in listed:
            if name in referenced:
                continue
            d = posixpath.join(data_root, name)
            newest = fsio.newest_mtime_under(d)
            if newest is not None and (now - newest) < grace_s:
                continue  # possibly a live writer still staging
            candidates.append((name, d))
        if not candidates:
            return 0
        # re-read the log once more: a dir published between the first
        # scan and now must survive
        referenced = _referenced()
        removed = 0
        for name, d in candidates:
            if name in referenced:
                continue
            fsio.delete_dir(d)
            removed += 1
        return removed


def _contains_map(dt) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _orderable_expr(expr, dt):
    """Rewrite ``expr`` to an ORDERABLE value: MapType is not
    comparable in Spark (eqNullSafe/windows raise
    INVALID_ORDERING_TYPE), so maps become key-sorted entry arrays —
    recursively, since maps legally nest inside arrays, structs, other
    maps' values — and inside KEY types too (a struct key may carry a
    map field; Spark allows the schema, sort_array still rejects it).
    Two maps with the same entry set canonicalize to the same array
    regardless of internal order, which is exactly map equality.
    Non-map types pass through untouched."""
    if isinstance(dt, T.MapType):
        entries = F.map_entries(expr)
        if _contains_map(dt.keyType) or _contains_map(dt.valueType):
            kt, vt = dt.keyType, dt.valueType
            entries = F.transform(
                entries,
                lambda e: F.struct(
                    _orderable_expr(e["key"], kt).alias("key"),
                    _orderable_expr(e["value"], vt).alias("value")))
        return F.sort_array(entries)
    if isinstance(dt, T.ArrayType) and _contains_map(dt.elementType):
        et = dt.elementType
        return F.transform(expr, lambda x: _orderable_expr(x, et))
    if isinstance(dt, T.StructType) and _contains_map(dt):
        return F.struct(*[
            _orderable_expr(expr[f.name], f.dataType).alias(f.name)
            for f in dt.fields])
    return expr


def _projection(schema: T.StructType, columns: list[str] | None,
                predicate: list[tuple] | None) -> T.StructType:
    """The schema a read of ``columns`` (every column when None)
    returns. The one check of a read's arguments, made before anything
    is fetched: every named column must be in ``schema``, and every
    predicate op in ``rangedparquet.PREDICATE_OPS``."""
    from dataflowtemplates_spark.operators.rangedparquet import (
        PREDICATE_OPS,
    )
    known = set(schema.names)
    if columns is not None:
        bad = [c for c in columns if c not in known]
        if bad:
            raise ValueError(f"unknown columns {bad}; "
                             f"have {sorted(known)}")
    for name, op, _ in predicate or ():
        if name not in known:
            raise ValueError(f"unknown predicate column {name!r}")
        if op not in PREDICATE_OPS:
            raise ValueError(f"unsupported predicate op {op!r}; "
                             f"have {PREDICATE_OPS}")
    if columns is None:
        return schema
    return T.StructType([schema[c] for c in columns])


def _parse_bound(s: str):
    """ISO timestamp (naive treated as UTC, trailing Z accepted)."""
    from datetime import datetime, timezone
    dt = datetime.fromisoformat(s.strip().replace(" ", "T")
                                .replace("Z", "+00:00"))
    return dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)


def _conform(df: DataFrame, target: DataFrame) -> DataFrame:
    """Project df to the target's column set/order, nulling missing
    ones. Built as SQL strings — one py4j call for the whole
    projection instead of ~3 per column (per-commit constant,
    guide §4)."""
    have = set(df.columns)
    exprs = []
    for f in target.schema.fields:
        src = f"`{f.name}`" if f.name in have else "NULL"
        exprs.append(
            f"CAST({src} AS {f.dataType.simpleString()}) AS `{f.name}`")
    return df.selectExpr(*exprs)


def _empty_with_error(like: DataFrame) -> DataFrame:
    return like.limit(0).selectExpr(
        "*", f"CAST(NULL AS STRING) AS `{_ERR_COL}`")


def write_failure_count(result: MutationResult, path: str) -> int:
    """K10: failed-mutation count -> text notification file
    (reference: templates/BigQueryToSpanner.java:134-145)."""
    n = result.failed
    parent = posixpath.dirname(path)
    if parent:
        fsio.mkdirs(parent)
    fsio.write_bytes(path, str(n).encode())
    return n


def write_quarantine(result: MutationResult, path: str) -> int:
    """K8: failed mutations -> Avro files, matching the reference
    (templates/SpannerToSpanner.java:116-121), through the container
    writer in operators/avro_io.py (no spark-avro jar needed). Returns
    the row count, which rides the write pass."""
    from dataflowtemplates_spark.operators.avro_io import write_avro
    return write_avro(result.quarantine, path).row_count
