"""SparkSession construction tuned for the engine.

The reference delegates physical execution to Dataflow (fusion,
autoscaling); our equivalent is Catalyst + Tungsten + AQE, configured
here. Designed for a real multi-executor cluster: the configs below are
the scale-relevant ones (AQE, skew-join handling, partition sizing,
Arrow for the few Pandas-UDF paths); `local[N]` is only the test
harness.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from dataflowtemplates_spark import cds

# UTC everywhere: the reference renders timestamps in Zulu ISO form
# (reference: util/converter/StructToJsonConverter.java:59) and the
# DuckDB oracle compares naive-UTC timestamps.
_BASE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ~128 MB scan splits: good default for both local[32] and a
    # 1000-executor cluster reading 100 TB of parquet.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.enabled": "false",
    # File-committer economics: nothing in this engine derives
    # atomicity from the Hadoop committer — the KeyedTable publishes
    # via a conditional-put log object against an immutable private
    # staging dir, and the export file sinks write their final files
    # from Python tasks without a committer (sources/writers.py) — so
    # the v1 double-rename and the _SUCCESS marker buy nothing. Algorithm v2 commits task output directly
    # (one rename per file instead of two) and skips the marker write;
    # measured ~25% off the per-write constant on local FS. On a real
    # object store you'd swap in the cloud-native committer
    # (S3A magic / GCS flush) — same reasoning, no rename at all.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs": "false",
    # file:// scheme without the ChecksumFileSystem wrapper: Hadoop's
    # default LocalFileSystem writes a .crc twin for EVERY file and
    # re-verifies it on read. Nothing in this engine consumes those
    # CRCs, and the cost lands exactly where file counts are highest —
    # the streaming state-store checkpoints (a stream-stream join
    # commits 4 stores x shuffle-partitions files per micro-batch:
    # q96's drain measured 22.6s -> 8.9s median-of-3, q90 3.3s ->
    # 1.9s, with run-to-run spread collapsing alongside; guide §6).
    # Scheme-scoped: cluster checkpoint/output locations (hdfs://,
    # s3a://, gs://) carry their own integrity layers and never touch
    # this conf — executor-local file:// scratch is the only surface.
    "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    # Spark 4.1's streaming-checkpoint checksum layer
    # (ChecksumCheckpointFileManager) writes and verifies a checksum
    # twin for EVERY checkpoint file (offsets, commits, and each state
    # store's per-partition delta — a stream-stream join commits
    # 4 stores x shuffle-partitions files per micro-batch) through a
    # 2-thread pool per file manager. Nothing in this engine consumes
    # the checksums (same posture as the RawLocalFileSystem .crc
    # decision above: integrity belongs to the storage layer), and the
    # lingering pools measurably tax later queries in a shared session
    # (q96 after q90: 12-13.7s with the layer on vs 6.4-7.1s off;
    # ~512 live "ChecksumCheckpointFileManager" threads observed after
    # one q96 drain). Results-neutral: only corruption DETECTION
    # metadata is dropped; deployments wanting the defense-in-depth
    # re-enable it per job.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
    # PySpark 4's DataFrame-API debugging wrapper (errors/utils.py
    # _with_origin) taxes EVERY decorated DataFrame call with a
    # getActiveSession + conf.get + PySparkCurrentOrigin.set/clear —
    # ~4 py4j round trips and a Python stack walk per call — purely to
    # enrich error messages with the user call site. On driver-bound
    # paths (the KeyedTable commit loops build hundreds of DataFrame
    # expressions per commit) this is a measurable constant per commit.
    # Results-neutral: only the rendered context of error messages
    # changes. The Python-side flag is cached once at first use, so it
    # must be set before any DataFrame call (builder conf here;
    # ensure_engine_confs pins it for harness-built sessions).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Python workers run the installed pyspark. The JVM puts
    # pyspark.zip (source only), the py4j zip and the Spark core jar at
    # the front of every worker's sys.path, so each daemon compiles
    # pyspark from the zip (`import pyspark.daemon` 0.73-1.09 s vs
    # 0.15-0.22 s installed, 5 cold processes each) and each task's
    # importlib.invalidate_caches() re-parses the directory of every
    # cached archive importer in pure Python (16 importers: 130-220 ms
    # per call vs 0.05 ms without). worker_daemon drops the archives
    # when the installed pyspark and py4j are their versions, else
    # keeps them and says so on stderr. Static conf (see build_session).
    # DataSource planner workers are out of reach: Spark hard-codes
    # pyspark.daemon for them.
    "spark.python.daemon.module": "dataflowtemplates_spark.worker_daemon",
}


def build_session(app_name: str = "dataflowtemplates_spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for the test harness; on a real cluster pass None with a
    spark-submit-provided master.

    The session's Python workers start from
    ``dataflowtemplates_spark.worker_daemon``, so workers must be able to
    import this package (cwd, ``PYTHONPATH`` or an installed copy), as
    the sink stages already require. The daemon module is a static conf:
    it takes effect only when this call starts the SparkContext, and a
    session built by the driver contract (``ensure_engine_confs``) keeps
    Spark's ``pyspark.daemon``.

    A caller's ``spark.driver.extraJavaOptions`` follows the engine's JVM
    flags instead of replacing them; HotSpot takes a flag's last value.

    When this call launches the driver JVM for a ``local`` master, the
    JVM starts from a dynamic class-data archive (``cds.py``) kept in
    ``${XDG_CACHE_HOME:-~/.cache}/dataflowtemplates_spark/cds/``. The
    first launch for a JDK, Spark-jar and JVM-flag combination pays
    for the dump when its JVM exits (about 12 s and a 140-180 MB file),
    and the Python process waits for it; later launches map the
    archive. It needs a Spark conf dir that is missing or holds only
    ``*.template`` files; with anything else the launch skips CDS and
    says why in one stderr line. ``SPARK_GRAFT_CDS=0`` turns it off.
    Cluster masters, a JVM that is already running and a process
    started by ``spark-submit`` are left alone. JVM log output goes to
    stderr, never stdout, in local mode.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in _BASE_CONFS.items():
        b = b.config(k, v)
    b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    confs = dict(extra_confs or {})
    caller_opts = confs.pop("spark.driver.extraJavaOptions", "")
    engine_opts = ""
    launch = cds.Launch()
    if master.startswith("local"):
        confs.setdefault("spark.driver.memory",
                         os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # A long mixed-query session generates a unique whole-stage-
        # codegen class per stage; once the JVM code cache fills,
        # HotSpot disables the JIT and hot codegen methods (notably the
        # unrolled vector-math chains in queries/similarity.py) drop to
        # the interpreter — measured 3s -> 130s+ on identical plans.
        # A generous reserve + flushing keeps the JIT alive for the
        # whole session; 512m sufficed for ~100 queries, but late
        # bench entries (the q96 stream-stream join after 50+ queries)
        # still degraded ~9x once the registry grew past that, so the
        # reserve scales with the surface. (Driver-only conf works
        # because local mode runs executors in the driver JVM; on a
        # cluster set the executor equivalent.)
        engine_opts = ("-XX:ReservedCodeCacheSize=1g "
                       f"-XX:+UseCodeCacheFlushing {cds.STDERR_LOGGING}")
        if not _jvm_running():
            launch = cds.plan({**confs, "spark.driver.extraJavaOptions":
                               f"{engine_opts} {caller_opts}"})
    # The engine's JVM flags come first and the caller's after them:
    # HotSpot takes the last value of a flag, so the caller can override
    # one without dropping the rest.
    java_opts = " ".join(
        filter(None, (engine_opts, launch.flags, caller_opts)))
    if java_opts:
        confs["spark.driver.extraJavaOptions"] = java_opts
    for k, v in confs.items():
        b = b.config(k, v)
    spark = cds.get_or_create(b, launch)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _jvm_running() -> bool:
    """True when this process already has a driver JVM: a SparkContext
    launched one, or ``spark-submit`` started this process."""
    from pyspark import SparkContext

    return (SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ)


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-built session.

    The driver harness constructs its own SparkSession; timezone and AQE
    are runtime configs, so pin them here before running queries.
    """
    for k in ("spark.sql.session.timeZone",
              "spark.sql.adaptive.enabled",
              "spark.sql.adaptive.coalescePartitions.enabled",
              "spark.sql.adaptive.skewJoin.enabled",
              "spark.python.sql.dataFrameDebugging.enabled",
              "spark.sql.streaming.checkpoint.fileChecksum.enabled"):
        try:
            spark.conf.set(k, _BASE_CONFS[k])
        except Exception:
            pass  # conf locked by the host session — proceed with its value
    # PySpark memoizes the debugging flag once at first DataFrame call
    # (errors/utils.py is_debugging_enabled); a harness-built session
    # may have populated it as True before reaching us — drop the memo
    # so the conf just set above is re-read. The attribute is private
    # to pyspark (4.x): if a future release renames it, warn loudly
    # instead of silently re-enabling the per-call wrapper tax — the
    # conf itself stays set either way, so only the stale-memo case
    # degrades.
    from pyspark.errors import utils as _pyspark_err_utils
    if not hasattr(_pyspark_err_utils, "_enable_debugging_cache"):
        import warnings
        warnings.warn(
            "pyspark.errors.utils._enable_debugging_cache is gone in "
            "this PySpark version; a session that already evaluated "
            "the DataFrame-debugging flag may keep the per-call "
            "wrapper enabled despite "
            "spark.python.sql.dataFrameDebugging.enabled=false — "
            "re-check how this PySpark caches the flag",
            RuntimeWarning, stacklevel=2)
    elif _pyspark_err_utils._enable_debugging_cache:
        _pyspark_err_utils._enable_debugging_cache = None
    # AQE confs are preferences; the timezone is a CORRECTNESS
    # precondition: the NTZ->TIMESTAMP->epoch hops (q16/q21) equal
    # DuckDB's epoch() only under UTC. A host session that locked a
    # different zone would silently shift every epoch second — fail
    # loudly instead.
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        raise RuntimeError(
            f"session timezone is {tz!r} and could not be pinned to UTC; "
            "epoch-second conversions would be shifted — run with "
            "spark.sql.session.timeZone=UTC")
    return spark
