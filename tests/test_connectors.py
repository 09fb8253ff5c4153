"""Connector seam: backend resolution, option pass-through, and the
declared (never silent) fallbacks.

The real cloud jars are absent in this sandbox, so the tests prove the
seam's contract — resolve() names the backend it picked, file specs
pass options verbatim to the native datasource, SQL specs preserve
run_query semantics (splitter union, timestamp bound) — plus the jdbc
provider probe against a class that IS on every Spark classpath.
"""

import pytest

from pyspark.sql import functions as F

from dataflowtemplates_spark.catalog import register_tables
from dataflowtemplates_spark.sources.connectors import (
    SourceSpec,
    _provider_available,
    read_source,
    resolve,
)

SF = "/root/testdata/sf0.001"


def test_cloud_jars_absent_resolve_declares_fallback(spark):
    sql = SourceSpec(kind="bigquery-sql", query="SELECT 1 AS one")
    assert resolve(spark, sql)["backend"] == "sql-fallback"
    tbl = SourceSpec(kind="bigquery-table", table="nation")
    assert resolve(spark, tbl)["backend"] == "catalog-fallback"


def test_jdbc_provider_probe_positive(spark):
    # the JDBC relation provider ships with Spark itself — the probe
    # must find it, proving Class.forName detection works both ways
    assert _provider_available(spark, "jdbc")
    assert not _provider_available(spark, "bigquery")


def test_sql_fallback_runs_splitter_union_and_bound(spark):
    register_tables(spark, SF)
    spec = SourceSpec(
        kind="spanner-sql",
        query=("SELECT n_name FROM nation WHERE n_regionkey = 0\n"
               "--SPLITTER--\n"
               "SELECT n_name FROM nation WHERE n_regionkey = 1"))
    got = read_source(spark, spec)
    want = (spark.table("nation").filter(F.col("n_regionkey") < 2)
            .select("n_name"))
    assert sorted(r["n_name"] for r in got.collect()) == \
        sorted(r["n_name"] for r in want.collect())


def test_file_spec_passes_options_verbatim(spark, tmp_path):
    p = str(tmp_path / "c.csv")
    with open(p, "w") as f:
        f.write("a;b\n1;x\n2;y\n")
    spec = SourceSpec(kind="csv", path=p,
                      options={"header": "true", "sep": ";"})
    rows = read_source(spark, spec).collect()
    assert {(r["a"], r["b"]) for r in rows} == {("1", "x"), ("2", "y")}


def test_avro_spec_reads_through_the_engine_reader(spark, tmp_path):
    """``kind="avro"`` needs no spark-avro jar: it reads the container
    files through operators/avro_io.read_avro. That reader takes no
    options, so an avro spec carrying some is refused, not dropped."""
    from pyspark.sql import Row

    from dataflowtemplates_spark.operators.avro_io import write_avro

    out = str(tmp_path / "av")
    write_avro(spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v=None)]),
               out)
    got = read_source(spark, SourceSpec(kind="avro", path=out)).collect()
    assert sorted((r.id, r.v) for r in got) == [(1, "a"), (2, None)]
    with pytest.raises(ValueError, match="ignoreExtension"):
        read_source(spark, SourceSpec(kind="avro", path=out,
                                      options={"ignoreExtension": "true"}))


def test_table_fallback_reads_catalog(spark):
    register_tables(spark, SF)
    spec = SourceSpec(kind="bigquery-table", table="region")
    assert read_source(spark, spec).count() == 5


def test_spec_validation(spark):
    with pytest.raises(ValueError, match="needs a query"):
        resolve(spark, SourceSpec(kind="spanner-sql"))
    with pytest.raises(ValueError, match="needs a path"):
        resolve(spark, SourceSpec(kind="parquet"))
    with pytest.raises(ValueError, match="unknown source kind"):
        resolve(spark, SourceSpec(kind="pubsub"))


def _spark_avro_jar_present() -> bool:
    import glob
    import os

    import pyspark
    roots = [os.path.join(os.path.dirname(pyspark.__file__), "jars")]
    if os.environ.get("SPARK_HOME"):
        roots.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    extra = os.environ.get("SPARK_GRAFT_EXTRA_JARS", "")
    return (any(glob.glob(os.path.join(r, "spark-avro*.jar"))
                for r in roots)
            or "spark-avro" in extra)


def test_avro_datasource_dispatch_and_interchange(spark, tmp_path):
    """S5/K2 datasource seam, exercised in BOTH environments (never
    skipped). The dynamic columnar writer always uses the container
    writer (operators/avro_io.py). Jar present: its files must
    round-trip through the native spark-avro datasource. Jar absent:
    they are decoded under the REFERENCE Avro Java implementation Spark
    bundles (avro-1.12.1.jar), the proven yardstick from test_avro.py. Either way the contract
    'fmt="avro" produces real snappy OCF files another engine can read'
    is asserted, not assumed."""
    import glob

    from pyspark.sql import Row

    from dataflowtemplates_spark.sources.writers import write_columnar_dynamic

    df = spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")])
    out = str(tmp_path / "dyn")
    result = write_columnar_dynamic(df, out, fmt="avro")
    assert result.format == "avro" and result.row_count == 2
    files = sorted(glob.glob(out + "/*.avro"))
    assert files, "fmt=avro must produce .avro container files"

    if _spark_avro_jar_present():
        got = {(r.id, r.v)
               for r in spark.read.format("avro").load(out).collect()}
    else:
        # jar-less: decode through the bundled reference Java Avro
        av = spark._jvm.org.apache.avro
        got = set()
        for f in files:
            reader = av.file.DataFileReader(
                spark._jvm.java.io.File(f),
                av.generic.GenericDatumReader())
            assert str(reader.getMetaString("avro.codec")) == "snappy"
            while reader.hasNext():
                rec = reader.next()
                got.add((int(str(rec.get("id"))), str(rec.get("v"))))
            reader.close()
    assert got == {(1, "a"), (2, "b")}


# -- executing database connector: JDBC against the bundled Derby -----------


def _derby_url(tmp_path) -> str:
    return f"jdbc:derby:{tmp_path}/db;create=true"


def test_jdbc_write_read_roundtrip_embedded_derby(spark, tmp_path):
    """A REAL database connector executing end-to-end: Spark's JDBC
    provider against the embedded Derby engine Spark bundles
    (derby-10.16 on every classpath — no network, no service mock).
    Covers the reference's database I/O shape for real: schema-derived
    table auto-create + batched append (K4), whole-statement query
    pushdown (S4: the database executes the SQL, not Catalyst), and the
    partitioned parallel read that is SpannerQueryIO.java:139-150's
    root-partition fan-out in JDBC clothes."""
    from dataflowtemplates_spark.sources.connectors import write_jdbc

    # keep Derby's log out of the repo working tree
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", f"{tmp_path}/derby.log")
    url = _derby_url(tmp_path)
    register_tables(spark, SF)
    src = spark.table("region").select("r_regionkey", "r_name")
    n = write_jdbc(src, url, "REGION", mode="overwrite")
    assert n == 5

    # table read-back
    back = read_source(spark, SourceSpec(
        kind="jdbc-table", table="REGION", options={"url": url}))
    # Spark's JDBC writer quotes identifiers, so case round-trips
    assert {(r.r_regionkey, r.r_name) for r in back.collect()} == \
        {(r.r_regionkey, r.r_name) for r in src.collect()}

    # pushed-down SQL: the DATABASE runs the statement — Derby's
    # identifier rules apply (quoted lowercase columns), not Spark's,
    # which is itself proof the text was not parsed by Catalyst
    q = read_source(spark, SourceSpec(
        kind="jdbc-sql",
        query='SELECT "r_regionkey" FROM REGION WHERE "r_regionkey" < 2',
        options={"url": url}))
    assert sorted(r[0] for r in q.collect()) == [0, 1]

    # append disposition on an existing table (the K4 WRITE_APPEND path)
    write_jdbc(src.filter(F.col("r_regionkey") < 2), url, "REGION",
               mode="append")
    assert read_source(spark, SourceSpec(
        kind="jdbc-table", table="REGION",
        options={"url": url})).count() == 7


def test_jdbc_partitioned_read_and_filter_pushdown(spark, tmp_path):
    """Partitioned parallel read: numPartitions/partitionColumn split
    the scan into independent range queries (one DB cursor per task —
    the scale path for a 1000-executor cluster reading a big table),
    and Catalyst pushes row filters down into the JDBC scan instead of
    filtering post-transfer."""
    from dataflowtemplates_spark.sources.connectors import write_jdbc

    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", f"{tmp_path}/derby.log")
    url = _derby_url(tmp_path)
    register_tables(spark, SF)
    src = spark.table("nation").select("n_nationkey", "n_regionkey")
    write_jdbc(src, url, "NATION", mode="overwrite")

    part = read_source(spark, SourceSpec(
        kind="jdbc-table", table="NATION",
        options={"url": url, "partitionColumn": "n_nationkey",
                 "lowerBound": "0", "upperBound": "25",
                 "numPartitions": "4"}))
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 25

    filtered = part.filter(F.col("n_regionkey") == 1)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_regionkey" in plan.split(
        "PushedFilters")[1][:200], "filter must reach the JDBC scan"
    assert filtered.count() == 5


def test_jdbc_incremental_pull_watermark_semantics(spark, tmp_path):
    """read_jdbc_since: strictly-greater watermark polls return exactly
    the new rows, an unchanged watermark re-poll returns nothing
    (idempotent tail), and the predicate executes in the DATABASE
    (query option — Catalyst never sees the table)."""
    from dataflowtemplates_spark.sources.connectors import (
        read_jdbc_since, write_jdbc)

    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", f"{tmp_path}/derby.log")
    url = _derby_url(tmp_path)
    register_tables(spark, SF)
    nat = spark.table("nation").select("n_nationkey", "n_name")

    write_jdbc(nat.filter(F.col("n_nationkey") < 10), url, "NAT",
               mode="overwrite")
    first = read_jdbc_since(spark, url, "NAT", "n_nationkey", -1)
    assert first.count() == 10

    # poll again at the advanced watermark: nothing new
    hwm = first.agg(F.max("n_nationkey")).first()[0]
    assert read_jdbc_since(spark, url, "NAT", "n_nationkey",
                           hwm).count() == 0

    # load more, poll again: exactly the delta, never the old rows
    write_jdbc(nat.filter(F.col("n_nationkey") >= 10), url, "NAT",
               mode="append")
    delta = read_jdbc_since(spark, url, "NAT", "n_nationkey", hwm)
    got = sorted(r.n_nationkey for r in delta.collect())
    assert got == sorted(
        r.n_nationkey
        for r in nat.filter(F.col("n_nationkey") >= 10).collect())


def test_jdbc_incremental_pull_rejects_non_numeric_watermark(spark):
    """``since`` is interpolated into the pushed SQL statement — the
    numeric contract must be ENFORCED, not assumed, or a caller-
    supplied string becomes an injection surface."""
    import pytest

    from dataflowtemplates_spark.sources.connectors import read_jdbc_since
    for bad in ("0 OR 1=1", None, True, [1]):
        with pytest.raises(TypeError, match="watermark must be a number"):
            read_jdbc_since(spark, "jdbc:derby:memory:x", "T", "c", bad)


def test_jdbc_incremental_pull_rejects_non_identifier_names(spark):
    """``table`` and ``watermark_col`` also reach the pushed statement
    straight from CLI argv — both must be plain SQL identifiers, or a
    crafted name rides the statement as injected SQL."""
    import pytest

    from dataflowtemplates_spark.sources.connectors import read_jdbc_since
    url = "jdbc:derby:memory:x"
    for bad_table in ("T; DROP TABLE U", 'T" --', "T WHERE 1=1", "",
                      "a..b", "1T"):
        with pytest.raises(ValueError, match="identifier"):
            read_jdbc_since(spark, url, bad_table, "c", 0)
    for bad_col in ('c" > 0 OR "1"="1', "c; --", "c c", ""):
        with pytest.raises(ValueError, match="identifier"):
            read_jdbc_since(spark, url, "T", bad_col, 0)
    # schema-qualified names remain legal
    import re
    assert all(re.match(r"[A-Za-z_][A-Za-z0-9_]*$", p)
               for p in "APP.NAT".split("."))


def test_jdbc_write_retry_exactly_once_after_fault(spark, tmp_path):
    """Fault-injection for the retry/backoff write (reference parity:
    SpannerQueryIO.java:111-116 retries every RPC under a budget;
    Spanner's transaction makes that safe, so the JDBC spelling must
    supply its own idempotence): the first attempt dies mid-write
    leaving PARTIAL rows behind, the retry scrubs that batch id and
    re-appends — the database ends with exactly one copy of every row.
    """
    import os

    from pyspark.sql import functions as F

    from dataflowtemplates_spark.sources.connectors import write_jdbc_retry

    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(tmp_path / "derby.log"))
    url = f"jdbc:derby:{tmp_path}/rdb;create=true"
    flag = str(tmp_path / "fault_injected")

    @F.udf("long")
    def flaky(x):
        if not os.path.exists(flag):
            open(flag, "w").close()
            raise RuntimeError("injected transient fault")
        return x

    df = spark.range(0, 100, 1, 4).select(flaky("id").alias("id"))
    n = write_jdbc_retry(df, url, "RT", batch_id=7,
                         retries=2, backoff_s=0.01)
    assert n == 100
    assert os.path.exists(flag)  # the fault really fired
    back = (spark.read.format("jdbc")
            .option("url", url).option("dbtable", "RT").load())
    rows = back.collect()
    assert len(rows) == 100                      # no duplicates
    assert sorted(r["id"] for r in rows) == list(range(100))
    assert {r["_batch_id"] for r in rows} == {7}

    # whole-call replay with the same batch id converges, not appends
    clean = spark.range(0, 100, 1, 4).select(F.col("id"))
    assert write_jdbc_retry(clean, url, "RT", batch_id=7,
                            retries=0, backoff_s=0.01) == 100
    assert back.count() == 100
    # a different batch id is a different batch: rows add up
    assert write_jdbc_retry(clean, url, "RT", batch_id=8,
                            retries=0, backoff_s=0.01) == 100
    assert back.count() == 200


def test_jdbc_write_retry_exhausts_and_raises(spark, tmp_path):
    import pytest as _pytest

    from pyspark.sql import functions as F

    from dataflowtemplates_spark.sources.connectors import write_jdbc_retry

    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(tmp_path / "derby.log"))
    url = f"jdbc:derby:{tmp_path}/xdb;create=true"

    @F.udf("long")
    def always_boom(x):
        raise RuntimeError("permanent fault")

    df = spark.range(0, 8, 1, 2).select(always_boom("id").alias("id"))
    with _pytest.raises(Exception, match="permanent fault|Job aborted"):
        write_jdbc_retry(df, url, "RX", batch_id=1,
                         retries=1, backoff_s=0.01)
    with _pytest.raises(TypeError, match="batch_id"):
        write_jdbc_retry(spark.range(1), url, "RX", batch_id="7")
    with _pytest.raises(ValueError, match="identifier"):
        write_jdbc_retry(spark.range(1), url, "RX; DROP", batch_id=1)


def test_connector_option_contract_pinned(spark):
    """The pass-through seam's option names, pinned so `resolve()`
    cannot silently drift from the providers it targets.

    * jdbc — verified against THIS Spark build's own JDBCOptions
      constants via the JVM (the provider is on the classpath).
    * bigquery — pinned to the public spark-bigquery-connector option
      names (`table`, `query`; connector v0.36 docs — see README).
    * spanner — SQL pushdown follows the REFERENCE's own parameter
      surface (SpannerQueryIO: query + timestampBound), since the
      public Spanner Spark connector is table-read only; pinned here
      so any remap is a reviewed diff.
    """
    from dataflowtemplates_spark.sources.connectors import (
        SourceSpec, resolve)

    # -- jdbc: option keys must be the ones Spark's JDBCOptions defines
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    jopts = jvm.org.apache.spark.sql.execution.datasources.jdbc. \
        JDBCOptions
    real = {"url": jopts.JDBC_URL(), "dbtable": jopts.JDBC_TABLE_NAME(),
            "query": jopts.JDBC_QUERY_STRING()}
    assert real == {"url": "url", "dbtable": "dbtable", "query": "query"}
    r = resolve(spark, SourceSpec(kind="jdbc-table", table="T",
                                  options={"url": "jdbc:derby:memory:x",
                                           "fetchsize": "500"}))
    assert r["backend"] == "connector" and r["format"] == "jdbc"
    assert r["options"]["dbtable"] == "T"        # JDBC_TABLE_NAME
    assert r["options"]["fetchsize"] == "500"    # verbatim pass-through
    assert "query" not in r["options"]           # Spark forbids both
    r2 = resolve(spark, SourceSpec(kind="jdbc-sql", query="SELECT 1",
                                   options={"url": "jdbc:derby:memory:x"}))
    assert r2["options"]["query"] == "SELECT 1"
    assert "dbtable" not in r2["options"]

    # -- cloud kinds: payload keys pinned (fallback backends here, so
    # assert the RENDERING rule on the connector branch directly)
    from dataflowtemplates_spark.sources import connectors as C
    probe = C._provider_available

    def force(spark_, provider):
        return True
    C._provider_available = force
    try:
        bq = resolve(spark, SourceSpec(kind="bigquery-table", table="d.t",
                                       options={"parentProject": "p"}))
        assert bq["format"] == "bigquery"
        assert bq["options"] == {"parentProject": "p", "table": "d.t"}
        bqs = resolve(spark, SourceSpec(kind="bigquery-sql",
                                        query="SELECT 1"))
        assert bqs["options"]["query"] == "SELECT 1"
        sp = resolve(spark, SourceSpec(
            kind="spanner-sql", query="SELECT 1",
            timestamp_bound="2024-01-01T00:00:00Z",
            options={"instanceId": "i", "databaseId": "d"}))
        assert sp["format"] == "spanner"
        assert sp["options"] == {"instanceId": "i", "databaseId": "d",
                                 "query": "SELECT 1",
                                 "timestampBound": "2024-01-01T00:00:00Z"}
    finally:
        C._provider_available = probe
