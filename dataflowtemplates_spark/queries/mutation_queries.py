"""Mutation-family registry query: the K5/K6 write dispositions run as
an oracle-checkable pipeline.

The keyed-table mutation operators (reference
``StructToMutationConverter.java:152-167`` op dispatch,
``templates/SpannerToSpannerDelete.java:78-91`` delete-by-key, and the
REPORT_FAILURES error stream of ``SpannerToSpanner.java:109-121``) were
previously covered only by unit tests — the one §2 family with no
driver-gated row, because a mutation sink has no obvious SELECT shape.
q78 closes that: it routes deterministic conflicting batches through
``KeyedTable.apply_mutations`` and surfaces, per step, the (applied,
failed, table_rows) counts. DuckDB reproduces the same counts
relationally (INSERT conflicts = semi-join on the seeded keys, UPDATE
misses = anti-join, batch duplicates = the extra copies), so the
driver's rows+schema+hash gate verifies the mutation semantics
themselves: conflict detection, per-row failure isolation, upsert
reachability, and delete-by-key matching.

Scale note: each step is one key-join against the current table state
plus a rewrite — the same shuffle shape the operator runs at any scale
(AQE handles key skew); nothing here is local-mode-only except the
parquet-directory stand-in for the transactional store.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflowtemplates_spark.catalog import register_tables
from dataflowtemplates_spark.operators.maintenance import fingerprint
from dataflowtemplates_spark.operators.mutations import KeyedTable


def q78_mutation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-step mutation audit over ``customer`` (key ``c_custkey``):

    1. INSERT the seed half (custkey %2==0) into an empty table.
    2. INSERT custkey %3==0, with the %21==0 subset duplicated in the
       batch — expecting ALREADY_EXISTS quarantines for %6==0 keys and
       DUPLICATE_KEY_IN_BATCH for the extra copies.
    3. UPDATE custkey %5==0 (acctbal bump) — NOT_FOUND for keys the
       table doesn't hold.
    4. INSERT_OR_UPDATE custkey %7==0 — upsert, never fails.
    5. DELETE custkey %11==0 — applied counts only matched rows.

    Every count is a pure function of the key residues, which is what
    the DuckDB oracle computes set-relationally.
    """
    register_tables(spark, sf_dir)
    cust = spark.table("customer").select("c_custkey", "c_name", "c_acctbal")
    k = F.col("c_custkey")

    tmp = tempfile.mkdtemp(prefix="q78_mutation_audit_")
    try:
        tbl = KeyedTable(spark, os.path.join(tmp, "tbl"), ["c_custkey"])
        tbl.create(cust)

        steps: list[tuple[int, str, int, int, int]] = []

        def run(step: int, op: str, batch: DataFrame) -> None:
            res = tbl.apply_mutations(batch, op)
            steps.append((step, op, res.applied, res.failed,
                          tbl.read().count()))

        run(1, "INSERT", cust.filter(k % 2 == 0))
        run(2, "INSERT", cust.filter(k % 3 == 0)
            .unionByName(cust.filter(k % 21 == 0)))
        run(3, "UPDATE", cust.filter(k % 5 == 0)
            .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(100.0)))
        run(4, "INSERT_OR_UPDATE", cust.filter(k % 7 == 0))
        run(5, "DELETE", cust.filter(k % 11 == 0).select("c_custkey"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    return spark.createDataFrame(
        steps, "step long, op string, applied long, failed long, "
               "table_rows long").orderBy("step")


_Q78_ORACLE = """
WITH f AS (
  SELECT c_custkey AS k,
         c_custkey % 2 = 0 AS s2, c_custkey % 3 = 0 AS s3,
         c_custkey % 5 = 0 AS s5, c_custkey % 7 = 0 AS s7,
         c_custkey % 11 = 0 AS s11, c_custkey % 21 = 0 AS s21
  FROM customer)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS step, 'INSERT' AS op,
         CAST((SELECT COUNT(*) FROM f WHERE s2) AS BIGINT) AS applied,
         CAST(0 AS BIGINT) AS failed,
         CAST((SELECT COUNT(*) FROM f WHERE s2) AS BIGINT) AS table_rows
  UNION ALL
  SELECT 2, 'INSERT',
         (SELECT COUNT(*) FROM f WHERE s3 AND NOT s2),
         (SELECT COUNT(*) FROM f WHERE s3 AND s2)
           + (SELECT COUNT(*) FROM f WHERE s21),
         (SELECT COUNT(*) FROM f WHERE s2 OR s3)
  UNION ALL
  SELECT 3, 'UPDATE',
         (SELECT COUNT(*) FROM f WHERE s5 AND (s2 OR s3)),
         (SELECT COUNT(*) FROM f WHERE s5 AND NOT (s2 OR s3)),
         (SELECT COUNT(*) FROM f WHERE s2 OR s3)
  UNION ALL
  SELECT 4, 'INSERT_OR_UPDATE',
         (SELECT COUNT(*) FROM f WHERE s7),
         0,
         (SELECT COUNT(*) FROM f WHERE s2 OR s3 OR s7)
  UNION ALL
  SELECT 5, 'DELETE',
         (SELECT COUNT(*) FROM f WHERE s11 AND (s2 OR s3 OR s7)),
         0,
         (SELECT COUNT(*) FROM f WHERE (s2 OR s3 OR s7) AND NOT s11)
) ORDER BY step
"""


def q99_snapshot_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-bound snapshot reads (S3) through the oracle gate.

    The reference's ``TimestampBound.ofReadTimestamp`` semantics
    (``SpannerQueryIO.java:129-136``) — read the state produced by the
    last commit at or before the bound — were previously pinned only by
    unit tests. Here a keyed table takes three commits (seed INSERT,
    acctbal-bumping upsert, delete), then ``read_at`` replays EVERY
    recorded commit time and surfaces each snapshot's (row count, exact
    acctbal sum). The DuckDB oracle recomputes the three states
    set-relationally from the key residues, so the hash gate verifies
    the version history itself: no commit lost, no later mutation
    leaking into an earlier bound.

    Scale note: snapshot selection is commit-log metadata (tiny);
    reading a version is an ordinary pruned parquet scan of that
    version's directory — history depth costs storage, not query time.
    """
    register_tables(spark, sf_dir)
    cust = spark.table("customer").select("c_custkey", "c_name", "c_acctbal")
    k = F.col("c_custkey")

    tmp = tempfile.mkdtemp(prefix="q99_snapshot_audit_")
    try:
        tbl = KeyedTable(spark, os.path.join(tmp, "tbl"), ["c_custkey"])
        tbl.create(cust)
        tbl.apply_mutations(cust.filter(k % 2 == 0), "INSERT")
        tbl.apply_mutations(
            cust.filter(k % 3 == 0)
            .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(1000.0)),
            "INSERT_OR_UPDATE")
        tbl.apply_mutations(cust.filter(k % 5 == 0).select("c_custkey"),
                            "DELETE")

        # the first commit is the empty CREATE; the data commits that
        # follow are numbered 1..n here (their log version ids are an
        # internal detail — the bound TIME is the contract under test).
        # All snapshot aggregates run as ONE job: a UNION of the
        # per-version agg frames, materialized (localCheckpoint) before
        # the parquet stand-in is torn down — not a per-version collect
        # loop, which audit-query templates would then inherit.
        from functools import reduce
        per_version = [
            tbl.read_at(c["time"]).agg(
                F.lit(i).cast("long").alias("version"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                 .cast("double").alias("acctbal_sum"))
            for i, c in enumerate(tbl._commits()[1:], start=1)]
        out = reduce(DataFrame.unionByName, per_version) \
            .localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    return out.orderBy("version")


_Q99_ORACLE = """
WITH f AS (
  SELECT c_custkey AS k, c_acctbal,
         c_custkey % 2 = 0 AS s2, c_custkey % 3 = 0 AS s3,
         c_custkey % 5 = 0 AS s5
  FROM customer),
v1 AS (SELECT k, c_acctbal FROM f WHERE s2),
v2 AS (
  SELECT k, CASE WHEN s3 THEN c_acctbal + 1000.0 ELSE c_acctbal END
           AS c_acctbal
  FROM f WHERE s2 OR s3),
v3 AS (
  SELECT v2.k, v2.c_acctbal FROM v2 JOIN f ON f.k = v2.k WHERE NOT f.s5)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS version,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           AS acctbal_sum
  FROM v1
  UNION ALL
  SELECT 2, COUNT(*), CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
  FROM v2
  UNION ALL
  SELECT 3, COUNT(*), CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
  FROM v3
) ORDER BY version
"""


def q122_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History-retention audit: the vacuum contract as an oracle row.

    A keyed table takes four commits (seed INSERT + three acctbal-shift
    upserts over the %3 keys), then ``vacuum(keep_last=2)`` reclaims
    history. The query surfaces, for each RETAINED version, the
    bit-exact (row count, acctbal sum) read through ``read_at`` — plus
    the audit scalars: history versions removed, history versions kept
    on disk, and whether a vacuumed bound now refuses (it must). The
    DuckDB oracle recomputes the retained states set-relationally, so
    the hash gate verifies that vacuum deleted ONLY unreachable
    history: any over-deletion corrupts the retained snapshots' sums.

    Scale note: vacuum is pure commit-log metadata + directory deletes
    (no data scan); the retained-bound reads stay partition-pruned
    bucket reads like every snapshot (operators/mutations.py).
    """
    register_tables(spark, sf_dir)
    cust = spark.table("customer").select("c_custkey", "c_name", "c_acctbal")
    k = F.col("c_custkey")

    tmp = tempfile.mkdtemp(prefix="q122_vacuum_audit_")
    try:
        tbl = KeyedTable(spark, os.path.join(tmp, "tbl"), ["c_custkey"])
        tbl.create(cust)
        tbl.apply_mutations(cust, "INSERT")
        for step in (1, 2, 3):
            tbl.apply_mutations(
                cust.filter(k % 3 == 0)
                .withColumn("c_acctbal",
                            F.col("c_acctbal") + F.lit(float(step * 100))),
                "INSERT_OR_UPDATE")
        removed = tbl.vacuum(keep_last=2)
        # history still on disk = data dirs of SUPERSEDED commits that
        # a retained read_at bound can resolve to (the current
        # version's dir is live, not history)
        data_root = os.path.join(tbl.path, "data")
        live = [c for c in tbl._commits() if c.get("dir")][-1]["dir"]
        kept = len([d for d in os.listdir(data_root) if d != live]) \
            if os.path.isdir(data_root) else 0
        early = tbl._commits()[1]["time"]  # the seed INSERT: vacuumed
        try:
            tbl.read_at(early)
            refused = False
        except ValueError:
            refused = True

        # retained versions: the last two DATA commits (steps 2 and 3;
        # vacuum's own retention-floor entry is data-free and sits at
        # the log tail, resolving to the same snapshot as the last one)
        retained = [c for c in tbl._commits() if c.get("dir")][-2:]
        from functools import reduce
        per_version = [
            tbl.read_at(c["time"]).agg(
                F.lit(i).cast("long").alias("retained_version"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                 .cast("double").alias("acctbal_sum"),
                F.lit(removed).cast("long").alias("versions_removed"),
                F.lit(kept).cast("long").alias("versions_kept"),
                F.lit(refused).alias("early_bound_refused"))
            for i, c in enumerate(retained, start=1)]
        out = reduce(DataFrame.unionByName, per_version) \
            .localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("retained_version")


# commit history: v1 CREATE (empty), v2 INSERT all, v3/v4/v5 upserts
# shifting the %3 keys by +100 each. keep_last=2 retains v4 and v5 and
# removes history versions below v4; v4's state = base + 200 on the %3
# keys, v5's = base + 300. History dirs: v2..v4 existed (3), v2/v3
# removed (2), v4 kept (1).
_Q122_ORACLE = """
WITH f AS (
  SELECT c_custkey AS k, c_acctbal, c_custkey % 3 = 0 AS s3
  FROM customer),
v4 AS (
  SELECT CASE WHEN s3 THEN c_acctbal + 200.0 ELSE c_acctbal END AS b
  FROM f),
v5 AS (
  SELECT CASE WHEN s3 THEN c_acctbal + 300.0 ELSE c_acctbal END AS b
  FROM f)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS retained_version,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum,
         CAST(2 AS BIGINT) AS versions_removed,
         CAST(1 AS BIGINT) AS versions_kept,
         TRUE AS early_bound_refused
  FROM v4
  UNION ALL
  SELECT 2, COUNT(*), CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE),
         2, 1, TRUE
  FROM v5
) ORDER BY retained_version
"""


def q128_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed audit: ``changes_between`` two commit bounds as
    an oracle row set.

    A keyed table seeds the even-key customers, then one mutation
    window applies an upsert (%3 keys, acctbal+500 — updates where the
    key existed, inserts where it did not) and a delete (%7 keys that
    were present). ``changes_between`` over that window must emit
    exactly the net row diff in Delta CDF convention; the DuckDB
    oracle derives every change class from the key residues, so the
    hash gate verifies the diff itself — insert/delete/update split,
    preimage vs postimage values, and silence for untouched keys.

    Scale note: both snapshots read partition-pruned to the buckets
    the window's commits touched (commit-log metadata); the diff is
    one full-outer key join over those slices.
    """
    register_tables(spark, sf_dir)
    cust = spark.table("customer").select("c_custkey", "c_name", "c_acctbal")
    k = F.col("c_custkey")

    tmp = tempfile.mkdtemp(prefix="q128_cdc_")
    try:
        tbl = KeyedTable(spark, os.path.join(tmp, "tbl"), ["c_custkey"])
        tbl.apply_mutations(cust.filter(k % 2 == 0), "INSERT")
        b0 = tbl._commits()[-1]["time"]
        tbl.apply_mutations(
            cust.filter(k % 3 == 0)
            .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(500.0)),
            "INSERT_OR_UPDATE")
        tbl.apply_mutations(
            cust.filter((k % 7 == 0) & (k % 2 == 0) & ~(k % 3 == 0))
            .select("c_custkey"), "DELETE")
        b1 = tbl._commits()[-1]["time"]
        out = (tbl.changes_between(b0, b1)
               .select("c_custkey", "c_name",
                       F.col("c_acctbal").cast("double").alias("c_acctbal"),
                       "_change_type")
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("c_custkey", "_change_type")


# window (b0, b1]: upsert %3 keys at +500 (update where %2, insert
# where odd %3), then delete keys %7 that were present as of the seed
# and NOT re-upserted (%2 and not %3 — the upserted %21 keys would
# have been deleted AFTER their update, so they are excluded from the
# delete batch to keep each key in exactly one change class).
_Q128_ORACLE = """
WITH f AS (
  SELECT c_custkey AS k, c_name, c_acctbal,
         c_custkey % 2 = 0 AS s2, c_custkey % 3 = 0 AS s3,
         c_custkey % 7 = 0 AS s7
  FROM customer)
SELECT * FROM (
  SELECT k AS c_custkey, c_name, CAST(c_acctbal + 500.0 AS DOUBLE)
           AS c_acctbal, 'insert' AS _change_type
  FROM f WHERE s3 AND NOT s2
  UNION ALL
  SELECT k, c_name, CAST(c_acctbal AS DOUBLE), 'delete'
  FROM f WHERE s2 AND s7 AND NOT s3
  UNION ALL
  SELECT k, c_name, CAST(c_acctbal AS DOUBLE), 'update_preimage'
  FROM f WHERE s2 AND s3
  UNION ALL
  SELECT k, c_name, CAST(c_acctbal + 500.0 AS DOUBLE), 'update_postimage'
  FROM f WHERE s2 AND s3
) ORDER BY c_custkey, _change_type
"""


def q139_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the change feed: a per-nation
    (count, balance-sum) rollup is maintained from ``changes_between``
    DELTAS — old rollup + signed change rows — instead of rescanning
    the table, and the query itself proves the maintained rollup equals
    a full recompute of the post-window snapshot.

    This is the materialized-view economics a 100 TB keyed table
    needs: the rollup refresh touches O(changes) rows (partition-
    pruned to the buckets the window's commits wrote — the q128 scale
    note) plus the O(groups) old rollup, never the table. Each CDF
    row carries its pre/postimage, so the delta aggregation is one
    signed pass: +1/+bal for insert and update_postimage, -1/-bal for
    delete and update_preimage; updates cancel in the count and net
    in the sum by construction.

    Determinism: balances aggregate as DECIMAL(18,2) (exact, order-
    insensitive — the q90 convention) and cast to double only at the
    output edge, so incremental-vs-full equality is exact, not
    approximate; the oracle recomputes the post-window rollup from
    the same key-residue classes as q128 and asserts the match
    boolean as literal TRUE.

    Reference seam: mutation window semantics per
    ``StructToMutationConverter.java:152-167`` dispatch; the CDF and
    rollup maintenance are extensions (north-star scope).
    """
    register_tables(spark, sf_dir)
    cust = spark.table("customer").select(
        "c_custkey", "c_nationkey", "c_acctbal")
    k = F.col("c_custkey")

    tmp = tempfile.mkdtemp(prefix="q139_ivm_")
    try:
        tbl = KeyedTable(spark, os.path.join(tmp, "tbl"), ["c_custkey"])
        tbl.apply_mutations(cust.filter(k % 2 == 0), "INSERT")
        b0 = tbl._commits()[-1]["time"]
        tbl.apply_mutations(
            cust.filter(k % 3 == 0)
            .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(500.0)),
            "INSERT_OR_UPDATE")
        tbl.apply_mutations(
            cust.filter((k % 7 == 0) & (k % 2 == 0) & ~(k % 3 == 0))
            .select("c_custkey"), "DELETE")
        b1 = tbl._commits()[-1]["time"]

        def _rollup(df: DataFrame) -> DataFrame:
            return (df.groupBy("c_nationkey")
                    .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                         F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                         .alias("s")))

        old = _rollup(tbl.read_at(b0))
        sign = (F.when(F.col("_change_type")
                       .isin("insert", "update_postimage"), F.lit(1))
                .otherwise(F.lit(-1)))
        delta = (tbl.changes_between(b0, b1)
                 .select("c_nationkey",
                         sign.alias("sg"),
                         F.col("c_acctbal").cast("decimal(18,2)")
                         .alias("bal"))
                 .groupBy("c_nationkey")
                 .agg(F.sum("sg").cast("bigint").alias("dn"),
                      F.sum(F.col("sg") * F.col("bal")).alias("ds")))
        incr = (old.join(delta, "c_nationkey", "full_outer")
                .select("c_nationkey",
                        (F.coalesce(F.col("n"), F.lit(0))
                         + F.coalesce(F.col("dn"), F.lit(0)))
                        .cast("bigint").alias("n_custs"),
                        (F.coalesce(F.col("s"),
                                    F.lit(0).cast("decimal(18,2)"))
                         + F.coalesce(F.col("ds"),
                                      F.lit(0).cast("decimal(18,2)")))
                        .alias("sum_bal"))
                .filter(F.col("n_custs") > 0))
        full = (_rollup(tbl.read_at(b1))
                .select("c_nationkey", F.col("n").alias("fn"),
                        F.col("s").alias("fs")))
        out = (incr.join(full, "c_nationkey", "full_outer")
               .select("c_nationkey",
                       F.col("n_custs"),
                       F.col("sum_bal").cast("double").alias("sum_acctbal"),
                       ((F.col("n_custs") == F.col("fn"))
                        & (F.col("sum_bal") == F.col("fs")))
                       .alias("incremental_matches_full"))
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("c_nationkey")


#: post-window state from the q128 residue classes: evens seeded;
#: %3 upserted at +500 (insert where odd); %7-and-even-and-not-%3
#: deleted. The oracle recomputes the rollup from that closed form —
#: the gate therefore checks the INCREMENTAL result against
#: first-principles truth, and the in-query boolean (asserted literal
#: TRUE) separately pins incremental == full-recompute inside Spark.
_Q139_ORACLE = """
WITH snap AS (
  SELECT c_custkey, c_nationkey,
         CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 500.0
              ELSE c_acctbal END AS bal
  FROM customer
  WHERE (c_custkey % 2 = 0 OR c_custkey % 3 = 0)
    AND NOT (c_custkey % 7 = 0 AND c_custkey % 2 = 0
             AND c_custkey % 3 <> 0))
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_custs,
       CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal,
       TRUE AS incremental_matches_full
FROM snap GROUP BY 1 ORDER BY 1
"""


#: (table, columns folded into q159's fingerprint). Bigint/varchar
#: only — double and timestamp string renderings are engine-specific,
#: so fingerprinting those requires a casting convention (documented
#: below) rather than raw concat; these columns need none.
FINGERPRINT_COLS = (
    ("customer", ("c_custkey", "c_nationkey", "c_mktsegment")),
    ("documents", ("doc_id", "lang", "source", "n_chars", "text")),
    ("orders", ("o_orderkey", "o_custkey", "o_orderstatus",
                "o_orderpriority")),
)

#: Modulus for q159's additive checksum (keeps partial sums far from
#: BIGINT overflow even at 100 TB row counts).
FP_MOD = 1_000_000_007


def q159_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprints — the replication /
    CDC-validation primitive: two sides of a copy (or a snapshot and
    its mutation-log replay, q128/q139) compare one tiny row per table
    instead of shipping data. Each row's canonical string (NULL-
    sentinel '|' join of the declared columns) is md5-hashed to a
    60-bit int; the table fingerprint is the XOR plus a mod-p sum of
    those ints, with the row count.

    Scale shape: pure map-side hash + a single all-combining aggregate
    per table — no shuffle of data rows at all (partial aggregates are
    one row per task). XOR alone is blind to even-multiplicity
    duplicates; carrying count + mod-p sum alongside closes that, and
    all three merge associatively, so the same fingerprint can be kept
    per-partition and rolled up incrementally at 100 TB.

    Determinism across engines: md5 over UTF-8 bytes is identical in
    Spark and DuckDB, the hex prefix is 15 nibbles (60 bits, positive
    in a signed 64), and only bigint/varchar columns are folded so the
    canonical rendering needs no float/timestamp formatting convention.
    """
    register_tables(spark, sf_dir)
    out = None
    for table, cols in FINGERPRINT_COLS:
        row = (fingerprint(spark.table(table).select(*cols), mod=FP_MOD)
               .select(F.lit(table).alias("table_name"),
                       "n_rows", "fp_xor", "fp_sum"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("table_name")


def _fp_table_sql(table: str, cols: tuple[str, ...]) -> str:
    canon = " || '|' || ".join(
        f"COALESCE(CAST({c} AS VARCHAR), '\\N')" for c in cols)
    h = f"CAST(('0x' || SUBSTRING(MD5({canon}), 1, 15)) AS BIGINT)"
    return f"""
  SELECT '{table}' AS table_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         BIT_XOR({h}) AS fp_xor,
         CAST(SUM({h} % {FP_MOD}) AS BIGINT) AS fp_sum
  FROM {table}"""


_Q159_ORACLE = ("\nUNION ALL\n".join(
    _fp_table_sql(t, c) for t, c in FINGERPRINT_COLS)
    + "\nORDER BY table_name")


def q166_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executing-connector integration gate (S4/K4 through a REAL
    database): write ``customer`` into the embedded Derby engine Spark
    bundles via the JDBC sink (schema-derived auto-create + batched
    append — SpannerToBigQuery.java:90-99's disposition), read it back
    through the JDBC source as a PARTITIONED parallel scan (4
    independent range cursors — SpannerQueryIO.java:139-150's
    root-partition fan-out in JDBC clothes), and aggregate per nation
    from what came back off the database. The DuckDB oracle computes
    the same aggregate from the parquet source — it never sees a JDBC
    byte — so a value match proves type fidelity (BIGINT / INTEGER /
    IEEE DOUBLE) and row completeness across the whole
    DataFrame -> JDBC DDL -> insert batches -> range scan -> DataFrame
    path, exactly like q149 gates the TFRecord codec.

    Scale shape: the write's parallelism is the input partitioning
    (each task one connection), the read is range-pruned per task, and
    the only driver values are the two partition bounds (one 2-scalar
    agg). Money sums go through exact DECIMAL per the house
    determinism contract; the database stores IEEE doubles bit-exactly
    so the cast lands on identical values in both engines.
    """
    import shutil
    import tempfile

    from dataflowtemplates_spark.sources.connectors import (
        SourceSpec, read_source, write_jdbc)

    register_tables(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="q166_jdbc_")
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", os.path.join(tmp, "derby.log"))
    url = f"jdbc:derby:{tmp}/db;create=true"
    try:
        cust = spark.table("customer").select(
            "c_custkey", "c_nationkey", "c_acctbal")
        write_jdbc(cust, url, "CUST", mode="overwrite")
        lo, hi = cust.agg(F.min("c_custkey"), F.max("c_custkey")).first()
        back = read_source(spark, SourceSpec(
            kind="jdbc-table", table="CUST",
            options={"url": url, "partitionColumn": "c_custkey",
                     "lowerBound": str(int(lo)),
                     "upperBound": str(int(hi) + 1),
                     "numPartitions": "4"}))
        out = (back.groupBy("c_nationkey")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"),
                    F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                     .cast("double").alias("total_acctbal"),
                    F.sum("c_custkey").cast("bigint").alias("key_checksum"))
               .localCheckpoint(eager=True))  # pin rows before teardown
    finally:
        try:  # cleanly shut down THIS database before removing its files
            spark._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{tmp}/db;shutdown=true")
        except Exception:
            pass  # Derby signals a successful shutdown via SQLException
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("c_nationkey")


_Q166_ORACLE = """
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         AS total_acctbal,
       CAST(SUM(c_custkey) AS BIGINT) AS key_checksum
FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
"""


def q175_jdbc_incremental_pull(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Incremental JDBC source gate — the PULL direction q166/q167
    leave open: a warehouse table grows across three loads and the
    engine ingests it with watermark polls (`read_jdbc_since`,
    strictly-greater predicate pushed INTO the database), never
    re-reading old rows.

    The simulation is honest about laziness: each poll's frame is
    ``localCheckpoint(eager=True)``-ed BEFORE the next load lands,
    because a lazy JDBC frame re-queries the live table at action time
    and would silently absorb later rows — exactly the bug a real
    poll-based ingester must not have. A fourth poll after the final
    load must return 0 rows (strict inequality = idempotent tail);
    that count is carried into the output row so the oracle gate
    asserts it.

    Scale shape: each poll is O(new rows) in the database (indexed
    watermark), the accumulated union is a no-shuffle concat, the only
    driver state is one scalar watermark per poll, and the final
    aggregate is one shuffle on event_type. Money-free exact math:
    counts, BIGINT key checksums, and a floor(value*1000) fixed-point
    sum (the q170 stance).
    """
    import shutil
    import tempfile

    from dataflowtemplates_spark.sources.connectors import (
        read_jdbc_since, write_jdbc)

    register_tables(spark, sf_dir)
    ev = spark.table("events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * F.lit(1000.0)).cast("bigint")
        .alias("vfp"))
    cut1, cut2 = ev.agg(
        F.expr("percentile_approx(event_id, 0.33, 10000)"),
        F.expr("percentile_approx(event_id, 0.66, 10000)")).first()
    slices = [ev.filter(F.col("event_id") <= cut1),
              ev.filter((F.col("event_id") > cut1)
                        & (F.col("event_id") <= cut2)),
              ev.filter(F.col("event_id") > cut2)]

    tmp = tempfile.mkdtemp(prefix="q175_jdbc_")
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", os.path.join(tmp, "derby.log"))
    url = f"jdbc:derby:{tmp}/db;create=true"
    try:
        hwm = -1
        pulled = []
        for i, s in enumerate(slices):
            write_jdbc(s, url, "EV",
                       mode=("overwrite" if i == 0 else "append"))
            batch = read_jdbc_since(
                spark, url, "EV", "event_id", hwm
            ).localCheckpoint(eager=True)  # pin BEFORE the next load
            pulled.append(batch)
            nxt = batch.agg(F.max("event_id")).first()[0]
            hwm = hwm if nxt is None else int(nxt)
        tail_rows = read_jdbc_since(spark, url, "EV", "event_id",
                                    hwm).count()
        acc = pulled[0]
        for b in pulled[1:]:
            acc = acc.unionAll(b)
        out = (acc.groupBy("event_type")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                    F.sum("event_id").cast("bigint").alias("key_checksum"),
                    F.sum("vfp").cast("bigint").alias("value_fp_sum"))
               .withColumn("tail_poll_rows",
                           F.lit(int(tail_rows)).cast("bigint"))
               .localCheckpoint(eager=True))  # pin before teardown
    finally:
        try:  # cleanly shut down THIS database before removing its files
            spark._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{tmp}/db;shutdown=true")
        except Exception:
            pass  # Derby signals a successful shutdown via SQLException
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("event_type")


_Q175_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS key_checksum,
       CAST(SUM(CAST(FLOOR(value * CAST(1000 AS DOUBLE)) AS BIGINT))
            AS BIGINT) AS value_fp_sum,
       CAST(0 AS BIGINT) AS tail_poll_rows
FROM events
GROUP BY event_type ORDER BY event_type
"""


def q176_optimize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``KeyedTable.optimize`` (Delta OPTIMIZE ZORDER semantics) under
    the oracle gate, the way q78 gates the mutation dispositions: seed
    a keyed table from ``customer``, bump a residue class with an
    upsert, retrofit Z-order clustering with ``optimize()``, and emit
    (a) per-nation exact aggregates of the post-optimize state — the
    DuckDB oracle recomputes them from parquet, proving the O(table)
    rewrite lost and duplicated nothing — and (b) a ``files_zsorted``
    boolean the oracle asserts literally TRUE.

    The sortedness evidence is computed IN SPARK, not by a driver
    loop: read the table with the parquet ``_metadata`` hidden column,
    recompute each row's Morton value under the table-global bounds
    (the optimize slice was the whole table, so its normalization is
    reproducible exactly), and window per ``_metadata.file_path``
    ordered by ``_metadata.row_index`` — the REAL within-file offset,
    which stays correct when a file spans multiple bin-packed scan
    splits (``monotonically_increasing_id`` would not: split order
    follows size-sorted bin packing, not file offset). ``files_zsorted``
    is the MIN over rows of "z >= previous z in my file". One window
    whose partitions are single files: bounded by the layout, never by
    the corpus.

    Scale note: the aggregate gate is an ordinary pruned scan; the
    sortedness sweep is the audit you run after an OPTIMIZE job at any
    scale — O(rows in the optimized slice), map-local except the
    per-file window.
    """
    from pyspark.sql import Window as W

    from dataflowtemplates_spark.functions.zorder import (
        normalized_zorder_spark)

    register_tables(spark, sf_dir)
    cust = spark.table("customer").select(
        "c_custkey", "c_nationkey", "c_acctbal")
    k = F.col("c_custkey")

    tmp = tempfile.mkdtemp(prefix="q176_optimize_")
    try:
        tbl = KeyedTable(spark, os.path.join(tmp, "tbl"), ["c_custkey"],
                         n_buckets=8)
        tbl.apply_mutations(cust, "INSERT")
        tbl.apply_mutations(
            cust.filter(k % 7 == 0)
            .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(500.0)),
            "INSERT_OR_UPDATE")
        tbl.optimize(cluster_by=["c_nationkey", "c_custkey"],
                     cluster_mode="zorder")

        df = (tbl.read()
              .withColumn("f", F.col("_metadata.file_path"))
              .withColumn("pos", F.col("_metadata.row_index")))
        bounds = df.agg(
            F.min(F.col("c_nationkey").cast("bigint")).alias("__zlo1"),
            F.max(F.col("c_nationkey").cast("bigint")).alias("__zhi1"),
            F.min(F.col("c_custkey").cast("bigint")).alias("__zlo2"),
            F.max(F.col("c_custkey").cast("bigint")).alias("__zhi2"))
        z = normalized_zorder_spark(
            "cast(c_nationkey as bigint)", "cast(c_custkey as bigint)",
            "__zlo1", "__zhi1", "__zlo2", "__zhi2")
        w = W.partitionBy("f").orderBy("pos")
        zsorted = (df.crossJoin(F.broadcast(bounds))
                   .withColumn("__z", F.expr(z))
                   .withColumn("__ok",
                               F.coalesce(F.col("__z")
                                          >= F.lag("__z").over(w),
                                          F.lit(True)))
                   .agg(F.min("__ok").alias("files_zsorted")))

        out = (tbl.read().groupBy("c_nationkey")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"),
                    F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                     .cast("double").alias("acctbal_sum"),
                    F.sum("c_custkey").cast("bigint").alias("key_checksum"))
               .crossJoin(F.broadcast(zsorted))
               .localCheckpoint(eager=True))  # pin before teardown
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("c_nationkey")


_Q176_ORACLE = """
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(CASE WHEN c_custkey % 7 = 0
                          THEN c_acctbal + CAST(500 AS DOUBLE)
                          ELSE c_acctbal END AS DECIMAL(18,2)))
            AS DOUBLE) AS acctbal_sum,
       CAST(SUM(c_custkey) AS BIGINT) AS key_checksum,
       TRUE AS files_zsorted
FROM customer
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def q177_incremental_sync_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The scheduled warehouse->keyed-table SYNC template
    (`templates.jdbc_to_keyed_table_incremental` — BigQueryToSpanner
    made incremental) under the oracle gate: the Derby source grows
    across three loads, and three template INVOCATIONS — each deriving
    its watermark FROM THE TARGET TABLE, no external state — converge
    the keyed table onto the source. A fourth run against the
    unchanged source must apply 0 mutations (the restartable-resume
    contract); that count is carried into the gated output.

    This composes the round's connector + mutation machinery
    end-to-end: watermark pull (q175's source), keyed-table upsert
    (q78's sink), self-derived resume state. The oracle recomputes the
    converged state from parquet — a hash match proves no run lost,
    duplicated, or re-applied rows.

    Scale shape: each run is O(new rows) in the database AND in the
    table (bucket-pruned upsert); the watermark derivation is one
    column-pruned max over the target (at 100 TB: a parquet
    stats-only scan). Driver state per run: one scalar.
    """
    import shutil
    import tempfile

    from dataflowtemplates_spark import templates
    from dataflowtemplates_spark.sources.connectors import write_jdbc

    register_tables(spark, sf_dir)
    ev = spark.table("events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * F.lit(1000.0)).cast("bigint")
        .alias("vfp"))
    cut1, cut2 = ev.agg(
        F.expr("percentile_approx(event_id, 0.33, 10000)"),
        F.expr("percentile_approx(event_id, 0.66, 10000)")).first()
    slices = [ev.filter(F.col("event_id") <= cut1),
              ev.filter((F.col("event_id") > cut1)
                        & (F.col("event_id") <= cut2)),
              ev.filter(F.col("event_id") > cut2)]

    tmp = tempfile.mkdtemp(prefix="q177_sync_")
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", os.path.join(tmp, "derby.log"))
    url = f"jdbc:derby:{tmp}/db;create=true"
    try:
        tbl = KeyedTable(spark, os.path.join(tmp, "tbl"), ["event_id"],
                         n_buckets=8)
        for i, s in enumerate(slices):
            write_jdbc(s, url, "EV",
                       mode=("overwrite" if i == 0 else "append"))
            templates.jdbc_to_keyed_table_incremental(
                spark, url, "EV", "event_id", tbl)
        tail = templates.jdbc_to_keyed_table_incremental(
            spark, url, "EV", "event_id", tbl)
        out = (tbl.read().groupBy("event_type")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                    F.countDistinct("user_id").cast("bigint")
                    .alias("n_users"),
                    F.min("event_id").cast("bigint").alias("min_event_id"),
                    F.max("event_id").cast("bigint").alias("max_event_id"),
                    F.sum("vfp").cast("bigint").alias("value_fp_sum"))
               .withColumn("tail_applied",
                           F.lit(int(tail.applied)).cast("bigint"))
               .localCheckpoint(eager=True))  # pin before teardown
    finally:
        try:  # cleanly shut down THIS database before removing its files
            spark._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{tmp}/db;shutdown=true")
        except Exception:
            pass  # Derby signals a successful shutdown via SQLException
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("event_type")


_Q177_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(MIN(event_id) AS BIGINT) AS min_event_id,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id,
       CAST(SUM(CAST(FLOOR(value * CAST(1000 AS DOUBLE)) AS BIGINT))
            AS BIGINT) AS value_fp_sum,
       CAST(0 AS BIGINT) AS tail_applied
FROM events
GROUP BY event_type ORDER BY event_type
"""


def q179_jdbc_retry_exactly_once(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Exactly-once retried database write under the oracle gate
    (reference: SpannerQueryIO.java:111-116 carries a retry budget on
    every Spanner RPC; Spanner's transaction makes retrying safe — the
    JDBC spelling must supply the idempotence itself).

    A fault is INJECTED into the first write attempt (one task raises
    after part of the batch has already landed — the worst case:
    partial rows in the table), then ``write_jdbc_retry`` scrubs the
    batch id and re-appends with backoff; finally the SAME call is
    replayed whole. The output aggregates what is actually IN the
    database per event_type — the DuckDB oracle recomputes it from the
    source table, so a hash match proves the faulted attempt, the
    retry, and the replay converged to exactly one copy of every row
    (no loss, no duplication).

    Scale note: the retry unit is the batch, the scrub is one
    indexed-column DELETE on the database (O(batch) there), and the
    re-append is the same partitioned write — the retry adds no
    driver-side state beyond the batch id.
    """
    from dataflowtemplates_spark.sources.connectors import (
        write_jdbc_retry)

    register_tables(spark, sf_dir)
    ev = spark.table("events").select(
        "event_id", "event_type",
        F.floor(F.col("value") * F.lit(1000.0)).cast("bigint")
        .alias("vfp"))

    tmp = tempfile.mkdtemp(prefix="q179_retry_")
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", os.path.join(tmp, "derby.log"))
    url = f"jdbc:derby:{tmp}/db;create=true"
    flag = os.path.join(tmp, "fault_injected")
    try:
        @F.udf("long")
        def flaky(x):
            import os as _os
            if not _os.path.exists(flag):
                open(flag, "w").close()
                raise RuntimeError("injected transient fault")
            return x

        faulted = ev.repartition(4).withColumn("event_id",
                                               flaky("event_id"))
        write_jdbc_retry(faulted, url, "EV", batch_id=1,
                         retries=2, backoff_s=0.05)
        fault_fired = os.path.exists(flag)
        # whole-call replay with the same batch id must converge
        write_jdbc_retry(ev, url, "EV", batch_id=1,
                         retries=0, backoff_s=0.05)
        landed = (spark.read.format("jdbc")
                  .option("url", url).option("dbtable", "EV").load())
        out = (landed.groupBy("event_type")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                    F.sum("event_id").cast("bigint").alias("key_checksum"),
                    F.sum("vfp").cast("bigint").alias("value_fp_sum"))
               .withColumn("fault_fired", F.lit(bool(fault_fired)))
               .localCheckpoint(eager=True))  # pin before teardown
    finally:
        try:  # cleanly shut down THIS database before removing its files
            spark._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{tmp}/db;shutdown=true")
        except Exception:
            pass  # Derby signals a successful shutdown via SQLException
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("event_type")


_Q179_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS key_checksum,
       CAST(SUM(CAST(FLOOR(value * CAST(1000 AS DOUBLE)) AS BIGINT))
            AS BIGINT) AS value_fp_sum,
       TRUE AS fault_fired
FROM events
GROUP BY event_type ORDER BY event_type
"""


def q180_commit_protocol_audit(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The log-structured CAS commit protocol as an oracle row set: a
    keyed table takes a deterministic commit history (create, full
    INSERT, %4 upsert, %9 delete, vacuum), and the query surfaces one
    row PER COMMIT with the version's snapshot row count and exact
    acctbal sum — plus the protocol invariants as literal booleans the
    oracle asserts: the log is DENSE (versions 1..latest, exactly one
    commit object each — the conditional put cannot skip or duplicate
    a version), every data directory on disk is REFERENCED by a commit
    (losers and vacuum leave no orphans), and a bound below the
    retention floor refuses. The DuckDB oracle recomputes every
    version's state set-relationally from the key residues, so the
    hash gate verifies time travel across the whole history, not just
    the final state.

    Scale note: the invariants are commit-log metadata only
    (O(commits) driver work); the per-version aggregates are the same
    path-pruned snapshot reads any read_at performs.
    """
    register_tables(spark, sf_dir)
    cust = spark.table("customer").select("c_custkey", "c_nationkey",
                                          "c_acctbal")
    k = F.col("c_custkey")

    def agg_at(df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.lit(version).cast("bigint").alias("version"),
            F.count(F.lit(1)).cast("bigint").alias("snapshot_rows"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
             .cast("double").alias("acctbal_sum"))

    tmp = tempfile.mkdtemp(prefix="q180_protocol_")
    try:
        tbl = KeyedTable(spark, os.path.join(tmp, "tbl"), ["c_custkey"],
                         n_buckets=8)
        tbl.apply_mutations(cust, "INSERT")                       # v1+v2
        tbl.apply_mutations(
            cust.filter(k % 4 == 0)
            .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(100.0)),
            "INSERT_OR_UPDATE")                                   # v3
        tbl.apply_mutations(cust.filter(k % 9 == 0).select("c_custkey"),
                            "DELETE")                             # v4
        # per-version aggregates BEFORE vacuum reclaims v2/v3's dirs
        from functools import reduce
        pre = reduce(DataFrame.unionByName,
                     [agg_at(tbl._snapshot(v), v) for v in (1, 2, 3, 4)]) \
            .localCheckpoint(eager=True)
        tbl.vacuum(keep_last=2)                                   # v5
        post = agg_at(tbl.read(), 5)

        commits = tbl._commits()
        log_dense = ([c["version"] for c in commits]
                     == list(range(1, len(commits) + 1)))
        from dataflowtemplates_spark.operators import fsio
        referenced = {c["dir"] for c in commits if c.get("dir")}
        data_root = os.path.join(tmp, "tbl", "data")
        on_disk = set(fsio.list_dir(data_root)) \
            if fsio.is_dir(data_root) else set()
        # every dir on disk is referenced by a commit (no staging
        # leftovers); referenced-but-absent is LEGAL — that's what
        # vacuum does to superseded history below the floor
        no_orphans = on_disk <= referenced
        floor = int(tbl._meta()["min_retained_version"])
        try:
            tbl.read_at(commits[1]["time"])  # v2: below the floor
            early_refused = False
        except ValueError:
            early_refused = True

        out = (pre.unionByName(post)
               .withColumn("log_dense", F.lit(bool(log_dense)))
               .withColumn("no_orphans", F.lit(bool(no_orphans)))
               .withColumn("early_refused", F.lit(bool(early_refused)))
               .withColumn("retention_floor",
                           F.lit(floor).cast("bigint"))
               .localCheckpoint(eager=True))  # pin before teardown
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("version")


# commit history: v1 CREATE (empty), v2 INSERT all, v3 upsert +100 on
# %4 keys, v4 delete %9 keys, v5 vacuum (data-free, floor =
# max(1, 4 - 2 + 1) = 3). SUM over an empty snapshot is NULL in both
# engines (v1's acctbal_sum).
_Q180_ORACLE = """
WITH f AS (
  SELECT c_custkey AS k, c_acctbal,
         c_custkey % 4 = 0 AS s4, c_custkey % 9 = 0 AS s9
  FROM customer),
v3 AS (
  SELECT k, CASE WHEN s4 THEN c_acctbal + 100.0 ELSE c_acctbal END AS b,
         s9
  FROM f)
SELECT *,
       TRUE AS log_dense, TRUE AS no_orphans, TRUE AS early_refused,
       CAST(3 AS BIGINT) AS retention_floor
FROM (
  SELECT CAST(1 AS BIGINT) AS version,
         CAST(0 AS BIGINT) AS snapshot_rows,
         CAST(NULL AS DOUBLE) AS acctbal_sum
  UNION ALL
  SELECT 2, COUNT(*),
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
  FROM f
  UNION ALL
  SELECT 3, COUNT(*), CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE)
  FROM v3
  UNION ALL
  SELECT 4, COUNT(*), CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE)
  FROM v3 WHERE NOT s9
  UNION ALL
  SELECT 5, COUNT(*), CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE)
  FROM v3 WHERE NOT s9
) ORDER BY version
"""


def q181_orphan_reclaim_audit(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Crash-debris reclamation as an oracle row set: a writer that
    dies AFTER staging its data directory but BEFORE the CAS publish
    (simulated by a handle whose ``_commit_entry`` raises) leaves an
    orphan no log object references. The query surfaces the protocol's
    recovery contract as literal booleans the oracle asserts: the
    orphan is INVISIBLE (post-crash version and snapshot aggregates
    equal the pre-crash commit's), ``reclaim_orphans`` inside the
    grace window removes NOTHING (a fresh dir may be a live writer
    still staging), outside the grace removes exactly the one orphan,
    after which every directory on disk is referenced by a commit —
    and the table keeps taking mutations. The reference gets this for
    free from Spanner transactions (SpannerToSpanner.java:109-114);
    an object-store table format has to make crash debris reclaimable
    without a coordinator, which is exactly Delta VACUUM's
    uncommitted-file rule.

    Scale note: reclamation is O(data dirs + log objects) driver-side
    metadata, no Spark job; the per-version aggregates are path-pruned
    snapshot reads."""
    register_tables(spark, sf_dir)
    cust = spark.table("customer").select("c_custkey", "c_nationkey",
                                          "c_acctbal")
    k = F.col("c_custkey")

    def agg_at(df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.lit(version).cast("bigint").alias("version"),
            F.count(F.lit(1)).cast("bigint").alias("snapshot_rows"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
             .cast("double").alias("acctbal_sum"))

    class _Died(RuntimeError):
        pass

    class _CrashBeforePublish(KeyedTable):
        def _commit_entry(self, *a, **k):
            raise _Died("writer died before publishing the log object")

    from dataflowtemplates_spark.operators import fsio
    tmp = tempfile.mkdtemp(prefix="q181_orphan_")
    try:
        path = os.path.join(tmp, "tbl")
        tbl = KeyedTable(spark, path, ["c_custkey"], n_buckets=8)
        tbl.apply_mutations(cust, "INSERT")                       # v1+v2
        data_root = os.path.join(path, "data")
        dirs_before = set(fsio.list_dir(data_root))
        crasher = _CrashBeforePublish(spark, path, ["c_custkey"])
        try:
            crasher.apply_mutations(
                cust.filter(k % 5 == 0)
                .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(50.0)),
                "INSERT_OR_UPDATE")
            crashed = False
        except _Died:
            crashed = True
        orphans = set(fsio.list_dir(data_root)) - dirs_before
        orphan_staged = crashed and len(orphans) == 1
        version_unmoved = tbl._latest_version() == 2
        post_crash = agg_at(tbl.read(), 2).localCheckpoint(eager=True)
        grace_respected = tbl.reclaim_orphans(grace_s=3600.0) == 0
        reclaimed_one = tbl.reclaim_orphans(grace_s=0.0) == 1
        commits = tbl._commits()
        referenced = {c["dir"] for c in commits if c.get("dir")}
        clean_after = set(fsio.list_dir(data_root)) <= referenced
        # the table still takes mutations after reclamation
        tbl.apply_mutations(
            cust.filter(k % 5 == 0)
            .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(50.0)),
            "INSERT_OR_UPDATE")                                   # v3
        out = (post_crash.unionByName(agg_at(tbl.read(), 3))
               .withColumn("orphan_staged", F.lit(bool(orphan_staged)))
               .withColumn("version_unmoved", F.lit(bool(version_unmoved)))
               .withColumn("grace_respected", F.lit(bool(grace_respected)))
               .withColumn("reclaimed_one", F.lit(bool(reclaimed_one)))
               .withColumn("clean_after", F.lit(bool(clean_after)))
               .localCheckpoint(eager=True))  # pin before teardown
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("version")


# history: v1 CREATE (schema only), v2 INSERT all customers, a CRASHED
# upsert (+50 on %5 keys) that must change nothing, v3 the same upsert
# through a healthy handle. Version 2's aggregates are asserted AFTER
# the crash, so a leaked orphan read would break the value hash.
_Q181_ORACLE = """
WITH f AS (
  SELECT c_custkey AS k, c_acctbal, c_custkey % 5 = 0 AS s5
  FROM customer),
v3 AS (
  SELECT k, CASE WHEN s5 THEN c_acctbal + 50.0 ELSE c_acctbal END AS b
  FROM f)
SELECT *,
       TRUE AS orphan_staged, TRUE AS version_unmoved,
       TRUE AS grace_respected, TRUE AS reclaimed_one,
       TRUE AS clean_after
FROM (
  SELECT CAST(2 AS BIGINT) AS version,
         CAST(COUNT(*) AS BIGINT) AS snapshot_rows,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           AS acctbal_sum
  FROM f
  UNION ALL
  SELECT 3, COUNT(*), CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE)
  FROM v3
) ORDER BY version
"""


def q182_txn_replay_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional idempotence (Delta txnAppId/txnVersion) through
    the oracle gate: every mutation carries a (txn_app, txn_version)
    identity the commit object records atomically with the data, so a
    REDELIVERED batch — foreachBatch's at-least-once contract, or any
    client retrying after an ambiguous failure — no-ops instead of
    re-applying. The replayed batches here are POISONED (+999 on every
    balance): if a replay ever leaked, the snapshot sums diverge and
    the value hash breaks. A writer that CRASHES before publish records
    no marker, so its replay must apply — both directions are asserted.
    The reference's Spanner templates get this from transactional
    commit + Dataflow's exactly-once bundles; an object-store table
    needs the watermark in the log, which is exactly Delta's txn
    mechanism.

    Scale note: a replayed batch costs ONE commit-object read and zero
    Spark jobs — the gate sits before any staging work; the watermark
    map is O(distinct writer apps) metadata riding the same commit CAS
    as everything else."""
    register_tables(spark, sf_dir)
    cust = spark.table("customer").select("c_custkey", "c_nationkey",
                                          "c_acctbal")
    k = F.col("c_custkey")

    def agg_at(df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.lit(version).cast("bigint").alias("version"),
            F.count(F.lit(1)).cast("bigint").alias("snapshot_rows"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
             .cast("double").alias("acctbal_sum"))

    class _Died(RuntimeError):
        pass

    class _CrashBeforePublish(KeyedTable):
        def _commit_entry(self, *a, **k):
            raise _Died("writer died before publishing the log object")

    from functools import reduce
    tmp = tempfile.mkdtemp(prefix="q182_txn_")
    try:
        path = os.path.join(tmp, "tbl")
        tbl = KeyedTable(spark, path, ["c_custkey"], n_buckets=8)
        poison = cust.withColumn(
            "c_acctbal", F.col("c_acctbal") + F.lit(999.0))
        up4 = (cust.filter(k % 4 == 0)
               .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(100.0)))
        up6 = (cust.filter(k % 6 == 0)
               .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(7.0)))

        def txn(df, op, ver, handle=None):
            return (handle or tbl).apply_mutations(
                df, op, txn_app="loader", txn_version=ver)

        txn(cust, "INSERT", 1)                                  # v1+v2
        r1 = txn(poison, "INSERT_OR_UPDATE", 1)                 # replay
        s2 = agg_at(tbl.read(), 2)
        txn(up4, "INSERT_OR_UPDATE", 2)                         # v3
        r2 = txn(poison, "INSERT_OR_UPDATE", 2)                 # replay
        s3 = agg_at(tbl.read(), 3)
        crasher = _CrashBeforePublish(spark, path, ["c_custkey"])
        try:
            txn(up6, "INSERT_OR_UPDATE", 3, handle=crasher)
            crashed = False
        except _Died:
            crashed = True
        r3 = txn(up6, "INSERT_OR_UPDATE", 3)   # crash left no marker
        crash_replay_applied = crashed and not r3.replayed \
            and r3.applied > 0
        s4 = agg_at(tbl.read(), 4)
        r4 = txn(cust.filter(k % 9 == 0).select("c_custkey"),
                 "DELETE", 3)                                   # replay
        txn(cust.filter(k % 9 == 0).select("c_custkey"),
            "DELETE", 4)                                        # v5
        s5 = agg_at(tbl.read(), 5)
        replays_skipped = all(r.replayed and r.applied == 0
                              for r in (r1, r2, r4))
        watermark = int(tbl._meta()["txn"]["loader"])
        out = (reduce(DataFrame.unionByName, [s2, s3, s4, s5])
               .withColumn("replays_skipped",
                           F.lit(bool(replays_skipped)))
               .withColumn("crash_replay_applied",
                           F.lit(bool(crash_replay_applied)))
               .withColumn("txn_watermark",
                           F.lit(watermark).cast("bigint"))
               .localCheckpoint(eager=True))  # pin before teardown
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("version")


# history: v2 INSERT all (txn 1), poisoned replay of txn 1 (no-op),
# v3 +100 on %4 (txn 2), poisoned replay of txn 2 (no-op), a CRASHED
# +7-on-%6 writer (txn 3, no marker), its healthy replay v4 (applies),
# a DELETE %9 replayed at txn 3 (no-op), the real DELETE %9 at txn 4
# (v5). Snapshot sums are poison-sensitive: any leaked replay breaks
# the hash.
_Q182_ORACLE = """
WITH f AS (
  SELECT c_custkey AS key, c_acctbal,
         c_custkey % 4 = 0 AS s4, c_custkey % 6 = 0 AS s6,
         c_custkey % 9 = 0 AS s9
  FROM customer),
v3 AS (
  SELECT key, CASE WHEN s4 THEN c_acctbal + 100.0 ELSE c_acctbal END
           AS b, c_acctbal, s6, s9
  FROM f),
-- the %6 upsert batch is built from the ORIGINAL balances and
-- INSERT_OR_UPDATE overwrites specified columns, so %12 keys lose
-- their earlier +100 here (exactly what the engine does)
v4 AS (
  SELECT key, CASE WHEN s6 THEN c_acctbal + 7.0 ELSE b END AS b, s9
  FROM v3)
SELECT *,
       TRUE AS replays_skipped, TRUE AS crash_replay_applied,
       CAST(4 AS BIGINT) AS txn_watermark
FROM (
  SELECT CAST(2 AS BIGINT) AS version,
         CAST(COUNT(*) AS BIGINT) AS snapshot_rows,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           AS acctbal_sum
  FROM f
  UNION ALL
  SELECT 3, COUNT(*), CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE)
  FROM v3
  UNION ALL
  SELECT 4, COUNT(*), CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE)
  FROM v4
  UNION ALL
  SELECT 5, COUNT(*), CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE)
  FROM v4 WHERE NOT s9
) ORDER BY version
"""


def q183_cdc_apply_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic CDC apply (``KeyedTable.apply_changes``) through the
    oracle gate: ONE batch mixing upsert images (two events per key —
    the seq-ordered LAST must win), deletes, inserts of brand-new
    keys, unknown-op rows, and a null-key row lands as ONE commit.
    The audit emits the post-apply snapshot aggregate plus the applied
    and quarantined counts (pure functions of the key residues the
    DuckDB oracle recomputes set-relationally) and the atomicity
    boolean (exactly one version advance). A leaked loser event (+50
    instead of +100) or a non-atomic intermediate version breaks the
    value hash. The reference applies mixed mutation groups in one
    Spanner transaction (SpannerToSpanner.java:109-114, mutation
    groups); this is the object-store-table equivalent, Delta's APPLY
    CHANGES INTO discipline.

    Scale note: one annotate-and-checkpoint pass over the CDC batch,
    one bounded matched-delete aggregate over the pruned slice, one
    staging write — rewrites only the buckets the winner keys hash
    into, never O(table)."""
    register_tables(spark, sf_dir)
    cust = spark.table("customer").select("c_custkey", "c_nationkey",
                                          "c_acctbal")
    k = F.col("c_custkey")
    s3, s7, s11, s13 = (k % 3 == 0), (k % 7 == 0), (k % 11 == 0), \
        (k % 13 == 0)

    def ev(df, op, seq):
        return df.withColumn("_op", F.lit(op)).withColumn(
            "seq", F.lit(seq).cast("int"))

    bump = lambda df, d: df.withColumn(  # noqa: E731
        "c_acctbal", F.col("c_acctbal") + F.lit(float(d)))
    upd = cust.filter(s3)
    # shift inserted keys past max(c_custkey) so they are disjoint
    # from live keys at EVERY scale factor (a constant offset
    # collides once customer has >= offset keys, silently turning
    # inserts into upserts while the oracle UNION-ALLs them); the
    # 1-row broadcast aggregate keeps the offset plan-side
    maxk = F.broadcast(cust.agg((F.max(k) + 1).alias("_maxk")))
    ins = (cust.filter(s11).crossJoin(maxk)
           .withColumn("c_custkey", k + F.col("_maxk")).drop("_maxk"))
    cdc = (ev(bump(upd, 50.0), "U", 1)            # loser event
           .unionByName(ev(bump(upd, 100.0), "U", 2))  # winner
           .unionByName(ev(cust.filter(s7 & ~s3), "D", 1))
           .unionByName(ev(bump(ins, 5.0), "I", 1))
           .unionByName(ev(cust.filter(s13 & ~s3 & ~s7), "X", 1))
           .unionByName(ev(cust.limit(1), "U", 1).withColumn(
               "c_custkey", F.lit(None).cast("long"))))

    tmp = tempfile.mkdtemp(prefix="q183_cdc_")
    try:
        tbl = KeyedTable(spark, os.path.join(tmp, "tbl"), ["c_custkey"],
                         n_buckets=8)
        tbl.apply_mutations(cust, "INSERT")                     # v1+v2
        v_before = tbl._latest_version()
        res = tbl.apply_changes(cdc, op_col="_op", seq_col="seq")
        atomic = tbl._latest_version() == v_before + 1
        out = (tbl.read().agg(
                   F.count(F.lit(1)).cast("bigint").alias("snapshot_rows"),
                   F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                    .cast("double").alias("acctbal_sum"))
               .withColumn("applied",
                           F.lit(int(res.applied)).cast("bigint"))
               .withColumn("quarantined",
                           F.lit(int(res.failed)).cast("bigint"))
               .withColumn("atomic_commit", F.lit(bool(atomic)))
               .localCheckpoint(eager=True))  # pin before teardown
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# the CDC net effect, set-relationally: %3 keys end at +100 (the seq-2
# winner; a leaked +50 loser breaks the sum), %7-not-%3 keys delete,
# %11 keys re-insert shifted past max(c_custkey) at +5 (disjoint from
# live keys at any SF, so the oracle may UNION ALL), %13-not-%3-not-%7
# rows carry an unknown op (quarantined, no effect), plus one null-key
# row. applied = upsert winners (incl. inserts) + matched deletes.
_Q183_ORACLE = """
WITH f AS (
  SELECT c_custkey AS k, c_acctbal,
         c_custkey % 3 = 0 AS s3, c_custkey % 7 = 0 AS s7,
         c_custkey % 11 = 0 AS s11, c_custkey % 13 = 0 AS s13
  FROM customer),
final AS (
  SELECT CASE WHEN s3 THEN c_acctbal + 100.0 ELSE c_acctbal END AS b
  FROM f WHERE NOT (s7 AND NOT s3)
  UNION ALL
  SELECT c_acctbal + 5.0 FROM f WHERE s11)
SELECT CAST(COUNT(*) AS BIGINT) AS snapshot_rows,
       CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum,
       (SELECT CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END)
                    + SUM(CASE WHEN s11 THEN 1 ELSE 0 END)
                    + SUM(CASE WHEN s7 AND NOT s3 THEN 1 ELSE 0 END)
                    AS BIGINT) FROM f) AS applied,
       (SELECT CAST(SUM(CASE WHEN s13 AND NOT s3 AND NOT s7
                             THEN 1 ELSE 0 END) + 1 AS BIGINT)
        FROM f) AS quarantined,
       TRUE AS atomic_commit
FROM final
"""


def q185_replication_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental table-to-table replication through the oracle gate
    (the reference's SpannerToSpanner sync, templates/
    SpannerToSpanner.java:78-121, re-done CDC-style): a source keyed
    table takes three mutation commits (INSERT all, +100 upsert on %4,
    DELETE %9); each commit window is then shipped to an independent
    replica via ``maintenance.replicate_changes`` (CDF net diff →
    atomic CDC apply) with the source version as the txn identity.
    Per step the audit emits the REPLICA's snapshot aggregate plus an
    order-independent fingerprint match against the source's snapshot
    at the same bound — and a replayed middle window (double-fire)
    must no-op. The oracle recomputes every step's state
    set-relationally, so the hash gate verifies the whole replication
    chain, not just the final state.

    Scale note: each step reads both snapshots pruned to the window's
    touched buckets and commits once on the replica — O(changed
    buckets) per step; the fingerprints are one map-side hash +
    one-row aggregate per side, and each step's THREE probes (source
    fingerprint, replica fingerprint, replica snapshot aggregate) are
    fused into one action — a cross join of three 1-row aggregates —
    so both sides scan concurrently in a single job instead of three
    serial barriers (guide §1.2 pass count, §2.6 overlap)."""
    from dataflowtemplates_spark.operators.maintenance import (
        fingerprint, fingerprint_aggs, fingerprint_hash,
        replicate_changes)

    register_tables(spark, sf_dir)
    cust = spark.table("customer").select("c_custkey", "c_nationkey",
                                          "c_acctbal")
    k = F.col("c_custkey")

    from functools import reduce
    tmp = tempfile.mkdtemp(prefix="q185_repl_")
    try:
        src = KeyedTable(spark, os.path.join(tmp, "src"), ["c_custkey"],
                         n_buckets=8)
        src.apply_mutations(cust, "INSERT")                       # v2
        src.apply_mutations(
            cust.filter(k % 4 == 0)
            .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(100.0)),
            "INSERT_OR_UPDATE")                                   # v3
        src.apply_mutations(cust.filter(k % 9 == 0).select("c_custkey"),
                            "DELETE")                             # v4
        times = {c["version"]: c["time"] for c in src._commits()}

        dst = KeyedTable(spark, os.path.join(tmp, "dst"), ["c_custkey"],
                         n_buckets=8)
        dst.create(cust)

        def fp_pair(src_df, dst_df, extra_aggs=()):
            """One action for a replication probe: source fingerprint ×
            replica fingerprint (× optional replica snapshot stats) as
            a cross join of 1-row aggregates — the subtrees share no
            lineage, so the scheduler overlaps both sides' scans in a
            single job instead of two serial collect barriers."""
            s = fingerprint(src_df).toDF("s_n", "s_x", "s_s")
            d = (dst_df
                 .select(fingerprint_hash(dst_df).alias("h"),
                         F.col("c_acctbal"))
                 .agg(*fingerprint_aggs(), *extra_aggs))
            row = s.crossJoin(d).collect()[0]
            match = (row["s_n"], row["s_x"], row["s_s"]) == \
                (row["n_rows"], row["fp_xor"], row["fp_sum"])
            return match, row

        steps = []
        for step, v in enumerate((2, 3, 4), start=1):
            replicate_changes(src, dst, times[v - 1], times[v],
                              txn_app="repl", txn_version=v)
            match, row = fp_pair(
                src.read_at(times[v]), dst.read(),
                [F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                 .cast("double").alias("acctbal_sum")])
            steps.append(
                spark.range(1).select(
                    F.lit(step).cast("bigint").alias("step"),
                    F.lit(row["n_rows"]).cast("bigint")
                     .alias("snapshot_rows"),
                    F.lit(row["acctbal_sum"]).cast("double")
                     .alias("acctbal_sum"))
                .withColumn("fp_match", F.lit(bool(match))))
        # double-fire the middle window: recorded watermark wins
        r = replicate_changes(src, dst, times[2], times[3],
                              txn_app="repl", txn_version=3)
        match, _ = fp_pair(src.read(), dst.read())
        replay_noop = r.replayed and r.applied == 0 and match
        # steps are literal rows — nothing references table files, so
        # no checkpoint is needed before teardown
        out = (reduce(DataFrame.unionByName, steps)
               .withColumn("replay_noop", F.lit(bool(replay_noop))))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("step")


# replica state after each shipped window: all customers; +100 on %4;
# minus %9 — identical to the source's own history, which is what the
# per-step fingerprint match (and the oracle's TRUE columns) assert.
_Q185_ORACLE = """
WITH f AS (
  SELECT c_custkey AS k, c_acctbal,
         c_custkey % 4 = 0 AS s4, c_custkey % 9 = 0 AS s9
  FROM customer),
v3 AS (
  SELECT k, CASE WHEN s4 THEN c_acctbal + 100.0 ELSE c_acctbal END AS b,
         s9
  FROM f)
SELECT *, TRUE AS fp_match, TRUE AS replay_noop
FROM (
  SELECT CAST(1 AS BIGINT) AS step,
         CAST(COUNT(*) AS BIGINT) AS snapshot_rows,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           AS acctbal_sum
  FROM f
  UNION ALL
  SELECT 2, COUNT(*), CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE)
  FROM v3
  UNION ALL
  SELECT 3, COUNT(*), CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE)
  FROM v3 WHERE NOT s9
) ORDER BY step
"""


def q186_rebucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online re-bucketing (``KeyedTable.rebucket``) under the oracle
    gate — the grow/shrink path for a table whose creation-time
    ``n_buckets`` no longer matches its size (rewrite-granularity
    sizing: n_buckets ~ table_bytes / desired_rewrite_bytes, so a
    growing table periodically doubles it; Iceberg's bucket-transform
    evolution is the same operation). The audit drives a full
    lifecycle — seed at 4 buckets, upsert, GROW to 16, single-key
    upsert, delete, SHRINK to 8 — and emits the final snapshot
    aggregate (the DuckDB oracle recomputes it set-relationally:
    nothing lost or duplicated across two O(table) layout rewrites)
    plus four protocol booleans the oracle asserts literally TRUE:

    * ``grow_atomic`` / ``shrink_atomic`` — each rebucket is exactly
      ONE version advance (layout + version ride one commit object);
    * ``pruned_by_new_layout`` — the single-key upsert AFTER the grow
      touched exactly 1 of the 16 new buckets (mutations immediately
      inherit the new rewrite economics);
    * ``time_travel_exact`` — a pre-rebucket ``read_at`` bound still
      reads bit-exactly (order-independent fingerprint equality),
      because layout commits never touch published data directories.

    Scale note: each rebucket is one O(table) rewrite commit —
    inherent for a hash-layout change and amortized by every
    subsequent bucket-pruned mutation; the audit's aggregates are
    pruned scans and 1-row fingerprints."""
    from dataflowtemplates_spark.operators.maintenance import fingerprint

    register_tables(spark, sf_dir)
    cust = spark.table("customer").select("c_custkey", "c_nationkey",
                                          "c_acctbal")
    k = F.col("c_custkey")

    tmp = tempfile.mkdtemp(prefix="q186_rebucket_")
    try:
        tbl = KeyedTable(spark, os.path.join(tmp, "tbl"), ["c_custkey"],
                         n_buckets=4)
        tbl.apply_mutations(cust, "INSERT")                    # v1+v2
        tbl.apply_mutations(
            cust.filter(k % 5 == 0)
            .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(25.0)),
            "INSERT_OR_UPDATE")                                # v3
        bound3 = tbl._commits()[-1]["time"]
        fp3 = fingerprint(tbl.read()).first()

        v_pre = tbl._latest_version()
        tbl.rebucket(16)                                       # v4
        grow_atomic = tbl._latest_version() == v_pre + 1

        # single-key upsert on max(c_custkey): the 1-row broadcast
        # aggregate keeps the key plan-side, and max%5 != 0 is not
        # assumed — the oracle composes both bumps, so the +1000 must
        # be applied to the TABLE's current row (which already carries
        # the +25 when max%5=0), never to the source row (an UPDATE
        # replaces specified columns, so a source-derived image would
        # silently erase the first bump on 1-based key data)
        cur = tbl.read()
        one = (cur.crossJoin(F.broadcast(
                   cur.agg(F.max(k).alias("_mk"))))
               .filter(k == F.col("_mk")).drop("_mk")
               .withColumn("c_acctbal",
                           F.col("c_acctbal") + F.lit(1000.0)))
        tbl.apply_mutations(one, "UPDATE")                     # v5
        pruned_by_new_layout = (
            len(tbl._commits()[-1]["buckets"]) == 1
            and int(tbl._config_at(tbl._latest_version())["n_buckets"])
            == 16)

        tbl.apply_mutations(
            cust.filter(k % 9 == 0).select("c_custkey"), "DELETE")  # v6

        v_pre2 = tbl._latest_version()
        tbl.rebucket(8)                                        # v7
        shrink_atomic = tbl._latest_version() == v_pre2 + 1

        # ONE action closes the audit: the time-travel fingerprint and
        # the final snapshot aggregate are independent 1-row subtrees,
        # so a cross join runs both scans in a single job (guide §1.2,
        # §2.6) instead of two serial collects plus a checkpoint job;
        # the output is then literal rows — nothing references table
        # files, so no pin-before-teardown checkpoint is needed
        row = (fingerprint(tbl.read_at(bound3))
               .toDF("t_n", "t_x", "t_s")
               .crossJoin(tbl.read().agg(
                   F.count(F.lit(1)).cast("bigint").alias("snapshot_rows"),
                   F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                    .cast("double").alias("acctbal_sum"),
                   F.sum("c_custkey").cast("bigint")
                    .alias("key_checksum")))
               .collect()[0])
        time_travel_exact = (
            tuple(fp3) == (row["t_n"], row["t_x"], row["t_s"]))

        out = (spark.range(1).select(
                   F.lit(row["snapshot_rows"]).cast("bigint")
                    .alias("snapshot_rows"),
                   F.lit(row["acctbal_sum"]).cast("double")
                    .alias("acctbal_sum"),
                   F.lit(row["key_checksum"]).cast("bigint")
                    .alias("key_checksum"))
               .withColumn("grow_atomic", F.lit(bool(grow_atomic)))
               .withColumn("pruned_by_new_layout",
                           F.lit(bool(pruned_by_new_layout)))
               .withColumn("shrink_atomic", F.lit(bool(shrink_atomic)))
               .withColumn("time_travel_exact",
                           F.lit(bool(time_travel_exact))))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# final state, set-relationally: %5 keys +25, the max key +1000 (an
# UPDATE on an existing key — compositional with the %5 bump when
# max%5=0), %9 keys deleted; both rebuckets are pure layout moves, so
# they contribute NOTHING here — any lost/duplicated row across the
# two O(table) rewrites breaks count/sum/checksum. The booleans are
# engine-protocol facts the oracle pins as literal TRUE.
_Q186_ORACLE = """
WITH f AS (
  SELECT c_custkey,
         c_acctbal
         + CASE WHEN c_custkey % 5 = 0 THEN CAST(25 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END
         + CASE WHEN c_custkey = (SELECT MAX(c_custkey) FROM customer)
                THEN CAST(1000 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
           AS bal
  FROM customer
  WHERE c_custkey % 9 <> 0)
SELECT CAST(COUNT(*) AS BIGINT) AS snapshot_rows,
       CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum,
       CAST(SUM(c_custkey) AS BIGINT) AS key_checksum,
       TRUE AS grow_atomic,
       TRUE AS pruned_by_new_layout,
       TRUE AS shrink_atomic,
       TRUE AS time_travel_exact
FROM f
"""


def q189_objectstore_lifecycle(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Full KeyedTable lifecycle over a LIVE HTTP S3 endpoint with
    SigV4-signed traffic — the composed claim the commit-protocol
    property tests cover only piecewise: create → upsert → CDC
    ``apply_changes`` → online ``rebucket`` → ``vacuum`` with log
    truncation → crash-debris ``reclaim_orphans`` → final read, with
    EVERY byte (commit-log JSON through the conditional-put CAS, and
    parquet data through the distributed executor-side plane,
    operators/objstore_plane.py) behind an in-process S3 REST
    emulator that VERIFIES each request's SigV4 signature and answers
    403 otherwise (testing/s3_emulator.py). The reference's equivalent
    trust — handing transactional storage to a cloud service's API
    (templates/SpannerToSpanner.java:109-114) — is re-expressed here
    as an auditable protocol over the store's public REST surface.

    The oracle recomputes the final table state set-relationally from
    ``customer`` (sampled ``%7``): the ``%3`` upsert bump, the CDC
    batch (absolute ``U`` images on ``%10`` keys, ``D`` wins over
    ``U`` at the higher seq on ``%90`` keys, one fresh ``I``), with
    the layout/maintenance steps contributing NOTHING — any row lost
    or duplicated across the rebucket rewrite, the vacuum, or the
    reclaim breaks count/sum/checksum. Five protocol booleans ride
    the row, each asserted literally TRUE by the oracle:

    * ``signed_traffic`` — an unsigned rival probe got HTTP 403, so
      the endpoint the lifecycle ran against really enforced SigV4;
    * ``grow_atomic`` — the rebucket was exactly one version advance;
    * ``log_dense`` — the truncated log is contiguous versions;
    * ``floor_enforced`` — a pre-floor ``read_at`` bound raises
      instead of resolving against reclaimed history;
    * ``orphan_reclaimed`` — planted crash debris was removed and
      every surviving data dir is referenced by the log.

    Scale note: the lifecycle is O(sample) per commit with map-only
    object I/O (the plane ships parquet bytes executor-side; the
    driver handles O(files) strings); on a real cluster the same
    commits run with the native s3a connector for data and this
    module's CAS for metadata — the protocol is identical, which is
    exactly what this row proves every round."""
    from dataflowtemplates_spark.operators import fsio
    from dataflowtemplates_spark.operators.s3http import S3HttpBackend
    from dataflowtemplates_spark.testing.s3_emulator import S3Emulator

    register_tables(spark, sf_dir)
    sample = (spark.table("customer")
              .select("c_custkey", "c_nationkey", "c_acctbal")
              .filter(F.col("c_custkey") % 7 == 0))
    k = F.col("c_custkey")
    creds = ("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY")

    emu = S3Emulator().start()
    emu.require_sigv4 = creds
    backend = S3HttpBackend(emu.endpoint, timeout_s=10.0,
                            credentials=creds)
    fsio.register_object_backend("s3l", backend)
    try:
        # the endpoint really rejects unsigned traffic: a credential-
        # less rival must see 403, not data
        try:
            S3HttpBackend(emu.endpoint, timeout_s=10.0).read_bytes(
                "s3l://q189/anything")
            signed_traffic = False
        except OSError as exc:
            signed_traffic = "403" in str(exc)

        t = KeyedTable(spark, "s3l://q189/tbl", ["c_custkey"],
                       n_buckets=4)
        t.apply_mutations(sample, "INSERT")               # v1 + v2
        bound2 = t._commits()[-1]["time"]
        t.apply_mutations(                                 # v3
            sample.filter(k % 3 == 0)
            .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(50.0)),
            "INSERT_OR_UPDATE")

        # CDC batch: absolute U images on %10 keys (seq 1), D on %9
        # keys (seq 2 — wins the %90 overlap), one I of max(k)+1
        upd = (sample.filter(k % 10 == 0)
               .withColumn("c_acctbal", k.cast("double") * F.lit(2.0))
               .withColumn("_op", F.lit("U"))
               .withColumn("seq", F.lit(1)))
        dele = (sample.filter(k % 9 == 0).select("c_custkey")
                .withColumn("c_nationkey",
                            F.lit(None).cast("int"))
                .withColumn("c_acctbal", F.lit(None).cast("double"))
                .withColumn("_op", F.lit("D"))
                .withColumn("seq", F.lit(2)))
        ins = (sample.agg((F.max(k) + F.lit(1)).alias("c_custkey"))
               .withColumn("c_nationkey", F.lit(0).cast("int"))
               .withColumn("c_acctbal", F.lit(1234.56))
               .withColumn("_op", F.lit("I"))
               .withColumn("seq", F.lit(1)))
        t.apply_changes(upd.unionByName(dele).unionByName(ins),
                        op_col="_op", seq_col="seq")        # v4

        v_pre = t._latest_version()
        t.rebucket(8)                                       # v5
        grow_atomic = t._latest_version() == v_pre + 1

        t.vacuum(keep_last=2, truncate_log=True)            # v6
        commits = t._commits()
        versions = [c["version"] for c in commits]
        log_dense = versions == list(range(versions[0],
                                           versions[0] + len(versions)))
        try:
            t.read_at(bound2)
            floor_enforced = False
        except ValueError:
            floor_enforced = True

        # plant crash debris (a staged dir no log object references),
        # then reclaim: exactly it goes, referenced dirs all survive
        backend.write_bytes("s3l://q189/tbl/data/v99999-dead/kb=0/p0",
                            b"dead")
        removed = t.reclaim_orphans(grace_s=0.0)
        referenced = {c["dir"] for c in t._commits() if c.get("dir")}
        on_disk = set(backend.list_dir("s3l://q189/tbl/data"))
        orphan_reclaimed = removed == 1 and on_disk <= referenced

        out = (t.read().agg(
                   F.count(F.lit(1)).cast("bigint").alias("snapshot_rows"),
                   F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                    .cast("double").alias("acctbal_sum"),
                   F.sum("c_custkey").cast("bigint").alias("key_checksum"))
               .withColumn("signed_traffic", F.lit(bool(signed_traffic)))
               .withColumn("grow_atomic", F.lit(bool(grow_atomic)))
               .withColumn("log_dense", F.lit(bool(log_dense)))
               .withColumn("floor_enforced", F.lit(bool(floor_enforced)))
               .withColumn("orphan_reclaimed",
                           F.lit(bool(orphan_reclaimed)))
               .localCheckpoint(eager=True))  # pin before teardown
    finally:
        fsio.unregister_object_backend("s3l")
        emu.stop()
    return out


# Final state, set-relationally: the %7 sample, minus %9 deletes (D at
# seq 2 beats the %90 U at seq 1), %10 survivors overridden to k*2
# (absolute CDC images), else the %3 upsert bump; plus the one insert
# at max(sample)+1. The rebucket/vacuum/reclaim steps are pure
# layout/metadata moves and contribute nothing. Booleans are
# engine-protocol facts the oracle pins as literal TRUE.
_Q189_ORACLE = """
WITH sample AS (
  SELECT c_custkey AS k, c_acctbal
  FROM customer WHERE c_custkey % 7 = 0),
final AS (
  SELECT k,
         CASE WHEN k % 10 = 0 THEN CAST(k AS DOUBLE) * 2
              WHEN k % 3 = 0 THEN c_acctbal + CAST(50 AS DOUBLE)
              ELSE c_acctbal END AS bal
  FROM sample WHERE k % 9 <> 0
  UNION ALL
  SELECT (SELECT MAX(k) + 1 FROM sample) AS k,
         CAST(1234.56 AS DOUBLE) AS bal)
SELECT CAST(COUNT(*) AS BIGINT) AS snapshot_rows,
       CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum,
       CAST(SUM(k) AS BIGINT) AS key_checksum,
       TRUE AS signed_traffic,
       TRUE AS grow_atomic,
       TRUE AS log_dense,
       TRUE AS floor_enforced,
       TRUE AS orphan_reclaimed
FROM final
"""


def q190_ranged_read_audit(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Ranged-read economics over a LIVE signed HTTP object store —
    the driver-gated probe for this round's column projection +
    row-group predicate skipping (operators/rangedparquet.py): a
    KeyedTable of WIDE rows (a ~4 KB incompressible pad column) is
    written through the data plane with small row groups
    (``plane_flush_rows``) and key-clustered files, then read three
    ways against the emulator's byte counter:

    * full scan (whole-object GETs) — the baseline bytes;
    * a narrow selective query (``columns=['c_custkey','c_acctbal']``,
      ``predicate=[('c_custkey', '>=', cut)]`` for the top 1/8 key
      range) — footers plus a few narrow chunks;
    * the same predicate PROJECTING the fat column — row-group
      statistics refute the non-matching row groups, so their pad
      chunks are never fetched.

    The relational outputs (counts and decimal-exact sums from each
    read) are recomputed set-relationally by the oracle; three
    economics booleans are pinned literally TRUE:

    * ``ranged_engaged`` — the narrow read served fewer bytes than
      the full scan (the ranged path actually ran);
    * ``projection_economical`` — the narrow selective read cost
      <= 1/5 of the full scan's bytes (the VERDICT r14 bar);
    * ``pruning_economical`` — the fat-column predicated read cost
      <= 1/2 of the full scan: only statistics pruning can produce
      that, since unpruned fat projection reassembles whole objects.

    Scale note: cut selection is one O(1) driver scalar; everything
    else is the plane's map-only object I/O. This is the narrow-
    projection-over-wide-table economics a 100 TB reader lives on,
    proven against live HTTP every round."""
    from dataflowtemplates_spark.operators import fsio
    from dataflowtemplates_spark.operators.s3http import S3HttpBackend
    from dataflowtemplates_spark.testing.s3_emulator import S3Emulator

    register_tables(spark, sf_dir)
    k = F.col("c_custkey")
    pad = F.concat(*[F.sha2(F.concat(k.cast("string"), F.lit(f":{j}")),
                            512) for j in range(32)])  # 4096 chars,
    #                       distinct digests: snappy cannot collapse it
    sample = (spark.table("customer")
              .filter(k % 5 == 0)
              .select("c_custkey", "c_acctbal", pad.alias("pad")))
    cut = int(sample.agg(F.max(k)).first()[0]) * 7 // 8

    creds = ("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY")
    emu = S3Emulator().start()
    emu.require_sigv4 = creds
    backend = S3HttpBackend(emu.endpoint, timeout_s=10.0,
                            credentials=creds)
    fsio.register_object_backend("s3r", backend)
    try:
        t = KeyedTable(spark, "s3r://q190/tbl", ["c_custkey"],
                       n_buckets=1, cluster_by=["c_custkey"],
                       plane_flush_rows=128)  # ~512 KB row groups
        #   with disjoint key ranges: they slice the cluster order
        t.apply_mutations(sample, "INSERT")

        emu.object_get_bytes = 0
        full = (t.read()
                .agg(F.count(F.lit(1)).cast("bigint")
                      .alias("total_rows"),
                     F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                      .cast("double").alias("bal_sum"))
                .localCheckpoint(eager=True))
        full_bytes = emu.object_get_bytes

        emu.object_get_bytes = 0
        pred = (t.read(columns=["c_custkey", "c_acctbal"],
                       predicate=[("c_custkey", ">=", cut)])
                .agg(F.count(F.lit(1)).cast("bigint")
                      .alias("pred_rows"),
                     F.sum("c_custkey").cast("bigint")
                      .alias("pred_key_sum"),
                     F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                      .cast("double").alias("pred_bal_sum"))
                .localCheckpoint(eager=True))
        narrow_bytes = emu.object_get_bytes

        emu.object_get_bytes = 0
        fat = (t.read(columns=["pad"],
                      predicate=[("c_custkey", ">=", cut)])
               .agg(F.sum(F.length("pad")).cast("bigint")
                     .alias("pred_pad_chars"))
               .localCheckpoint(eager=True))
        fat_bytes = emu.object_get_bytes

        out = (full.crossJoin(pred).crossJoin(fat)
               .withColumn("ranged_engaged",
                           F.lit(bool(narrow_bytes < full_bytes)))
               .withColumn("projection_economical",
                           F.lit(bool(narrow_bytes * 5 <= full_bytes)))
               .withColumn("pruning_economical",
                           F.lit(bool(fat_bytes * 2 <= full_bytes)))
               .localCheckpoint(eager=True))  # pin before teardown
    finally:
        fsio.unregister_object_backend("s3r")
        emu.stop()
    return out


# The oracle recomputes every relational output from `customer`
# set-relationally (the cut is the same closed-form (MAX*7)//8 over
# the %5 sample; pad contributes only its fixed 4096-char length —
# its BYTES are pinned by the plane parity tests); the economics
# booleans are engine-protocol facts asserted literally TRUE.
_Q190_ORACLE = """
WITH sample AS (
  SELECT c_custkey AS k, c_acctbal
  FROM customer WHERE c_custkey % 5 = 0),
cut AS (SELECT (MAX(k) * 7) // 8 AS c FROM sample)
SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           AS bal_sum,
       CAST(SUM(CASE WHEN k >= (SELECT c FROM cut)
                     THEN 1 END) AS BIGINT) AS pred_rows,
       CAST(SUM(CASE WHEN k >= (SELECT c FROM cut)
                     THEN k END) AS BIGINT) AS pred_key_sum,
       CAST(SUM(CASE WHEN k >= (SELECT c FROM cut)
                     THEN CAST(c_acctbal AS DECIMAL(18,2)) END)
            AS DOUBLE) AS pred_bal_sum,
       CAST(SUM(CASE WHEN k >= (SELECT c FROM cut)
                     THEN 4096 END) AS BIGINT) AS pred_pad_chars,
       TRUE AS ranged_engaged,
       TRUE AS projection_economical,
       TRUE AS pruning_economical
FROM sample
"""


def q191_datasource_pushdown_audit(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """CATALYST-INFERRED filter pushdown into the object-store plane
    via the engine's registered Python DataSource
    (sources/keyedtable_source.py): an ORDINARY
    ``spark.read.format("keyedtable")...filter(...)`` — no explicit
    ``predicate=`` argument anywhere — plans through Catalyst, whose
    comparison filters reach :meth:`KeyedTableReader.pushFilters` and
    become the ranged reader's row-group statistics pruning; refuted
    row groups cost no chunk bytes. Every filter is also re-applied
    by Spark itself, so the values are the engine's own exact
    semantics (the source only reduces I/O).

    Same data shape as q190 (a ~4 KB incompressible pad, small row
    groups, key-clustered files) on an independent customer
    sample (``%4``); the oracle recomputes the relational outputs
    set-relationally and pins two booleans literally TRUE:

    * ``pushdown_engaged`` — the filtered format read served fewer
      bytes than the unfiltered one (Catalyst's filters really
      reached the store);
    * ``pushdown_economical`` — it served <= 1/2 of the full-scan
      bytes (only statistics refutation can do that).

    This closes the plane's documented residual for FILTERS — a
    declarative ``.filter`` now prunes I/O with no plane-specific
    API; column pruning still rides the explicit ``columns`` option
    (no DataSource hook exists for it yet)."""
    from dataflowtemplates_spark.operators import fsio
    from dataflowtemplates_spark.operators.s3http import S3HttpBackend
    from dataflowtemplates_spark.sources import keyedtable_source
    from dataflowtemplates_spark.testing.s3_emulator import S3Emulator

    register_tables(spark, sf_dir)
    k = F.col("c_custkey")
    pad = F.concat(*[F.sha2(F.concat(k.cast("string"), F.lit(f"_{j}")),
                            512) for j in range(32)])
    sample = (spark.table("customer")
              .filter(k % 4 == 0)
              .select("c_custkey", "c_acctbal", pad.alias("pad")))
    cut = int(sample.agg(F.max(k)).first()[0]) * 7 // 8

    creds = ("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY")
    emu = S3Emulator().start()
    emu.require_sigv4 = creds
    backend = S3HttpBackend(emu.endpoint, timeout_s=10.0,
                            credentials=creds)
    fsio.register_object_backend("s3q", backend)
    keyedtable_source.register(spark)
    try:
        t = KeyedTable(spark, "s3q://q191/tbl", ["c_custkey"],
                       n_buckets=1, cluster_by=["c_custkey"],
                       plane_flush_rows=128)
        t.apply_mutations(sample, "INSERT")

        def fmt():
            return (spark.read.format("keyedtable")
                    .option("path", "s3q://q191/tbl")
                    .option("endpoint", emu.endpoint)
                    .option("access_key", creds[0])
                    .option("secret_key", creds[1]))

        emu.object_get_bytes = 0
        full = (fmt().load()
                .agg(F.count(F.lit(1)).cast("bigint")
                      .alias("total_rows"),
                     F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                      .cast("double").alias("bal_sum"))
                .localCheckpoint(eager=True))
        full_bytes = emu.object_get_bytes

        emu.object_get_bytes = 0
        sel = (fmt().load()
               .filter(F.col("c_custkey") >= F.lit(cut))
               .agg(F.count(F.lit(1)).cast("bigint")
                     .alias("sel_rows"),
                    F.sum("c_custkey").cast("bigint")
                     .alias("sel_key_sum"),
                    F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                     .cast("double").alias("sel_bal_sum"))
               .localCheckpoint(eager=True))
        sel_bytes = emu.object_get_bytes

        out = (full.crossJoin(sel)
               .withColumn("pushdown_engaged",
                           F.lit(bool(sel_bytes < full_bytes)))
               .withColumn("pushdown_economical",
                           F.lit(bool(sel_bytes * 2 <= full_bytes)))
               .localCheckpoint(eager=True))  # pin before teardown
    finally:
        fsio.unregister_object_backend("s3q")
        emu.stop()
    return out


# Set-relational recompute over `customer` (%4 sample, closed-form
# (MAX*7)//8 cut); the pushdown booleans are engine-protocol facts
# asserted literally TRUE.
_Q191_ORACLE = """
WITH sample AS (
  SELECT c_custkey AS k, c_acctbal
  FROM customer WHERE c_custkey % 4 = 0),
cut AS (SELECT (MAX(k) * 7) // 8 AS c FROM sample)
SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           AS bal_sum,
       CAST(SUM(CASE WHEN k >= (SELECT c FROM cut)
                     THEN 1 END) AS BIGINT) AS sel_rows,
       CAST(SUM(CASE WHEN k >= (SELECT c FROM cut)
                     THEN k END) AS BIGINT) AS sel_key_sum,
       CAST(SUM(CASE WHEN k >= (SELECT c FROM cut)
                     THEN CAST(c_acctbal AS DECIMAL(18,2)) END)
            AS DOUBLE) AS sel_bal_sum,
       TRUE AS pushdown_engaged,
       TRUE AS pushdown_economical
FROM sample
"""


QUERIES = {"q78_mutation_audit": q78_mutation_audit,
           "q189_objectstore_lifecycle": q189_objectstore_lifecycle,
           "q190_ranged_read_audit": q190_ranged_read_audit,
           "q191_datasource_pushdown_audit":
               q191_datasource_pushdown_audit,
           "q186_rebucket_audit": q186_rebucket_audit,
           "q166_jdbc_roundtrip": q166_jdbc_roundtrip,
           "q175_jdbc_incremental_pull": q175_jdbc_incremental_pull,
           "q176_optimize_audit": q176_optimize_audit,
           "q177_incremental_sync_audit": q177_incremental_sync_audit,
           "q99_snapshot_audit": q99_snapshot_audit,
           "q122_vacuum_audit": q122_vacuum_audit,
           "q128_change_data_feed": q128_change_data_feed,
           "q139_incremental_rollup": q139_incremental_rollup,
           "q159_table_fingerprint": q159_table_fingerprint,
           "q179_jdbc_retry_exactly_once": q179_jdbc_retry_exactly_once,
           "q180_commit_protocol_audit": q180_commit_protocol_audit,
           "q181_orphan_reclaim_audit": q181_orphan_reclaim_audit,
           "q182_txn_replay_audit": q182_txn_replay_audit,
           "q183_cdc_apply_audit": q183_cdc_apply_audit,
           "q185_replication_audit": q185_replication_audit}
ORACLES = {"q78_mutation_audit": _Q78_ORACLE,
           "q189_objectstore_lifecycle": _Q189_ORACLE,
           "q190_ranged_read_audit": _Q190_ORACLE,
           "q191_datasource_pushdown_audit": _Q191_ORACLE,
           "q186_rebucket_audit": _Q186_ORACLE,
           "q166_jdbc_roundtrip": _Q166_ORACLE,
           "q175_jdbc_incremental_pull": _Q175_ORACLE,
           "q176_optimize_audit": _Q176_ORACLE,
           "q177_incremental_sync_audit": _Q177_ORACLE,
           "q99_snapshot_audit": _Q99_ORACLE,
           "q122_vacuum_audit": _Q122_ORACLE,
           "q128_change_data_feed": _Q128_ORACLE,
           "q139_incremental_rollup": _Q139_ORACLE,
           "q159_table_fingerprint": _Q159_ORACLE,
           "q179_jdbc_retry_exactly_once": _Q179_ORACLE,
           "q180_commit_protocol_audit": _Q180_ORACLE,
           "q181_orphan_reclaim_audit": _Q181_ORACLE,
           "q182_txn_replay_audit": _Q182_ORACLE,
           "q183_cdc_apply_audit": _Q183_ORACLE,
           "q185_replication_audit": _Q185_ORACLE}
