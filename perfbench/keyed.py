"""``keyed_sync`` workload: the keyed-table commit path, on local disk
and read-beside-write on the in-process SigV4 S3 emulator.

One pass runs, as one closed-loop client:

1. local KeyedTable (16 buckets): ``generate_to_keyed_table`` bulk load,
   3 seeded INSERT_OR_UPDATE batch files through
   ``files_to_keyed_table`` (3, 10 and 1000 keys, Zipf-skewed towards
   recent keys, some new keys, identical-value duplicates in some
   batches), one UPDATE of absent keys (every row quarantines),
   ``query_delete_keyed_table``, one mixed I/U/D ``apply_changes`` and a
   final ``vacuum`` — 8 mutation calls;
2. a KeyedTable on the S3 emulator: ``query_to_keyed_table`` bulk
   insert, then rounds of one small upsert followed by three reads
   (timestamp-bound ``run_query`` joins against catalog views at a
   recent bound on the warm handle and at an old bound on a fresh
   handle, and a filtered ``spark.read.format("keyedtable")`` scan),
   and a final ``vacuum``.

Why: local-table mutation calls take about 60% of a traced pass (the
generator bulk load alone about 30%) and the S3 table's writes and
reads about 40%. At 2000 rows the per-commit constant outweighs the
per-byte rewrite. No export writer or registry query runs, so an
encoder change must leave this workload unchanged.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import fixture

SF = 0.002
N0 = 2000
N_BUCKETS = 16
#: batch sizes of the upsert series (fixed multiset; the seed orders it)
BATCH_SIZES = (3, 10, 1000)
NEW_KEY_SHARE = 0.1
ZIPF_S = 1.1
#: every DUP_EVERY-th batch carries identical-value duplicate rows
DUP_EVERY = 2
DUP_SHARE = 0.02
N_ABSENT = 20
CDC_SIZES = {"U": 40, "D": 30, "I": 30}
S3_ROUNDS = 1
S3_CREDS = ("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY")
S3_SCHEME = "s3b"
#: catalog tables the S3 phase reads
TABLES = ("orders", "customer")

_SCHEMA = pa.schema([("id", pa.int64()), ("grp", pa.string()),
                     ("qty", pa.int64()), ("amt", pa.float64())])
_GRP_POOL = list("abcdefgh")
_ORDER_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
               "o_orderpriority")
_SEGMENT_SQL = ("SELECT c_mktsegment, COUNT(*) AS n, "
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) "
                "AS DECIMAL(18,2)) AS total "
                "FROM {view} JOIN customer ON o_custkey = c_custkey "
                "{where} GROUP BY c_mktsegment")


def generator_spec():
    from dataflowtemplates_spark.sources.generator import (
        FieldSpec, TableSpec)
    return TableSpec("kv", N0, [
        FieldSpec("id", "INT64", is_primary=True, nullable=False),
        FieldSpec("grp", "STRING", range=_GRP_POOL),
        FieldSpec("qty", "INT64"),
        FieldSpec("amt", "FLOAT64")], random_rate=10)


def generated_rows_sql(seed: int) -> str:
    """DuckDB replica of ``sources.generator`` for ``generator_spec``:
    the same md5 entropy per (seed, table, field, salt, id), the same
    uniform draw and the same lowering per type."""
    def u(field: str, salt: str) -> str:
        h = (f"md5(concat_ws('#', '{seed}', 'kv', '{field}', '{salt}', "
             "CAST(id AS VARCHAR)))")
        return (f"(CAST(CAST(('0x' || substr({h}, 1, 8)) AS BIGINT) "
                "AS DOUBLE) / CAST(4294967296 AS DOUBLE))")

    def nullable(field: str, expr: str) -> str:
        return (f"CASE WHEN {u(field, 'null')} * CAST(100 AS DOUBLE) < 10 "
                f"THEN NULL ELSE {expr} END")

    pool = "[" + ", ".join(f"'{g}'" for g in _GRP_POOL) + "]"
    grp = (f"list_extract({pool}, CAST(floor({u('grp', 'v')} * "
           f"{len(_GRP_POOL)}) AS INTEGER) + 1)")
    qty = f"CAST(floor({u('qty', 'v')} * CAST(1000000 AS DOUBLE)) AS BIGINT)"
    amt = f"{u('amt', 'v')} * CAST(1000000 AS DOUBLE)"
    return (f"SELECT id, {nullable('grp', grp)} AS grp, "
            f"{nullable('qty', qty)} AS qty, {nullable('amt', amt)} AS amt "
            f"FROM (SELECT range AS id FROM range({N0}))")


def _batch_table(rng, ids: np.ndarray) -> pa.Table:
    n = len(ids)
    return pa.table({
        "id": ids.astype(np.int64),
        "grp": [chr(ord("i") + int(k)) for k in rng.integers(0, 8, n)],
        "qty": rng.integers(0, 1_000_000, n),
        "amt": rng.integers(0, 100_000_000, n) / 100.0}, schema=_SCHEMA)


def _now() -> str:
    return datetime.now(timezone.utc).isoformat()


def _sorted_rows(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows),
                  key=lambda r: tuple((v is None, v) for v in r))


def _log_version(table_path: str) -> int:
    """Latest committed version, from the local commit log's names."""
    names = os.listdir(os.path.join(table_path, "_log"))
    return max(int(n.split(".", 1)[0]) for n in names
               if n.endswith(".json") and not n.endswith(".ckpt.json"))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class KeyedSync:
    name = "keyed_sync"
    traced = False

    def make_inputs(self, root: str, seed: int) -> dict:
        """Fixture, batch files and the DuckDB replay of every expected
        state — all before the program runs."""
        self.root = root
        self.seed = seed
        self.fixture_dir = os.path.join(root, "fixture")
        fixture.generate(self.fixture_dir, seed, SF, tables=TABLES)
        rng = np.random.default_rng(seed)
        bdir = os.path.join(root, "batches")
        os.makedirs(bdir)
        con = self.con = duckdb.connect()
        con.execute("CREATE TABLE state (id BIGINT PRIMARY KEY, grp VARCHAR, "
                    "qty BIGINT, amt DOUBLE)")
        con.execute(f"INSERT INTO state {generated_rows_sql(seed)}")

        next_key = N0
        self.batches: list[tuple[str, int]] = []  # (path, expected quarantine)
        hot = new = dup_rows = total = 0
        sizes = list(BATCH_SIZES)
        rng.shuffle(sizes)
        for i, size in enumerate(sizes):
            n_new = int(round(size * NEW_KEY_SHARE))
            n_old = size - n_new
            rank = next_key - np.arange(next_key)  # 1 = most recent key
            p = rank.astype(np.float64) ** -ZIPF_S
            old = rng.choice(next_key, n_old, replace=False, p=p / p.sum())
            fresh = np.arange(next_key, next_key + n_new)
            next_key += n_new
            tbl = _batch_table(rng, np.concatenate([old, fresh]))
            n_dup = (max(1, int(size * DUP_SHARE))
                     if i % DUP_EVERY == 1 else 0)
            if n_dup:
                tbl = pa.concat_tables(
                    [tbl, tbl.take(rng.choice(size, n_dup, replace=False))])
            path = os.path.join(bdir, f"upsert-{i:03d}.parquet")
            pq.write_table(tbl, path)
            con.register("b", tbl)
            con.execute(
                "INSERT OR REPLACE INTO state SELECT DISTINCT * FROM b")
            con.unregister("b")
            self.batches.append((path, n_dup))
            hot += int((old >= next_key - n_new - N0 // 10).sum())
            new += n_new
            dup_rows += n_dup
            total += tbl.num_rows

        absent = _batch_table(rng, np.arange(10**9, 10**9 + N_ABSENT))
        self.absent_path = os.path.join(bdir, "update-absent.parquet")
        pq.write_table(absent, self.absent_path)

        self.delete_mod = int(rng.integers(0, 11))
        con.execute(f"DELETE FROM state WHERE qty % 11 = {self.delete_mod}")

        live = np.array([r[0] for r in con.execute(
            "SELECT id FROM state ORDER BY id").fetchall()])
        picked = rng.choice(live, CDC_SIZES["U"] + CDC_SIZES["D"],
                            replace=False)
        ups, dels = picked[:CDC_SIZES["U"]], picked[CDC_SIZES["U"]:]
        ins = np.arange(next_key, next_key + CDC_SIZES["I"])
        cdc = _batch_table(rng, np.concatenate([ups, dels, ins]))
        ops = (["U"] * len(ups)) + (["D"] * len(dels)) + (["I"] * len(ins))
        cdc = cdc.append_column("_op", pa.array(ops)).append_column(
            "_seq", pa.array(np.arange(len(ops), dtype=np.int64)))
        self.cdc_path = os.path.join(bdir, "cdc.parquet")
        pq.write_table(cdc, self.cdc_path)
        con.register("c", cdc)
        con.execute("DELETE FROM state WHERE id IN "
                    "(SELECT id FROM c WHERE _op = 'D')")
        con.execute("INSERT OR REPLACE INTO state "
                    "SELECT id, grp, qty, amt FROM c WHERE _op <> 'D'")
        con.unregister("c")
        self.expected_local = _sorted_rows(
            con.execute("SELECT * FROM state").fetchall())
        ref = os.path.join(root, "keyed_ref.parquet")
        pq.write_table(con.execute("SELECT * FROM state").arrow(), ref,
                       compression="snappy")
        self.ref_bytes = os.path.getsize(ref)

        self._s3_inputs(rng)
        self.s3_calls: list = []  # (kind, S3 counters) per traced call
        self.write_amp = self.buckets_per_upsert = 0.0
        return {"seed": seed, "bulk_rows": N0, "batches": len(sizes),
                "batch_rows": total,
                "batch_bytes": sum(os.path.getsize(p)
                                   for p, _ in self.batches),
                "batch_size_min": min(sizes),
                "batch_size_max": max(sizes),
                "distinct_keys_final": len(self.expected_local),
                "hot_key_share": round(
                    hot / max(total - new - dup_rows, 1), 4),
                "new_key_share": round(new / total, 4),
                "dup_row_share": round(dup_rows / total, 4),
                "n_buckets": N_BUCKETS,
                "s3_rows": self.s3_rows, "s3_rounds": S3_ROUNDS,
                "read_write_ratio": f"{3 * S3_ROUNDS}:{S3_ROUNDS}"}

    def _s3_inputs(self, rng) -> None:
        con = duckdb.connect()
        con.execute("CREATE VIEW orders AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.fixture_dir, 'orders.parquet')}')")
        con.execute("CREATE VIEW customer AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.fixture_dir, 'customer.parquet')}')")
        r4 = int(rng.integers(0, 4))
        self.s3_bulk_sql = (f"SELECT {_ORDER_COLS} FROM orders "
                            f"WHERE o_orderkey % 4 = {r4}")
        residues = rng.choice(23, S3_ROUNDS, replace=False)
        self.s3_upsert_sql = [
            (f"SELECT o_orderkey, o_custkey, o_orderstatus, "
             f"o_totalprice + CAST({1.25 * (j + 1)} AS DOUBLE) AS "
             f"o_totalprice, o_orderpriority FROM orders "
             f"WHERE o_orderkey % 4 = {r4} AND o_orderkey % 23 = {int(res)}")
            for j, res in enumerate(residues)]
        self.s3_cut = int(con.execute(
            f"SELECT quantile_disc(o_orderkey, 0.3) FROM "
            f"({self.s3_bulk_sql})").fetchone()[0])
        con.execute(f"CREATE TABLE kt AS {self.s3_bulk_sql}")
        self.s3_rows = con.execute("SELECT COUNT(*) FROM kt").fetchone()[0]
        narrow = f"WHERE o_orderkey < {self.s3_cut}"
        old = _sorted_rows(con.execute(
            _SEGMENT_SQL.format(view="kt", where=narrow)).fetchall())
        self.s3_expected = []  # per round: expected result of each read
        for sql in self.s3_upsert_sql:
            con.execute(f"CREATE TEMP TABLE up AS {sql}")
            con.execute("UPDATE kt SET o_totalprice = up.o_totalprice "
                        "FROM up WHERE kt.o_orderkey = up.o_orderkey")
            con.execute("DROP TABLE up")
            self.s3_expected.append({
                "read.recent_full": _sorted_rows(con.execute(
                    _SEGMENT_SQL.format(view="kt", where="")).fetchall()),
                "read.old_narrow": old,
                "read.scan": _sorted_rows(con.execute(
                    "SELECT COUNT(*), CAST(SUM(CAST(o_totalprice AS "
                    f"DECIMAL(18,2))) AS DECIMAL(18,2)) FROM kt {narrow}"
                ).fetchall()),
            })
        self.s3_final = _sorted_rows(con.execute(
            "SELECT * FROM kt").fetchall())
        con.close()

    # -- in-program preparation (timed as part of setup) -----------------
    def prepare(self, spark) -> None:
        from dataflowtemplates_spark.catalog import register_tables
        from dataflowtemplates_spark.operators import fsio
        from dataflowtemplates_spark.operators.s3http import S3HttpBackend
        from dataflowtemplates_spark.sources import keyedtable_source
        from dataflowtemplates_spark.testing.s3_emulator import S3Emulator

        register_tables(spark, self.fixture_dir, TABLES)
        self.emu = S3Emulator()
        self.emu.require_sigv4 = S3_CREDS
        self.emu.start()
        fsio.register_object_backend(S3_SCHEME, S3HttpBackend(
            self.emu.endpoint, timeout_s=10.0, credentials=S3_CREDS))
        keyedtable_source.register(spark)

    def release(self) -> None:
        from dataflowtemplates_spark.operators import fsio
        fsio.unregister_object_backend(S3_SCHEME)
        self.emu.stop()

    def enable_tracing(self) -> None:
        """Traced runs count S3 requests per call at the emulator and
        read the local table's log and bytes around the upserts, off
        the pass clock."""
        from perfbench.trace import S3Counters
        self.traced = True
        self.s3 = S3Counters(self.emu)

    # -- the timed pass --------------------------------------------------
    def run_pass(self, spark, client, i: int) -> None:
        from dataflowtemplates_spark import templates
        from dataflowtemplates_spark.operators.mutations import KeyedTable

        self.results = {}
        path = os.path.join(self.root, f"table{i}")
        self.table_path = path
        t = KeyedTable(spark, path, ["id"], n_buckets=N_BUCKETS)
        client.call("mutations.bulk_insert", templates.generate_to_keyed_table,
                    spark, generator_spec(), t, seed=str(self.seed))
        if self.traced:
            with client.off_clock():
                v0, bytes0 = _log_version(path), _dir_bytes(path)
        upserts = []
        for bpath, _ in self.batches:
            upserts.append(client.call(
                "mutations.upsert", templates.files_to_keyed_table,
                spark, bpath, t))
        self.results["upserts"] = upserts
        if self.traced:  # vacuum deletes superseded data: measure now
            with client.off_clock():
                self.upsert_versions = (v0 + 1, _log_version(path))
                self.write_amp = (_dir_bytes(path) - bytes0) / sum(
                    os.path.getsize(p) for p, _ in self.batches)
        self.results["update_missing"] = client.call(
            "mutations.update_missing", templates.files_to_keyed_table,
            spark, self.absent_path, t, op="UPDATE")
        client.call("mutations.delete", templates.query_delete_keyed_table,
                    spark, f"SELECT id FROM kv_live "
                    f"WHERE qty % 11 = {self.delete_mod}", t,
                    keyed_tables={"kv_live": t})
        client.call("mutations.cdc", lambda: t.apply_changes(
            spark.read.parquet(self.cdc_path), op_col="_op", seq_col="_seq"))
        client.call("mutations.vacuum", t.vacuum)
        self.local_table = t
        self._s3_pass(spark, client, i)

    def _s3call(self, client, kind: str, fn, *args, **kwargs):
        if not self.traced:
            return client.call(kind, fn, *args, **kwargs)
        self.s3.reset()
        out = client.call(kind, fn, *args, **kwargs)
        self.s3_calls.append((kind, self.s3.snapshot()))
        return out

    def _s3_pass(self, spark, client, i: int) -> None:
        from pyspark.sql import functions as F

        from dataflowtemplates_spark import templates
        from dataflowtemplates_spark.operators.mutations import KeyedTable
        from dataflowtemplates_spark.plans import run_query

        path = f"{S3_SCHEME}://bench/p{i}/orders"
        self.s3_path = path

        def handle():
            return KeyedTable(spark, path, ["o_orderkey"], n_buckets=4)

        def query(table, bound, where):
            return run_query(spark, _SEGMENT_SQL.format(view="kt",
                                                        where=where),
                             bound, {"kt": table}).collect()

        def scan():
            return (spark.read.format("keyedtable")
                    .option("path", path)
                    .option("endpoint", self.emu.endpoint)
                    .option("access_key", S3_CREDS[0])
                    .option("secret_key", S3_CREDS[1]).load()
                    .filter(F.col("o_orderkey") < F.lit(self.s3_cut))
                    .agg(F.count(F.lit(1)),
                         F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                         .cast("decimal(18,2)"))
                    .collect())

        narrow = f"WHERE o_orderkey < {self.s3_cut}"
        warm = handle()
        self._s3call(client, "mutations.s3_bulk_insert",
                     templates.query_to_keyed_table, spark,
                     self.s3_bulk_sql, warm, op="INSERT")
        old = _now()
        reads = []
        for sql in self.s3_upsert_sql:
            self._s3call(client, "mutations.s3_upsert",
                         templates.query_to_keyed_table, spark, sql, warm)
            new = _now()
            reads.append({
                "read.recent_full": self._s3call(
                    client, "read.recent_full", query, warm, new, ""),
                "read.old_narrow": self._s3call(
                    client, "read.old_narrow", query, handle(), old, narrow),
                "read.scan": self._s3call(client, "read.scan", scan),
            })
        self._s3call(client, "mutations.s3_vacuum", warm.vacuum)
        self.results["s3_reads"] = reads
        self.s3_table = warm

    # -- verification (outside the clock) ----------------------------------
    def verify_pass(self, i: int) -> list[str]:
        problems = []
        got = _sorted_rows(self.local_table.read().collect())
        if got != self.expected_local:
            problems.append(
                f"local table: {len(got)} rows, expected "
                f"{len(self.expected_local)}; "
                f"{len(set(got) ^ set(self.expected_local))} rows differ")
        for (path, n_dup), res in zip(self.batches, self.results["upserts"]):
            if res is not None and n_dup and res.failed != n_dup:
                problems.append(f"{os.path.basename(path)}: quarantined "
                                f"{res.failed}, expected {n_dup}")
        res = self.results["update_missing"]
        if res is not None and (res.applied, res.failed) != (0, N_ABSENT):
            problems.append(f"update of absent keys: applied {res.applied}, "
                            f"quarantined {res.failed}, expected 0/{N_ABSENT}")
        for j, (got_r, want_r) in enumerate(
                zip(self.results["s3_reads"], self.s3_expected)):
            for kind, want in want_r.items():
                rows = got_r[kind]
                if rows is not None and _sorted_rows(rows) != want:
                    problems.append(f"s3 round {j} {kind}: got "
                                    f"{_sorted_rows(rows)[:5]}, expected "
                                    f"{want[:5]}")
        got = _sorted_rows(self.s3_table.read().collect())
        if got != self.s3_final:
            problems.append(f"s3 table: {len(got)} rows, expected "
                            f"{len(self.s3_final)}; "
                            f"{len(set(got) ^ set(self.s3_final))} differ")
        self.space = _dir_bytes(self.table_path) / self.ref_bytes
        if self.traced:
            from perfbench.layers import buckets_touched
            self.buckets_per_upsert = buckets_touched(
                self.table_path, *self.upsert_versions)
        return problems

    def space_amp(self) -> float:
        """Local table bytes after the final vacuum over its live rows
        written once as snappy parquet."""
        return self.space

    def close(self) -> None:
        self.con.close()
