"""KeyedTable log-structured commit protocol: conditional-put CAS,
lock-free contention, checkpointed snapshot resolution, and the
object-store backend seam (operators/fsio.py).

The reference delegates this guarantee to Spanner's transactions
(templates/SpannerToSpanner.java:109-114); at object-store scale the
equivalent is a Delta-style versioned commit object published with the
store's conditional-write API — which is exactly what these tests pin,
over OS O_EXCL locally, over MemoryObjectStore for the scheme seam,
and (r13) over a live HTTP S3 emulator through
operators/s3http.S3HttpBackend — real 412s, ambiguous timeouts, and
ListObjectsV2 pagination included (tests/test_s3_backend.py holds the
failure-mode unit tests; the property tests here parameterize over
both object-store backends).
"""

import itertools
import json
import threading

import pytest
from pyspark.sql import Row

from dataflowtemplates_spark.operators import fsio
from dataflowtemplates_spark.operators.mutations import (
    ConcurrentWriteError,
    KeyedTable,
)

#: The protocol property tests run over ALL object-store backends:
#: the in-memory reference, the HTTP S3 emulator (real sockets, real
#: 412s, ListObjectsV2 pagination, SigV4-verified traffic), and the
#: HTTP GCS emulator (generation-match CAS, pageToken pagination,
#: bearer auth). Fewer hypothesis examples on the HTTP sides — each
#: example is hundreds of round trips.
_BACKEND_KINDS = ("memory", "s3emu", "gcsemu")


def _backend_harness(kind):
    """Returns (make_store, n_examples, cleanup): make_store() yields a
    fresh-namespace (store, root_prefix) per hypothesis example."""
    if kind == "memory":
        def make():
            return fsio.MemoryObjectStore()
        return make, 30, lambda: None
    if kind == "gcsemu":
        from dataflowtemplates_spark.operators.gcshttp import (
            GcsHttpBackend)
        from dataflowtemplates_spark.testing.gcs_emulator import (
            GcsEmulator)
        gemu = GcsEmulator().start()
        gemu.require_bearer = "prop-token"

        def make_gcs():
            return GcsHttpBackend(gemu.endpoint, timeout_s=5.0,
                                  bearer_token="prop-token")
        return make_gcs, 8, gemu.stop
    from dataflowtemplates_spark.operators.s3http import S3HttpBackend
    from tests.s3emu import S3Emulator
    emu = S3Emulator().start()
    # the HTTP side runs in full SigV4 mode (r14): every request in
    # the property sweep is signed and server-verified
    creds = ("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY")
    emu.require_sigv4 = creds

    def make():
        return S3HttpBackend(emu.endpoint, timeout_s=5.0,
                             credentials=creds)
    return make, 8, emu.stop


def test_memory_object_store_conditional_put_is_atomic():
    """N threads racing create_exclusive on one key: exactly one wins,
    and the stored bytes are the winner's."""
    store = fsio.MemoryObjectStore()
    barrier = threading.Barrier(8)
    wins = []

    def attempt(i):
        barrier.wait()
        if store.create_exclusive("mock://b/x.json", f"w{i}".encode()):
            wins.append(i)

    threads = [threading.Thread(target=attempt, args=(i,))
               for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(wins) == 1
    assert store.read_bytes("mock://b/x.json") == f"w{wins[0]}".encode()


def test_memory_object_store_prefix_semantics():
    store = fsio.MemoryObjectStore()
    store.write_bytes("mock://b/t/_log/a.json", b"1")
    store.write_bytes("mock://b/t/_log/b.json", b"2")
    assert store.is_dir("mock://b/t/_log")
    assert store.list_dir("mock://b/t/_log") == ["a.json", "b.json"]
    assert store.exists("mock://b/t") and not store.exists("mock://b/u")
    store.mkdirs("mock://b/whatever")  # no-op, never an error
    store.delete_dir("mock://b/t/_log")
    assert not store.is_dir("mock://b/t/_log")
    with pytest.raises(FileNotFoundError):
        store.read_bytes("mock://b/t/_log/a.json")


def test_unregistered_scheme_raises_not_degrades(tmp_path):
    """Task-3 contract (ADVICE r11): no silent check-then-write for
    scheme paths — the primitive raises, so no caller can accidentally
    rely on a non-exclusive 'lock'."""
    with pytest.raises(fsio.ConditionalPutUnsupported):
        fsio.create_exclusive("gs://bucket/x", b"d")
    # local and file:// keep true O_EXCL
    assert fsio.create_exclusive(str(tmp_path / "a"), b"1") is True
    assert fsio.create_exclusive(str(tmp_path / "a"), b"2") is False
    assert fsio.supports_conditional_put(str(tmp_path / "a"))
    assert not fsio.supports_conditional_put("gs://bucket/x")


def test_mock_scheme_table_commits_through_backend(spark):
    """The whole metadata protocol (create / data-free commits /
    config evolution / CAS) runs over a registered object-store
    backend — the path real S3/GCS deployments take with a
    conditional-put client."""
    store = fsio.MemoryObjectStore()
    fsio.register_object_backend("mock", store)
    try:
        t = KeyedTable(spark, "mock://bucket/tbl", ["id"], n_buckets=4)
        t.create(spark.createDataFrame([Row(id=1, v="a")]))
        assert t.exists()
        # two racing writers for version 2: exactly one CAS win
        barrier = threading.Barrier(2)
        outcomes = []

        def attempt():
            w = KeyedTable(spark, "mock://bucket/tbl", ["id"])
            cfg = w._config_at(1)
            barrier.wait()
            try:
                w._commit_entry(2, [], None, [], cfg)
                outcomes.append("win")
            except ConcurrentWriteError:
                outcomes.append("lose")

        threads = [threading.Thread(target=attempt) for _ in range(2)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert sorted(outcomes) == ["lose", "win"]
        assert t._latest_version() == 2
        # the log object is real bytes in the store, versioned+dense
        raw = json.loads(store.read_bytes(
            "mock://bucket/tbl/_log/" + f"{2:020d}.json"))
        assert raw["version"] == 2 and raw["config"]["n_buckets"] == 4
    finally:
        fsio.unregister_object_backend("mock")


def test_two_writer_contention_property(spark, tmp_path):
    """The round's 'done' gate: concurrent writers over one table —
    every CAS loser retries; afterwards (a) no update was lost, (b)
    the log is DENSE (versions 1..latest, one object each), (c) every
    retained version's snapshot still resolves, (d) every data dir on
    disk is referenced by exactly one commit (no orphans from losers).
    """
    import os
    path = str(tmp_path / "contend")
    seedt = KeyedTable(spark, path, ["id"], n_buckets=4)
    seedt.apply_mutations(
        spark.createDataFrame([Row(id=i, v=-1, w=0) for i in range(8)]),
        "INSERT")

    errors = []

    def writer(wid, n_ops):
        t = KeyedTable(spark, path, ["id"])
        for op in range(n_ops):
            batch = spark.createDataFrame(
                [Row(id=100 + wid * 10 + op, v=wid, w=op)])
            for _ in range(30):  # bounded optimistic retries
                try:
                    r = t.apply_mutations(batch, "INSERT_OR_UPDATE")
                    assert r.applied == 1
                    break
                except ConcurrentWriteError:
                    continue
            else:
                errors.append((wid, op, "retries exhausted"))

    threads = [threading.Thread(target=writer, args=(w, 2))
               for w in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors

    t = KeyedTable(spark, path, ["id"])
    # (a) nothing lost: seed rows + all 6 writer rows
    got = {r.id for r in t.read().collect()}
    assert got == set(range(8)) | {100 + w * 10 + o
                                   for w in range(3) for o in range(2)}
    # (b) dense log
    commits = t._commits()
    assert [c["version"] for c in commits] == \
        list(range(1, len(commits) + 1))
    # (c) every version's snapshot resolves and row counts are
    # monotonically consistent with the upsert-only history
    counts = [t._snapshot(c["version"]).count() for c in commits]
    assert counts == sorted(counts)
    # (d) no orphaned staging directories
    referenced = {c["dir"] for c in commits if c.get("dir")}
    assert set(os.listdir(os.path.join(path, "data"))) == referenced


def test_checkpoint_fold_matches_full_fold(spark, tmp_path):
    """Snapshot resolution folds from the latest checkpoint object —
    it must equal the from-scratch fold over every entry, before and
    after the checkpoint boundary, and the checkpoint must actually
    exist at the cadence version."""
    path = str(tmp_path / "ckpt")
    t = KeyedTable(spark, path, ["id"], n_buckets=4)
    for i in range(12):  # create + 12 commits -> version 13, ckpt at 10
        t.apply_mutations(
            spark.createDataFrame([Row(id=i % 6, v=i)]),
            "INSERT_OR_UPDATE")
    assert t._latest_version() == 13
    assert fsio.exists(t._ckpt_path(10))

    def brute(version):
        owners = {}
        for e in t._commits():
            if e["version"] > version:
                break
            present = set(e.get("present", []))
            for b in e.get("buckets", []):
                owners[int(b)] = e["dir"] if int(b) in present else None
        return owners

    for v in (5, 9, 10, 11, 13):
        assert t._owners(v) == brute(v), f"fold mismatch at v{v}"
    # and the folded snapshot reads right through the boundary
    assert {(r.id, r.v) for r in t._snapshot(13).collect()} == \
        {(i % 6, max(j for j in range(12) if j % 6 == i % 6))
         for i in range(6)}


def test_vacuum_log_truncation_keeps_retained_reads_exact(spark, tmp_path):
    """truncate_log=True reclaims commit objects the floor made
    unreadable: entries at/below the newest checkpoint <= floor are
    deleted (the checkpoint IS their fold), every retained version
    still reads bit-exactly — including from a FRESH instance with no
    cache — and bounds landing in the reclaimed prefix raise."""
    path = str(tmp_path / "trunc")
    t = KeyedTable(spark, path, ["id"], n_buckets=4)
    rows = {}
    bounds = {}
    for i in range(13):  # create(v1) + 13 data commits -> latest 14
        t.apply_mutations(
            spark.createDataFrame([Row(id=i % 5, v=i)]),
            "INSERT_OR_UPDATE")
        rows[i + 2] = {**rows.get(i + 1, {}), i % 5: i}
        bounds[i + 2] = t._commits()[-1]["time"]
    assert t._latest_version() == 14
    assert fsio.exists(t._ckpt_path(10))

    t.vacuum(keep_last=2, truncate_log=True)  # v15; floor = 13
    kept = [c["version"] for c in t._commits()]
    assert kept == [11, 12, 13, 14, 15]  # <=ckpt-10 prefix reclaimed
    assert fsio.exists(t._ckpt_path(10))  # the fold itself is kept

    fresh = KeyedTable(spark, path, ["id"])  # no warm cache
    assert {(r.id, r.v) for r in fresh.read().collect()} \
        == set(rows[14].items())
    assert {(r.id, r.v) for r in fresh.read_at(bounds[13]).collect()} \
        == set(rows[13].items())
    with pytest.raises(ValueError, match="vacuum"):
        fresh.read_at(bounds[12])     # below the floor
    with pytest.raises(ValueError, match="retained|vacuum"):
        fresh.read_at(bounds[4])      # inside the reclaimed prefix


def test_apply_mutations_with_retry_wins_after_contention(spark, tmp_path):
    """The ergonomic client loop: a rival stealing the version makes
    plain apply_mutations raise; the with_retry variant recomputes
    against the new state and lands, with BOTH writers' rows intact."""
    path = str(tmp_path / "retry")
    rival = KeyedTable(spark, path, ["id"])
    rival.create(spark.createDataFrame([Row(id=0, v=0)]))

    class Contended(KeyedTable):
        fire = 2  # rival commits ahead of our first TWO attempts

        def _commit_entry(self, *a, **k):
            if self.fire:
                self.fire -= 1
                rival.apply_mutations(
                    spark.createDataFrame([Row(id=100 + self.fire, v=-1)]),
                    "INSERT_OR_UPDATE")
            super()._commit_entry(*a, **k)

    t = Contended(spark, path, ["id"])
    with pytest.raises(ConcurrentWriteError):
        t.apply_mutations(spark.createDataFrame([Row(id=1, v=1)]),
                          "INSERT")
    r = t.apply_mutations_with_retry(
        spark.createDataFrame([Row(id=2, v=2)]), "INSERT",
        retries=3, backoff_s=0.01)
    assert r.applied == 1
    got = {x.id for x in rival.read().collect()}
    assert got == {2, 100, 101}  # both rival rows + the retried insert


@pytest.mark.parametrize("backend_kind", _BACKEND_KINDS)
def test_vacuum_safety_property_random_histories(backend_kind):
    """Model-based hypothesis property over the commit-log METADATA
    protocol (no Spark — KeyedTable's fold/vacuum/truncate layers are
    pure metadata on the fsio seam): for ANY random commit history
    (arbitrary touched/present sets, data-free commits included) and
    ANY retention choice,

      1. vacuum never deletes a directory any RETAINED version's
         owner fold still references (the deadness rule is safe);
      2. the checkpoint-accelerated fold equals the from-scratch fold
         at every retained version, before and after log truncation;
      3. truncation never changes what a retained version reads.

    Data directories are simulated as marker objects, so deletion is
    observable; parameterized over the in-memory store AND the live
    HTTP S3 emulator."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    make_store, n_examples, cleanup = _backend_harness(backend_kind)
    seq = itertools.count()

    @settings(max_examples=n_examples, deadline=None)
    @given(st.data())
    def run(data):
        store = make_store()
        fsio.register_object_backend("hypmock", store)
        try:
            root = f"hypmock://b{next(seq)}/t"
            t = KeyedTable(None, root, ["id"], n_buckets=4)
            cfg = {"n_buckets": 4, "keys": ["id"],
                   "schema": '{"type":"struct","fields":[]}',
                   "cluster": None, "min_retained_version": 1}
            t._commit_entry(1, [], None, [], cfg)
            n = data.draw(st.integers(4, 24), label="n_commits")
            for v in range(2, n + 2):
                touched = sorted(data.draw(
                    st.sets(st.integers(0, 3), max_size=4),
                    label=f"touched_v{v}"))
                present = (sorted(data.draw(
                    st.sets(st.sampled_from(touched),
                            max_size=len(touched)),
                    label=f"present_v{v}")) if touched else [])
                dirname = f"v{v:05d}-x" if touched else None
                for b in present:
                    store.write_bytes(
                        f"{root}/data/{dirname}/kb={b}/part-0", b"d")
                t._commit_entry(v, touched, dirname, present, cfg)

            entries_before = list(t._commits())

            def brute(version):
                owners = {}
                for e in entries_before:
                    if e["version"] > version:
                        break
                    pres = set(e.get("present", []))
                    for b in e.get("buckets", []):
                        owners[int(b)] = (e["dir"] if int(b) in pres
                                          else None)
                return owners

            keep = data.draw(st.integers(1, 6), label="keep_last")
            truncate = data.draw(st.booleans(), label="truncate_log")
            t.vacuum(keep_last=keep, truncate_log=truncate)

            fresh = KeyedTable(None, root, ["id"])  # cold cache
            latest = fresh._latest_version()
            floor = int(fresh._meta()["min_retained_version"])
            for v in range(floor, latest + 1):
                folded = fresh._owners(v)
                assert folded == brute(v), f"fold drift at v{v}"
                for b, d in folded.items():
                    if d is None:
                        continue
                    leaf = f"{root}/data/{d}/kb={b}"
                    assert store.is_dir(leaf), \
                        f"vacuum deleted retained v{v} owner {leaf}"
        finally:
            fsio.unregister_object_backend("hypmock")

    try:
        run()
    finally:
        cleanup()


class _Crash(RuntimeError):
    """Stands in for a writer process dying mid-commit."""


def test_crashed_writer_leaves_invisible_orphan_then_reclaim(
        spark, tmp_path):
    """Writer dies AFTER staging, BEFORE the CAS publish: the staged
    data dir is debris no log object references. Reads and the version
    counter are unaffected; ``reclaim_orphans`` skips it inside the
    grace window (it could be a live writer still staging), removes it
    outside, and never touches a referenced directory."""
    path = str(tmp_path / "tbl")
    t = KeyedTable(spark, path, ["id"], n_buckets=4)
    t.create(spark.createDataFrame([Row(id=i, v="a") for i in range(8)]))
    t.apply_mutations(
        spark.createDataFrame([Row(id=i, v="b") for i in range(4)]),
        "INSERT_OR_UPDATE")
    before = {(r["id"], r["v"]) for r in t.read().collect()}
    v_before = t._latest_version()
    dirs_before = set(fsio.list_dir(path + "/data"))

    class CrashBeforePublish(KeyedTable):
        def _commit_entry(self, *a, **k):
            raise _Crash("died before publishing the log object")

    w = CrashBeforePublish(spark, path, ["id"])
    with pytest.raises(_Crash):
        w.apply_mutations(
            spark.createDataFrame([Row(id=1, v="z")]), "INSERT_OR_UPDATE")

    # the staged dir exists but is invisible: version and reads exact
    orphans = set(fsio.list_dir(path + "/data")) - dirs_before
    assert len(orphans) == 1
    assert t._latest_version() == v_before
    assert {(r["id"], r["v"]) for r in t.read().collect()} == before

    # grace window: a fresh dir might be a LIVE writer's staging
    assert t.reclaim_orphans(grace_s=3600.0) == 0
    assert set(fsio.list_dir(path + "/data")) == dirs_before | orphans
    # outside the grace it is reclaimed; referenced dirs survive
    assert t.reclaim_orphans(grace_s=0.0) == 1
    assert set(fsio.list_dir(path + "/data")) == dirs_before
    assert {(r["id"], r["v"]) for r in t.read().collect()} == before
    assert t.reclaim_orphans(grace_s=0.0) == 0  # idempotent
    # the table keeps taking mutations afterwards
    res = t.apply_mutations(
        spark.createDataFrame([Row(id=1, v="c")]), "INSERT_OR_UPDATE")
    assert res.applied == 1 and t._latest_version() == v_before + 1


def test_reclaim_orphans_spares_time_travel_dirs(spark, tmp_path):
    """Directories only OLD versions reference are still referenced
    (entries survive until vacuum truncates) — reclaim_orphans must
    not break read_at time travel."""
    path = str(tmp_path / "tbl")
    t = KeyedTable(spark, path, ["id"], n_buckets=2)
    t.create(spark.createDataFrame([Row(id=1, v="a")]))  # v1: schema only
    t.apply_mutations(
        spark.createDataFrame([Row(id=1, v="a")]), "INSERT")  # v2
    bound = json.loads(fsio.read_bytes(
        path + "/_log/" + f"{2:020d}.json"))["time"]
    t.apply_mutations(
        spark.createDataFrame([Row(id=1, v="b")]), "INSERT_OR_UPDATE")
    assert t.reclaim_orphans(grace_s=0.0) == 0
    got = t.read_at(bound).collect()
    assert [(r["id"], r["v"]) for r in got] == [(1, "a")]


def test_missing_checkpoint_is_tolerated(spark, tmp_path):
    """Writer dies AFTER the version-10 CAS, BEFORE writing the
    checkpoint object: the checkpoint is purely an accelerator, so
    every read folds from entries and later commits (including the
    next checkpoint boundary) proceed normally."""
    path = str(tmp_path / "tbl")
    t = KeyedTable(spark, path, ["id"], n_buckets=2)
    t.create(spark.createDataFrame([Row(id=0, v=0)]))
    for i in range(1, 11):  # versions 2..11 — crosses the v10 boundary
        t.apply_mutations(
            spark.createDataFrame([Row(id=i % 3, v=i)]),
            "INSERT_OR_UPDATE")
    ckpt = path + "/_log/" + f"{10:020d}.ckpt.json"
    assert fsio.exists(ckpt)
    before = {(r["id"], r["v"]) for r in t.read().collect()}
    fsio.delete_file(ckpt)  # simulate the crash having skipped it

    t2 = KeyedTable(spark, path, ["id"])  # fresh handle, no cache
    assert t2._latest_version() == 11
    assert {(r["id"], r["v"]) for r in t2.read().collect()} == before
    # commits continue; the NEXT boundary writes its checkpoint fine
    for i in range(11, 20):  # versions 12..20
        t2.apply_mutations(
            spark.createDataFrame([Row(id=i % 3, v=i)]),
            "INSERT_OR_UPDATE")
    assert t2._latest_version() == 20
    assert fsio.exists(path + "/_log/" + f"{20:020d}.ckpt.json")
    assert {(r["id"], r["v"]) for r in t2.read().collect()} == {
        (0, 18), (1, 19), (2, 17)}


@pytest.mark.parametrize("backend_kind", _BACKEND_KINDS)
def test_orphan_reclaim_safety_property_random_histories(backend_kind):
    """Model-based hypothesis property for crash-debris reclamation
    (pure metadata over MemoryObjectStore, no Spark): for ANY random
    commit history interleaved with ANY number of crashed stagings
    (data dirs written but never logged) and ANY retention choice,

      1. inside the grace window reclaim_orphans removes NOTHING;
      2. outside it, every crash-orphan directory is gone;
      3. no directory any retained version's owner fold references is
         ever deleted — by vacuum OR by reclaim.
    """
    from hypothesis import given, settings
    from hypothesis import strategies as st

    make_store, n_examples, cleanup = _backend_harness(backend_kind)
    seq = itertools.count()

    @settings(max_examples=n_examples, deadline=None)
    @given(st.data())
    def run(data):
        store = make_store()
        fsio.register_object_backend("hypmock2", store)
        try:
            root = f"hypmock2://b{next(seq)}/t"
            t = KeyedTable(None, root, ["id"], n_buckets=4)
            cfg = {"n_buckets": 4, "keys": ["id"],
                   "schema": '{"type":"struct","fields":[]}',
                   "cluster": None, "min_retained_version": 1}
            t._commit_entry(1, [], None, [], cfg)
            n = data.draw(st.integers(4, 24), label="n_commits")
            crash_dirs = []
            for v in range(2, n + 2):
                if data.draw(st.booleans(), label=f"crash_before_v{v}"):
                    # a writer staged for this version and died: the
                    # dir exists, the version was later won by another
                    d = f"v{v:05d}-dead{v}"
                    for b in data.draw(st.sets(st.integers(0, 3),
                                               min_size=1, max_size=4),
                                       label=f"crash_bks_v{v}"):
                        store.write_bytes(
                            f"{root}/data/{d}/kb={b}/part-0", b"dead")
                    crash_dirs.append(d)
                touched = sorted(data.draw(
                    st.sets(st.integers(0, 3), max_size=4),
                    label=f"touched_v{v}"))
                present = (sorted(data.draw(
                    st.sets(st.sampled_from(touched),
                            max_size=len(touched)),
                    label=f"present_v{v}")) if touched else [])
                dirname = f"v{v:05d}-x" if touched else None
                for b in present:
                    store.write_bytes(
                        f"{root}/data/{dirname}/kb={b}/part-0", b"d")
                t._commit_entry(v, touched, dirname, present, cfg)

            keep = data.draw(st.integers(1, 6), label="keep_last")
            truncate = data.draw(st.booleans(), label="truncate_log")
            t.vacuum(keep_last=keep, truncate_log=truncate)

            fresh = KeyedTable(None, root, ["id"])  # cold cache
            # vacuum never touches orphans; all crash dirs still there
            for d in crash_dirs:
                assert store.is_dir(f"{root}/data/{d}"), \
                    f"vacuum deleted orphan {d} (not its job)"
            # 1: grace window — nothing reclaimed (all mtimes fresh)
            assert fresh.reclaim_orphans(grace_s=3600.0) == 0
            removed = fresh.reclaim_orphans(grace_s=0.0)
            assert removed >= len(crash_dirs)
            # 2: every crash orphan is gone
            for d in crash_dirs:
                assert not store.is_dir(f"{root}/data/{d}"), \
                    f"orphan {d} survived reclaim"
            # 3: every retained version's owner fold intact
            latest = fresh._latest_version()
            floor = int(fresh._meta()["min_retained_version"])
            for v in range(floor, latest + 1):
                for b, d in fresh._owners(v).items():
                    if d is None:
                        continue
                    leaf = f"{root}/data/{d}/kb={b}"
                    assert store.is_dir(leaf), \
                        f"reclaim deleted retained v{v} owner {leaf}"
        finally:
            fsio.unregister_object_backend("hypmock2")

    try:
        run()
    finally:
        cleanup()


def test_txn_idempotence_contract(spark, tmp_path):
    """Delta-style txnAppId/txnVersion: a (txn_app, txn_version) at or
    below the recorded watermark no-ops with zero Spark jobs; apps are
    independent; the marker rides the commit object so a crash BEFORE
    publish records nothing and the replay applies."""
    path = str(tmp_path / "tbl")
    t = KeyedTable(spark, path, ["id"], n_buckets=4)
    t.create(spark.createDataFrame([Row(id=1, v=0)]))
    r = t.apply_mutations(spark.createDataFrame([Row(id=1, v=1)]),
                          "INSERT_OR_UPDATE", txn_app="a", txn_version=1)
    assert (r.applied, r.replayed) == (1, False)
    # exact replay AND an older version both skip
    for ver in (1, 0):
        r = t.apply_mutations(
            spark.createDataFrame([Row(id=1, v=99)]),
            "INSERT_OR_UPDATE", txn_app="a", txn_version=ver)
        assert (r.applied, r.replayed) == (0, True)
    assert [(x["id"], x["v"]) for x in t.read().collect()] == [(1, 1)]
    # other app unaffected; DELETE honors the same gate
    r = t.apply_mutations(spark.createDataFrame([Row(id=2, v=2)]),
                          "INSERT_OR_UPDATE", txn_app="b", txn_version=1)
    assert (r.applied, r.replayed) == (1, False)
    r = t.apply_mutations(spark.createDataFrame([Row(id=2)]),
                          "DELETE", txn_app="a", txn_version=1)
    assert (r.applied, r.replayed) == (0, True)
    r = t.apply_mutations(spark.createDataFrame([Row(id=2)]),
                          "DELETE", txn_app="a", txn_version=2)
    assert (r.applied, r.replayed) == (1, False)
    # txn_app/txn_version go together
    with pytest.raises(ValueError):
        t.apply_mutations(spark.createDataFrame([Row(id=3, v=3)]),
                          "INSERT_OR_UPDATE", txn_app="a")

    # crash before publish: the marker is NOT recorded, replay applies
    class CrashBeforePublish(KeyedTable):
        def _commit_entry(self, *a, **k):
            raise _Crash("died before publish")

    w = CrashBeforePublish(spark, path, ["id"])
    with pytest.raises(_Crash):
        w.apply_mutations(spark.createDataFrame([Row(id=1, v=7)]),
                          "INSERT_OR_UPDATE", txn_app="a", txn_version=3)
    r = t.apply_mutations(spark.createDataFrame([Row(id=1, v=7)]),
                          "INSERT_OR_UPDATE", txn_app="a", txn_version=3)
    assert (r.applied, r.replayed) == (1, False)
    assert t._meta()["txn"] == {"a": 3, "b": 1}


def test_versioned_upsert_fold_redelivery_no_double_count(
        spark, tmp_path):
    """foreachBatch is at-least-once: redelivering a batch to the
    additive-counter fold must not double-count when a txn identity is
    passed — and must (by design) double-count without one."""
    from pyspark.sql import types as T
    from dataflowtemplates_spark.streaming.pipelines import (
        versioned_upsert_fold)

    def seed(path):
        t = KeyedTable(spark, path, ["user_id"], n_buckets=4)
        t.create(spark.createDataFrame([], T.StructType([
            T.StructField("user_id", T.LongType()),
            T.StructField("n_seen", T.LongType()),
            T.StructField("last_ts", T.TimestampType()),
            T.StructField("last_event_id", T.LongType()),
            T.StructField("last_value", T.DoubleType()),
            T.StructField("last_event_type", T.StringType()),
        ])))
        return t

    import datetime
    batch = spark.createDataFrame(
        [Row(event_id=1, ts=datetime.datetime(2024, 1, 1), user_id=7,
             event_type="x", value=1.0)])

    p1 = str(tmp_path / "txn")
    t1 = seed(p1)
    fold = versioned_upsert_fold(p1, txn_app="q")
    fold(batch, 0)
    fold(batch, 0)  # redelivery of the SAME epoch: must no-op
    assert [r["n_seen"] for r in t1.read().collect()] == [1]
    fold(batch, 1)  # the next epoch applies
    assert [r["n_seen"] for r in t1.read().collect()] == [2]

    p2 = str(tmp_path / "plain")
    t2 = seed(p2)
    fold2 = versioned_upsert_fold(p2)  # no txn identity
    fold2(batch, 0)
    fold2(batch, 0)
    assert [r["n_seen"] for r in t2.read().collect()] == [2]


def test_racing_same_txn_identity_applies_exactly_once(spark, tmp_path):
    """Two writers racing the SAME (txn_app, txn_version) — duplicate
    delivery of one logical batch: exactly one applies; the other
    either loses the CAS and replays as a no-op or sees the recorded
    watermark directly. Either way the counter-style fold below ends
    exactly once-applied."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl")
    t = KeyedTable(spark, path, ["id"], n_buckets=4)
    t.apply_mutations(spark.createDataFrame([Row(id=1, n=0)]), "INSERT")
    base = t.read().collect()[0]["n"]
    barrier = threading.Barrier(2)
    outcomes = []

    def attempt():
        w = KeyedTable(spark, path, ["id"])
        inc = w.read().withColumn("n", F.col("n") + F.lit(1))
        inc = inc.localCheckpoint(eager=True)
        barrier.wait()
        r = w.apply_mutations_with_retry(
            inc, "INSERT_OR_UPDATE", txn_app="dup", txn_version=1)
        outcomes.append((r.applied, r.replayed))

    threads = [threading.Thread(target=attempt) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert sorted(outcomes) == [(0, True), (1, False)]
    assert t.read().collect()[0]["n"] == base + 1  # applied ONCE
