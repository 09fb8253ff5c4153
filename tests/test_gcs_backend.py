"""GcsHttpBackend against a live in-process GCS JSON API emulator:
the generation-match CAS over real request/response cycles — both its
create-only shape (ifGenerationMatch=0, the commit protocol's
primitive) and the conditional-OVERWRITE shape S3 cannot express —
plus the same failure modes the S3 twin pins: 412 losses, ambiguous
timeout-after-upload, transient 500s, pagination, bearer auth, and
fsio contract parity. The KeyedTable metadata protocol then runs
end-to-end over the live endpoint."""

import json
import threading

import pytest

from dataflowtemplates_spark.operators import fsio
from dataflowtemplates_spark.operators.gcshttp import GcsHttpBackend
from dataflowtemplates_spark.testing.gcs_emulator import GcsEmulator


@pytest.fixture()
def emu():
    with GcsEmulator() as e:
        yield e


@pytest.fixture()
def backend(emu):
    b = GcsHttpBackend(emu.endpoint, timeout_s=3.0)
    fsio.register_object_backend("gsemu", b)
    try:
        yield b
    finally:
        fsio.unregister_object_backend("gsemu")


def test_conditional_create_race_one_winner(backend):
    """N threads race ifGenerationMatch=0 on one key over real HTTP:
    exactly one 200, the rest 412 — stored bytes are the winner's."""
    barrier = threading.Barrier(8)
    wins = []

    def attempt(i):
        barrier.wait()
        if backend.create_exclusive("gsemu://b/t/_log/v1.json",
                                    f"w{i}".encode()):
            wins.append(i)

    threads = [threading.Thread(target=attempt, args=(i,))
               for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(wins) == 1
    assert backend.read_bytes(
        "gsemu://b/t/_log/v1.json") == f"w{wins[0]}".encode()


def test_generation_match_conditional_overwrite(backend):
    """The GCS-specific CAS shape: replace-at-generation succeeds only
    while the generation this writer read is still live; a rival bump
    turns it into a clean False, and generations monotonically move."""
    p = "gsemu://b/cfg.json"
    assert backend.create_exclusive(p, b"v1") is True
    g1 = backend.generation_of(p)
    assert g1 is not None and g1 > 0
    # replace at the live generation: wins, generation moves
    assert backend.replace_if_generation(p, b"v2", g1) is True
    g2 = backend.generation_of(p)
    assert g2 > g1 and backend.read_bytes(p) == b"v2"
    # a writer holding the STALE generation loses cleanly
    assert backend.replace_if_generation(p, b"stale", g1) is False
    assert backend.read_bytes(p) == b"v2"
    # create-only on an existing object: ordinary 412 loss
    assert backend.create_exclusive(p, b"v3") is False
    # guard: generation 0 must go through create_exclusive
    with pytest.raises(ValueError, match="generation"):
        backend.replace_if_generation(p, b"x", 0)
    assert backend.generation_of("gsemu://b/absent") is None


def test_ambiguous_timeout_after_upload_resolved_by_readback(
        emu, backend):
    """The upload is APPLIED but the response is lost: the backend
    reads back and claims the win (log objects are writer-unique);
    a rival's conditional create then loses with 412."""
    emu.drop_response_next_put = True
    assert backend.create_exclusive("gsemu://b/k.json", b"mine") is True
    assert emu.drop_response_next_put is False  # fault actually fired
    assert backend.read_bytes("gsemu://b/k.json") == b"mine"
    assert backend.create_exclusive("gsemu://b/k.json", b"rival") is False


def _flaky_first_conditional_upload(backend, side_effect):
    """Make the FIRST conditional upload lose its response
    (ConnectionError) with ``side_effect(orig)`` run while the request
    is 'in flight' — the rival interleaving a real network produces."""
    orig = backend._request
    fired = {"done": False}

    def flaky(method, target, body=None, headers=None, idempotent=True):
        cond = method == "POST" and "ifGenerationMatch" in target
        if cond and not fired["done"]:
            fired["done"] = True
            side_effect(orig)
            raise ConnectionError("response lost in transit")
        return orig(method, target, body=body, headers=headers,
                    idempotent=idempotent)

    backend._request = flaky
    return orig


def test_ambiguous_timeout_when_rival_landed_reads_as_loss(backend):
    def rival_lands(orig):
        orig("POST", backend._upload_target("b", "k2.json", None),
             body=b"rival", headers={"Content-Length": "5"})

    orig = _flaky_first_conditional_upload(backend, rival_lands)
    try:
        assert backend.create_exclusive("gsemu://b/k2.json",
                                        b"ours") is False
        assert backend.read_bytes("gsemu://b/k2.json") == b"rival"
    finally:
        backend._request = orig


def test_ambiguous_timeout_with_nothing_landed_retries_the_upload(
        backend):
    orig = _flaky_first_conditional_upload(backend, lambda orig: None)
    try:
        assert backend.create_exclusive("gsemu://b/k4.json",
                                        b"ours") is True
        assert backend.read_bytes("gsemu://b/k4.json") == b"ours"
    finally:
        backend._request = orig


def test_ambiguous_replace_raises_instead_of_guessing(emu, backend):
    """replace_if_generation loses its response: unlike the create
    shape, replace payloads are NOT writer-unique (a rival can land
    IDENTICAL bytes), so byte-equality read-back proves nothing — the
    backend must RAISE for the caller to re-read the generation,
    never report a guessed win or loss."""
    p = "gsemu://b/rw.json"
    assert backend.create_exclusive(p, b"v1")
    g1 = backend.generation_of(p)

    def rival_lands_same_bytes(orig):
        # worst case for any byte-equality guess: the rival's replace
        # carries the SAME payload ours would
        orig("POST", backend._upload_target("b", "rw.json", g1),
             body=b"ours", headers={"Content-Length": "4"})

    orig = _flaky_first_conditional_upload(backend, rival_lands_same_bytes)
    try:
        with pytest.raises(OSError, match="re-read the generation"):
            backend.replace_if_generation(p, b"ours", g1)
    finally:
        backend._request = orig
    # the caller's documented recovery: re-read, then CAS at the live
    # generation
    g2 = backend.generation_of(p)
    assert g2 > g1
    assert backend.replace_if_generation(p, b"final", g2) is True
    assert backend.read_bytes(p) == b"final"


def test_transient_500_raises_never_false(emu, backend):
    """A 5xx on the conditional upload must RAISE, not read as a loss
    — a false 'loss' on both racers would wedge the version counter."""
    emu.reject_next_put = 1
    with pytest.raises(OSError):
        backend.create_exclusive("gsemu://b/k3.json", b"x")
    assert backend.create_exclusive("gsemu://b/k3.json", b"x") is True


def test_list_pagination_visibility_and_typed_listing(backend):
    """list-after-upload visibility across >2 objects (2-item pages
    force pageToken paging), single-pass typed listing, mtime floor,
    recursive file listing, and prefix deletes."""
    for i in range(7):
        backend.write_bytes(f"gsemu://b/t/_log/{i:020d}.json", b"e")
    backend.write_bytes("gsemu://b/t/data/d1/kb=0/part-0", b"p")
    assert backend.list_dir("gsemu://b/t/_log") == \
        [f"{i:020d}.json" for i in range(7)]
    assert backend.list_dir_typed("gsemu://b/t") == [
        ("_log", True), ("data", True)]
    assert backend.is_dir("gsemu://b/t/data/d1")
    assert backend.newest_mtime_under("gsemu://b/t/data/d1") is not None
    assert backend.list_files("gsemu://b/t/data/d1") == \
        ["gsemu://b/t/data/d1/kb=0/part-0"]
    backend.delete_dir("gsemu://b/t/data/d1")
    assert not backend.is_dir("gsemu://b/t/data/d1")


def test_repeated_page_token_raises(emu, backend):
    """A store that hands back the SAME nextPageToken forever must
    produce an OSError, not an infinite loop (the JSON API has no
    IsTruncated flag, so a repeated token is the loop hazard)."""
    for i in range(5):  # > the emulator's 2-item page
        backend.write_bytes(f"gsemu://b/t3/{i}", b"x")
    emu.repeat_page_token = True
    try:
        with pytest.raises(OSError, match="repeated nextPageToken"):
            backend.list_dir("gsemu://b/t3")
    finally:
        emu.repeat_page_token = False
    assert len(backend.list_dir("gsemu://b/t3")) == 5


def test_bearer_auth_required_and_enforced(emu):
    """Against a token-requiring endpoint: tokenless and wrong-token
    backends surface OSError (HTTP 401), the right token works."""
    emu.require_bearer = "tok-abc"
    anon = GcsHttpBackend(emu.endpoint, timeout_s=3.0)
    with pytest.raises(OSError, match="401"):
        anon.write_bytes("g://b/k", b"d")
    with pytest.raises(OSError, match="401"):
        anon.create_exclusive("g://b/k.json", b"d")
    wrong = GcsHttpBackend(emu.endpoint, timeout_s=3.0,
                           bearer_token="tok-zzz")
    with pytest.raises(OSError, match="401"):
        wrong.read_bytes("g://b/k")
    good = GcsHttpBackend(emu.endpoint, timeout_s=3.0,
                          bearer_token="tok-abc")
    assert good.create_exclusive("g://b/k.json", b"d") is True
    assert good.read_bytes("g://b/k.json") == b"d"


def test_resumable_upload_roundtrip_chunking_and_abort(emu, backend):
    """The JSON API's large-object path: initiate -> 308-chunked PUTs
    -> final chunk materializes atomically (invisible before);
    out-of-order ranges rejected; abort leaves nothing."""
    p = "gsemu://b/rs/obj.bin"
    sess = backend.resumable_start(p)
    big = bytes(range(256)) * 3
    assert backend.resumable_put_chunk(sess, 0, big[:256], None) == 308
    assert not backend.exists(p)  # staged chunks invisible
    # a chunk that does not continue the session is rejected
    with pytest.raises(OSError, match="HTTP 400"):
        backend.resumable_put_chunk(sess, 999, b"x", None)
    assert backend.resumable_put_chunk(sess, 256, big[256:],
                                       total=len(big)) == 200
    assert backend.read_bytes(p) == big
    assert emu.resumable_completed == 1
    # abort: nothing materializes
    sess2 = backend.resumable_start("gsemu://b/rs/gone.bin")
    backend.resumable_put_chunk(sess2, 0, b"x" * 10, None)
    backend.resumable_abort(sess2)
    with pytest.raises(OSError):
        backend.resumable_put_chunk(sess2, 10, b"y", total=11)
    assert not backend.exists("gsemu://b/rs/gone.bin")


def test_streaming_sink_single_upload_below_one_chunk(emu, backend):
    """open_write under one chunk: a single media upload, no session;
    above: streamed 256KiB-quantum chunks + final materialization;
    error path aborts the session."""
    with backend.open_write("gsemu://b/sw/small.bin") as w:
        w.write(b"tiny")
    assert backend.read_bytes("gsemu://b/sw/small.bin") == b"tiny"
    assert emu.resumable_completed == 0
    quantum = 256 * 1024
    big = bytes(range(256)) * (quantum // 256 * 3)  # 3 quanta exactly
    big += b"tail"
    with backend.open_write("gsemu://b/sw/big.bin",
                            part_bytes=1) as w:  # rounds up to 256KiB
        for i in range(0, len(big), 100_000):
            w.write(big[i:i + 100_000])
    assert backend.read_bytes("gsemu://b/sw/big.bin") == big
    assert emu.resumable_completed == 1
    # EXACT chunk multiple: every byte already streamed when close()
    # runs, so the finalize is the zero-byte 'bytes */TOTAL' form (a
    # dashed end<start range is invalid and the emulator, like real
    # GCS, rejects it)
    exact = bytes(range(256)) * (quantum // 256 * 2)  # 2 quanta sharp
    with backend.open_write("gsemu://b/sw/exact.bin",
                            part_bytes=1) as w:
        w.write(exact)
    assert backend.read_bytes("gsemu://b/sw/exact.bin") == exact
    assert emu.resumable_completed == 2
    with pytest.raises(ValueError, match="positive"):
        backend.open_write("gsemu://b/sw/bad.bin", part_bytes=0)
    try:
        with backend.open_write("gsemu://b/sw/fail.bin",
                                part_bytes=1) as w:
            w.write(b"z" * (quantum + 1))  # session started
            raise RuntimeError("task died")
    except RuntimeError:
        pass
    assert not backend.exists("gsemu://b/sw/fail.bin")
    assert not emu._sessions  # the staged session was aborted


def test_plane_streams_over_gcs_resumable(spark):
    """The data plane's streaming sink is backend-generic: an object
    larger than the seam's 8 MB chunk goes through the GCS resumable
    protocol and reads back exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dataflowtemplates_spark.operators import objstore_plane as op

    emu = GcsEmulator().start()
    emu.require_bearer = "rs-token"
    b = GcsHttpBackend(emu.endpoint, timeout_s=5.0,
                       bearer_token="rs-token")
    fsio.register_object_backend("gsrs", b)
    try:
        # ~10 MB of incompressible rows, sorted by the bucket column
        # (write_partitioned's caller contract)
        wide = F.concat(*[
            F.sha2(F.concat(F.col("id").cast("string"), F.lit(str(k))),
                   512) for k in range(8)])
        df = (spark.range(0, 10000)
              .select(F.col("id"), wide.alias("s"))
              .withColumn("kb", F.lit(0))
              .repartition(1, F.col("kb"))
              .sortWithinPartitions("kb"))
        res = op.write_partitioned(df, "gsrs://bkt/mp", "kb")
        assert emu.resumable_completed >= 1
        schema = T.StructType([T.StructField("id", T.LongType()),
                               T.StructField("s", T.StringType())])
        back = op.read_parquet(spark, list(res.sizes.items()), schema,
                               b)
        assert back.count() == 10000
        assert back.agg(F.sum("id")).first()[0] == sum(range(10000))
    finally:
        fsio.unregister_object_backend("gsrs")
        emu.stop()


def test_fsio_contract_parity_with_memory_store(backend):
    """Same fsio contract the S3 twin and MemoryObjectStore pin:
    FileNotFoundError on missing reads/deletes, mkdirs no-op,
    move = copy+delete."""
    with pytest.raises(FileNotFoundError):
        backend.read_bytes("gsemu://b/nope")
    with pytest.raises(FileNotFoundError):
        backend.delete_file("gsemu://b/nope")
    backend.mkdirs("gsemu://b/whatever")  # no-op, never an error
    backend.write_bytes("gsemu://b/m/src/a", b"1")
    backend.move("gsemu://b/m/src", "gsemu://b/m/dst")
    assert backend.read_bytes("gsemu://b/m/dst/a") == b"1"
    assert not backend.exists("gsemu://b/m/src")


def test_backend_pickles_for_executor_shipping(emu, backend):
    import pickle

    emu.require_bearer = "tok-p"
    signed = GcsHttpBackend(emu.endpoint, timeout_s=3.0,
                            bearer_token="tok-p")
    clone = pickle.loads(pickle.dumps(signed))
    assert clone.distributed is True
    clone.write_bytes("gsemu://b/pickled", b"via-clone")
    assert signed.read_bytes("gsemu://b/pickled") == b"via-clone"


def test_keyed_table_metadata_protocol_over_live_gcs(spark, backend):
    """The whole KeyedTable metadata protocol — create, CAS-raced
    commits — over the live JSON API endpoint (mirrors the S3 and
    MemoryObjectStore twins)."""
    from pyspark.sql import Row

    from dataflowtemplates_spark.operators.mutations import (
        ConcurrentWriteError, KeyedTable)

    t = KeyedTable(spark, "gsemu://bucket/tbl", ["id"], n_buckets=4)
    t.create(spark.createDataFrame([Row(id=1, v="a")]))
    assert t.exists()
    barrier = threading.Barrier(2)
    outcomes = []

    def attempt():
        w = KeyedTable(spark, "gsemu://bucket/tbl", ["id"])
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
    raw = json.loads(backend.read_bytes(
        "gsemu://bucket/tbl/_log/" + f"{2:020d}.json"))
    assert raw["version"] == 2 and raw["config"]["n_buckets"] == 4


def test_gcs_signed_url_fetch_against_enforcing_endpoint(emu):
    """A credential-less plain HTTP client (urllib) fetches an object
    through a GCS V4 signed URL from an endpoint that 401s everything
    bearer-less — the S3 presign twin: the query grant IS the auth.
    Tampered, expired, and signature-less fetches are refused."""
    import urllib.error
    import urllib.request

    from dataflowtemplates_spark.operators import sigv4

    emu.require_bearer = "tok-abc"
    emu.hmac_key = ("GOOGHMACID", "hmac-secret-1")
    b = GcsHttpBackend(emu.endpoint, timeout_s=3.0,
                       bearer_token="tok-abc",
                       hmac_key=emu.hmac_key)
    b.write_bytes("g://exports/shard-0.parquet", b"artifact-bytes")
    url = b.presign("g://exports/shard-0.parquet", expires_s=120)
    assert "X-Goog-Algorithm=GOOG4-HMAC-SHA256" in url
    with urllib.request.urlopen(url, timeout=3) as resp:
        assert resp.read() == b"artifact-bytes"
    # a ranged fetch rides the same grant (Range is not a signed
    # header under SignedHeaders=host) — how a large shared artifact
    # is consumed piecewise
    req = urllib.request.Request(url, headers={"Range": "bytes=0-7"})
    with urllib.request.urlopen(req, timeout=3) as resp:
        assert resp.status == 206 and resp.read() == b"artifact"
    # plain GET without the grant: path-style has no bearer -> 401/403
    bare = url.split("?", 1)[0]
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(bare, timeout=3)
    assert exc.value.code in (401, 403, 404)
    # tampered object name: the signed path no longer matches
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(url.replace("shard-0", "shard-1"),
                               timeout=3)
    assert exc.value.code == 403
    # an expired grant (signed in 2015) is refused by the window check
    host = emu.endpoint.split("//", 1)[1]
    old = sigv4.presign_query(
        "GET", host, "/exports/shard-0.parquet", [],
        access_key=emu.hmac_key[0], secret_key=emu.hmac_key[1],
        region="auto", service="storage", expires_s=60,
        amzdate="20150830T123600Z", flavor="goog")
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(
            f"{emu.endpoint}/exports/shard-0.parquet?{old}", timeout=3)
    assert exc.value.code == 403
    # a wrong-key forgery is refused
    forged = sigv4.presign_query(
        "GET", host, "/exports/shard-0.parquet", [],
        access_key=emu.hmac_key[0], secret_key="wrong-secret",
        region="auto", service="storage", expires_s=120,
        flavor="goog")
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(
            f"{emu.endpoint}/exports/shard-0.parquet?{forged}",
            timeout=3)
    assert exc.value.code == 403
    # presign is a keyed operation
    with pytest.raises(ValueError, match="hmac_key"):
        GcsHttpBackend(emu.endpoint).presign("g://exports/a")
