"""Each workload's oracle catches a corrupted output row.

Run from the checkout root:  python3 -m pytest perfbench/tests -q

The export tests run one real export pass on a small Spark session and
then corrupt copies of its outputs; the keyed tests feed the keyed
oracle program outputs equal to the expected ones except for one row.
"""

from __future__ import annotations

import gzip
import os
import shutil
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
for _p in (os.path.join(ROOT, "tools"), ROOT):
    if _p not in sys.path:
        sys.path.insert(0, _p)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from perfbench import export, keyed  # noqa: E402
from perfbench.client import Client  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from dataflowtemplates_spark.session import build_session
    wh = str(tmp_path_factory.mktemp("warehouse"))
    s = build_session("perfbench-tests", master="local[2]",
                      shuffle_partitions=2,
                      extra_confs={"spark.sql.warehouse.dir": wh,
                                   "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


@pytest.fixture(scope="module")
def export_pass(spark, tmp_path_factory):
    wl = export.Export()
    wl.make_inputs(str(tmp_path_factory.mktemp("export")), seed=3)
    wl.prepare(spark)
    client = Client()
    wl.run_pass(spark, client, 0)
    assert client.failed == 0
    assert wl.check() == []
    return wl


@pytest.fixture
def corrupted(export_pass, tmp_path):
    """A copy of the pass's outputs that a test may damage; the oracle
    is pointed at the copy for the duration of the test."""
    original = export_pass.out_dir
    copy = str(tmp_path / "out")
    shutil.copytree(original, copy)
    export_pass.out_dir = copy
    yield export_pass
    export_pass.out_dir = original


def _first(root: str, suffix: str) -> str:
    return export._data_files(root, suffix)[0]


def test_export_json_value_change_is_caught(corrupted):
    path = _first(os.path.join(corrupted.out_dir, "json"), ".json")
    with open(path) as fh:
        lines = fh.readlines()
    lines[0] = lines[0].replace('"l_linenumber":', '"l_linenumber":1', 1)
    with open(path, "w") as fh:
        fh.writelines(lines)
    assert any(p.startswith("export json") for p in corrupted.check())


def test_export_csv_missing_row_is_caught(corrupted):
    path = _first(os.path.join(corrupted.out_dir, "csv"), ".csv")
    with open(path) as fh:
        lines = fh.readlines()
    with open(path, "w") as fh:
        fh.writelines(lines[:-1])
    assert any(p.startswith("export csv") for p in corrupted.check())


def test_export_avro_damaged_block_is_caught(corrupted):
    path = _first(os.path.join(corrupted.out_dir, "avro"), ".avro")
    data = bytearray(open(path, "rb").read())
    data[-40] ^= 0xFF
    open(path, "wb").write(bytes(data))
    assert any(p.startswith("export avro") for p in corrupted.check())


def test_export_non_key_column_change_is_caught(corrupted):
    path = _first(os.path.join(corrupted.out_dir, "csv"), ".csv")
    with open(path) as fh:
        lines = fh.readlines()
    cols = lines[1].split(",")
    price = lines[0].split(",").index("l_extendedprice")
    cols[price] = repr(float(cols[price]) + 0.01)
    lines[1] = ",".join(cols)
    with open(path, "w") as fh:
        fh.writelines(lines)
    problems = corrupted.check()
    assert len(problems) == 1 and problems[0].startswith("export csv")


def test_export_tfrecord_wrong_value_with_valid_crc_is_caught(corrupted):
    from dataflowtemplates_spark.operators.tfrecord import (
        frame_record, read_tfrecords)
    path = _first(os.path.join(corrupted.out_dir, "tfrecord"), ".tfrecord.gz")
    records = read_tfrecords(path)
    flag = b"l_returnflag\x12\x05\n\x03\n\x01"
    at = records[0].index(flag) + len(flag)
    records[0] = records[0][:at] + b"Z" + records[0][at + 1:]
    with gzip.open(path, "wb") as fh:
        fh.write(b"".join(frame_record(r) for r in records))
    problems = corrupted.check()
    assert len(problems) == 1 and problems[0].startswith("export tfrecord")


def test_export_tfrecord_damaged_record_is_caught(corrupted):
    path = _first(os.path.join(corrupted.out_dir, "tfrecord"), ".tfrecord.gz")
    raw = bytearray(gzip.decompress(open(path, "rb").read()))
    raw[20] ^= 0xFF  # inside the first record's payload
    with gzip.open(path, "wb") as fh:
        fh.write(bytes(raw))
    assert any(p.startswith("export tfrecord") for p in corrupted.check())


def test_query_result_row_change_is_caught(export_pass):
    name = next(n for n, _ in export.QUERY_MIX
                if export_pass.collected[n].collect())
    good = export_pass.collected[name]
    rows = [list(r) for r in good.collect()]
    rows[0][0] = None if rows[0][0] is not None else 0
    export_pass.collected[name] = export._Collected(
        good.columns, [tuple(r) for r in rows])
    try:
        assert any(p.startswith(f"{name}:") for p in export_pass.check())
    finally:
        export_pass.collected[name] = good


def test_generator_replica_matches_engine(spark):
    """The keyed oracle's DuckDB replica of the generator reproduces the
    engine's generated rows exactly."""
    import duckdb

    from dataflowtemplates_spark.sources.generator import generate_table
    got = keyed._sorted_rows(
        generate_table(spark, keyed.generator_spec(), seed="11").collect())
    want = keyed._sorted_rows(
        duckdb.sql(keyed.generated_rows_sql(11)).fetchall())
    assert got == want


class _Table:
    def __init__(self, rows):
        self.rows = rows

    def read(self):
        return self

    def collect(self):
        return self.rows


@pytest.fixture(scope="module")
def keyed_inputs(tmp_path_factory):
    wl = keyed.KeyedSync()
    root = tmp_path_factory.mktemp("keyed")
    wl.make_inputs(str(root / "work"), seed=4)
    wl.table_path = str(root / "work")
    return wl


def _program_outputs(wl, local_rows=None, s3_reads=None, quarantines=None):
    """Outputs equal to the oracle's, except where a test overrides."""
    wl.local_table = _Table(local_rows or list(wl.expected_local))
    wl.s3_table = _Table(list(wl.s3_final))
    wl.results = {
        "upserts": [SimpleNamespace(applied=None, failed=q)
                    for q in (quarantines or [n for _, n in wl.batches])],
        "update_missing": SimpleNamespace(applied=0, failed=keyed.N_ABSENT),
        "s3_reads": s3_reads or [dict(r) for r in wl.s3_expected],
    }


def test_keyed_oracle_accepts_expected_outputs(keyed_inputs):
    _program_outputs(keyed_inputs)
    assert keyed_inputs.verify_pass(0) == []


def test_keyed_table_row_change_is_caught(keyed_inputs):
    rows = [list(r) for r in keyed_inputs.expected_local]
    rows[7][3] = (rows[7][3] or 0.0) + 0.01
    _program_outputs(keyed_inputs, local_rows=[tuple(r) for r in rows])
    problems = keyed_inputs.verify_pass(0)
    assert len(problems) == 1 and problems[0].startswith("local table")


def test_keyed_quarantine_count_is_checked(keyed_inputs):
    counts = [n for _, n in keyed_inputs.batches]
    i = next(i for i, n in enumerate(counts) if n)
    counts[i] += 1
    _program_outputs(keyed_inputs, quarantines=counts)
    assert any("quarantined" in p for p in keyed_inputs.verify_pass(0))


def test_keyed_snapshot_read_change_is_caught(keyed_inputs):
    reads = [dict(r) for r in keyed_inputs.s3_expected]
    rows = [list(r) for r in reads[0]["read.old_narrow"]]
    rows[0][1] += 1
    reads[0]["read.old_narrow"] = [tuple(r) for r in rows]
    _program_outputs(keyed_inputs, s3_reads=reads)
    problems = keyed_inputs.verify_pass(0)
    assert len(problems) == 1 and "read.old_narrow" in problems[0]
