"""``export`` workload: the read-only side of the engine.

One pass runs, as one closed-loop client:

* three export templates fed by one seeded two-branch ``--SPLITTER--``
  query over a slice of lineitem JOIN orders: ``table_to_text`` as JSON
  split by a low-cardinality field and as unsplit CSV with a header,
  ``table_to_columnar`` as Avro split by a field with 80 destinations,
  and ``query_to_tfrecord`` split by another field;
* five registry queries (relational, temporal, text, sampling and
  graph families), each collected in full.

Why: the export templates take about 70% of a traced pass and the
queries about 30%. At this size (about 6k exported rows per target) the
writers' per-job and per-destination-file costs outweigh per-row
encoding. No keyed table is touched, so a commit-path change must leave
this workload unchanged.
"""

from __future__ import annotations

import csv
import json
import os
import shutil
import struct
from collections import Counter
from datetime import datetime, timedelta

import duckdb
import pyarrow.parquet as pq

from perfbench import fixture

SF = 0.002

#: (registry name, family): one per query family, except the dedup and
#: similarity families, left out to keep a run short.
QUERY_MIX = (
    ("q05_regional_revenue", "relational"),
    ("q35_asof_join", "temporal"),
    ("q59_tfidf_topterms", "text"),
    ("q161_weighted_sample", "sampling"),
    ("q173_cooccurrence_lift", "graph"),
)
FAMILIES = tuple(dict.fromkeys(f for _, f in QUERY_MIX))

#: kind of every exported column, in output order
_KINDS = {
    "l_orderkey": "int", "l_linenumber": "int", "l_partkey": "int",
    "l_quantity": "float", "l_extendedprice": "float",
    "l_discount": "float", "l_returnflag": "str", "l_linestatus": "str",
    "l_shipdate": "ts", "o_orderpriority": "str", "o_orderdate": "ts",
    "dest": "int"}
_COLS = ", ".join(list(_KINDS)[:-1]) + ", CAST(o_custkey % 80 AS INT) AS dest"
#: TFRecord feature kind per column kind
_TF_KINDS = {"int": "int64", "float": "float", "str": "string",
             "ts": "int64"}
_EPOCH = datetime(1970, 1, 1)
#: (format, split field) per export target
TARGETS = (("json", "l_returnflag"), ("csv", None), ("avro", "dest"),
           ("tfrecord", "l_linestatus"))


def export_sql(offset: int, splitter: bool = True) -> str:
    where = (f"FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
             f"WHERE (l_orderkey + {offset}) % 10 < 5")
    if not splitter:
        return f"SELECT {_COLS} {where}"
    return " --SPLITTER-- ".join(
        f"SELECT {_COLS} {where} AND l_orderkey % 2 = {b}" for b in (0, 1))


def _oracle_db(fixture_dir: str):
    con = duckdb.connect()
    for t in os.listdir(fixture_dir):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(fixture_dir, t)}')")
    return con


class _Collected:
    """Rows already collected inside the timed call, shaped like the
    DataFrame ``local_verify.compare`` expects, so the bit-exact
    comparison does not run the query a second time."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def _data_files(root: str, suffix: str) -> list[str]:
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files
                if f.endswith(suffix) and not f.startswith(("_", "."))]
    return sorted(out)


def _split_of(path: str, root: str) -> str:
    rel = os.path.relpath(os.path.dirname(path), root)
    return "" if rel == "." else rel


def _f32(x: float) -> float:
    return struct.unpack("<f", struct.pack("<f", x))[0]


def _canon(kind: str, v, tfrecord: bool = False):
    """One exported value in a form every format's read-back and the
    DuckDB rows agree on. Timestamps become epoch microseconds: the
    text formats render ISO-8601 Zulu strings, Avro gives naive UTC
    datetimes and the oracle's rows are naive UTC datetimes. TFRecord
    lowers floats to float32 and timestamps to whole epoch seconds, so
    its expected values are lowered the same way."""
    if v is None:
        return None
    if kind == "int":
        return int(v)
    if kind == "float":
        return _f32(float(v)) if tfrecord else float(v)
    if kind == "str":
        return v.decode() if isinstance(v, bytes) else str(v)
    if isinstance(v, str):
        v = datetime.fromisoformat(v.replace("Z", "+00:00")).replace(
            tzinfo=None)
    if isinstance(v, datetime):
        us = (v - _EPOCH) // timedelta(microseconds=1)
        return us - us % 1_000_000 if tfrecord else us
    return int(v) * 1_000_000  # TFRecord: epoch seconds


def _add(rows: dict, split: str, values, tfrecord: bool = False) -> None:
    if len(values) != len(_KINDS):
        raise ValueError(f"row has {len(values)} columns, expected "
                         f"{len(_KINDS)}")
    rows.setdefault(split, Counter())[tuple(
        _canon(k, v, tfrecord) for k, v in zip(_KINDS.values(), values))] += 1


def read_back(fmt: str, root: str, spark=None) -> dict[str, Counter]:
    """Per split, the multiset of full rows of one export target, read
    back from its files: JSON and CSV parsed, Avro through
    ``avro_io.read_avro_rows`` and TFRecord through
    ``tfrecord.read_tfrecord_df`` (CRC-checked and decoded per split
    directory, so it needs ``spark``)."""
    from dataflowtemplates_spark.operators.avro_io import read_avro_rows
    from dataflowtemplates_spark.operators.tfrecord import read_tfrecord_df

    header = list(_KINDS)
    rows: dict[str, Counter] = {}
    if fmt == "json":
        for path in _data_files(root, ".json"):
            split = _split_of(path, root)
            with open(path) as fh:
                for line in fh:
                    r = json.loads(line)
                    _add(rows, split, [r.get(c) for c in header])
    elif fmt == "csv":
        for path in _data_files(root, ".csv"):
            with open(path, newline="") as fh:
                lines = list(csv.reader(fh))
            if not lines or lines[0] != header:
                raise ValueError(f"{path}: header {lines[:1]} != {header}")
            for r in lines[1:]:
                _add(rows, "", r)
    elif fmt == "avro":
        for path in _data_files(root, ".avro"):
            split = _split_of(path, root)
            for r in read_avro_rows(path)[1]:
                _add(rows, split, [r.get(c) for c in header])
    elif fmt == "tfrecord":
        features = {c: _TF_KINDS[k] for c, k in _KINDS.items()}
        for split in sorted(os.listdir(root)):
            if split.startswith(("_", ".")):
                continue
            df = read_tfrecord_df(spark, os.path.join(root, split), features)
            for r in df.collect():
                _add(rows, split, list(r), tfrecord=True)
    else:
        raise ValueError(f"unknown export format {fmt!r}")
    return rows


def expected_rows(con, sql: str, split: str | None,
                  tfrecord: bool = False) -> dict[str, Counter]:
    """Per split, the multiset of full rows the export must hold."""
    rows: dict[str, Counter] = {}
    for r in con.execute(sql).fetchall():
        key = "" if split is None else str(r[list(_KINDS).index(split)])
        _add(rows, key, r, tfrecord)
    return rows


def _diff(got: dict, want: dict) -> str:
    missing = sum(((want.get(k) or Counter()) - (got.get(k) or Counter())
                   for k in set(want) | set(got)), Counter())
    extra = sum(((got.get(k) or Counter()) - (want.get(k) or Counter())
                 for k in set(want) | set(got)), Counter())
    return (f"{sum(missing.values())} expected rows missing (e.g. "
            f"{list(missing)[:1]}), {sum(extra.values())} unexpected rows "
            f"(e.g. {list(extra)[:1]})")


class Export:
    name = "export"

    def make_inputs(self, root: str, seed: int) -> dict:
        self.root = root
        self.fixture_dir = os.path.join(root, "fixture")
        rows = fixture.generate(self.fixture_dir, seed, SF)
        self.offset = seed % 10
        self.sql = export_sql(self.offset)
        con = self.con = _oracle_db(self.fixture_dir)
        plain = export_sql(self.offset, splitter=False)
        self.expected = {
            fmt: expected_rows(con, plain, split,
                               tfrecord=(fmt == "tfrecord"))
            for fmt, split in TARGETS}
        result = con.sql(plain).arrow()
        ref = os.path.join(root, "export_ref.parquet")
        pq.write_table(result, ref, compression="snappy")
        self.ref_bytes = os.path.getsize(ref)
        self.n_rows = result.num_rows
        self.out_bytes: list[int] = []
        self.files_out: list[int] = []
        import __spark_entry__
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        return {"seed": seed, "sf": SF, "fixture_rows": rows,
                "export_rows": self.n_rows,
                "export_parquet_bytes": self.ref_bytes,
                "split_cardinalities": {
                    fmt: len(self.expected[fmt]) for fmt, _ in TARGETS},
                "queries": [q for q, _ in QUERY_MIX],
                "read_write_ratio": f"{len(QUERY_MIX)}:{len(TARGETS)}"}

    def prepare(self, spark) -> None:
        from dataflowtemplates_spark.catalog import register_tables
        register_tables(spark, self.fixture_dir)

    def release(self) -> None:
        pass

    def enable_tracing(self) -> None:
        """Nothing to count here beyond the spans and job groups."""

    def run_pass(self, spark, client, i: int) -> None:
        from dataflowtemplates_spark import templates

        self.spark = spark  # the TFRecord read-back decodes through it
        out = os.path.join(self.root, f"out{i}")
        self.out_dir = out
        client.call("templates.table_to_text.json", templates.table_to_text,
                    spark, self.sql, os.path.join(out, "json"), fmt="json",
                    split_field="l_returnflag")
        client.call("templates.table_to_text.csv", templates.table_to_text,
                    spark, self.sql, os.path.join(out, "csv"), fmt="csv",
                    header=True)
        client.call("templates.table_to_columnar.avro",
                    templates.table_to_columnar, spark, self.sql,
                    os.path.join(out, "avro"), split_field="dest")
        client.call("templates.query_to_tfrecord",
                    templates.query_to_tfrecord, spark, self.sql,
                    os.path.join(out, "tfrecord"),
                    split_field="l_linestatus")
        self.collected = {}
        for name, family in QUERY_MIX:
            self.collected[name] = client.call(
                f"queries.{family}", self._evaluate, spark, name)

    def _evaluate(self, spark, name: str):
        df = self.queries[name](spark, self.fixture_dir)
        return _Collected(df.columns, df.collect())

    def verify_pass(self, i: int) -> list[str]:
        problems = self.check()
        files = [p for fmt, _ in TARGETS
                 for p in _data_files(os.path.join(self.out_dir, fmt), "")]
        self.files_out.append(len(files))
        self.out_bytes.append(sum(os.path.getsize(p) for p in files))
        shutil.rmtree(self.out_dir, ignore_errors=True)
        return problems

    def check(self) -> list[str]:
        """Every output of the last pass against the DuckDB oracle."""
        from local_verify import compare

        problems = []
        for fmt, _ in TARGETS:
            root = os.path.join(self.out_dir, fmt)
            try:
                got = read_back(fmt, root, self.spark)
            except Exception as exc:  # unreadable output is a mismatch
                problems.append(f"export {fmt}: unreadable: {exc!r}"[:500])
                continue
            if got != self.expected[fmt]:
                problems.append(
                    f"export {fmt}: " + _diff(got, self.expected[fmt]))
        for name, _ in QUERY_MIX:
            got = self.collected.get(name)
            if got is None:
                continue  # the call itself failed and is already counted
            bad, _, _ = compare(name, got, self.con.sql(self.oracles[name]))
            problems += [f"{name}: {p}" for p in bad]
        return problems

    def space_amp(self) -> float:
        """Export bytes per pass over the result rows written once as
        snappy parquet, per target format."""
        per_pass = sorted(self.out_bytes)[len(self.out_bytes) // 2]
        return per_pass / (len(TARGETS) * self.ref_bytes)

    def close(self) -> None:
        self.con.close()
