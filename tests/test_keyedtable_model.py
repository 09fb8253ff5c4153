"""Data-level model test of KeyedTable.

A hypothesis state machine drives random sequences of every mutation
op (INSERT / UPDATE / REPLACE / INSERT_OR_UPDATE / DELETE), CDC
``apply_changes`` with ``_op``/``_seq``, and the maintenance ops
(``vacuum``, ``rebucket``, ``optimize``) against a table and against a
plain dict that carries the reference's Mutation semantics
(StructToMutationConverter.java:152-167 under REPORT_FAILURES):

* a null key field quarantines the row;
* duplicate keys in one ``apply_mutations`` batch: the first row by
  batch order applies, the others quarantine;
* INSERT quarantines a present key, UPDATE an absent one;
* REPLACE nulls the columns the batch does not carry, UPDATE and
  INSERT_OR_UPDATE keep them;
* DELETE removes present keys and ignores absent ones;
* ``apply_changes`` folds each key's events to the highest ``_seq``
  and quarantines null keys and unknown ops.

Batches carry duplicate, null and absent keys, and may be empty; an
example starts either from an empty created table or from no table at
all, so the first op always meets an empty table. After every step
``read()``, the applied and quarantine counts, and ``read_at`` at every
retained version equal the model. The same machine runs on a local
table and, with fewer steps, on the S3 and GCS emulators, where every
data file goes through the object-store plane.
"""

import random
import uuid

import pytest
from hypothesis import HealthCheck, seed, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    precondition,
    rule,
    run_state_machine_as_test,
)
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflowtemplates_spark.operators import fsio
from dataflowtemplates_spark.operators.mutations import KeyedTable

SCHEMA = T.StructType([T.StructField("k", T.IntegerType()),
                       T.StructField("a", T.IntegerType()),
                       T.StructField("b", T.StringType())])
NO_B = T.StructType(SCHEMA.fields[:2])
CDC = T.StructType(SCHEMA.fields + [T.StructField("_op", T.StringType()),
                                    T.StructField("_seq", T.LongType())])


def _rows(rnd):
    """1-8 rows over 8 keys: duplicate, absent and null keys."""
    return [(None if rnd.random() < 0.15 else rnd.randrange(8),
             None if rnd.random() < 0.2 else rnd.randrange(-3, 4),
             rnd.choice(["x", "y", "é,\n", None]))
            for _ in range(rnd.randrange(1, 9))]


def _events(rnd):
    """1-8 CDC events with distinct seqs, so two different events of
    one key never tie."""
    evs = _rows(rnd)
    seqs = list(range(len(evs)))
    rnd.shuffle(seqs)
    return [(*r, rnd.choice("IUDdX"), q) for r, q in zip(evs, seqs)]


# A batch is drawn as a seed mixed with the step number, so even the
# simplest example hypothesis tries moves a different pseudo-random
# batch at every step; empty batches have their own rule.
seeds = st.integers(0, 2**32)
# the most involved layout first, so the simplest example clusters too
clusterings = st.sampled_from([(["k", "a"], "zorder"),
                               (["b", "k"], "linear"), (["a"], "linear"),
                               None])


def _machine(spark, root):
    class KeyedTableModel(RuleBasedStateMachine):
        def __init__(self):
            super().__init__()
            self.model: dict = {}
            self.history: dict = {}  # version -> model state
            self.version = 0
            self.floor = 1
            self.steps = 0

        # -- bookkeeping ----------------------------------------------
        def _rnd(self, seed):
            self.steps += 1
            return random.Random(seed * 64 + self.steps)

        def _advance(self):
            """Record the model state for every version the op published
            (an auto-create publishes the empty version 1 first)."""
            new = self.t._latest_version()
            for v in range(self.version + 1, new):
                self.history[v] = dict(self.history.get(v - 1, {}))
            if new > self.version:
                self.history[new] = dict(self.model)
            self.version = new
            self._check()

        def _check(self):
            """One job reads the current snapshot (tagged version 0) and
            ``read_at`` at every retained version."""
            retained = [e for e in self.t._commits()
                        if e["version"] >= self.floor]
            assert retained and retained[-1]["version"] == self.version
            frame = self.t.read().withColumn("_v", F.lit(0))
            want = {0: self.model}
            for e in retained:
                v = e["version"]
                frame = frame.unionByName(
                    self.t.read_at(e["time"]).withColumn("_v", F.lit(v)))
                want[v] = self.history[v]
            got: dict = {v: {} for v in want}
            for r in frame.collect():
                assert r["k"] not in got[r["_v"]], r  # one row per key
                got[r["_v"]][r["k"]] = (r["a"], r["b"])
            assert got == want

        # -- start: no table, or an empty created one ------------------
        @initialize(create=st.booleans(), n_buckets=st.integers(1, 4),
                    clustering=clusterings)
        def start(self, create, n_buckets, clustering):
            by, mode = clustering or (None, "linear")
            self.t = KeyedTable(spark, f"{root}/{uuid.uuid4().hex[:8]}",
                                ["k"], n_buckets=n_buckets, cluster_by=by,
                                cluster_mode=mode)
            if create:
                self.t.create(spark.createDataFrame([], SCHEMA))
                self._advance()

        # -- mutations ------------------------------------------------
        @rule(op=st.sampled_from(["INSERT_OR_UPDATE", "REPLACE", "INSERT",
                                  "UPDATE"]),
              seed=seeds, with_b=st.booleans())
        def write(self, op, seed, with_b, batch=None):
            batch = _rows(self._rnd(seed)) if batch is None else batch
            with_b = with_b or not self.version  # creation sees every column
            data = batch if with_b else [r[:2] for r in batch]
            res = self.t.apply_mutations(
                spark.createDataFrame(data, SCHEMA if with_b else NO_B), op)
            applied = failed = 0
            seen = set()
            for k, a, b in batch:
                if k is None or k in seen:
                    failed += 1
                    continue
                seen.add(k)
                present = k in self.model
                if (op == "INSERT" and present) or (op == "UPDATE"
                                                    and not present):
                    failed += 1
                    continue
                keep = op in ("UPDATE", "INSERT_OR_UPDATE") and present
                old_b = self.model[k][1] if keep else None
                self.model[k] = (a, b if with_b else old_b)
                applied += 1
            assert (res.applied, res.failed) == (applied, failed)
            self._advance()

        @rule(seed=seeds)
        def delete(self, seed, batch=None):
            batch = _rows(self._rnd(seed)) if batch is None else batch
            frame = spark.createDataFrame([r[:1] for r in batch],
                                          T.StructType(SCHEMA.fields[:1]))
            if not self.version:
                with pytest.raises(FileNotFoundError):
                    self.t.apply_mutations(frame, "DELETE")
                return
            res = self.t.apply_mutations(frame, "DELETE")
            hits = {k for k, _, _ in batch if k in self.model}
            for k in hits:
                del self.model[k]
            nulls = sum(k is None for k, _, _ in batch)
            assert (res.applied, res.failed) == (len(hits), nulls)
            self._advance()

        @rule(seed=seeds)
        def changes(self, seed, events=None):
            events = _events(self._rnd(seed)) if events is None else events
            res = self.t.apply_changes(spark.createDataFrame(events, CDC),
                                       op_col="_op", seq_col="_seq")
            valid = [e for e in events
                     if e[0] is not None and e[3].upper() in ("I", "U", "D")]
            winners = {}
            for e in sorted(valid, key=lambda e: e[4]):
                winners[e[0]] = e
            applied = 0
            for k, a, b, op, _ in winners.values():
                if op.upper() != "D":
                    self.model[k] = (a, b)
                    applied += 1
                elif self.model.pop(k, None) is not None:
                    applied += 1
            assert (res.applied, res.failed) == (applied,
                                                 len(events) - len(valid))
            self._advance()

        @rule(op=st.sampled_from(["INSERT", "UPDATE", "REPLACE",
                                  "INSERT_OR_UPDATE", "DELETE", "CDC"]))
        def empty(self, op):
            if op == "DELETE":
                self.delete(0, batch=[])
            elif op == "CDC":
                self.changes(0, events=[])
            else:
                self.write(op, 0, True, batch=[])

        # -- maintenance ----------------------------------------------
        @precondition(lambda self: self.version)
        @rule(keep_last=st.integers(1, 3), truncate=st.booleans())
        def vacuum(self, keep_last, truncate):
            self.floor = max(self.floor, self.version - keep_last + 1)
            self.t.vacuum(keep_last=keep_last, truncate_log=truncate)
            self._advance()

        @precondition(lambda self: self.version)
        @rule(n=st.integers(1, 4))
        def rebucket(self, n):
            self.t.rebucket(n)
            self._advance()

        @precondition(lambda self: self.version)
        @rule(clustering=clusterings)
        def optimize(self, clustering):
            by, mode = clustering or (None, "linear")
            self.t.optimize(cluster_by=by, cluster_mode=mode)
            self._advance()

    return KeyedTableModel


def _run(machine, examples, steps, at):
    """A fixed seed per scheme keeps tier-1 reproducible while the two
    schemes still walk different op sequences."""
    run_state_machine_as_test(seed(at)(machine), settings=settings(
        max_examples=examples, stateful_step_count=steps, deadline=None,
        database=None, suppress_health_check=list(HealthCheck)))


def test_keyedtable_matches_model_on_local_table(spark, tmp_path):
    _run(_machine(spark, str(tmp_path)), examples=2, steps=5, at=0)


def test_keyedtable_matches_model_on_s3_emulator(spark):
    from dataflowtemplates_spark.operators.s3http import S3HttpBackend
    from dataflowtemplates_spark.testing.s3_emulator import S3Emulator

    emu = S3Emulator().start()
    fsio.register_object_backend(
        "s3model", S3HttpBackend(emu.endpoint, timeout_s=5.0))
    try:
        _run(_machine(spark, "s3model://bkt"), examples=2, steps=4, at=1)
    finally:
        fsio.unregister_object_backend("s3model")
        emu.stop()


def test_keyedtable_matches_model_on_gcs_emulator(spark):
    from dataflowtemplates_spark.operators.gcshttp import GcsHttpBackend
    from dataflowtemplates_spark.testing.gcs_emulator import GcsEmulator

    emu = GcsEmulator().start()
    fsio.register_object_backend(
        "gsmodel", GcsHttpBackend(emu.endpoint, timeout_s=5.0))
    try:
        _run(_machine(spark, "gsmodel://bkt"), examples=2, steps=4, at=2)
    finally:
        fsio.unregister_object_backend("gsmodel")
        emu.stop()
