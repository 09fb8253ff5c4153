"""Edge semantics of the as-of join composition (temporal.asof_join).

The oracle sweep covers the bulk data path; these pin the corner cases
a hash-compare can silently get lucky on: inclusive tie handling, rows
with no prior match, and per-key isolation.
"""

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from dataflowtemplates_spark.queries.temporal import asof_join


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_basic_and_no_match(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01T00:05:00"), 9.9),
         (2, 10, _ts("2024-01-01T00:00:30"), 1.1),
         (3, 20, _ts("2024-01-01T00:10:00"), 2.2)],
        "event_id long, user_id long, ts timestamp, purchase_value double")
    right = spark.createDataFrame(
        [(100, 10, _ts("2024-01-01T00:01:00"), 5.0),
         (101, 10, _ts("2024-01-01T00:04:00"), 6.0),
         (102, 30, _ts("2024-01-01T00:00:00"), 7.0)],
        "event_id long, user_id long, ts timestamp, value double")
    out = {r["event_id"]: r for r in asof_join(
        left, right, on="user_id", ts="ts",
        right_cols={"event_id": "click_id", "value": "click_value"},
        tiebreak="event_id").collect()}
    assert out[1]["click_id"] == 101          # latest prior click wins
    assert out[2]["click_id"] is None         # purchase before any click
    assert out[3]["click_id"] is None         # other user's clicks invisible


def test_asof_tie_is_inclusive_and_deterministic(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01T00:05:00"), 9.9)],
        "event_id long, user_id long, ts timestamp, purchase_value double")
    right = spark.createDataFrame(
        [(100, 10, _ts("2024-01-01T00:05:00"), 5.0),
         (101, 10, _ts("2024-01-01T00:05:00"), 6.0)],
        "event_id long, user_id long, ts timestamp, value double")
    row = asof_join(
        left, right, on="user_id", ts="ts",
        right_cols={"event_id": "click_id", "value": "click_value"},
        tiebreak="event_id").collect()[0]
    # equal-ts right rows are visible (inclusive as-of); among them the
    # highest tiebreak value is the "latest" and wins deterministically
    assert row["click_id"] == 101
    assert row["click_value"] == 6.0


def test_asof_plan_has_single_shuffle(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01T00:05:00"), 9.9)],
        "event_id long, user_id long, ts timestamp, purchase_value double")
    right = spark.createDataFrame(
        [(100, 10, _ts("2024-01-01T00:01:00"), 5.0)],
        "event_id long, user_id long, ts timestamp, value double")
    plan = asof_join(
        left, right, on="user_id", ts="ts",
        right_cols={"event_id": "click_id"},
        tiebreak="event_id")._jdf.queryExecution().executedPlan().toString()
    # union + window: exactly one exchange (by user_id), no join operator
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_q16_sub_second_gap_matches_oracle(spark, tmp_path):
    """q16 splits sessions on the exact gap: 1800.05 s is over the
    30-minute threshold even though the whole-second gap is 1800."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataflowtemplates_spark.queries.relational import (
        _Q16_ORACLE, q16_sessionize)

    t0 = datetime(2024, 1, 1)
    events = [  # (user, offset of the event from t0 in microseconds)
        (1, 0), (1, 1_800_050_000),               # 1800.05 s: new session
        (2, 900_000), (2, 1_800_850_000),         # 1799.95 s: same session
        (3, 0), (3, 1_800_000_000),               # exactly 1800 s: same
        (3, 3_600_000_001),                       # 1800.000001 s: new
    ]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(events)), pa.int64()),
        "ts": pa.array([t0 + timedelta(microseconds=us) for _, us in events],
                       pa.timestamp("us")),
        "user_id": pa.array([u for u, _ in events], pa.int64()),
        "event_type": pa.array(["view"] * len(events)),
        "value": pa.array([1.0] * len(events)),
        "props": pa.array(["{}"] * len(events)),
    }), os.path.join(sf_dir, "events.parquet"))
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet')")
    want = [tuple(r) for r in con.execute(_Q16_ORACLE).fetchall()]
    assert want == [(1, 2, 1), (2, 1, 2), (3, 2, 2)]
    got = [tuple(r) for r in q16_sessionize(spark, sf_dir).collect()]
    assert got == want
