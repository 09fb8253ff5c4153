"""Structured-Streaming queries surfaced through the correctness gate.

The reference is batch-only (SURVEY §1.1: no windows/watermarks
anywhere), so streaming is a first-class EXTENSION here
(streaming/pipelines.py). These queries run the real streaming
operators — file-source stream, watermarked tumbling window,
session_window — bounded with ``trigger(availableNow=True)`` into an
in-memory sink, which makes them deterministic and therefore
oracle-checkable against batch SQL: complete output mode emits every
window regardless of watermark progress, so a bounded stream equals
the batch aggregation bit-for-bit.

Scale stance: the same code unbounded is the production path — the
watermark bounds state (append/update modes), availableNow is just the
test harness's determinism knob. Event-time logic, state layout and
shuffle shape are identical either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflowtemplates_spark.catalog import raw_schema, register_tables

#: events schema with ts as raw nanos (the driver parquet is
#: TIMESTAMP(NANOS), which Spark's reader only accepts as long).
_EVENTS_NS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("ts", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, nanos-aware.

    The nanos probe checks what a BATCH read actually yields for ``ts``
    rather than the parquet footer alone: TIMESTAMP(NANOS) written
    WITHOUT Spark metadata (the driver's pyarrow tables) arrives as a
    raw long under ``nanosAsLong``, while Spark-written nanos/INT96
    files read as native timestamps despite an identical-looking
    footer — forcing a long schema on those fails the scan.
    """
    register_tables(spark, sf_dir)  # engine confs incl. nanosAsLong
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isfile(path):
        # file sources stream DIRECTORIES; a single-file table streams
        # from its parent with a glob filter
        src, opts = sf_dir, {"pathGlobFilter": "events.parquet"}
    else:
        src, opts = path, {}
    # the catalog's process-wide schema memo answers the probe: it is
    # keyed by path, stat signature and the inference confs, so one
    # session's answer never reaches a session configured differently
    ns_cols, raw, _ = raw_schema(spark, path)
    if "ts" in ns_cols and isinstance(raw["ts"].dataType, T.LongType):
        stream = (spark.readStream.schema(_EVENTS_NS_SCHEMA)
                  .options(**opts).parquet(src))
        return stream.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))"))
    from dataflowtemplates_spark.streaming.pipelines import EVENTS_SCHEMA
    return (spark.readStream.schema(EVENTS_SCHEMA)
            .options(**opts).parquet(src))


def _run_bounded(agg: DataFrame, name: str) -> None:
    """Drain the bounded stream into the in-memory sink `name`."""
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination()


def _stream_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table — the docs twin of
    ``_stream_events`` (file sources stream DIRECTORIES; a single-file
    table streams from its parent with a glob filter). Shared by
    q95/q98/q138."""
    register_tables(spark, sf_dir)
    path = os.path.join(sf_dir, "documents.parquet")
    if os.path.isfile(path):
        src, opts = sf_dir, {"pathGlobFilter": "documents.parquet"}
    else:
        src, opts = path, {}
    return (spark.readStream.schema(_DOCS_SCHEMA)
            .options(**opts).parquet(src))


def q90_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling 1-hour counts per event type, streamed.

    The streaming twin of q34, run through the actual streaming
    machinery (file-source micro-batches, event-time window, watermark,
    stateful aggregation). Sums cast to DECIMAL first so the result is
    order-independent and bit-comparable to the batch oracle.
    """
    ev = _stream_events(spark, sf_dir)
    agg = (ev.withWatermark("ts", "2 hours")
           .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                 .cast("double").alias("value_sum"))
           .select(F.col("w.start").alias("window_start"),
                   F.col("w.end").alias("window_end"),
                   "event_type", "n", "value_sum"))
    _run_bounded(agg, "q90_tumbling_sink")
    return (spark.table("q90_tumbling_sink")
            .orderBy("window_start", "event_type"))


_Q90_ORACLE = """
SELECT DATE_TRUNC('hour', ts) AS window_start,
       DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


def q91_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window sessionization (30-min gap), streamed — the
    stateful streaming twin of q16's batch lag+cumsum sessionization.
    Emits per-session event counts and bounds; session_end is
    last-event + gap (Spark session_window semantics, mirrored in the
    oracle's lag/cumsum form).
    """
    ev = _stream_events(spark, sf_dir)
    agg = (ev.withWatermark("ts", "2 hours")
           .groupBy(F.session_window("ts", "30 minutes").alias("s"),
                    "user_id")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.min("ts").alias("first_event"),
                F.max("ts").alias("last_event"))
           .select("user_id",
                   F.col("s.start").alias("session_start"),
                   F.col("s.end").alias("session_end"),
                   "n_events", "first_event", "last_event"))
    _run_bounded(agg, "q91_session_sink")
    return (spark.table("q91_session_sink")
            .orderBy("user_id", "session_start"))


_Q91_ORACLE = """
WITH ordered AS (
  -- strict > is CORRECT on the boundary: Spark's session_window merges
  -- sessions whose windows touch — an event at exactly prev + 30min
  -- has window [prev+gap, ...) touching the session's end prev+gap and
  -- CONTINUES the session (empirically pinned by the exact-1800s-gap
  -- fixture in test_streaming.py). Only a gap STRICTLY greater than
  -- the session gap starts a new session.
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
marked AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM ordered)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       MIN(ts) AS first_event,
       MAX(ts) AS last_event
FROM marked
GROUP BY user_id, sess_id
ORDER BY user_id, session_start
"""


def q92_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on (user_id, event_type) with
    watermark-bounded state (``dropDuplicatesWithinWatermark``) — the
    streaming twin of q50's batch dedup. Emits the distinct key set,
    which a bounded drain makes deterministic (first-arrival payload
    columns are not, so they stay out of the oracle surface).
    """
    from dataflowtemplates_spark.streaming.pipelines import dedup_stream
    ev = _stream_events(spark, sf_dir)
    deduped = (dedup_stream(ev, ["user_id", "event_type"])
               .select("user_id", "event_type"))
    q = (deduped.writeStream.outputMode("append").format("memory")
         .queryName("q92_dedup_sink").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table("q92_dedup_sink")
            .orderBy("user_id", "event_type"))


_Q92_ORACLE = """
SELECT DISTINCT user_id, event_type
FROM events ORDER BY user_id, event_type
"""


def q93_stream_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user totals plus order-dependent session-break counts. Emitted
    stats are monotone per key across micro-batches, so the bounded
    drain's final state per user is the per-key max/min over emitted
    rows — robust to the stream splitting into several batches.
    """
    from dataflowtemplates_spark.streaming.pipelines import user_stats_stateful
    ev = _stream_events(spark, sf_dir)
    stats = user_stats_stateful(ev)
    q = (stats.writeStream.outputMode("update").format("memory")
         .queryName("q93_stats_sink").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table("q93_stats_sink")
            .groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"),
                 F.min("first_event").alias("first_event"),
                 F.max("last_event").alias("last_event"),
                 F.max("n_breaks").alias("n_breaks"))
            .orderBy("user_id"))


_Q93_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events)
SELECT user_id,
       COUNT(*) AS n_events,
       MIN(ts) AS first_event,
       MAX(ts) AS last_event,
       CAST(SUM(brk) AS BIGINT) AS n_breaks
FROM ordered GROUP BY user_id ORDER BY user_id
"""


def q94_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins the static
    customer dimension (stateless, map-side — Spark re-plans the
    static side per micro-batch, no join state), then a watermarked
    tumbling window aggregates revenue per nation. The streaming twin
    of the batch fact-dim join family (q03/q05).

    Scale shape: stream-static inner joins keep ZERO state (only the
    windowed agg holds any), and the dimension side is broadcast per
    micro-batch — the standard enrichment topology for a 100 TB/day
    event feed against a bounded dimension table.
    """
    ev = _stream_events(spark, sf_dir)
    dim = (spark.table("customer")
           .select(F.col("c_custkey").alias("user_id"),
                   F.col("c_nationkey").alias("nationkey")))
    agg = (ev.withWatermark("ts", "2 hours")
           .join(F.broadcast(dim), "user_id")
           .groupBy(F.window("ts", "1 hour").alias("w"), "nationkey")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                 .cast("double").alias("value_sum"))
           .select(F.col("w.start").alias("window_start"), "nationkey",
                   "n", "value_sum"))
    _run_bounded(agg, "q94_enrich_sink")
    return (spark.table("q94_enrich_sink")
            .orderBy("window_start", "nationkey"))


_Q94_ORACLE = """
SELECT DATE_TRUNC('hour', ts) AS window_start,
       c_nationkey AS nationkey,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
ORDER BY window_start, nationkey
"""


_DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])


def neardup_bucket_stream(docs: DataFrame) -> DataFrame:
    """The q95 streaming-LSH aggregation as a reusable stream
    transformation: per-row MinHash signature (HOF array_min — no
    stateful pre-aggregation), stateless banding, then the ONE stateful
    aggregation Structured Streaming allows — collect_set of doc ids
    per band bucket. State grain is the BUCKET, never the document:
    one state row per distinct band_key, which is what
    tests/test_streaming.py pins via StreamingQueryProgress so a
    per-doc-state regression (e.g. an added dedup/groupBy upstream)
    is caught by metrics, not just output values."""
    from dataflowtemplates_spark.queries.dedup import (
        _SHINGLES_SPARK, BAND_SIZE, N_HASHES)
    hs = f"transform({_SHINGLES_SPARK}, s -> md5(s))"
    mh = [F.expr(f"array_min(transform({hs}, h -> substring(h, {4 * i + 1}, 4)))")
          .alias(f"mh_{i}") for i in range(N_HASHES)]
    sig = docs.select("doc_id", *mh)
    bands = []
    for b in range(N_HASHES // BAND_SIZE):
        cols = [f"mh_{b * BAND_SIZE + j}" for j in range(BAND_SIZE)]
        bands.append(F.md5(F.concat_ws("|", F.lit(str(b)), *cols))
                     .alias("band_key"))
    banded = sig.select("doc_id", F.explode(F.array(*bands)).alias("band_key"))
    return (banded.groupBy("band_key")
            .agg(F.collect_set("doc_id").alias("_ids")))


def q95_stream_neardup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH candidate generation: the dedup front-end
    (q52) run through the streaming engine against a document stream.

    Structured Streaming allows ONE stateful aggregation per query in
    complete mode, so the batch shape (explode shingles -> groupBy doc
    -> groupBy band) cannot stream. The signature therefore computes
    PER-ROW with higher-order array functions (array_min over the
    md5'd shingle array — bit-identical to the batch explode+min form,
    since both take the same lexicographic minimum), keeping banding a
    stateless projection; the single aggregation is the band-bucket
    collect_set. Interpreted HOFs cost more per row than the batch
    codegen path (see queries/dedup.py notes) — the price of fitting
    the streaming constraint, paid per-document exactly once at
    ingest, which is the point: candidates exist the moment a shard
    lands instead of waiting for the nightly batch pass.

    Output is bucket-granular (band_key, n_docs, sorted id CSV) for
    buckets holding >= 2 docs — deterministic and order-independent,
    so the bounded drain equals the batch oracle bit-for-bit.
    """
    docs = _stream_docs(spark, sf_dir)
    _run_bounded(neardup_bucket_stream(docs), "q95_neardup_sink")
    return (spark.table("q95_neardup_sink")
            .filter(F.size("_ids") >= 2)
            .select("band_key",
                    F.size("_ids").alias("n_docs"),
                    F.concat_ws(",", F.transform(
                        F.sort_array("_ids"),
                        lambda x: x.cast("string"))).alias("ids_csv"))
            .orderBy("band_key"))


def _q95_oracle() -> str:
    from dataflowtemplates_spark.queries.dedup import (
        _band_oracle, _HASHED_CTE, BAND_SIZE, N_HASHES)
    union = "\nUNION ALL\n".join(
        f"  SELECT doc_id, {_band_oracle(b)} AS band_key FROM hashed"
        for b in range(N_HASHES // BAND_SIZE))
    return (_HASHED_CTE + ",\nbanded AS (\n" + union + "\n)\n"
            "SELECT band_key, COUNT(*) AS n_docs,\n"
            "       STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS ids_csv\n"
            "FROM banded GROUP BY band_key HAVING COUNT(*) >= 2\n"
            "ORDER BY band_key")


def attribution_join(views_raw: DataFrame,
                     purchases_raw: DataFrame) -> DataFrame:
    """The q96 join topology on any pair of event-schema streams:
    view-side and purchase-side filters, two-sided 2-hour watermarks,
    and the event-time range constraint (purchase within 1 hour after
    the view) that lets Spark bound the join state. Factored out so
    the state-metrics and checkpoint-recovery tests drive the SAME
    code q96 ships."""
    views = (views_raw
             .filter(F.col("event_type") == "view")
             .select(F.col("event_id").alias("view_id"),
                     F.col("user_id"),
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", "2 hours"))
    purchases = (purchases_raw
                 .filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user_id"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", "2 hours"))
    return (views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts")
           + F.expr("INTERVAL 1 HOUR")),
        "inner")
        .select("view_id", "purchase_id", "user_id",
                (F.unix_micros("purchase_ts")
                 - F.unix_micros("view_ts")).alias("gap_us")))


def q96_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases attributed to the views
    they followed within one hour, per user — the classic streaming
    attribution join, run through the real two-sided join state store.

    Both sides are watermarked and the join carries an event-time range
    constraint, which is exactly what lets Spark BOUND the join state:
    a buffered view can be dropped once the purchase-side watermark
    passes view_ts + 1 hour (and vice versa), so state is O(events per
    watermark horizon), not O(stream). Inner-join matches emit as they
    arrive (no watermark wait on output), so the bounded availableNow
    drain produces exactly the batch join — the oracle below.

    The two sides read the file source independently (two readStream
    lineages), the production topology for joining two distinct topics;
    the filter to each side's event_type prunes before any state is
    buffered.

    Output mode is APPEND (required for stream-stream joins): each
    matched (view, purchase) pair is emitted once with its attribution
    gap in microseconds.
    """
    joined = attribution_join(_stream_events(spark, sf_dir),
                              _stream_events(spark, sf_dir))
    q = (joined.writeStream.outputMode("append").format("memory")
         .queryName("q96_attribution_sink")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table("q96_attribution_sink")
            .orderBy("view_id", "purchase_id"))


_Q96_ORACLE = """
SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
       EPOCH_US(p.ts) - EPOCH_US(v.ts) AS gap_us
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
ORDER BY view_id, purchase_id
"""


def q98_stream_corpus_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-prep scrub run UNBOUNDED: q87's PII redaction and
    quality gate applied to a document STREAM, funnel counts per
    source — proof that the batch corpus operators are stream/batch
    unified (identical column expressions, no code fork).

    The scrub and gate are STATELESS projections (the scale-critical
    property: a 100 TB/day ingest scrubs at wire speed with zero
    state); the only stateful op is the final per-source counting
    aggregation. Dedup is deliberately absent here — its streaming
    form is the watermark-bounded q92/q95 state machinery, which would
    consume this pass's scrubbed text downstream.
    """
    from dataflowtemplates_spark.queries.corpus_pipeline import (
        scrub_quality_tags,
    )

    docs = _stream_docs(spark, sf_dir)

    # the SAME tagging pass the batch funnel (q87) runs — a streaming
    # DataFrame is a DataFrame; stateless projections need no fork
    tagged = scrub_quality_tags(docs)
    agg = (tagged.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_input"),
                F.sum(F.col("q_ok").cast("int")).cast("bigint")
                 .alias("n_quality"),
                F.sum("n_tokens").cast("bigint").alias("total_tokens")))
    _run_bounded(agg, "q98_scrub_sink")
    return spark.table("q98_scrub_sink").orderBy("source")


def _q98_oracle() -> str:
    from dataflowtemplates_spark.queries.corpus_pipeline import (
        scrub_quality_cte,
    )
    return f"""
WITH {scrub_quality_cte()}
SELECT source, COUNT(*) AS n_input,
       CAST(SUM(CAST(q_ok AS INTEGER)) AS BIGINT) AS n_quality,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM tagged GROUP BY source ORDER BY source
"""


def q121_stream_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketches inside streaming state: watermarked tumbling windows
    with per-window approximate user cardinality
    (``approx_count_distinct``, HLL++ rsd 2 %) — the streaming twin of
    q89's batch sketch rollup, and the ONLY way to count distincts in
    an unbounded aggregation (exact ``countDistinct`` is unsupported in
    streaming precisely because its state is O(distinct keys); the
    sketch's state is fixed-size registers that merge across
    micro-batches by register max, order-independent and therefore
    deterministic under any batch split).

    Gate surface: the HLL++ estimate itself is engine-specific, so it
    stays OUT of the output; what is emitted is the exact per-window
    cardinality (batch-recomputed yardstick, as in q89) and the
    accuracy boolean |approx - exact| <= max(5 %, 5 users), which the
    oracle asserts as literal TRUE.

    Scale shape: streaming state per (window, type) group is one
    fixed-size sketch + one count — O(groups), never O(users); the
    batch exact recompute exists only as the verification yardstick.
    """
    ev = _stream_events(spark, sf_dir)
    agg = (ev.withWatermark("ts", "2 hours")
           .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(F.approx_count_distinct("user_id", 0.02)
                .alias("approx_users"),
                F.count(F.lit(1)).alias("n"))
           .select(F.col("w.start").alias("window_start"),
                   "event_type", "n", "approx_users"))
    _run_bounded(agg, "q121_sketch_sink")
    est = spark.table("q121_sketch_sink")
    exact = (spark.table("events")
             .groupBy(F.date_trunc("hour", F.col("ts"))
                      .alias("window_start"),
                      F.col("event_type").alias("et"))
             .agg(F.countDistinct("user_id").alias("exact_users")))
    return (est.join(exact,
                     (est.window_start == exact.window_start)
                     & est.event_type.eqNullSafe(F.col("et")))
            .select(est.window_start, "event_type", "n", "exact_users",
                    (F.abs(F.col("approx_users") - F.col("exact_users"))
                     <= F.greatest(0.05 * F.col("exact_users"), F.lit(5.0)))
                    .alias("within_bound"))
            .orderBy("window_start", "event_type"))


_Q121_ORACLE = """
SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
       COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_bound
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def q127_stream_outer_attribution(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every view emits, the
    unmatched ones with NULL purchase columns — the outer-emission
    path q96's inner join never exercises. Outer rows can only emit
    once the OPPOSITE side's watermark proves no future match exists
    (Spark buffers the left row until purchase-watermark >
    view_ts + 1 hour), so this query pins the eviction-driven emission
    machinery, not just the match path.

    Determinism device: a batch availableNow drain ends when input is
    exhausted, and views near the stream's end would never see the
    watermark pass their match window — their outer rows would be
    LOST, making the result depend on the final watermark. Two
    far-future SENTINEL events (one per side, user_id = -1, filtered
    from the output) ride a second file source union'd into each
    input: they land in the same first micro-batch as the real data
    (so nothing is late-dropped), push both sides' watermarks past
    every real window at batch end, and the no-data flush batch then
    emits every pending outer row. The drained result is therefore
    EXACTLY the batch left interval join — the DuckDB oracle.

    Scale shape: state is O(watermark horizon) on both sides, same as
    q96; the sentinel trick is test-harness determinism, not topology
    (a production stream's watermark advances on its own).
    """
    import shutil
    import tempfile
    from datetime import datetime

    from dataflowtemplates_spark.streaming.pipelines import EVENTS_SCHEMA

    tmp = tempfile.mkdtemp(prefix="q127_sentinel_")
    out = None
    try:
        far = datetime(2030, 1, 1)
        sent = spark.createDataFrame(
            [(-901, -1, far, "view", 0.0, "{}"),
             (-902, -1, far, "purchase", 0.0, "{}")], EVENTS_SCHEMA)
        sent.write.mode("overwrite").parquet(tmp)
        sentinels = spark.readStream.schema(EVENTS_SCHEMA).parquet(tmp)

        views_raw = _stream_events(spark, sf_dir).unionByName(sentinels)
        purchases_raw = _stream_events(spark, sf_dir).unionByName(
            spark.readStream.schema(EVENTS_SCHEMA).parquet(tmp))

        views = (views_raw
                 .filter(F.col("event_type") == "view")
                 .select(F.col("event_id").alias("view_id"),
                         F.col("user_id"),
                         F.col("ts").alias("view_ts"))
                 .withWatermark("view_ts", "2 hours"))
        purchases = (purchases_raw
                     .filter(F.col("event_type") == "purchase")
                     .select(F.col("event_id").alias("purchase_id"),
                             F.col("user_id").alias("p_user_id"),
                             F.col("ts").alias("purchase_ts"))
                     .withWatermark("purchase_ts", "2 hours"))
        joined = (views.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts")
               + F.expr("INTERVAL 1 HOUR")),
            "left_outer")
            .select("view_id", "user_id", "purchase_id",
                    (F.unix_micros("purchase_ts")
                     - F.unix_micros("view_ts")).alias("gap_us")))
        q = (joined.writeStream.outputMode("append").format("memory")
             .queryName("q127_outer_sink")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        out = (spark.table("q127_outer_sink")
               .filter(F.col("user_id") != -1)
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("view_id", "purchase_id")


_Q127_ORACLE = """
SELECT v.event_id AS view_id, v.user_id, p.event_id AS purchase_id,
       EPOCH_US(p.ts) - EPOCH_US(v.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
ORDER BY view_id, purchase_id
"""


def q138_stream_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online model serving: the q136-trained NB language classifier
    applied to a document STREAM, reported as a per-source drift
    monitor (how often the live prediction agrees with the stored
    label) — the offline-train / online-score split every production
    classifier deployment runs.

    Scale shape: training happens in BATCH up front (one bounded
    aggregation, `_nb_train`); the stream side is the SAME
    ``nb_classified`` stateless projection the batch query uses — a
    streaming DataFrame is a DataFrame, no code fork — so scoring
    adds zero state and the only stateful op is the tiny per-source
    counting aggregate. An unbounded deploy swaps availableNow for a
    real trigger and periodically swaps in a retrained weight map;
    the plan is unchanged.

    Determinism: stateless projection + order-insensitive counting
    aggregate drained with availableNow == the batch equivalent
    bit-for-bit; agree_rate is one exact-int IEEE division.
    """
    from dataflowtemplates_spark.queries.text import (
        _nb_train, nb_classified)

    bucket_probs, default_probs, priors = _nb_train(spark, sf_dir)

    docs = _stream_docs(spark, sf_dir)

    out = nb_classified(docs, bucket_probs, default_probs, priors,
                        [F.col("source"), F.col("lang")])
    agg = (out.groupBy("source")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum((F.col("pred_lang") == F.col("lang")).cast("int"))
                 .cast("bigint").alias("n_agree")))
    _run_bounded(agg, "q138_classify_sink")
    return (spark.table("q138_classify_sink")
            .select("source", "n_docs", "n_agree",
                    (F.col("n_agree").cast("double")
                     / F.col("n_docs").cast("double")).alias("agree_rate"))
            .orderBy("source"))


def _q138_oracle() -> str:
    from dataflowtemplates_spark.queries.text import nb_scored_ctes
    return f"""
WITH {nb_scored_ctes("TRUE", "source, lang")}
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_agree,
       CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS agree_rate
FROM predicted GROUP BY source ORDER BY source
"""


#: Exact top-k depth the heavy-hitter gate checks per event type.
HH_TOPK = 3


def q144_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: a Misra-Gries frequent-items summary
    per event_type held in custom stream state (fixed O(capacity)
    counters — the only state budget an unbounded key space allows),
    gated against the exact batch top-k.

    The MG candidate SET depends on micro-batch boundaries, so raw
    estimates stay OUT of the output (same discipline as q121's HLL
    estimates). What is emitted per exact top-k user is the sketch's
    THEOREM bound, which holds under any arrival order / batch split:
    est <= true_count and (true_count - est) * capacity <= n_type —
    checked in exact integer arithmetic and asserted TRUE by the
    oracle. At 100 TB the same summary costs 32 counters per group
    while an exact per-key count would hold state for every user ever
    seen.
    """
    from dataflowtemplates_spark.streaming.pipelines import (
        MG_CAPACITY, heavy_hitters_stateful)
    ev = _stream_events(spark, sf_dir)
    summary = heavy_hitters_stateful(ev)
    q = (summary.writeStream.outputMode("update").format("memory")
         .queryName("q144_hh_sink").trigger(availableNow=True).start())
    q.awaitTermination()
    # localCheckpoint breaks the MemoryPlan lineage: the sink view is
    # referenced three times below (final_stamp + final + the join),
    # and Spark's analyzer cannot dedupe MemoryPlan attributes in a
    # self-join (INTERNAL_ERROR: conflicting references). The sink is
    # O(sketch) rows (<= capacity x batches per event type), so the
    # checkpoint is a few KB regardless of input scale.
    sink = spark.table("q144_hh_sink").localCheckpoint(eager=True)
    final_stamp = sink.groupBy("event_type").agg(
        F.max("n_processed").alias("final_n"))
    final = (sink.join(final_stamp, "event_type")
             .where(F.col("n_processed") == F.col("final_n"))
             .select(F.col("event_type").alias("f_et"),
                     F.col("user_id").alias("f_uid"), "est"))

    counts = (spark.table("events")
              .groupBy(F.col("event_type").alias("et"), "user_id")
              .agg(F.count(F.lit(1)).alias("true_count")))
    w = Window.partitionBy("et").orderBy(
        F.col("true_count").desc(), F.col("user_id").asc())
    topk = (counts.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= HH_TOPK))
    joined = (topk
              .join(final_stamp,
                    topk.et == final_stamp.event_type)
              .join(final, (topk.et == final.f_et)
                    & (topk.user_id == final.f_uid), "left"))
    est0 = F.coalesce(F.col("est"), F.lit(0).cast("long"))
    return (joined
            .select(F.col("et").alias("event_type"),
                    F.col("rk").cast("int").alias("rk"),
                    topk.user_id.alias("user_id"), "true_count",
                    ((est0 <= F.col("true_count"))
                     & ((F.col("true_count") - est0) * MG_CAPACITY
                        <= F.col("final_n"))).alias("mg_within_bound"))
            .orderBy("event_type", "rk"))


_Q144_ORACLE = f"""
WITH counts AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM events GROUP BY 1, 2),
topk AS (
  SELECT event_type, user_id, true_count,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
             ORDER BY true_count DESC, user_id ASC) AS INTEGER) AS rk
  FROM counts)
SELECT event_type, rk, user_id, true_count, TRUE AS mg_within_bound
FROM topk WHERE rk <= {HH_TOPK}
ORDER BY event_type, rk
"""


def q145_stream_keyed_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed CDC apply into the keyed table: ``foreachBatch`` folds
    each micro-batch into a :class:`KeyedTable` with a version-guarded
    upsert — the streaming end of the reference's mutation templates
    (SpannerToSpanner.java:109-114 applies batched mutations to a keyed
    store; here the batches arrive from a stream instead of a bounded
    query).

    Per user the table holds ``n_seen`` (additive counter) and the
    ``last_*`` image of the MAX-``(ts, event_id)`` event (version
    guard: an out-of-order batch can never clobber a newer image with
    an older one).  Both folds are ASSOCIATIVE — count is a sum,
    version-guard is a max — so the final table state is independent
    of how the stream is split into micro-batches.  The input is
    deliberately staged into 8 files and streamed with
    ``maxFilesPerTrigger=1`` so the fold really crosses batch
    boundaries (one-shot availableNow would make the guard dead code).

    Scale shape: each batch's read-modify-write touches only the
    buckets its keys hash into (the same partition-pruned slice the
    mutation commit rewrites), so per-batch cost is O(batch +
    table/n_buckets × touched), never O(table).  The fold itself is
    ``streaming/pipelines.versioned_upsert_fold`` — directly callable
    on batch DataFrames, which is how the batch-split-invariance
    property is tested without the streaming engine.
    """
    import shutil
    import tempfile

    from dataflowtemplates_spark.operators.mutations import KeyedTable
    from dataflowtemplates_spark.streaming.pipelines import (
        versioned_upsert_fold)

    register_tables(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="q145_upsert_")
    try:
        stage = os.path.join(tmp, "stage")
        (spark.table("events")
         .select("event_id", "ts", "user_id", "event_type", "value")
         .repartitionByRange(8, "ts")
         .write.parquet(stage))
        tbl_path = os.path.join(tmp, "tbl")
        seed = spark.createDataFrame([], T.StructType([
            T.StructField("user_id", T.LongType()),
            T.StructField("n_seen", T.LongType()),
            T.StructField("last_ts", spark.read.parquet(stage)
                          .schema["ts"].dataType),
            T.StructField("last_event_id", T.LongType()),
            T.StructField("last_value", T.DoubleType()),
            T.StructField("last_event_type", T.StringType()),
        ]))
        KeyedTable(spark, tbl_path, ["user_id"]).create(seed)

        fold = versioned_upsert_fold(tbl_path, txn_app="q145")
        src = (spark.readStream.schema(spark.read.parquet(stage).schema)
               .option("maxFilesPerTrigger", 1).parquet(stage))
        q = (src.writeStream.foreachBatch(fold)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        out = (KeyedTable(spark, tbl_path, ["user_id"]).read()
               .select("user_id", "n_seen", "last_ts", "last_event_id",
                       "last_value", "last_event_type")
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("user_id")


_Q145_ORACLE = """
WITH last AS (
  SELECT user_id, ts, event_id, value, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events),
cnt AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_seen
  FROM events GROUP BY user_id)
SELECT c.user_id, c.n_seen, l.ts AS last_ts,
       l.event_id AS last_event_id, l.value AS last_value,
       l.event_type AS last_event_type
FROM cnt c JOIN last l ON c.user_id = l.user_id AND l.rk = 1
ORDER BY c.user_id
"""


def q164_stream_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed incremental table fingerprint: the documents table is
    staged into 8 files and streamed one file per micro-batch into a
    COMPLETE-mode global aggregate holding exactly the three
    fingerprint components (count, 60-bit md5 XOR, mod-p sum) — the
    streaming proof of ``operators/maintenance.fingerprint``'s
    associativity claim: folding batch-by-batch lands on the SAME
    fingerprint as one batch pass, for any split of the stream.

    The emitted row is the stream's final state joined against the
    batch fingerprint of the same table, with a ``matches_batch``
    boolean the oracle asserts TRUE (the oracle recomputes the batch
    fold relationally). State is O(1): three scalars, whatever the
    table size — this is what CDC replica validation holds per table
    at 100 TB while the stream is live.
    """
    import shutil
    import tempfile

    from dataflowtemplates_spark.operators.maintenance import fingerprint

    register_tables(spark, sf_dir)
    cols = ("doc_id", "lang", "source", "n_chars", "text")
    docs = spark.table("documents").select(*cols)
    tmp = tempfile.mkdtemp(prefix="q164_fp_")
    try:
        stage = os.path.join(tmp, "stage")
        docs.repartition(8).write.parquet(stage)
        canon = F.concat_ws(
            "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\\N"))
                   for c in cols])
        h = (F.conv(F.substring(F.md5(canon), 1, 15), 16, 10)
             .cast("bigint"))
        stream = (spark.readStream
                  .schema(spark.read.parquet(stage).schema)
                  .option("maxFilesPerTrigger", 1).parquet(stage))
        agg = (stream.select(h.alias("h"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                    F.expr("bit_xor(h)").cast("bigint").alias("fp_xor"),
                    F.sum(F.col("h") % 1_000_000_007).cast("bigint")
                     .alias("fp_sum")))
        q = (agg.writeStream.outputMode("complete").format("memory")
             .queryName("q164_fp_sink").trigger(availableNow=True)
             .start())
        q.awaitTermination()
        streamed = (spark.table("q164_fp_sink")
                    .localCheckpoint(eager=True))
        batch = (fingerprint(docs)
                 .select(F.col("n_rows").alias("b_n"),
                         F.col("fp_xor").alias("b_x"),
                         F.col("fp_sum").alias("b_s"))
                 .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (streamed.crossJoin(batch)
            .select("n_rows", "fp_xor", "fp_sum",
                    ((F.col("n_rows") == F.col("b_n"))
                     & (F.col("fp_xor") == F.col("b_x"))
                     & (F.col("fp_sum") == F.col("b_s")))
                    .alias("matches_batch")))


_Q164_ORACLE = """
WITH h AS (
  SELECT CAST(('0x' || SUBSTRING(MD5(
           COALESCE(CAST(doc_id AS VARCHAR), '\\N') || '|' ||
           COALESCE(CAST(lang AS VARCHAR), '\\N') || '|' ||
           COALESCE(CAST(source AS VARCHAR), '\\N') || '|' ||
           COALESCE(CAST(n_chars AS VARCHAR), '\\N') || '|' ||
           COALESCE(CAST(text AS VARCHAR), '\\N')), 1, 15))
         AS BIGINT) AS h
  FROM documents)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(BIT_XOR(h) AS BIGINT) AS fp_xor,
       CAST(SUM(h % 1000000007) AS BIGINT) AS fp_sum,
       TRUE AS matches_batch
FROM h
"""


def q167_stream_jdbc_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed warehouse load: ``foreachBatch`` appends every
    micro-batch into a REAL database through the JDBC sink (embedded
    Derby — the executing connector q166 gates in batch form), then the
    final per-type aggregate is computed from what the DATABASE holds,
    read back as a partitioned JDBC scan. This is the stream-to-
    warehouse template every event pipeline ends in, composed entirely
    from verified pieces: the q145-style staged file stream crossing
    real micro-batch boundaries (``maxFilesPerTrigger=1``) + the
    q166-gated JDBC write/read path.

    Batch-split invariance is structural: append is associative, so
    the table's final contents are the union of all batches however
    the stream is cut, and the aggregate is computed after drain.
    Exactly-once is MECHANISM, not luck: the load goes through
    ``streaming/pipelines.idempotent_jdbc_load`` — rows land tagged
    with their ``_batch_id`` and a redelivered batch clears its own
    slice before re-inserting, so foreachBatch's at-least-once
    redelivery collapses to one copy (the replay path is pinned by
    test_streaming's double-delivery test; this gate verifies the
    clean-run totals against the oracle).

    Scale shape: each micro-batch write opens one connection per input
    partition and inserts its slice (``batchsize`` rides the options);
    the read-back is a 4-way independent range scan; the only driver
    values are the two range bounds.
    """
    import shutil
    import tempfile

    from dataflowtemplates_spark.sources.connectors import (
        SourceSpec, read_source)
    from dataflowtemplates_spark.streaming.pipelines import (
        idempotent_jdbc_load)

    register_tables(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="q167_jdbc_")
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", os.path.join(tmp, "derby.log"))
    url = f"jdbc:derby:{tmp}/db;create=true"
    try:
        stage = os.path.join(tmp, "stage")
        (spark.table("events")
         .select("event_id", "user_id", "event_type", "value")
         .repartitionByRange(4, "event_id")
         .write.parquet(stage))

        load = idempotent_jdbc_load(url, "EVENTS_LOADED",
                                    options={"batchsize": "5000"})
        src = (spark.readStream.schema(spark.read.parquet(stage).schema)
               .option("maxFilesPerTrigger", 1).parquet(stage))
        q = (src.writeStream.foreachBatch(load)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

        lo, hi = (spark.read.parquet(stage)
                  .agg(F.min("event_id"), F.max("event_id")).first())
        back = read_source(spark, SourceSpec(
            kind="jdbc-table", table="EVENTS_LOADED",
            options={"url": url, "partitionColumn": "event_id",
                     "lowerBound": str(int(lo)),
                     "upperBound": str(int(hi) + 1),
                     "numPartitions": "4"}))
        out = (back.groupBy("event_type")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                    F.countDistinct("user_id").cast("bigint")
                     .alias("n_users"),
                    F.sum(F.col("value").cast("decimal(18,2)"))
                     .cast("double").alias("total_value"),
                    F.max("event_id").cast("bigint").alias("max_event_id"))
               .localCheckpoint(eager=True))  # pin rows before teardown
    finally:
        try:
            spark._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{tmp}/db;shutdown=true")
        except Exception:
            pass  # Derby signals successful shutdown via SQLException
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("event_type")


_Q167_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id
FROM events GROUP BY event_type ORDER BY event_type
"""


def q184_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed CDC sink: a Debezium-style change feed (every event is
    an upsert image, ``error`` events are tombstones) folds into a
    :class:`KeyedTable` through ``apply_changes`` — mixed I/U/D per
    micro-batch, ONE atomic commit per batch, per-key seq last-wins
    inside each batch, and a (txn_app, batch_id) identity that makes
    foreachBatch's at-least-once redelivery exactly-once. The input is
    staged into 6 files RANGE-PARTITIONED ON THE SEQUENCE so file
    order equals sequence order — later micro-batches carry strictly
    larger sequence numbers, which is the ordered-feed contract a CDC
    log (binlog/LSN) provides; the final table state is then exactly
    the per-key MAX-sequence event (absent if it was a tombstone),
    which the DuckDB oracle recomputes relationally. After the drain,
    a POISONED replay at an already-recorded txn version must no-op —
    surfaced as the ``replay_noop`` boolean the oracle asserts.

    The reference applies its mutation groups transactionally to
    Spanner (SpannerToSpanner.java:109-114); this is that sink over
    the log-structured table, fed by a stream instead of a bounded
    query.

    Scale shape: per batch, one annotate-and-checkpoint pass + one
    bounded matched-delete aggregate + one staging write touching only
    the winner keys' buckets — O(batch + table/n_buckets × touched),
    never O(table)."""
    import shutil
    import tempfile

    from dataflowtemplates_spark.operators.mutations import KeyedTable

    register_tables(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="q184_cdc_")
    try:
        raw = os.path.join(tmp, "raw")
        (spark.table("events")
         .select("event_id", "user_id", "event_type", "value")
         .repartitionByRange(6, "event_id")
         .write.parquet(raw))
        # Spark's file stream source orders files by MODIFICATION TIME
        # (ties arbitrary), and concurrently-written part files share
        # one — so pin the feed order explicitly: part-0000N holds the
        # N-th event_id range (repartitionByRange contract); rename to
        # range-ordered names with strictly ascending mtimes. This IS
        # the ordered-feed guarantee a CDC log (binlog/LSN) provides.
        stage = os.path.join(tmp, "stage")
        os.makedirs(stage)
        t0 = os.path.getmtime(raw)
        for i, fn in enumerate(sorted(
                f for f in os.listdir(raw)
                if f.startswith("part-") and f.endswith(".parquet"))):
            dst = os.path.join(stage, f"{i:04d}.parquet")
            os.rename(os.path.join(raw, fn), dst)
            os.utime(dst, (t0 + i + 1, t0 + i + 1))
        tbl_path = os.path.join(tmp, "tbl")
        seed = spark.createDataFrame([], T.StructType([
            T.StructField("user_id", T.LongType()),
            T.StructField("last_seq", T.LongType()),
            T.StructField("last_value", T.DoubleType()),
            T.StructField("last_event_type", T.StringType()),
        ]))
        KeyedTable(spark, tbl_path, ["user_id"]).create(seed)

        def fold(batch: DataFrame, bid: int) -> None:
            t = KeyedTable(batch.sparkSession, tbl_path, ["user_id"])
            cdc = batch.select(
                "user_id",
                F.col("event_id").alias("last_seq"),
                F.col("value").alias("last_value"),
                F.col("event_type").alias("last_event_type"),
                F.when(F.col("event_type") == "error", F.lit("D"))
                 .otherwise(F.lit("U")).alias("_op"),
                F.col("event_id").alias("_seq"))
            t.apply_changes(cdc, op_col="_op", seq_col="_seq",
                            txn_app="q184", txn_version=int(bid))

        src = (spark.readStream.schema(spark.read.parquet(stage).schema)
               .option("maxFilesPerTrigger", 1).parquet(stage))
        q = (src.writeStream.foreachBatch(fold)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

        tbl = KeyedTable(spark, tbl_path, ["user_id"])
        # poisoned replay at an already-recorded version: must no-op
        poison = (tbl.read()
                  .withColumn("last_value",
                              F.col("last_value") + F.lit(999.0))
                  .withColumn("_op", F.lit("U"))
                  .withColumn("_seq", F.col("last_seq"))
                  .localCheckpoint(eager=True))
        res = tbl.apply_changes(poison, op_col="_op", seq_col="_seq",
                                txn_app="q184", txn_version=0)
        replay_noop = res.replayed and res.applied == 0
        out = (tbl.read()
               .select("user_id", "last_seq", "last_value",
                       "last_event_type")
               .withColumn("replay_noop", F.lit(bool(replay_noop)))
               .localCheckpoint(eager=True))  # pin before teardown
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("user_id")


# final state = per user the MAX-event_id event, absent if that event
# is an 'error' tombstone — the ordered-feed fold of the I/U/D stream.
_Q184_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_id, value, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY event_id DESC) AS rk
  FROM events)
SELECT user_id, event_id AS last_seq, value AS last_value,
       event_type AS last_event_type, TRUE AS replay_noop
FROM ranked
WHERE rk = 1 AND event_type <> 'error'
ORDER BY user_id
"""


QUERIES = {
    "q90_stream_tumbling": q90_stream_tumbling,
    "q91_stream_sessionize": q91_stream_sessionize,
    "q92_stream_dedup": q92_stream_dedup,
    "q93_stream_user_stats": q93_stream_user_stats,
    "q94_stream_enrich": q94_stream_enrich,
    "q95_stream_neardup_candidates": q95_stream_neardup_candidates,
    "q96_stream_stream_join": q96_stream_stream_join,
    "q98_stream_corpus_scrub": q98_stream_corpus_scrub,
    "q121_stream_approx_distinct": q121_stream_approx_distinct,
    "q127_stream_outer_attribution": q127_stream_outer_attribution,
    "q138_stream_classify": q138_stream_classify,
    "q144_stream_heavy_hitters": q144_stream_heavy_hitters,
    "q145_stream_keyed_upsert": q145_stream_keyed_upsert,
    "q184_stream_cdc_apply": q184_stream_cdc_apply,
    "q164_stream_fingerprint": q164_stream_fingerprint,
    "q167_stream_jdbc_sink": q167_stream_jdbc_sink,
}

ORACLES = {
    "q95_stream_neardup_candidates": _q95_oracle(),
    "q90_stream_tumbling": _Q90_ORACLE,
    "q91_stream_sessionize": _Q91_ORACLE,
    "q92_stream_dedup": _Q92_ORACLE,
    "q93_stream_user_stats": _Q93_ORACLE,
    "q94_stream_enrich": _Q94_ORACLE,
    "q96_stream_stream_join": _Q96_ORACLE,
    "q98_stream_corpus_scrub": _q98_oracle(),
    "q121_stream_approx_distinct": _Q121_ORACLE,
    "q127_stream_outer_attribution": _Q127_ORACLE,
    "q138_stream_classify": _q138_oracle(),
    "q144_stream_heavy_hitters": _Q144_ORACLE,
    "q145_stream_keyed_upsert": _Q145_ORACLE,
    "q184_stream_cdc_apply": _Q184_ORACLE,
    "q164_stream_fingerprint": _Q164_ORACLE,
    "q167_stream_jdbc_sink": _Q167_ORACLE,
}
