"""The 11 template entry points (reference §2.8 composition map).

Each reference template is a thin composition of this engine's
operators — query source (plans.run_query), converters (functions/),
writers (sources/writers), mutation sink (operators/mutations),
entity/TFRecord lowering (operators/) and the generator (sources/
generator). Beam concepts (DoFn, ValueProvider, side input) do not
survive: parameters are function arguments, schemas come from
df.schema.

Source/sink naming keeps the reference's template names so a reference
user can map 1:1 (reference file cited per function):

| reference template        | here                        |
|---------------------------|-----------------------------|
| SpannerToText             | table_to_text               |
| SpannerToAvro             | table_to_columnar           |
| SpannerToBigQuery         | query_to_table              |
| SpannerToSpanner          | query_to_keyed_table        |
| SpannerToSpannerDelete    | query_delete_keyed_table    |
| BigQueryToSpanner         | query_to_keyed_table (same seam; auto-DDL built in) |
| BigQueryToDatastore       | query_to_entities           |
| BigQueryToTFRecord        | query_to_tfrecord           |
| AvroToSpanner             | files_to_keyed_table        |
| AvroToDatastore           | files_to_entities           |
| DummyToSpanner            | generate_to_keyed_table     |

"Spanner/BigQuery" map to registered Spark tables + the keyed-table
mutation sink locally; a real connector slots into the same seam
(`spark.read.format(...)` / MERGE) without touching these functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dataflowtemplates_spark.operators.entities import write_entities_json
from dataflowtemplates_spark.operators.mutations import (
    KeyedTable,
    MutationResult,
    write_failure_count,
    write_quarantine,
)
from dataflowtemplates_spark.operators.tfrecord import write_tfrecords
from dataflowtemplates_spark.plans import run_query
from dataflowtemplates_spark.sources.connectors import SourceSpec, read_source
from dataflowtemplates_spark.sources.generator import (
    TableSpec,
    generate_table,
)
from dataflowtemplates_spark.sources.writers import (
    WriteResult,
    _write_notify,
    write_columnar_dynamic,
    write_text_dynamic,
)


def table_to_text(spark: SparkSession, query: str, output: str,
                  fmt: str = "json", split_field: str | None = None,
                  header: bool = False, without_sharding: bool = False,
                  prefix: str = "output", output_notify: str | None = None,
                  output_empty: bool = False, empty_text: str = "",
                  timestamp_bound: str | None = None,
                  keyed_tables: dict | None = None) -> WriteResult:
    """SpannerToText (reference: templates/SpannerToText.java:98-141):
    SQL (with --SPLITTER-- union) -> dynamic CSV/JSON + finish files."""
    df = run_query(spark, query, timestamp_bound, keyed_tables)
    return write_text_dynamic(df, output, fmt=fmt, split_field=split_field,
                              header=header, without_sharding=without_sharding,
                              prefix=prefix, empty_text=empty_text,
                              output_empty=output_empty,
                              output_notify=output_notify)


def table_to_columnar(spark: SparkSession, query: str, output: str,
                      split_field: str | None = None,
                      fmt: str = "avro",
                      output_notify: str | None = None,
                      timestamp_bound: str | None = None,
                      keyed_tables: dict | None = None) -> WriteResult:
    """SpannerToAvro (reference: templates/SpannerToAvro.java:78-103):
    SQL -> dynamic columnar files (snappy) + manifest."""
    df = run_query(spark, query, timestamp_bound, keyed_tables)
    return write_columnar_dynamic(df, output, split_field=split_field,
                                  fmt=fmt, output_notify=output_notify)


def query_to_table(spark: SparkSession, query: str, table_name: str,
                   mode: str = "append",
                   timestamp_bound: str | None = None,
                   keyed_tables: dict | None = None) -> int:
    """SpannerToBigQuery (reference: templates/SpannerToBigQuery.java:
    67-99): query -> managed-table append, CREATE_IF_NEEDED. The
    reference's sample-1-element schema broadcast collapses to
    df.schema. ``timestamp_bound`` reproduces the template's
    readTimestamp option (SpannerToBigQuery.java options surface) for
    mutable keyed-table sources; immutable parquet views are snapshots
    already."""
    df = run_query(spark, query, timestamp_bound, keyed_tables)
    df.write.mode(mode).saveAsTable(table_name)
    return spark.table(table_name).count()


def query_to_jdbc(spark: SparkSession, query: str, url: str, table: str,
                  mode: str = "append",
                  timestamp_bound: str | None = None,
                  keyed_tables: dict | None = None,
                  jdbc_options: dict | None = None) -> int:
    """SpannerToBigQuery's database-sink shape with a REAL executing
    connector: query -> auto-created JDBC table append
    (SpannerToBigQuery.java:90-99 CREATE_IF_NEEDED/WRITE_APPEND). The
    sandbox drives it against Spark's bundled embedded Derby; the same
    call with a warehouse JDBC URL is the production path. Returns the
    table's POST-WRITE row count (a database-side count through the
    JDBC source) — the same notification semantics as the managed
    branch ``query_to_table``, so the CLI's one-line JSON means the
    same thing on either sink."""
    from dataflowtemplates_spark.sources.connectors import write_jdbc
    df = run_query(spark, query, timestamp_bound, keyed_tables)
    write_jdbc(df, url, table, mode=mode, options=jdbc_options)
    return read_source(spark, SourceSpec(
        kind="jdbc-table", table=table,
        options=dict(jdbc_options or {}, url=url))).count()


def jdbc_to_keyed_table_incremental(
        spark: SparkSession, url: str, src_table: str, watermark_col: str,
        table: KeyedTable, op: str = "INSERT_OR_UPDATE",
        since=None, output_error: str | None = None,
        output_failcount: str | None = None,
        jdbc_options: dict | None = None) -> MutationResult:
    """BigQueryToSpanner made INCREMENTAL — the extension past the
    reference's one-shot query->upsert (BigQueryToSpanner.java:87-148)
    that a scheduled deployment actually runs: each invocation pulls
    only the warehouse rows past the high watermark
    (``read_jdbc_since``: strictly-greater predicate executed in the
    database) and upserts them into the keyed table, so a run costs
    O(new rows) on both sides.

    ``since=None`` derives the watermark FROM THE TARGET — the max of
    ``watermark_col`` over the keyed table — so the template is
    restartable with no external state: a crash between pull and
    commit re-pulls the same delta on the next run and the upsert
    collapses the redelivery (the same exactly-once-under-replay
    device as the streamed JDBC sink's _batch_id collapse). Numeric
    watermark contract (id / epoch), matching read_jdbc_since's
    literal pushdown. Failure outputs mirror the other mutation
    templates (K8 quarantine + K10 count)."""
    from pyspark.sql import functions as F

    from dataflowtemplates_spark.sources.connectors import read_jdbc_since
    if since is None:
        since = -(2 ** 62)
        if table.exists():
            cur = table.read().agg(F.max(watermark_col)).first()[0]
            if cur is not None:
                since = cur
    batch = read_jdbc_since(spark, url, src_table, watermark_col, since,
                            options=jdbc_options)
    table.create(batch)
    result = table.apply_mutations(batch, op)
    if output_error:
        write_quarantine(result, output_error)
    if output_failcount:
        write_failure_count(result, output_failcount)
    return result


def query_to_keyed_table(spark: SparkSession, query: str, table: KeyedTable,
                         op: str = "INSERT_OR_UPDATE",
                         output_error: str | None = None,
                         output_failcount: str | None = None,
                         timestamp_bound: str | None = None,
                         keyed_tables: dict | None = None) -> MutationResult:
    """SpannerToSpanner / BigQueryToSpanner (reference: templates/
    SpannerToSpanner.java:95-124, BigQueryToSpanner.java:87-148):
    query -> auto-DDL (table.create) -> mutations with REPORT_FAILURES;
    failures -> error files (K8) + count notification (K10).
    ``timestamp_bound`` is SpannerToSpanner's readTimestamp option,
    applied to any mutable keyed-table sources in ``keyed_tables``."""
    df = run_query(spark, query, timestamp_bound, keyed_tables)
    table.create(df)
    result = table.apply_mutations(df, op)
    if output_error:
        write_quarantine(result, output_error)
    if output_failcount:
        write_failure_count(result, output_failcount)
    return result


def query_delete_keyed_table(spark: SparkSession, query: str,
                             table: KeyedTable,
                             timestamp_bound: str | None = None,
                             keyed_tables: dict | None = None
                             ) -> MutationResult:
    """SpannerToSpannerDelete (reference: templates/
    SpannerToSpannerDelete.java:71-94): each result row -> composite
    delete key in the table's key-field order. The key query typically
    reads the target table itself; ``timestamp_bound`` selects which
    snapshot it reads (the template's timestampBound option)."""
    df = run_query(spark, query, timestamp_bound, keyed_tables)
    return table.apply_mutations(df, "DELETE")


def query_to_entities(spark: SparkSession, query: str, output: str,
                      kind: str, key_field: str,
                      exclude_from_indexes: tuple[str, ...] = ()) -> int:
    """BigQueryToDatastore (reference: templates/BigQueryToDatastore.java:
    59-88): query -> entity lowering -> keyed JSON (local stand-in)."""
    df = run_query(spark, query)
    return write_entities_json(df, output, kind, key_field,
                               exclude_from_indexes)


def query_to_tfrecord(spark: SparkSession, query: str, output: str,
                      split_field: str | None = None,
                      prefix: str = "output",
                      output_notify: str | None = None) -> list[str]:
    """BigQueryToTFRecord (reference: templates/BigQueryToTFRecord.java:
    65-114): query -> TF Examples -> gzip .tfrecord, keyed by split."""
    df = run_query(spark, query)
    files = write_tfrecords(df, output, split_field=split_field, prefix=prefix)
    _write_notify(WriteResult(files=files), output_notify)
    return files


def files_to_keyed_table(spark: SparkSession, path: str, table: KeyedTable,
                         fmt: str = "parquet", op: str = "INSERT_OR_UPDATE",
                         **options) -> MutationResult:
    """AvroToSpanner (reference: templates/AvroToSpanner.java:68-85):
    file glob -> mutations, the files read by connectors.read_source
    ('avro' by operators/avro_io.read_avro)."""
    df = read_source(spark, SourceSpec(fmt, path=path, options=options))
    table.create(df)
    return table.apply_mutations(df, op)


def files_to_entities(spark: SparkSession, path: str, output: str,
                      kind: str, key_field: str, fmt: str = "parquet",
                      exclude_from_indexes: tuple[str, ...] = (),
                      **options) -> int:
    """AvroToDatastore (reference: templates/AvroToDatastore.java:63-81)."""
    df = read_source(spark, SourceSpec(fmt, path=path, options=options))
    return write_entities_json(df, output, kind, key_field,
                               exclude_from_indexes)


def generate_to_keyed_table(spark: SparkSession, spec: TableSpec,
                            table: KeyedTable, seed: str = "42",
                            parallelism: int | None = None) -> MutationResult:
    """DummyToSpanner (reference: templates/DummyToSpanner.java:61-81):
    synthetic rows -> INSERT mutations."""
    df = generate_table(spark, spec, seed=seed, parallelism=parallelism)
    table.create(df)
    return table.apply_mutations(df, "INSERT")


def corpus_to_training_shards(spark: SparkSession, sf_dir: str,
                              output: str,
                              budget: int = 2048) -> dict:
    """The pretraining-corpus template: the full data path from raw
    documents to packed training shards, composed from the verified
    operators (no reference analogue — this is the Spark-first
    extension the engine exists for):

    1. SPAN DEDUP — repeated cross-document spans found (q104 kernel)
       and excised (apply_span_removal).
    2. SCRUB + QUALITY — PII redaction and the heuristic quality gate
       as one map-side pass (scrub_quality_tags; q79/q42/q87 logic).
    3. EXACT DEDUP — md5-fingerprint keeper selection (q50 shape).
    4. TOKENIZE — per-document BPE token counts under merges trained
       from the corpus (trained_merges + bpe_token_counts; q68/q102).
    5. PACK — greedy per-source packing to ``budget`` tokens per
       sequence (q48/q108 shape).
    6. SHARDS — the packed-sequence manifest written as gzip TFRecord
       files, one shard per source split (the K3 sink).

    Returns a summary dict: per-stage surviving doc counts, sequence
    count, and the shard file list. Every stage is a tag/join on the
    document row — the corpus is scanned once, shuffled only on the
    span-anchor key, the content fingerprint, the word key, and the
    final per-source window, exactly the shapes SCALE.md argues.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dataflowtemplates_spark.catalog import register_tables
    from dataflowtemplates_spark.queries.corpus_pipeline import (
        scrub_quality_tags,
    )
    from dataflowtemplates_spark.queries.dedup import (
        apply_span_removal,
        q104_span_dedup,
    )
    from dataflowtemplates_spark.queries.text import (
        bpe_token_counts,
        trained_merges,
    )

    register_tables(spark, sf_dir)
    docs = spark.table("documents")
    n_input = docs.count()

    # 1. span dedup
    spans = q104_span_dedup(spark, sf_dir)
    despanned = (docs.select("doc_id", "source")
                 .join(apply_span_removal(docs, spans)
                       .select("doc_id",
                               F.col("cleaned").alias("text")),
                       "doc_id"))

    # 2. scrub + quality gate (tags, then one filter). Materialized:
    # three consumers downstream (count, dedup, tokenize) must not
    # re-run the span-removal lineage per action.
    tagged = scrub_quality_tags(despanned)
    quality = (tagged.filter(F.col("q_ok"))
               .select("doc_id", "source", F.col("clean").alias("text"))
               .localCheckpoint(eager=True))
    n_quality = quality.count()

    # 3. exact dedup on the scrubbed text
    w = Window.partitionBy("fp")
    kept = (quality
            .withColumn("fp", F.md5(F.col("text").cast("binary")))
            .withColumn("keeper", F.min("doc_id").over(w))
            .filter(F.col("doc_id") == F.col("keeper"))
            .drop("fp", "keeper")
            .localCheckpoint(eager=True))
    n_unique = kept.count()

    # 4. tokenize (merges trained on the raw corpus — the tokenizer is
    # fixed before scrubbing decisions, as in a real build)
    merges = trained_merges(spark, sf_dir)
    counted = kept.join(bpe_token_counts(kept, merges), "doc_id")

    # 5. pack per source
    pw = (Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = (counted
              .withColumn("running", F.sum("n_bpe").over(pw))
              .withColumn("seq_id",
                          F.floor((F.col("running") - F.col("n_bpe"))
                                  / F.lit(budget)))
              .groupBy("source", "seq_id")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("n_bpe").cast("long").alias("seq_tokens"),
                   F.min("doc_id").alias("first_doc"),
                   F.max("doc_id").alias("last_doc")))
    n_sequences = packed.count()

    # 6. shard manifest -> TFRecord, one split per source
    files = write_tfrecords(packed, output, split_field="source",
                            prefix="seqs")
    return {
        "n_input": n_input,
        "n_quality": n_quality,
        "n_unique": n_unique,
        "n_sequences": n_sequences,
        "n_merges": len(merges),
        "files": files,
    }
