"""End-to-end corpus-preparation pipeline, composed and auditable.

q87 chains the individual training-data operators — PII redaction
(q79), heuristic quality filtering (q42), exact near-identity dedup
(q50) and hash-Bernoulli subsampling (q47) — into ONE dataflow and
reports the per-source funnel (how many documents survive each stage).
This is the composition a real 100 TB pretraining build runs nightly;
surfacing it as a single query proves the stages compose without
per-stage materialization.

Execution shape (the reason this scales):

* Every stage is computed as a BOOLEAN TAG on the document row, not a
  filter-and-materialize: redaction and quality are map-side column
  expressions, dedup canonicality is one row_number window over the
  content-hash (the only corpus-wide shuffle, and it is keyed by a
  max-cardinality hash so it cannot skew), sampling is a pure hash
  predicate. The funnel then aggregates ONCE by source with
  conditional sums — so the whole pipeline is: scan -> project ->
  one hash-partitioned window -> one partial-agg shuffle.
* Per-stage counts use nested AND semantics (a doc counts for stage k
  only if it passed stages 1..k-1) — the funnel is monotone by
  construction, which the tests pin.

Determinism: all counts are integers; the only doubles are int/int
ratios (bit-exact in both engines, see queries/__init__.py).

Reference analogue: none — the reference ships single-purpose
templates; composing them is the Spark-first extension (SURVEY §2.8
discusses the template compositions this generalizes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataflowtemplates_spark.catalog import register_tables
from dataflowtemplates_spark.queries.text import (
    PII_EMAIL_RE,
    PII_IP_RE,
    STOPWORDS,
    _SW_SQL,
)

#: Quality gate: token-count band + minimum stopword ratio (q42's
#: heuristics, hardened to exact int comparisons where possible).
PIPE_MIN_TOKENS = 20
PIPE_MAX_TOKENS = 1000
PIPE_MIN_STOPWORD_RATIO = 0.05

#: Sampling stage: keep md5-prefix < '80' = 128/256 of keyspace (50%).
PIPE_SAMPLE_PREFIX_MAX = "80"
PIPE_SAMPLE_SEED = "pipe87:"


def scrub_quality_tags(docs: DataFrame) -> DataFrame:
    """Stages 1–2 of the corpus pipeline as ONE shared map-side pass:
    PII-scrubbed text (``clean``/``toks``/``n_tokens``) plus the
    quality flag (``q_ok``). Stateless column expressions only, so the
    same function runs batch (q87) and streaming (q98) — the
    stream/batch unification the tests pin. ``scrub_quality_cte()`` is
    the oracle-side twin; edit both together.

    The corpus is synthetic word-salad, so deterministic PII spans are
    appended first (documented synthesis; q79 is the standalone PII
    operator and deliberately synthesizes BOTH email and IP spans to
    exercise both patterns — here one span suffices, the scrub regexes
    are shared constants either way).
    """
    email = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com"))).otherwise(F.lit(""))
    aug = F.concat(F.col("text"), email)
    clean = F.regexp_replace(
        F.regexp_replace(aug, PII_EMAIL_RE, "<EMAIL>"), PII_IP_RE, "<IP>")
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return (docs
            .select("doc_id", "source", clean.alias("clean"))
            .withColumn("toks", F.split(F.col("clean"), " "))
            .withColumn("n_tokens", F.size("toks"))
            .withColumn(
                "q_ok",
                (F.col("n_tokens") >= PIPE_MIN_TOKENS)
                & (F.col("n_tokens") <= PIPE_MAX_TOKENS)
                & (F.expr(f"size(filter(toks, t -> t IN ({sw})))")
                   .cast("double") / F.col("n_tokens")
                   >= PIPE_MIN_STOPWORD_RATIO)))


def scrub_quality_cte() -> str:
    """DuckDB CTEs ``clean`` + ``tagged`` mirroring
    ``scrub_quality_tags`` (same expression trees, both engines)."""
    return f"""clean AS (
  SELECT doc_id, source,
         REGEXP_REPLACE(REGEXP_REPLACE(
             text || CASE WHEN doc_id % 3 = 0
               THEN ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com' ELSE '' END,
             '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{PII_IP_RE}', '<IP>', 'g') AS clean
  FROM documents),
tagged AS (
  SELECT doc_id, source, clean,
         LEN(STRING_SPLIT(clean, ' ')) AS n_tokens,
         (LEN(STRING_SPLIT(clean, ' ')) >= {PIPE_MIN_TOKENS}
          AND LEN(STRING_SPLIT(clean, ' ')) <= {PIPE_MAX_TOKENS}
          AND CAST(LEN(LIST_FILTER(STRING_SPLIT(clean, ' '),
                       t -> t IN {_SW_SQL})) AS DOUBLE)
              / LEN(STRING_SPLIT(clean, ' '))
              >= {PIPE_MIN_STOPWORD_RATIO}) AS q_ok
  FROM clean)"""


def q87_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source funnel of the composed corpus-prep pipeline."""
    register_tables(spark, sf_dir)
    docs = spark.table("documents")

    # stages 1-2 shared with the streaming form (q98)
    tagged = (scrub_quality_tags(docs)
              # bag-of-words fingerprint: two docs built from the same
              # template vocabulary collide even when token ORDER
              # differs — the near-identity rule that actually fires on
              # templated/boilerplate corpora (exact-text dedup is
              # vacuous on them; q50 covers that rule separately)
              .withColumn("content_hash", F.md5(F.concat_ws(
                  " ", F.sort_array(F.array_distinct(F.col("toks")))))))
    # stage 3: dedup over the scrubbed-content fingerprint — canonical
    # = lowest doc_id per hash, among quality survivors only (the
    # funnel order matters: dedup work shrinks to the quality-passing
    # set)
    w = Window.partitionBy("content_hash", "q_ok").orderBy("doc_id")
    staged = (tagged
              .withColumn("canon", F.col("q_ok")
                          & (F.row_number().over(w) == 1))
              # stage 4: hash-Bernoulli 50% of canonical survivors
              .withColumn(
                  "sampled",
                  F.col("canon")
                  & (F.substring(
                      F.md5(F.concat(F.lit(PIPE_SAMPLE_SEED),
                                     F.col("doc_id").cast("string"))),
                      1, 2) < PIPE_SAMPLE_PREFIX_MAX)))
    return (staged.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_input"),
                 F.sum(F.col("q_ok").cast("int")).cast("bigint")
                  .alias("n_quality"),
                 F.sum(F.col("canon").cast("int")).cast("bigint")
                  .alias("n_canonical"),
                 F.sum(F.col("sampled").cast("int")).cast("bigint")
                  .alias("n_sampled"))
            .withColumn("yield_frac", F.col("n_sampled").cast("double")
                        / F.col("n_input"))
            .orderBy("source"))


_Q87_ORACLE = f"""
WITH {scrub_quality_cte()},
hashed AS (
  SELECT doc_id, source, q_ok,
         MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
             STRING_SPLIT(clean, ' '))), ' ')) AS content_hash
  FROM tagged),
staged AS (
  SELECT doc_id, source, q_ok,
         q_ok AND ROW_NUMBER() OVER (
             PARTITION BY content_hash, q_ok ORDER BY doc_id) = 1 AS canon
  FROM hashed),
sampled AS (
  SELECT source, q_ok, canon,
         canon AND SUBSTRING(
             MD5('{PIPE_SAMPLE_SEED}' || CAST(doc_id AS VARCHAR)), 1, 2)
             < '{PIPE_SAMPLE_PREFIX_MAX}' AS sampled
  FROM staged)
SELECT source,
       COUNT(*) AS n_input,
       CAST(SUM(CAST(q_ok AS INTEGER)) AS BIGINT) AS n_quality,
       CAST(SUM(CAST(canon AS INTEGER)) AS BIGINT) AS n_canonical,
       CAST(SUM(CAST(sampled AS INTEGER)) AS BIGINT) AS n_sampled,
       CAST(SUM(CAST(sampled AS INTEGER)) AS DOUBLE) / COUNT(*)
         AS yield_frac
FROM sampled GROUP BY source ORDER BY source
"""


def q149_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export integration gate: greedy-pack the corpus into
    fixed-token-budget sequences (q48's layout), WRITE them as
    per-source sharded gzip TFRecord Examples through the K3 writer,
    READ the shards back through the distributed TFRecord source, and
    aggregate per-source totals from what came off disk. The DuckDB
    oracle recomputes the same totals purely relationally — it never
    sees a TFRecord byte — so a value match proves the whole
    encode -> frame -> CRC -> gzip -> decode path is an identity on
    real data, not just on the writer's own unit fixtures.

    Scale shape: packing is q48's one window + one aggregate; encoding
    and parsing are each one mapInArrow stage, one task per shard, no
    driver data movement (paths only). Reference: K3/C12 composition
    (StructToTFRecord + sharded sink), SURVEY §2.8.
    """
    import shutil
    import tempfile

    from dataflowtemplates_spark.operators.tfrecord import (
        read_tfrecord_df, write_tfrecords)
    from dataflowtemplates_spark.queries.sampling import greedy_pack_staged

    register_tables(spark, sf_dir)
    staged = greedy_pack_staged(spark.table("documents"))
    seqs = (staged.groupBy("source", "seq_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
                 F.sort_array(F.collect_list("doc_id")).alias("doc_ids")))
    tmp = tempfile.mkdtemp(prefix="q149_export_")
    try:
        # write_tfrecords encodes internally (K3's contract: plain
        # DataFrame in, Example shards out); split_field shards one
        # subdirectory per source
        write_tfrecords(seqs, tmp, split_field="source")
        back = read_tfrecord_df(
            spark, tmp,
            features={"source": "string", "seq_id": "int64",
                      "n_docs": "int64", "seq_tokens": "int64",
                      "doc_ids": "int64"},
            list_fields=("doc_ids",))
        out = (back.groupBy("source")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_sequences"),
                    F.sum("n_docs").cast("bigint").alias("n_docs"),
                    F.sum("seq_tokens").cast("bigint").alias("total_tokens"),
                    F.sum(F.aggregate("doc_ids", F.lit(0).cast("bigint"),
                                      lambda a, x: a + x))
                     .cast("bigint").alias("docid_checksum"))
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("source")


def _q149_oracle() -> str:
    from dataflowtemplates_spark.queries.sampling import PACK_BUDGET
    return f"""
WITH staged AS (
  SELECT doc_id, source,
         LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
         SUM(LEN(STRING_SPLIT(text, ' '))) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM documents),
seqs AS (
  SELECT source, (running - n_tokens) // {PACK_BUDGET} AS seq_id,
         COUNT(*) AS n_docs, SUM(n_tokens) AS seq_tokens,
         SUM(doc_id) AS id_sum
  FROM staged GROUP BY 1, 2)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_sequences,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(seq_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(id_sum) AS BIGINT) AS docid_checksum
FROM seqs GROUP BY source ORDER BY source
"""


QUERIES = {
    "q87_corpus_pipeline": q87_corpus_pipeline,
    "q149_export_roundtrip": q149_export_roundtrip,
}

ORACLES = {
    "q87_corpus_pipeline": _Q87_ORACLE,
    "q149_export_roundtrip": _q149_oracle(),
}
