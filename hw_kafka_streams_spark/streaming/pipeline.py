"""The reference topology as a Structured Streaming job.

Reference graph (logs/application.log:8-40): Kafka source `messages`
→ peek → leftJoin(blocked-users GlobalKTable, key = receiver:sender,
joiner nulls matches) → filter(non-null) → transformValues(censor via
forbidden-words GlobalKTable) → peek → sink `filtered-messages`.

Spark-first mapping:
- source/sink → Kafka Structured Streaming source/sink (exactly-once
  v2 in the reference becomes checkpointed at-least-once to Kafka —
  documented semantic gap; end-to-end exactly-once holds for file
  sinks).
- GlobalKTable → a small dim collected to the driver and inlined in
  the plan — the same full-replication decision the reference makes
  per instance. A static dim passed to ``filtered_messages`` is read
  once, when the query is defined, as the banned words are. Live
  dictionary updates → ``foreachBatch`` re-reading the dims each
  microbatch through :func:`process_batch_with_refresh` (see
  :func:`run_reference_topology`).
- leftJoin+null+filter → a filter on ``receiver:sender`` against the
  collected blocked keys.
- transformValues → scheduled regexp_replace passes (operators/censor.py).

No join and no shuffle anywhere in the streaming plan: source
partitions map 1:1 to tasks in one codegen stage — the plan scales
with input partitions alone, which is exactly how you want a
100-TB/day topic consumed.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hw_kafka_streams_spark.operators.censor import banned_words, filtered_messages
from hw_kafka_streams_spark.streaming import serde

TOPIC_MESSAGES = "messages"
TOPIC_BLOCKED = "blocked-users"
TOPIC_WORDS = "forbidden-words"
TOPIC_OUT = "filtered-messages"


def read_kafka_stream(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source stream (raw wire frame).

    Maps the reference consumer config (KafkaStreamApp.java:124-129):
    auto.offset.reset=earliest → startingOffsets; EOS/read_committed →
    Kafka source reads committed data only by default in Spark 3+.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def read_control_table(spark: SparkSession, bootstrap: str, topic: str) -> DataFrame:
    """Batch-read a control topic and compact it to latest-per-key.

    The GlobalKTable materialization (KafkaStreamApp.java:140-152) as a
    point-in-time snapshot: full topic scan → changelog compaction →
    small static DataFrame, ready to broadcast.
    """
    raw = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    kv = raw.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        F.col("offset"),
    )
    # one partition: the dim is tiny, and the compaction then runs in
    # the scan's stage with no exchange
    return serde.compact_changelog(kv.coalesce(1)).select("key", "value")


def run_reference_topology(
    spark: SparkSession,
    bootstrap: str,
    checkpoint_dir: str,
    sink_topic: str = TOPIC_OUT,
):
    """Wire the full streaming job: Kafka → filter/censor → Kafka.

    The control tables are re-read inside ``foreachBatch`` every
    microbatch — the closest Spark equivalent of GlobalKTable live
    updates (new blocks/words take effect on the next batch).

    Returns the started StreamingQuery.
    """
    stream = serde.decode_messages(read_kafka_stream(spark, bootstrap, TOPIC_MESSAGES))

    def _kafka_sink(result: DataFrame) -> None:
        (
            result.write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("topic", sink_topic)
            .save()
        )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        process_batch_with_refresh(
            batch_df,
            blocked_provider=lambda: read_control_table(spark, bootstrap, TOPIC_BLOCKED),
            words_provider=lambda: banned_words(
                read_control_table(spark, bootstrap, TOPIC_WORDS)
            ),
            sink=lambda df: _kafka_sink(serde.encode_messages(df)),
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def process_batch_with_refresh(
    batch_df: DataFrame,
    blocked_provider: Callable[[], DataFrame],
    words_provider: Callable[[], list[str]],
    sink: Callable[[DataFrame], None],
) -> None:
    """One microbatch with GlobalKTable-style live dims.

    The providers are called per batch — new blocks/words take effect on
    the NEXT batch, which is exactly the reference's GlobalKTable
    freshness model (the global store is updated asynchronously by its
    own thread; the processor sees whatever is materialized when the
    record arrives). Factored out of the Kafka job so the refresh
    semantics are testable against file sources (tests/test_streaming).
    """
    sink(filtered_messages(batch_df, blocked_provider(), words_provider()))


def read_control_dir(spark: SparkSession, path: str) -> DataFrame:
    """File-backed control-table snapshot: the broker-free analog of
    :func:`read_control_table`. A parquet directory of (key, value,
    offset) changelog records compacts to latest-per-key with tombstone
    handling — identical semantics, different transport — so the
    GlobalKTable refresh path is exercisable end-to-end without Kafka.
    """
    kv = spark.read.schema("key string, value string, offset long").parquet(path)
    return serde.compact_changelog(kv.coalesce(1)).select("key", "value")


def run_file_topology_with_refresh(
    spark: SparkSession,
    messages_dir: str,
    blocked_dir: str,
    words_dir: str,
    checkpoint_dir: str,
    sink: Callable[[DataFrame], None],
):
    """Broker-free twin of :func:`run_reference_topology`: the SAME
    per-batch snapshot machinery (changelog compaction through
    :func:`process_batch_with_refresh`), with parquet
    directories standing in for the control topics. A blocked user or
    banned word appended to the control dir while the query runs takes
    effect on the next microbatch — the reference's GlobalKTable
    liveness model (KafkaStreamApp.java:140-152), provable in tests.
    """
    schema = "sender string, text string, receiver string"
    stream = spark.readStream.schema(schema).parquet(messages_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        process_batch_with_refresh(
            batch_df,
            blocked_provider=lambda: read_control_dir(spark, blocked_dir),
            words_provider=lambda: banned_words(read_control_dir(spark, words_dir)),
            sink=sink,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def peek(df: DataFrame, name: str, *metrics) -> DataFrame:
    """O3 parity: the reference's ``.peek`` observes records pass-through
    (KafkaStreamApp.java:155,168). Spark's zero-copy equivalent is
    ``df.observe`` — named metrics computed inline with the query, no
    second pass, readable from QueryProgress (streaming) or an
    ObservationListener (batch). Defaults to a row count.
    """
    from pyspark.sql import functions as F

    if not metrics:
        metrics = (F.count(F.lit(1)).alias("n_rows"),)
    return df.observe(name, *metrics)


def run_file_topology(
    spark: SparkSession,
    messages_dir: str,
    blocked: DataFrame,
    words: list[str],
    sink: Callable[[DataFrame], None] | None = None,
    queryName: str = "filtered_messages",
):
    """Broker-free variant for tests/local runs: file source → memory sink.

    Same logical plan as the Kafka job (the transformation is
    source-agnostic); lets the topology be exercised end-to-end where
    no broker exists. ``blocked`` is read once, here, when the query is
    defined; dims that change while the query runs go through
    :func:`process_batch_with_refresh` instead.
    """
    schema = "sender string, text string, receiver string"
    stream = spark.readStream.schema(schema).parquet(messages_dir)
    out = filtered_messages(stream, blocked, words)
    writer = out.writeStream.format("memory").queryName(queryName).outputMode("append")
    return writer.start()


__all__ = [
    "filtered_messages",
    "read_control_dir",
    "read_control_table",
    "read_kafka_stream",
    "run_file_topology",
    "run_file_topology_with_refresh",
    "run_reference_topology",
]


def observed_funnel(df: DataFrame, stages: list) -> DataFrame:
    """Streaming twin of :func:`~hw_kafka_streams_spark.operators.
    quality.filter_funnel`: attach the funnel's cumulative-survivor
    counters as ``observe`` metrics and RETURN THE FILTERED STREAM —
    the audit rides along with the query at zero extra passes (metrics
    are computed inline per micro-batch and surface in
    ``StreamingQueryProgress.observedMetrics['funnel']``; batch
    callers read them via an Observation).

    ``stages`` is the same ``[(name, Column), ...]`` contract; the
    returned DataFrame keeps only rows passing ALL stages, so the
    operator is simultaneously the filter and its own monitoring.
    """
    from pyspark.sql import functions as F

    if not stages:
        raise ValueError("at least one stage")
    cum = None
    metrics = [F.count(F.lit(1)).alias("n_in")]
    for name, cond in stages:
        cum = cond if cum is None else (cum & cond)
        metrics.append(F.sum(cum.cast("long")).alias(f"pass_{name}"))
    observed = df.observe("funnel", *metrics)
    return observed.filter(cum)
