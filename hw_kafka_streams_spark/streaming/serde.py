"""JSON wire serde for the ``Message`` record (reference parity).

The reference moves ``record Message(String text, String receiver)``
as Jackson JSON on Kafka (MessageSerdes.java:12-62); the record key is
the sender login (KafkaStreamApp.java:237-240). Spark's equivalents
are ``from_json`` / ``to_json`` with an explicit schema — JVM-side,
codegen-friendly, and null-safe both directions (null/empty bytes →
null struct, matching MessageSerdes.java:54-56).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# record Message(String text, String receiver) — Message.java:3
MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("receiver", T.StringType()),
    ]
)


def decode_messages(raw: DataFrame, key_alias: str = "sender") -> DataFrame:
    """Kafka wire frame → columns (sender, text, receiver).

    ``raw`` has Kafka source shape (``key``/``value`` binary). The key
    is the sender login; the value is the JSON Message. Unparseable or
    null JSON yields null text/receiver (from_json is null-safe), as
    the reference deserializer does.
    """
    parsed = F.from_json(F.col("value").cast("string"), MESSAGE_SCHEMA)
    return raw.select(
        F.col("key").cast("string").alias(key_alias),
        parsed["text"].alias("text"),
        parsed["receiver"].alias("receiver"),
    )


def encode_messages(df: DataFrame, key_col: str = "sender") -> DataFrame:
    """Columns → Kafka wire frame (key string, value JSON string).

    Inverse of :func:`decode_messages`; shape accepted by the Kafka
    sink (``.writeStream.format("kafka")``).
    """
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(F.col("text"), F.col("receiver"))).alias("value"),
    )


def latest_per_key(
    df: DataFrame, key_col: str = "key", order_col: str = "offset"
) -> DataFrame:
    """Changelog compaction: keep the newest value per key.

    GlobalKTable materialization semantics (KafkaStreamApp.java:140-152):
    a topic is a changelog; the store holds the latest value per key.
    Expressed as a max_by aggregate — one shuffle on the key, partial
    map-side combine, no window sort needed.
    """
    others = [c for c in df.columns if c != key_col]
    return df.groupBy(key_col).agg(
        *[F.max_by(c, order_col).alias(c) for c in others]
    )


def _tombstone_filter(df: DataFrame, value_col: str = "value") -> Column:
    """Kafka changelog tombstones (null value) delete the key."""
    return F.col(value_col).isNotNull()


def compact_changelog(
    df: DataFrame, key_col: str = "key", value_col: str = "value", order_col: str = "offset"
) -> DataFrame:
    """latest-per-key + tombstone handling: null latest value ⇒ key absent."""
    latest = latest_per_key(df, key_col, order_col)
    return latest.filter(_tombstone_filter(latest, value_col))
