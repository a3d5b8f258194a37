"""Data-layout operators: Z-order (Morton) clustering keys.

The reference app has no storage-layout surface at all (its sink is a
1-partition Kafka topic, KafkaStreamApp.java:169,194); this is a
100 TB-engine extension: multi-dimensional data skipping. Sorting a
table by the bit-interleaved Z-value of two (or more) columns makes
parquet row-group min/max ranges tight in BOTH dimensions at once, so
selective filters on either column prune files — the same reason
lakehouse table formats expose ``ZORDER BY`` / ``CLUSTER BY``.

Everything here is pure JVM bit arithmetic (shiftleft / bitwiseAND /
bitwiseOR) — whole-stage-codegen'd, no Python, and exactly
reproducible in ANSI SQL (DuckDB twin uses the same magic-number
spread), so the computation is value-hash oracle-able.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Magic-number bit-spread masks: after the shift-and-mask cascade a
# 16-bit value's bits occupy the even positions of a 32-bit lane.
_SPREAD = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def spread_bits(c: Column) -> Column:
    """Spread the low 16 bits of ``c`` onto even bit positions."""
    c = c.cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD:
        c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
    return c


def z_value(x: Column | str, y: Column | str) -> Column:
    """Morton/Z-order interleave of two 16-bit-clamped columns.

    Bit i of x lands at position 2i, bit i of y at 2i+1 — points close
    in (x, y) are close in z, so range-partitioning + sorting by z
    clusters both dimensions for min/max data skipping.
    """
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    return spread_bits(xc).bitwiseOR(F.shiftleft(spread_bits(yc), 1))


def balanced_token_shards(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shards: int = 8,
    block: int = 1024,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Assign documents to ``n_shards`` training shards with (a) a
    deterministic content-stable SHUFFLED order and (b) near-equal
    token mass per shard — the write-side planner for pretraining
    shards, where equal shard token counts keep data-parallel readers
    in step and the hash order de-clusters any source/time locality in
    the input.

    Order = stable hash of the id (never ``rand()`` — reruns and shard
    additions must not reshuffle); each doc's global token offset in
    that order comes from the block-prefix-sum pattern (range-block the
    hash space [1 tiny shuffle], window over the tiny block table,
    within-block windows run parallel per block — the same shape as
    sequence packing; no single-partition global window). Shard =
    ``offset div ceil(total/n_shards)`` — contiguous token ranges, so
    shard sizes differ by at most one document's tokens.

    Returns ``(id, n_tokens, shard)``. All integer arithmetic —
    reproducible in ANSI SQL for the md5 hash mode.
    """
    from pyspark.sql import Window

    from hw_kafka_streams_spark.operators.text import token_count
    from hw_kafka_streams_spark.operators.winutil import tiny_table_partition

    if hash_mode == "md5":
        from hw_kafka_streams_spark.operators.dedup import md5h

        hkey = md5h(F.concat(F.col(id_col).cast("string"), F.lit(":shard")))
    else:
        hkey = F.abs(F.xxhash64(F.col(id_col), F.lit(77)))
    # hash keys are uniform in [0, 2^60) (md5h) / [0, 2^63) — range-block
    # the key space so block populations are balanced
    width = (1 << 60) // block if hash_mode == "md5" else (1 << 63) // block
    dl = (
        df.select(
            F.col(id_col).alias("id"),
            token_count(F.col(text_col)).cast("long").alias("n_tokens"),
            hkey.alias("hkey"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn("blk", F.expr(f"hkey div {width}"))
    )
    bsums = dl.groupBy("blk").agg(F.sum("n_tokens").alias("bsum"))
    w_blk = (
        Window.partitionBy(tiny_table_partition("blk"))
        .orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = bsums.select(
        "blk",
        F.coalesce(F.sum("bsum").over(w_blk), F.lit(0)).alias("blk_off"),
    )
    total = bsums.agg(F.sum("bsum").alias("_total"))
    w_doc = (
        Window.partitionBy("blk")
        .orderBy("hkey", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        dl.join(F.broadcast(boff), "blk")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "start",
            F.col("blk_off") + F.coalesce(F.sum("n_tokens").over(w_doc), F.lit(0)),
        )
        .withColumn("_w", F.expr(f"(_total + {n_shards} - 1) div {n_shards}"))
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.expr("start div _w").cast("int").alias("shard"),
        )
    )
