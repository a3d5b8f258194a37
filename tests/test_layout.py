"""Z-order (Morton) clustering key: correctness of the bit interleave.

The reference has no storage layout surface (1-partition Kafka sink,
KafkaStreamApp.java:169); this is 100 TB-engine territory: parquet
row-group pruning needs each output file to cover a tight (x, y) box.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hw_kafka_streams_spark.operators.layout import spread_bits, z_value


def _py_spread(v: int) -> int:
    """Reference Morton spread: bit i of v -> bit 2i."""
    out = 0
    for i in range(16):
        if v & (1 << i):
            out |= 1 << (2 * i)
    return out


def test_spread_bits_matches_reference(spark):
    vals = [0, 1, 2, 3, 255, 256, 1023, 4095, 65535, 54321]
    df = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v", spread_bits(F.col("v")).alias("s")
    )
    got = {r["v"]: r["s"] for r in df.collect()}
    for v in vals:
        assert got[v] == _py_spread(v), v


def test_z_value_interleaves(spark):
    # z(x=0b11, y=0b01) = x bits at even positions, y bits at odd:
    # x=3 -> 0b0101, y=1 -> 0b10 -> z = 0b0111 = 7
    df = spark.createDataFrame([(3, 1), (0, 0), (1023, 1023)], "x long, y long")
    rows = df.select(z_value("x", "y").alias("z")).collect()
    assert rows[0]["z"] == 7
    assert rows[1]["z"] == 0
    # full 10-bit interleave: all 20 low bits set
    assert rows[2]["z"] == (1 << 20) - 1
