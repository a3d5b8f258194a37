"""Sources: the custom message data source (batch, stream, filter
pushdown), parquet schema evolution, and the canonical column types
of the test tables."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F


def test_custom_datasource_batch(spark):
    from hw_kafka_streams_spark.sources.message_source import MessageGenDataSource

    spark.dataSource.register(MessageGenDataSource)
    df = spark.read.format("message_gen").option("n", 100).load()
    assert df.count() == 100
    assert df.schema.simpleString() == (
        "struct<sender:string,text:string,receiver:string,seq:bigint>"
    )
    # deterministic: same options → identical content
    again = spark.read.format("message_gen").option("n", 100).load()
    assert df.exceptAll(again).count() == 0
    # partition-parallel, not a single-task read
    assert df.rdd.getNumPartitions() >= 4


def test_custom_datasource_stream_feeds_topology(spark):
    """The generated stream runs through the reference topology."""
    from hw_kafka_streams_spark.sources.message_source import MessageGenDataSource
    from hw_kafka_streams_spark.streaming.pipeline import filtered_messages

    spark.dataSource.register(MessageGenDataSource)
    stream = spark.readStream.format("message_gen").option("rowsPerBatch", 20).load()
    blocked = spark.createDataFrame(
        [("login2:login1", "blocked")], "key string, value string"
    )
    out = filtered_messages(
        stream.drop("seq"), blocked, ["Политика"]
    )
    name = f"gen_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(f"select * from {name}").collect()
    finally:
        q.stop()
    assert rows  # something flowed through
    assert all("Политика" not in r.text for r in rows)  # censored
    assert all(
        not (r.receiver == "login2" and r.sender == "login1") for r in rows
    )  # blocked pair dropped


def test_custom_datasource_filter_pushdown(spark):
    from hw_kafka_streams_spark.sources.message_source import MessageGenDataSource

    spark.dataSource.register(MessageGenDataSource)
    df = (
        spark.read.format("message_gen")
        .option("n", 700)
        .load()
        .filter(F.col("sender") == "login3")
    )
    rows = df.collect()
    assert rows and all(r.sender == "login3" for r in rows)
    assert len(rows) == 100  # 700 seqs, 7 senders round-robin


def test_schema_evolution_merge_schema(spark, tmp_path):
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "k int, v string, score double"
    ).write.mode("append").parquet(path)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(df.columns) == {"k", "v", "score"}
    rows = {r.k: (r.v, r.score) for r in df.collect()}
    assert rows[1] == ("a", None) and rows[2] == ("b", 9.5)


# ---------------------------------------------------------------------------
# Data-drift canary: the driver owns /root/testdata and has re-encoded
# events.ts once already (r1: INT64 TIMESTAMP(NANOS) -> r2: timestamp[us]).
# load_table's contract is on the SURFACED Spark type, never the file
# format — these tests make the next re-encoding fail loudly in one place
# instead of in six scattered queries (CORRECTNESS_r02 postmortem).
# ---------------------------------------------------------------------------


def test_all_tables_surface_canonical_types(spark):
    """events.ts must surface as TIMESTAMP (all downstream windowing /
    watermark / unix_timestamp code assumes it); every other temporal
    column must surface as a timestamp type — never raw long — so a
    re-encoded parquet fails here, not in six scattered queries.
    (Other tables' NTZ surfacing is the tested status quo: session tz is
    UTC so NTZ and TIMESTAMP are value-identical in the oracle compare.)
    """
    from pyspark.sql.types import TimestampNTZType, TimestampType

    from hw_kafka_streams_spark.sources.catalog import TABLES, load_table

    temporal = {"events": ["ts"], "orders": ["o_orderdate"], "lineitem": ["l_shipdate"]}
    for name in TABLES:
        df = load_table(spark, name, "/root/testdata/sf0.001")
        for col in temporal.get(name, []):
            dtype = df.schema[col].dataType
            assert isinstance(dtype, (TimestampType, TimestampNTZType)), (
                f"{name}.{col} surfaced as {dtype} — data drift, fix load_table"
            )
    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    assert isinstance(ev.schema["ts"].dataType, TimestampType)


@pytest.mark.parametrize("encoding", ["ns", "us", "us_utc"])
def test_events_ts_canonical_across_encodings(spark, tmp_path, encoding):
    """Synthesize every historical + plausible on-disk encoding of events.ts
    and assert load_table canonicalizes all of them to the same instants."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hw_kafka_streams_spark.sources.catalog import load_table

    instants = [
        dt.datetime(2024, 1, 1, 0, 0, 0),
        dt.datetime(2024, 6, 15, 12, 34, 56, 789000),
    ]
    unit = {"ns": "ns", "us": "us", "us_utc": "us"}[encoding]
    tz = "UTC" if encoding == "us_utc" else None
    table = pa.table(
        {
            "event_id": pa.array([1, 2], type=pa.int64()),
            "ts": pa.array(instants, type=pa.timestamp(unit, tz=tz)),
            "user_id": pa.array([10, 20], type=pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(['{"k":1}', '{"k":2}']),
        }
    )
    sf_dir = str(tmp_path / encoding)
    import os

    os.makedirs(f"{sf_dir}", exist_ok=True)
    pq.write_table(table, f"{sf_dir}/events.parquet")

    df = load_table(spark, "events", sf_dir)
    from pyspark.sql.types import TimestampType

    assert isinstance(df.schema["ts"].dataType, TimestampType)
    got = sorted(r["ts"] for r in df.select("ts").collect())
    assert got == instants, f"{encoding}: {got} != {instants}"
