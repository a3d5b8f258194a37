"""Count-min sketch as a bounded, mergeable DataFrame artifact.

Cormode & Muthukrishnan's CMS (public 2005 paper): a d×w grid of
counters; each item increments one counter per row via d independent
hashes; a point estimate is the MIN over the d counters — always an
overestimate, with error ≤ εN at confidence 1−δ for w=⌈e/ε⌉,
d=⌈ln 1/δ⌉.

Why a DataFrame, not Spark's built-in ``count_min_sketch`` agg: the
built-in returns an opaque binary keyed by Spark's internal hash — a
black box no second engine can recompute. Here the sketch IS a table
of (row, bucket, count): mergeable across shards/days by summing
counts (the defining CMS property — addition commutes with the grid),
prunable by row, and every counter is independently verifiable. The
hash is the repo's md5-twin (``dedup.md5h``), bit-equal to DuckDB's
``('0x' || substring(md5(x),1,15))::BIGINT``, so estimates carry a
full value-hash oracle.

Scale shape: building is ONE map-side-combinable groupBy bounded at
d·w rows of state regardless of input size — the cheapest possible
heavy-hitter support at 100 TB; querying k keys touches k·d rows via
a broadcast join. No sorts, no windows, no Python.

Reference parity: no sketch surface in hw-kafka-streams; north-star
extension beside HLL/KLL/theta/Misra-Gries (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hw_kafka_streams_spark.operators.dedup import md5h


def _bucket(depth_col: Column, key_col: Column, width: int) -> Column:
    """Row-d hash bucket: md5-twin of 'd|key', non-negative mod w.
    md5h yields 15 hex digits (< 2⁶⁰, always positive) so plain %
    agrees between Spark and DuckDB."""
    return md5h(
        F.concat_ws("|", depth_col.cast("string"), key_col)
    ) % F.lit(width)


def cms_build_counted(
    wc: DataFrame,
    key_col: str,
    count_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """CMS from a pre-counted (key, count) table — the form to use when
    the caller already aggregated the corpus (avoids a second scan);
    counters are summed counts per bucket, ≤ depth·width rows."""
    rows = wc.select(
        F.explode(
            F.array(*[F.lit(i) for i in range(depth)])
        ).alias("cms_row"),
        F.col(key_col).alias("_k"),
        F.col(count_col).alias("_c"),
    )
    return (
        rows.select(
            "cms_row",
            _bucket(F.col("cms_row"), F.col("_k"), width).alias("cms_bucket"),
            "_c",
        )
        .groupBy("cms_row", "cms_bucket")
        .agg(F.sum("_c").alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate every key in ``keys``: min over the d row
    counters at that key's buckets. The (small) key set fans out to
    k·d probe rows and broadcast-joins the bounded sketch; missing
    buckets count 0 (left join + coalesce) so absent keys estimate 0
    only when every row agrees."""
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(*[F.lit(i) for i in range(depth)])
        ).alias("cms_row"),
    ).select(
        key_col,
        "cms_row",
        _bucket(F.col("cms_row"), F.col(key_col), width).alias("cms_bucket"),
    )
    return (
        probes.join(F.broadcast(cms), ["cms_row", "cms_bucket"], "left")
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate")
        )
    )
