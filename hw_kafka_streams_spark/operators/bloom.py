"""Bloom-filter-accelerated exact anti-join (incremental-corpus dedup).

The 100 TB shape this serves: a daily crawl increment must be deduped
against a multi-year historical corpus. A plain LEFT ANTI join shuffles
the FULL increment on the fingerprint key every day. A Bloom filter
built once over the historical keys turns that into:

  1. a zero-shuffle narrow probe over the increment (the bitmap rides
     into the scan as a literal array — no join, no exchange);
  2. "definitely new" rows (bloom miss) pass through untouched — Bloom
     filters have NO false negatives, so this path is exact;
  3. only bloom HITS (true dups + ~fpp false positives) enter the
     exact anti join, shrinking its probe side from |increment| to
     |dups| + fpp·|increment|.

The final result is therefore EXACTLY the plain anti join — the bloom
is a pure accelerator, which is what makes the registry query
value-hash oracle-able against `NOT EXISTS` SQL.

Everything is JVM-side: build is one `bit_or` aggregation over k
hashed bit positions (shuffle of `num_bits/64` longs, data-size
independent); probe is `getbit` on a literal array inside whole-stage
codegen. The bitmap collects to the driver bounded by `num_bits`
(default 2^17 bits = 16 KiB), never by row count — size it as
~10 bits/key for ~1% fpp (Bloom 1970; k ≈ 0.7·bits/key). Beyond
~10^8 bits, switch the probe to a broadcast-variable Pandas UDF
instead of a literal array; the build side is unchanged.

Spark's own runtime bloom pruning (InjectRuntimeFilter, asserted in
tests/test_plans.py) does this transparently *within* one query; this
operator makes the bitmap an explicit, collected value.

Reference parity: the reference app's only "membership" structure is
the blocked-users GlobalKTable (KafkaStreamApp.java:140-145) probed
per record; this is its scale-path analog for set-membership pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from hw_kafka_streams_spark.cache import managed_persist

# Hash seeds: arbitrary fixed odd constants; k probes use seeds
# _SEED0.._SEED0+k-1 so build and probe always agree.
_SEED0 = 0x9E3779B1


def _positions(key: Column, num_bits: int, k: int) -> list[Column]:
    """The k hashed bit positions of a key (xxhash64, seed-varied)."""
    return [
        F.pmod(F.xxhash64(key, F.lit(_SEED0 + i)), F.lit(num_bits))
        for i in range(k)
    ]


def bloom_bitmap(
    df: DataFrame,
    key_col: str = "fp",
    num_bits: int = 1 << 17,
    k: int = 3,
) -> list[int]:
    """Build a Bloom bitmap over a key column, returned as a dense
    list of ``num_bits/64`` longs (missing words = 0).

    Plan: explode the k positions per row (narrow), map to
    (word, 1<<bit), ONE `bit_or` aggregation keyed by word — partial
    aggregation collapses it map-side, so the shuffle moves at most
    `num_bits/64` rows per map task regardless of input size. The
    collect is bounded by `num_bits`, not by `count(df)`.
    """
    if num_bits % 64 != 0:
        raise ValueError("num_bits must be a multiple of 64")
    key = F.col(key_col)
    pos = F.explode(F.array(*_positions(key, num_bits, k))).alias("pos")
    words = (
        df.filter(key.isNotNull())
        .select(pos)
        .select(
            F.shiftright(F.col("pos"), 6).cast("int").alias("word"),
            F.pmod(F.col("pos"), F.lit(64)).cast("int").alias("bit"),
        )
        .groupBy("word")
        .agg(
            F.bit_or(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), F.col("bit")
                )
            ).alias("bits")
        )
        .collect()
    )
    bitmap = [0] * (num_bits // 64)
    for row in words:
        bitmap[row["word"]] = row["bits"]
    return bitmap


def might_contain(
    key: Column, bitmap: list[int], num_bits: int = 1 << 17, k: int = 3
) -> Column:
    """Zero-shuffle membership probe: AND of `getbit` lookups into the
    bitmap embedded as a literal array — evaluates inside whole-stage
    codegen, no join, no exchange. NULL keys probe to false (a NULL
    key never equi-joins, so "not in set" keeps anti-join semantics).
    """
    # cast: an all-small-word bitmap (e.g. freshly created) would
    # otherwise infer array<int>, and getbit rejects bit positions >= 32
    arr = F.lit(bitmap).cast("array<long>")
    hits = []
    for pos in _positions(key, num_bits, k):
        word = F.shiftright(pos, 6).cast("int")
        bit = F.pmod(pos, F.lit(64)).cast("int")
        hits.append(F.getbit(F.element_at(arr, word + F.lit(1)), bit) == 1)
    cond = hits[0]
    for h in hits[1:]:
        cond = cond & h
    return F.coalesce(cond, F.lit(False))


def bloom_anti_join(
    candidates: DataFrame,
    reference: DataFrame,
    key_col: str = "fp",
    num_bits: int = 1 << 17,
    k: int = 3,
) -> DataFrame:
    """Exact ``candidates LEFT ANTI JOIN reference ON key`` with the
    candidate side pre-pruned by a Bloom filter on the reference keys.

    Result is EXACTLY the plain anti join (misses are definitely new;
    hits are re-checked by a real anti join), but the join's streamed
    side carries only bloom hits. Reference keys are projected and
    de-duplicated before the join so its build side is minimal.
    """
    bitmap = bloom_bitmap(reference, key_col, num_bits, k)
    # persist: both output branches read the probed table; without it
    # the candidate scan AND the literal-bitmap probe expression (a
    # num_bits/64-element array getbit fold — the costly part to
    # evaluate and codegen) execute once per branch
    probed = managed_persist(
        candidates.withColumn(
            "_bloom_hit", might_contain(F.col(key_col), bitmap, num_bits, k)
        )
    )
    definitely_new = probed.filter(~F.col("_bloom_hit")).drop("_bloom_hit")
    maybe = probed.filter(F.col("_bloom_hit")).drop("_bloom_hit")
    ref_keys = reference.select(key_col).distinct()
    survivors = maybe.join(ref_keys, on=key_col, how="left_anti")
    return definitely_new.unionByName(survivors)
