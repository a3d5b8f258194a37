"""Dataset splitting & sampling for training-data pipelines.

The split primitive a 100 TB corpus needs is DETERMINISTIC and
CONTENT-STABLE: re-running the pipeline (or adding shards) must not
move a document across the train/eval boundary. Hence hash-based
assignment on a stable key — never `rand()` (changes per run) and
never `randomSplit` (partition-order sensitive).

All JVM-side: xxhash64 → bucket in [0, denom) → range per split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hw_kafka_streams_spark.operators.winutil import tiny_table_partition


def hash_bucket(
    key: Column | str, denom: int = 10_000, seed: int = 42, hash_mode: str = "xxhash64"
) -> Column:
    """Stable bucket in [0, denom) from a key column.

    ``hash_mode='md5'`` buckets on the DuckDB-reproducible
    :func:`~hw_kafka_streams_spark.operators.dedup.md5h` of
    ``key:seed`` so split stats can be value-hash oracled; xxhash64
    stays the scale default (native, no string round-trip).
    """
    col = F.col(key) if isinstance(key, str) else key
    if hash_mode == "md5":
        from hw_kafka_streams_spark.operators.dedup import md5h

        return F.pmod(md5h(F.concat(col.cast("string"), F.lit(f":{seed}"))), F.lit(denom))
    return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(denom))


def hash_split(
    df: DataFrame,
    key: str,
    fractions: dict[str, float],
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> dict[str, DataFrame]:
    """Split ``df`` into named parts by hashing ``key``.

    ``fractions`` e.g. {"train": 0.98, "eval": 0.01, "test": 0.01}
    (must sum to ≤ 1; remainder is dropped). Each part is a filter over
    the same scan — no shuffle, no materialization, stable across runs
    and cluster sizes.
    """
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    denom = 10_000
    bucket = hash_bucket(key, denom, seed, hash_mode)
    out: dict[str, DataFrame] = {}
    lo = 0
    for name, frac in fractions.items():
        hi = lo + int(round(frac * denom))
        out[name] = df.filter((bucket >= lo) & (bucket < hi))
        lo = hi
    return out


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    rate_bp: Column,
    denom: int = 10_000,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its stable
    (key, stratum) hash bucket falls below the stratum's rate
    (``rate_bp``, basis points of ``denom`` — a Column, so rates can
    come from a config join or an expression over the stratum).

    This is ``sampleBy`` without the RNG: re-runs, shard additions,
    and cluster resizes keep EXACTLY the same rows (content-stable,
    the property a 100 TB curriculum re-run needs), and with
    ``hash_mode='md5'`` the decision is DuckDB-reproducible so the
    sample itself can be value-hash oracled. Pure filter over the
    scan — no shuffle, no state.
    """
    key = F.concat(
        F.col(key_col).cast("string"), F.lit("|"), F.col(strata_col)
    )
    return df.filter(hash_bucket(key, denom, seed, hash_mode) < rate_bp)


def reservoir_per_key(
    df: DataFrame,
    key_col: str,
    n: int,
    order_hint: str | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Deterministic k-per-key sample: rank by a stable hash of the row's
    id (or ``order_hint``) within each key, keep the first n. One
    shuffle on key; the per-group top-n avoids a full sort via
    WindowGroupLimit pushdown. ``hash_mode='md5'`` ranks by the
    DuckDB-reproducible md5h of the hint (requires ``order_hint``) so
    the sample itself can be value-hash oracled; xxhash64 stays the
    scale default."""
    from pyspark.sql import Window

    if hash_mode == "md5":
        from hw_kafka_streams_spark.operators.dedup import md5h

        if order_hint is None:
            raise ValueError("hash_mode='md5' requires order_hint")
        # hint column as tiebreak: a (vanishingly unlikely) 60-bit
        # collision must not leave rank order engine-dependent
        order = [md5h(F.col(order_hint).cast("string")), F.col(order_hint)]
    else:
        order = [
            F.xxhash64(F.col(order_hint))
            if order_hint
            else F.xxhash64(*df.columns)
        ]
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis A-Res): each row draws a pseudo-uniform
    u ∈ (0,1) from the md5 of its id and keeps key = ln(u)/w; the k
    LARGEST keys are the sample, giving inclusion probability
    proportional to weight — the standard one-pass distributed weighted
    reservoir, here with the randomness derived from content so reruns
    and shard additions cannot move the sample (same property as
    hash_split; ``rand()`` would resample every run).

    Global (``group_col=None``): top-k by key → TakeOrderedAndProject,
    no full sort. Per-group: row_number over (group, key desc).
    Non-positive weights are excluded. Output: (group?, rank, id,
    weight) — fully reproducible in DuckDB, so oracle-able.
    """
    from pyspark.sql import Window

    from hw_kafka_streams_spark.operators.dedup import md5h

    # u in (0,1): md5h is 60-bit uniform; +1 dodges u=0 (ln(0) = -inf
    # would still order correctly, but keep the math clean).
    u = (md5h(F.col(id_col).cast("string")) + 1) / F.lit(float(1 << 60))
    base = (
        df.filter(F.col(weight_col) > 0)
        .select(
            *( [F.col(group_col)] if group_col else [] ),
            F.col(id_col),
            F.col(weight_col),
            (F.log(u) / F.col(weight_col)).alias("_key"),
        )
    )
    if group_col is None:
        return (
            base.orderBy(F.desc("_key"), F.asc(id_col))
            .limit(k)
            # post-limit(k) input — intentionally single-partition
            # rank window (see winutil)
            .select(
                F.row_number()
                .over(
                    Window.partitionBy(tiny_table_partition(id_col)).orderBy(
                        F.desc("_key"), F.asc(id_col)
                    )
                )
                .alias("rank"),
                id_col,
                weight_col,
            )
        )
    w = Window.partitionBy(group_col).orderBy(F.desc("_key"), F.asc(id_col))
    return (
        base.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(group_col, "rank", id_col, weight_col)
    )


def split_leakage_audit(
    df: DataFrame,
    split_col: str,
    group_col: str,
) -> DataFrame:
    """One-row audit of a train/test split against a grouping that must
    not straddle it (source/domain/author): group-level leakage is the
    classic eval inflation bug — near-identical docs from one domain on
    both sides of the split.

    ``split_col`` is a 0/1 int (1 = train). Returns
    (n_train, n_test, n_leaky_groups, n_leaked_test_docs) where a leaky
    group has docs on both sides and the leaked-doc count is its test
    side. Two aggregations, both keyed small: per-group counts (groups,
    not docs), then a single global roll-up.
    """
    per_grp = df.groupBy(group_col).agg(
        F.sum(F.col(split_col)).alias("_tr"),
        F.sum(F.lit(1) - F.col(split_col)).alias("_te"),
    )
    leaky = (F.col("_tr") > 0) & (F.col("_te") > 0)
    return per_grp.agg(
        F.sum("_tr").alias("n_train"),
        F.sum("_te").alias("n_test"),
        F.sum(leaky.cast("int")).alias("n_leaky_groups"),
        F.sum(F.when(leaky, F.col("_te")).otherwise(F.lit(0))).alias(
            "n_leaked_test_docs"
        ),
    )


def greedy_max_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    n: int = 3,
) -> list[tuple[int, int, int, int]]:
    """Greedy maximum-coverage document selection: pick ``k`` documents
    maximizing the UNION of covered word ``n``-grams — the classic
    (1 - 1/e)-approximate submodular selection (Nemhauser et al. 1978),
    i.e. coverage-driven data curation: each pick is the document
    adding the most shingles nothing already selected covers. The
    set-cover complement of the metric-space k-center selector
    (similarity.kcenter_select).

    Returns [(rank, id, gain, covered_total)] — ``gain`` is the pick's
    marginal new-shingle count (non-increasing, submodularity made
    visible), ``covered_total`` the running union size.

    Scale shape: RESIDUAL-POSTINGS formulation — one distinct
    (id, shingle) posting table, and each round subtracts the winner's
    shingles with a shingle-keyed LEFT ANTI join, so round i works on
    what round i-1 left, not the full corpus; the winner argmax is a
    map-side-combined count + TakeOrdered(1); localCheckpoint per
    round keeps the k-step lineage flat. Selected set = k-row driver
    artifact (the Lloyd/BPE bounded-epilogue policy).
    """
    from hw_kafka_streams_spark.operators.text import word_tokens

    toks = word_tokens(F.col(text_col))
    m = F.size(toks) - F.lit(n - 1)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(m, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )
    posts = (
        df.filter(F.col(text_col).isNotNull())
        # need >= n tokens or sequence(1, m<=0) would slice garbage
        .filter(F.size(word_tokens(F.col(text_col))) >= n)
        .select(F.col(id_col).alias("_id"), F.explode(shingles).alias("_sh"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    picked: list[tuple[int, int, int, int]] = []
    total = 0
    for r in range(k):
        top = (
            posts.groupBy("_id")
            .agg(F.count(F.lit(1)).alias("_gain"))
            .orderBy(F.desc("_gain"), F.asc("_id"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pick_id, gain = int(top[0]["_id"]), int(top[0]["_gain"])
        total += gain
        picked.append((r, pick_id, gain, total))
        won = posts.filter(F.col("_id") == pick_id).select("_sh")
        posts = (
            posts.filter(F.col("_id") != pick_id)
            .join(won, "_sh", "left_anti")
            .localCheckpoint(eager=True)
        )
    return picked
