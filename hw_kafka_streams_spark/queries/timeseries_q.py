"""Time-series operators over the events stream table: exact
percentiles, resampling to a regular grid with gap fill (LOCF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_streams_spark.queries import register
from hw_kafka_streams_spark.sources.catalog import load_table
from hw_kafka_streams_spark.cache import managed_persist
from hw_kafka_streams_spark.operators.winutil import tiny_table_partition


@register(
    "q_percentiles",
    oracle="""
        SELECT event_type,
               round(quantile_cont("value", 0.25), 4) AS p25,
               round(quantile_cont("value", 0.50), 4) AS p50,
               round(quantile_cont("value", 0.90), 4) AS p90,
               round(quantile_cont("value", 0.99), 4) AS p99
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Exact interpolated percentiles per group (ordered-set "
    "aggregate). At 100 TB prefer approx_percentile (t-digest sketch, "
    "partial-mergeable) — exact percentile needs the full sorted group.",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy("event_type")
        .agg(
            *[
                F.round(F.percentile("value", p), 4).alias(name)
                for p, name in [(0.25, "p25"), (0.50, "p50"), (0.90, "p90"), (0.99, "p99")]
            ]
        )
        .orderBy("event_type")
    )


@register(
    "q_resample_locf",
    oracle="""
        WITH bounds AS (
          SELECT user_id,
                 time_bucket(INTERVAL '1 hour', min(ts)) AS t0,
                 time_bucket(INTERVAL '1 hour', max(ts)) AS t1
          FROM events WHERE user_id <= 20 GROUP BY user_id
        ),
        spine AS (
          SELECT b.user_id, u.bucket
          FROM bounds b,
               LATERAL (SELECT unnest(generate_series(b.t0, b.t1,
                                      INTERVAL '1 hour')) AS bucket) u
        ),
        observed AS (
          SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket,
                 arg_max("value", ts) AS v_last
          FROM events WHERE user_id <= 20 GROUP BY 1, 2
        )
        SELECT s.user_id,
               CAST(floor(epoch(s.bucket)) AS BIGINT) AS bucket_s,
               round(last_value(o.v_last IGNORE NULLS) OVER (
                 PARTITION BY s.user_id ORDER BY s.bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS v_locf
        FROM spine s LEFT JOIN observed o
          ON o.user_id = s.user_id AND o.bucket = s.bucket
        ORDER BY s.user_id, bucket_s
    """,
    doc="Resample to a 1-hour grid + gap fill: per-key time spine "
    "(sequence/explode — no driver loop), last observation per bucket "
    "(max_by), LOCF via last(ignorenulls) over an ordered frame. The "
    "spine explode and window share the user_id partitioning.",
)
def q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).filter(F.col("user_id") <= 20)
    hour = 3600
    bucket = (F.col("ts").cast("long") / hour).cast("long") * hour
    bounds = e.groupBy("user_id").agg(
        F.min(bucket).alias("t0"), F.max(bucket).alias("t1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("t0", "t1", F.lit(hour))).alias("bucket_s"),
    )
    observed = (
        e.select("user_id", bucket.alias("bucket_s"), "ts", "value")
        .groupBy("user_id", "bucket_s")
        .agg(F.max_by("value", "ts").alias("v_last"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(observed, ["user_id", "bucket_s"], "left")
        .select(
            "user_id",
            "bucket_s",
            F.round(F.last("v_last", ignorenulls=True).over(w), 4).alias("v_locf"),
        )
        .orderBy("user_id", "bucket_s")
    )


@register(
    "q_percentiles_approx",
    oracle="""
        SELECT event_type,
               round(quantile_cont(value, 0.25), 6) AS p25_exact,
               round(quantile_cont(value, 0.5), 6)  AS p50_exact,
               round(quantile_cont(value, 0.9), 6)  AS p90_exact,
               round(quantile_cont(value, 0.99), 6) AS p99_exact,
               true AS p25_rank_ok, true AS p50_rank_ok,
               true AS p90_rank_ok, true AS p99_rank_ok
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="approx_percentile (quantile sketch, partial-mergeable, constant "
    "memory) — the 100 TB path for q_percentiles. Sketch values are "
    "engine-specific, so the oracled output is the exact percentile "
    "(value-hashed vs DuckDB quantile_cont) plus a rank-error boolean: "
    "the empirical CDF at each estimate must sit within 1pp of the "
    "target rank (accuracy=10000 guarantees 0.01pp; the slack covers "
    "small-SF discretization).",
)
def q_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    ps = [(0.25, "p25"), (0.50, "p50"), (0.90, "p90"), (0.99, "p99")]
    ests = e.groupBy("event_type").agg(
        *[
            F.percentile_approx("value", p, accuracy=10000).alias(f"e_{name}")
            for p, name in ps
        ]
    )
    rank_ok = lambda f, p: F.abs(f - p) <= 0.01  # noqa: E731
    return (
        e.join(F.broadcast(ests), "event_type")
        .groupBy("event_type")
        .agg(
            *[
                F.round(F.percentile("value", F.lit(p)), 6).alias(f"{name}_exact")
                for p, name in ps
            ],
            *[
                rank_ok(
                    F.avg((F.col("value") <= F.col(f"e_{name}")).cast("double")), p
                ).alias(f"{name}_rank_ok")
                for p, name in ps
            ],
        )
        .orderBy("event_type")
    )


@register(
    "q_retention_cohort",
    oracle="""
        WITH ue AS (
          SELECT user_id, date_trunc('week', ts) AS wk
          FROM events GROUP BY 1, 2
        ),
        c AS (SELECT user_id, min(wk) AS cohort_wk FROM ue GROUP BY 1)
        SELECT CAST(floor(epoch(cohort_wk)) AS BIGINT) AS cohort_s,
               CAST(date_diff('day', cohort_wk, wk) / 7 AS INT) AS week_offset,
               count(*) AS n_users
        FROM ue JOIN c USING (user_id)
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    doc="Retention cohort matrix: users bucketed by first-activity week, "
    "counted per week offset. Two aggregations + one join, all keyed on "
    "user_id — the per-user shuffle is reused by the join (AQE sees the "
    "partitioning); the final (cohort, offset) agg is tiny.",
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    ue = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    cohort = ue.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        ue.join(cohort, "user_id")
        .groupBy(
            F.unix_timestamp("cohort_wk").alias("cohort_s"),
            (F.datediff("wk", "cohort_wk") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_s", "week_offset")
    )


@register(
    "q_hll_partial_union",
    oracle="""
        SELECT event_type,
               count(DISTINCT user_id) AS n_users_exact,
               true AS est_within_2pct
        FROM events GROUP BY event_type
        UNION ALL
        SELECT '__all__', count(DISTINCT user_id), true FROM events
        ORDER BY event_type
    """,
    doc="Mergeable distinct-count sketches (Spark 4 DataSketches HLL): "
    "per-event-type sketches + a grand total via hll_union_agg over the "
    "partial sketches — the re-aggregatable rollup pattern that lets "
    "100 TB daily partial sketches fold into monthly/era totals without "
    "re-scanning raw data. Sketch bytes are engine-specific, so the "
    "oracled output is the exact distinct count plus a <2%-relative-"
    "error boolean on the HLL estimate (the q_approx_distinct invariant "
    "contract — measured max error 0.8% at sf0.1); the __all__ row "
    "gates the UNION of partials specifically, i.e. mergeability.",
)
def q_hll_partial_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    per_type = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.hll_sketch_agg("user_id").alias("sk"),
    )
    within = lambda est, ex: F.abs(est - ex) <= 0.02 * ex  # noqa: E731
    detail = per_type.select(
        "event_type",
        "n_users_exact",
        within(F.hll_sketch_estimate("sk"), F.col("n_users_exact")).alias(
            "est_within_2pct"
        ),
    )
    total = (
        per_type.agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(
            F.broadcast(e.agg(F.countDistinct("user_id").alias("n_users_exact")))
        )
        .select(
            F.lit("__all__").alias("event_type"),
            "n_users_exact",
            within(F.hll_sketch_estimate("sk"), F.col("n_users_exact")).alias(
                "est_within_2pct"
            ),
        )
    )
    return detail.unionByName(total).orderBy("event_type")


@register(
    "q_scd2_intervals",
    oracle="""
        WITH e AS (SELECT user_id, event_id, ts, event_type
                   FROM events WHERE user_id <= 30),
        m AS (SELECT *, CASE WHEN lag(event_type) OVER
                                  (PARTITION BY user_id ORDER BY ts, event_id)
                                  IS DISTINCT FROM event_type
                             THEN 1 ELSE 0 END AS chg
              FROM e),
        s AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS seg
              FROM m)
        SELECT user_id, CAST(seg AS INT) AS seg, event_type,
               CAST(floor(epoch(min(ts))) AS BIGINT) AS valid_from_s,
               CAST(floor(epoch(max(ts))) AS BIGINT) AS valid_to_s,
               count(*) AS n_events
        FROM s
        GROUP BY user_id, seg, event_type
        ORDER BY user_id, seg
    """,
    doc="SCD2-style validity intervals: per user, consecutive runs of "
    "the same event_type become (valid_from, valid_to) rows — change "
    "points via lag, run ids via a running sum, then one aggregation. "
    "The standard build for temporal/slowly-changing dimensions; all "
    "windows share the (user_id | ts, event_id) sort so Spark sorts "
    "each partition once.",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).filter(F.col("user_id") <= 30)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type"))
    ).cast("int")
    seg = F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        e.select("user_id", "event_id", "ts", "event_type", seg.alias("seg"))
        .groupBy("user_id", F.col("seg").cast("int").alias("seg"), "event_type")
        .agg(
            F.unix_timestamp(F.min("ts")).alias("valid_from_s"),
            F.unix_timestamp(F.max("ts")).alias("valid_to_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "seg")
    )


@register(
    "q_point_in_time_join",
    oracle="""
        WITH src AS (SELECT user_id, event_id, ts, event_type
                     FROM events WHERE user_id <= 30),
        chg AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                      THEN 1 ELSE 0 END AS is_chg
          FROM src WHERE event_type <> 'error'
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        dim AS (
          SELECT user_id, event_type AS state, ts AS valid_from,
                 lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS valid_to
          FROM chg WHERE is_chg = 1
        ),
        probes AS (SELECT user_id, event_id, ts FROM src
                   WHERE event_type = 'error')
        SELECT p.event_id, p.user_id,
               CAST(floor(epoch(p.ts)) AS BIGINT) AS ts_s,
               d.state
        FROM probes p LEFT JOIN dim d
          ON d.user_id = p.user_id
         AND p.ts >= d.valid_from
         AND (d.valid_to IS NULL OR p.ts < d.valid_to)
        ORDER BY p.event_id
    """,
    doc="Point-in-time (PIT) dimension join — the feature-store "
    "correctness primitive: each probe (error event) is enriched with "
    "the dimension state VALID AT ITS TIMESTAMP, never a later one "
    "(temporal leakage). The dim is an SCD2 validity-interval table "
    "built from the non-error changelog (change points via lag, "
    "half-open [valid_from, valid_to) via lead); the lookup is an "
    "equi-join on the entity key with the interval test as a residual "
    "— per-key validity chains are short, so the residual scan is "
    "bounded and no theta/nested-loop join appears. Differs from "
    "q_asof_join (latest FACT at-or-before) in joining a maintained "
    "interval DIMENSION — the SCD2 form warehouses and feature stores "
    "keep. Probes before the first state stay NULL (LEFT join).",
)
def q_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("user_id") <= 30)
        .select("user_id", "event_id", "ts", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nonerr = src.filter(F.col("event_type") != "error")
    chg = nonerr.withColumn(
        "is_chg",
        (
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type"))
        ).cast("int"),
    )
    dim = (
        chg.filter(F.col("is_chg") == 1)
        .select(
            F.col("user_id").alias("d_user"),
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).alias("valid_to"),
        )
    )
    probes = src.filter(F.col("event_type") == "error")
    return (
        probes.join(
            dim,
            (F.col("user_id") == F.col("d_user"))
            & (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
            "left",
        )
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").alias("ts_s"),
            "state",
        )
        .orderBy("event_id")
    )


@register(
    "q_rolling_zscore",
    oracle="""
        SELECT user_id, event_id,
               round(z, 3) AS zscore
        FROM (
          SELECT user_id, event_id,
                 ("value" - avg("value") OVER w) / nullif(stddev_samp("value") OVER w, 0) AS z
          FROM events WHERE user_id <= 50
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        WHERE abs(z) > 2.5
        ORDER BY user_id, event_id
    """,
    doc="Rolling z-score anomaly detection: per-user 7-row sliding "
    "mean/stddev window, flag |z| > 2.5. One shuffle on user_id; the "
    "deterministic (ts, event_id) ordering makes the sliding frame "
    "reproducible across engines. At 100 TB this is the metric-stream "
    "outlier pass: partition count follows the key space, frames never "
    "leave the partition.",
)
def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).filter(F.col("user_id") <= 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    z = (F.col("value") - F.avg("value").over(w)) / F.nullif(
        F.stddev_samp("value").over(w), F.lit(0)
    )
    return (
        e.select("user_id", "event_id", z.alias("_z"))
        .filter(F.abs("_z") > 2.5)
        .select("user_id", "event_id", F.round("_z", 3).alias("zscore"))
        .orderBy("user_id", "event_id")
    )


@register(
    "q_kll_quantiles",
    oracle="""
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6)  AS p50_exact,
               round(quantile_cont(value, 0.95), 6) AS p95_exact,
               round(quantile_cont(value, 0.99), 6) AS p99_exact,
               true AS p50_rank_ok, true AS p95_rank_ok, true AS p99_rank_ok
        FROM events GROUP BY event_type
        UNION ALL
        SELECT '__all__',
               round(quantile_cont(value, 0.5), 6),
               round(quantile_cont(value, 0.95), 6),
               round(quantile_cont(value, 0.99), 6),
               true, true, true
        FROM events
        ORDER BY event_type
    """,
    doc="Mergeable quantile sketches (Spark 4 DataSketches KLL): one "
    "KLL-double sketch per event_type, merged with kll_merge_agg into a "
    "global sketch, quantiles read from partials AND from the merged "
    "total. The re-aggregatable percentile pattern: at 100 TB, daily "
    "partial sketches fold into monthly p50/p95/p99 without re-scanning "
    "raw data — exact percentiles can't do that (they need the full "
    "sort each time). Sketch values are engine-specific, so the oracled "
    "output is the exact percentile (value-hashed vs DuckDB "
    "quantile_cont) plus a rank-error boolean: the empirical CDF at the "
    "KLL estimate must sit within 2 percentage points of the target "
    "rank — KLL's actual guarantee (k=200 measured max 0.5pp). The "
    "__all__ row gates the MERGED sketch, i.e. mergeability.",
)
def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    per_type = e.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value", F.lit(200)).alias("sk")
    )

    def q(col, p):
        return F.kll_sketch_get_quantile_double(col, F.lit(p))

    ests = per_type.select(
        "event_type",
        q(F.col("sk"), 0.5).alias("e50"),
        q(F.col("sk"), 0.95).alias("e95"),
        q(F.col("sk"), 0.99).alias("e99"),
    )
    merged = per_type.agg(F.kll_merge_agg_double("sk").alias("sk")).select(
        q(F.col("sk"), 0.5).alias("e50"),
        q(F.col("sk"), 0.95).alias("e95"),
        q(F.col("sk"), 0.99).alias("e99"),
    )

    def contract(df, keys):
        """Exact percentiles + empirical-CDF-at-estimate in ONE pass
        over the (estimate-joined) events — the rank-error check costs
        no extra scan."""
        rank_ok = lambda f, p: F.abs(f - p) <= 0.02  # noqa: E731
        return df.groupBy(*keys).agg(
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50_exact"),
            F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95_exact"),
            F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99_exact"),
            rank_ok(F.avg((F.col("value") <= F.col("e50")).cast("double")), 0.5)
            .alias("p50_rank_ok"),
            rank_ok(F.avg((F.col("value") <= F.col("e95")).cast("double")), 0.95)
            .alias("p95_rank_ok"),
            rank_ok(F.avg((F.col("value") <= F.col("e99")).cast("double")), 0.99)
            .alias("p99_rank_ok"),
        )

    detail = contract(e.join(F.broadcast(ests), "event_type"), ["event_type"])
    total = contract(e.crossJoin(F.broadcast(merged)), []).select(
        F.lit("__all__").alias("event_type"), "*"
    )
    return detail.unionByName(total).orderBy("event_type")


@register(
    "q_theta_overlap",
    oracle="""
        WITH v AS (SELECT DISTINCT CAST(user_id AS VARCHAR) || '|' ||
                          CAST(CAST(ts AS DATE) AS VARCHAR) AS ud
                   FROM events WHERE event_type = 'view'),
             p AS (SELECT DISTINCT CAST(user_id AS VARCHAR) || '|' ||
                          CAST(CAST(ts AS DATE) AS VARCHAR) AS ud
                   FROM events WHERE event_type = 'purchase')
        SELECT
          (SELECT count(*) FROM (SELECT ud FROM v INTERSECT SELECT ud FROM p))
              AS n_view_and_purchase,
          true AS and_within_2pct,
          (SELECT count(*) FROM (SELECT ud FROM v UNION SELECT ud FROM p))
              AS n_view_or_purchase,
          true AS or_within_2pct,
          (SELECT count(*) FROM (SELECT ud FROM v EXCEPT SELECT ud FROM p))
              AS n_view_only,
          true AS only_within_2pct
    """,
    doc="Set-expression sketches (Spark 4 DataSketches Theta): per-type "
    "active-user-day sketches, then |view ∩ purchase| / |view ∪ "
    "purchase| / |view \\ purchase| WITHOUT materializing either set — "
    "the audience-"
    "overlap / funnel-leak estimator. Unlike HLL, theta sketches close "
    "under intersection and difference, so segment algebra runs on "
    "kilobyte summaries of 100 TB of events. Sketch estimates are "
    "engine-specific, so the oracled output is the exact set-op count "
    "(value-hashed vs DuckDB INTERSECT/UNION/EXCEPT) plus a "
    "<2%-relative-error boolean per estimate (measured max 0.9% at "
    "sf0.1; below the 4096-entry nominal the sketch is exact).",
)
def q_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    ud = F.concat_ws("|", F.col("user_id"), F.to_date("ts")).alias("user_day")
    typed = e.filter(F.col("event_type").isin("view", "purchase")).select(
        "event_type", ud
    )
    sk = typed.groupBy("event_type").agg(F.theta_sketch_agg("user_day").alias("sk"))
    v = sk.filter(F.col("event_type") == "view").select(F.col("sk").alias("v"))
    p = sk.filter(F.col("event_type") == "purchase").select(F.col("sk").alias("p"))

    # exact twins: one pass over the distinct (type, user_day) pairs —
    # a user_day's presence per side collapses to two booleans, then
    # the three set-op cardinalities are one aggregation
    sides = (
        typed.distinct()
        .groupBy("user_day")
        .agg(
            F.max((F.col("event_type") == "view").cast("int")).alias("in_v"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("in_p"),
        )
        .agg(
            F.sum(F.col("in_v") * F.col("in_p")).alias("ex_and"),
            F.count(F.lit(1)).alias("ex_or"),
            F.sum(F.col("in_v") * (1 - F.col("in_p"))).alias("ex_only"),
        )
    )
    est = v.crossJoin(p).select(
        F.theta_sketch_estimate(F.theta_intersection("v", "p")).alias("e_and"),
        F.theta_sketch_estimate(F.theta_union("v", "p")).alias("e_or"),
        F.theta_sketch_estimate(F.theta_difference("v", "p")).alias("e_only"),
    )
    within = lambda e_, x_: F.abs(e_ - x_) <= 0.02 * F.greatest(  # noqa: E731
        x_, F.lit(1)
    )
    return sides.crossJoin(F.broadcast(est)).select(
        F.col("ex_and").alias("n_view_and_purchase"),
        within(F.col("e_and"), F.col("ex_and")).alias("and_within_2pct"),
        F.col("ex_or").alias("n_view_or_purchase"),
        within(F.col("e_or"), F.col("ex_or")).alias("or_within_2pct"),
        F.col("ex_only").alias("n_view_only"),
        within(F.col("e_only"), F.col("ex_only")).alias("only_within_2pct"),
    )


@register(
    "q_incremental_rollup",
    oracle="""
        SELECT event_type,
               CAST(ts AS DATE) AS day,
               count(*) AS n_rows,
               CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS VARCHAR)
                   AS sum_v,
               CAST(min(CAST(round(value, 6) AS DECIMAL(18,6))) AS VARCHAR)
                   AS min_v,
               CAST(max(CAST(round(value, 6) AS DECIMAL(18,6))) AS VARCHAR)
                   AS max_v
        FROM events
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Incremental aggregate maintenance (continuous-aggregate / "
    "hypertable rollup): history is split at a date boundary, the old "
    "half becomes a materialized per-(type, day) state, and the new "
    "half folds in via operators/rollup.merge_rollups — union of two "
    "state tables + one re-aggregate, NEVER rescanning raw history. "
    "The oracle is the full recompute over all events, so the value-"
    "hash match proves merge(state(old), state(new)) == state(all) "
    "bit-for-bit (DECIMAL-accumulated sums make ⊕ order-insensitive). "
    "This is how 100 TB of daily partials maintain monthly rollups.",
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators import rollup as R

    e = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.round("value", 6).alias("value"),
    )
    cut = "2024-03-01"
    base = R.rollup_state(
        e.filter(F.col("day") < F.lit(cut)), ["event_type", "day"], "value"
    )
    delta = R.rollup_state(
        e.filter(F.col("day") >= F.lit(cut)), ["event_type", "day"], "value"
    )
    merged = R.merge_rollups(base, delta, ["event_type", "day"])
    return merged.select(
        "event_type",
        "day",
        "n_rows",
        F.col("sum_v").cast("string").alias("sum_v"),
        F.col("min_v").cast("string").alias("min_v"),
        F.col("max_v").cast("string").alias("max_v"),
    ).orderBy("event_type", "day")


@register(
    "q_rollup_retraction",
    oracle="""
        SELECT event_type,
               count(*) AS n_rows,
               CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS VARCHAR)
                   AS sum_v
        FROM events
        WHERE (event_id <= 7000 AND event_id % 7 <> 0) OR event_id > 7000
        GROUP BY 1 ORDER BY 1
    """,
    doc="Retractable incremental view maintenance: a (count, sum) rollup "
    "built from old rows absorbs a CDC changelog of inserts AND deletes "
    "(signed contributions; groups whose live count hits zero drop) "
    "without rescanning history. The oracle recomputes directly over "
    "the live rows, so the hash match proves "
    "apply(state(old), changelog) == state(live) exactly — the "
    "materialized-view-with-retractions contract. min/max are "
    "deliberately absent: they are not invertible under deletes.",
)
def q_rollup_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators import rollup as R

    e = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", F.round("value", 6).alias("value")
    )
    old = e.filter(F.col("event_id") <= 7000)
    inserts = e.filter(F.col("event_id") > 7000).withColumn("op", F.lit("I"))
    deletes = old.filter(F.col("event_id") % 7 == 0).withColumn("op", F.lit("D"))
    base = R.rollup_state_from_changelog(
        old.withColumn("op", F.lit("I")), ["event_type"], "value"
    )
    delta = R.rollup_state_from_changelog(
        inserts.unionByName(deletes), ["event_type"], "value"
    )
    return (
        R.apply_changelog_to_rollup(base, delta, ["event_type"])
        .select(
            "event_type",
            "n_rows",
            F.col("sum_v").cast("string").alias("sum_v"),
        )
        .orderBy("event_type")
    )


_TS_PATTERN = [-1.091089, -0.654654, 0.218218, 1.527525,
               1.527525, 0.218218, -0.654654, -1.091089]  # z-normalized peak


def _ts_pattern_oracle() -> str:
    L = len(_TS_PATTERN)
    leads = ",\n                 ".join(
        f"lead(value, {j}) OVER w AS v{j}" for j in range(L)
    )
    dot = " + ".join(f"v{j} * ({_TS_PATTERN[j]})" for j in range(L))
    s = " + ".join(f"v{j}" for j in range(L))
    s2 = " + ".join(f"v{j} * v{j}" for j in range(L))
    return f"""
        WITH leads AS (
          SELECT user_id, event_id,
                 {leads}
          FROM events WHERE user_id <= 100
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        scored AS (
          SELECT user_id, event_id,
                 ({dot}) AS dot,
                 ({s}) / {L}.0 AS mean_w,
                 ({s2}) / {L}.0 AS meansq_w
          FROM leads WHERE v{L-1} IS NOT NULL
        )
        SELECT user_id, event_id,
               round(dot / ({L} * sqrt(meansq_w - mean_w * mean_w)), 6)
                   AS corr
        FROM scored
        WHERE meansq_w - mean_w * mean_w > 1e-12
        ORDER BY corr DESC, user_id, event_id
        LIMIT 20
    """


@register(
    "q_ts_pattern_match",
    oracle=_ts_pattern_oracle(),
    doc="Distributed time-series pattern search (the streaming "
    "similarity-search shape from EDBT'19 'Time Series Similarity "
    "Search for Streaming Data', re-expressed relationally): top-20 "
    "length-8 windows per-user value series most correlated with a "
    "z-normalized query pattern. The normalized cross-correlation "
    "closes over rolling sums expressed as lead() columns — pure JVM "
    "codegen, one shuffle on user_id, TakeOrderedAndProject for the "
    "top-k; at 100 TB the pattern bank broadcasts and each series "
    "partition scores independently (the MASS idea minus FFT, exact).",
)
def q_ts_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    L = len(_TS_PATTERN)
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") <= 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    leads = [F.lead("value", j).over(w).alias(f"v{j}") for j in range(L)]
    base = ev.select("user_id", "event_id", *leads).filter(
        F.col(f"v{L-1}").isNotNull()
    )
    dot = sum(F.col(f"v{j}") * F.lit(_TS_PATTERN[j]) for j in range(L))
    s = sum(F.col(f"v{j}") for j in range(L))
    s2 = sum(F.col(f"v{j}") * F.col(f"v{j}") for j in range(L))
    mean_w = s / float(L)
    var_w = s2 / float(L) - mean_w * mean_w
    return (
        base.select(
            "user_id",
            "event_id",
            dot.alias("dot"),
            var_w.alias("var_w"),
        )
        .filter(F.col("var_w") > 1e-12)
        .select(
            "user_id",
            "event_id",
            F.round(F.col("dot") / (L * F.sqrt(F.col("var_w"))), 6).alias("corr"),
        )
        .orderBy(F.desc("corr"), "user_id", "event_id")
        .limit(20)
    )


@register(
    "q_concurrent_sessions",
    oracle="""
        WITH gaps AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN date_diff('second',
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                        ts) > 1800
                      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events WHERE user_id <= 30
        ),
        sess AS (
          SELECT user_id,
                 sum(new_session) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_id,
                 ts
          FROM gaps
        ),
        iv AS (
          SELECT user_id, session_id,
                 CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
                 CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s
          FROM sess GROUP BY 1, 2
        )
        SELECT a.user_id AS user1, b.user_id AS user2,
               count(*) AS n_overlaps
        FROM iv a JOIN iv b
          ON a.user_id < b.user_id
         AND a.start_s <= b.end_s AND b.start_s <= a.end_s
        GROUP BY 1, 2
        ORDER BY n_overlaps DESC, user1, user2
        LIMIT 30
    """,
    doc="Concurrent-session analysis: which user pairs have overlapping "
    "sessions, and how many session pairs overlap. The overlap test is "
    "a theta join the planner can only nested-loop; the Spark plan "
    "converts it to an EQUI-join by bucket blocking (intervals explode "
    "to touched 1-hour buckets, hash join on bucket, exact verify, "
    "pair dedup — operators/intervals.py), the same blocking move LSH "
    "makes for similarity. Oracle runs the naive theta join directly; "
    "identical results, scalable plan.",
)
def q_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hw_kafka_streams_spark.operators.intervals import interval_overlap_join

    e = load_table(spark, "events", sf_dir).filter(F.col("user_id") <= 30)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = (
        prev_ts.isNull()
        | (F.col("ts").cast("long") - prev_ts.cast("long") > 1800)
    ).cast("long")
    sess = e.select("user_id", "ts", "event_id").withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    iv = sess.groupBy("user_id", "session_id").agg(
        F.min(F.col("ts").cast("long")).alias("start_s"),
        F.max(F.col("ts").cast("long")).alias("end_s"),
    ).select(
        (F.col("user_id") * 1_000_000 + F.col("session_id")).alias("id"),
        "start_s",
        "end_s",
    )
    pairs = interval_overlap_join(iv, iv, width_s=3600).filter(
        F.expr("id1 div 1000000") < F.expr("id2 div 1000000")
    )
    return (
        pairs.groupBy(
            F.expr("id1 div 1000000").alias("user1"),
            F.expr("id2 div 1000000").alias("user2"),
        )
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
        .orderBy(F.desc("n_overlaps"), "user1", "user2")
        .limit(30)
    )


@register(
    "q_mad_outliers",
    oracle="""
        WITH med AS (
          SELECT event_type, quantile_cont(value, 0.5) AS med
          FROM events GROUP BY 1
        ),
        dev AS (
          SELECT e.event_type,
                 quantile_cont(abs(e.value - m.med), 0.5) AS mad
          FROM events e JOIN med m USING (event_type)
          GROUP BY 1
        )
        SELECT e.event_type,
               count(*) AS n_rows,
               round(m.med, 6) AS med,
               round(d.mad, 6) AS mad,
               CAST(sum(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * d.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM events e JOIN med m USING (event_type) JOIN dev d USING (event_type)
        GROUP BY 1, 3, 4
        ORDER BY 1
    """,
    doc="Robust outlier detection per group: median + MAD (the "
    "breakdown-resistant alternative to mean/stddev — one wild sensor "
    "can't move the fence), flagging |v - med| > 3·1.4826·MAD. Three "
    "aggregations reusing one event_type partitioning, medians via "
    "Spark's exact percentile (interpolation matches DuckDB's "
    "quantile_cont bit-for-bit — already proven by q_percentiles).",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias(
                "mad"
            )
        )
    )
    # Flag on the UNROUNDED med/mad (matching the oracle's fence), then
    # round only the reported columns — rounding before the comparison
    # could flip boundary points.
    flagged = (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(dev), "event_type")
        .withColumn(
            "is_outlier",
            (
                F.abs(F.col("value") - F.col("med"))
                > 3 * 1.4826 * F.col("mad")
            ).cast("long"),
        )
    )
    return (
        flagged.groupBy(
            "event_type",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("is_outlier").alias("n_outliers"),
        )
        .select("event_type", "n_rows", "med", "mad", "n_outliers")
        .orderBy("event_type")
    )


@register(
    "q_ewma_halflife",
    oracle="""
        WITH e AS (
          SELECT user_id, event_id, ts, value,
                 lag(value, 0) OVER w AS l0,
                 lag(value, 1) OVER w AS l1,
                 lag(value, 2) OVER w AS l2,
                 lag(value, 3) OVER w AS l3,
                 lag(value, 4) OVER w AS l4,
                 lag(value, 5) OVER w AS l5,
                 lag(value, 6) OVER w AS l6,
                 lag(value, 7) OVER w AS l7
          FROM events
          WHERE user_id < 40
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        )
        SELECT user_id, event_id, ts, value,
               round(CAST((
                 coalesce(CAST(round(l0 * 1.0,       10) AS DECIMAL(28,10)), 0)
               + coalesce(CAST(round(l1 * 0.5,       10) AS DECIMAL(28,10)), 0)
               + coalesce(CAST(round(l2 * 0.25,      10) AS DECIMAL(28,10)), 0)
               + coalesce(CAST(round(l3 * 0.125,     10) AS DECIMAL(28,10)), 0)
               + coalesce(CAST(round(l4 * 0.0625,    10) AS DECIMAL(28,10)), 0)
               + coalesce(CAST(round(l5 * 0.03125,   10) AS DECIMAL(28,10)), 0)
               + coalesce(CAST(round(l6 * 0.015625,  10) AS DECIMAL(28,10)), 0)
               + coalesce(CAST(round(l7 * 0.0078125, 10) AS DECIMAL(28,10)), 0)
               ) AS DOUBLE)
               / (  CASE WHEN l0 IS NULL THEN 0 ELSE 1.0       END
                  + CASE WHEN l1 IS NULL THEN 0 ELSE 0.5       END
                  + CASE WHEN l2 IS NULL THEN 0 ELSE 0.25      END
                  + CASE WHEN l3 IS NULL THEN 0 ELSE 0.125     END
                  + CASE WHEN l4 IS NULL THEN 0 ELSE 0.0625    END
                  + CASE WHEN l5 IS NULL THEN 0 ELSE 0.03125   END
                  + CASE WHEN l6 IS NULL THEN 0 ELSE 0.015625  END
                  + CASE WHEN l7 IS NULL THEN 0 ELSE 0.0078125 END),
               6) AS ewma
        FROM e ORDER BY user_id, ts
    """,
    doc="Exponentially-weighted trailing mean (half-life = 1 step, "
    "depth 8) per user over the events stream — the monitoring/"
    "feature-engineering smoother. The truncated-depth form replaces "
    "the sequential EWMA recurrence with 8 window lags, so it stays a "
    "single partitioned-window pass (no iterative state, no driver "
    "loop). Weights are powers of 1/2 (exact in binary), each term "
    "one scalar IEEE product rounded to DECIMAL(28,10) and "
    "decimal-summed — reducer/frame order cannot drift the value, so "
    "the query is full value-hash oracled. At 100 TB the window is "
    "keyed by user_id: one shuffle, no global ordering.",
)
def q_ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 40)
    w = Window.partitionBy("user_id").orderBy("ts")
    terms = []
    weights = []
    for j in range(8):
        lj = F.lag("value", j).over(w) if j else F.col("value")
        wj = F.lit(0.5**j)
        terms.append(
            F.coalesce(
                F.round(lj * wj, 10).cast("decimal(28,10)"),
                F.lit(0).cast("decimal(28,10)"),
            )
        )
        weights.append(F.when(lj.isNull(), F.lit(0.0)).otherwise(wj))
    num = terms[0]
    for t in terms[1:]:
        num = num + t
    den = weights[0]
    for x in weights[1:]:
        den = den + x
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.round(num.cast("double") / den, 6).alias("ewma"),
    ).orderBy("user_id", "ts")


@register(
    "q_seasonal_residuals",
    oracle="""
        WITH e AS (
          SELECT event_type, extract(hour FROM ts) AS hr,
                 CAST(round(value, 6) AS DECIMAL(18,6)) AS v,
                 CAST(round(value * value, 6) AS DECIMAL(28,6)) AS vv,
                 value
          FROM events
        ), g AS (
          SELECT event_type, hr, count(*) AS n,
                 sum(v) AS sx, sum(vv) AS sxx
          FROM e GROUP BY 1, 2
        ), s AS (
          SELECT event_type, hr, n,
                 CAST(sx AS DOUBLE) / n AS mu,
                 sqrt(greatest(CAST(sxx AS DOUBLE) / n
                               - (CAST(sx AS DOUBLE) / n)
                                 * (CAST(sx AS DOUBLE) / n), 0)) AS sigma
          FROM g
        )
        SELECT s.event_type, CAST(s.hr AS INT) AS hr,
               CAST(s.n AS BIGINT) AS n,
               round(s.mu, 6) AS baseline_mean,
               CAST(sum(CASE WHEN abs(e.value - s.mu) > 2 * s.sigma
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM e JOIN s ON e.event_type = s.event_type AND e.hr = s.hr
        GROUP BY 1, 2, 3, 4 ORDER BY 1, 2
    """,
    doc="Seasonal-baseline anomaly counts: per (event_type, "
    "hour-of-day) mean/sigma baseline, rows flagged when "
    "|value - mean| > 2 sigma — the hour-profile monitor that "
    "catches what a trailing window (q_rolling_zscore) and a global "
    "MAD gate (q_mad_outliers) both miss: values normal globally but "
    "anomalous FOR THAT HOUR. Moments come from per-term-rounded "
    "DECIMAL sums (reducer-order-proof), so mean/sigma and every "
    "flag comparison are bit-identical across engines. Scale: two "
    "(type, hour)-keyed aggregations — key cardinality is tiny and "
    "fixed, the baseline broadcasts back onto the stream.",
)
def q_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.hour("ts").alias("hr"),
        F.round("value", 6).cast("decimal(18,6)").alias("v"),
        F.round(F.col("value") * F.col("value"), 6)
        .cast("decimal(28,6)")
        .alias("vv"),
        "value",
    )
    g = ev.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sx"),
        F.sum("vv").alias("sxx"),
    )
    mu = F.col("sx").cast("double") / F.col("n")
    s = g.select(
        "event_type",
        "hr",
        "n",
        mu.alias("mu"),
        F.sqrt(
            F.greatest(
                F.col("sxx").cast("double") / F.col("n") - mu * mu, F.lit(0.0)
            )
        ).alias("sigma"),
    )
    return (
        ev.join(F.broadcast(s), ["event_type", "hr"])
        .groupBy(
            "event_type",
            F.col("hr").cast("int").alias("hr"),
            "n",
            F.round("mu", 6).alias("baseline_mean"),
        )
        .agg(
            F.sum(
                (F.abs(F.col("value") - F.col("mu")) > 2 * F.col("sigma")).cast(
                    "long"
                )
            ).alias("n_outliers")
        )
        .orderBy("event_type", "hr")
    )


@register(
    "q_gap_detect",
    oracle="""
        WITH g AS (
          SELECT user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
          FROM events
        )
        SELECT user_id, prev_ts AS gap_start, ts AS gap_end,
               epoch_us(ts) - epoch_us(prev_ts) AS gap_us
        FROM g
        WHERE prev_ts IS NOT NULL
          AND epoch_us(ts) - epoch_us(prev_ts) > 172800000000
        ORDER BY user_id, gap_end
    """,
    doc="Telemetry gap detection: per-user inter-event gaps longer "
    "than 2 days — the SLA/outage audit that LOCF resampling "
    "(q_resample_locf) silently papers over. Exact microsecond "
    "arithmetic (unix_micros both sides), one user-keyed window pass, "
    "output bounded by the gap rate (~1% of rows at the 2-day "
    "threshold).",
)
def q_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    g = ev.select(
        "user_id",
        prev.alias("gap_start"),
        F.col("ts").alias("gap_end"),
        (F.unix_micros("ts") - F.unix_micros(prev)).alias("gap_us"),
    )
    return g.filter(
        F.col("gap_start").isNotNull() & (F.col("gap_us") > 172_800_000_000)
    ).orderBy("user_id", "gap_end")


@register(
    "q_touch_attribution",
    oracle="""
        WITH ev AS (
            SELECT user_id, ts, event_type, "value", event_id FROM events
            WHERE event_type IN ('view', 'click', 'signup', 'purchase')
        ),
        a AS (
            SELECT *,
                   last_value(CASE WHEN event_type = 'purchase'
                                   THEN struct_pack(p_id := event_id,
                                                    p_value := "value")
                              END IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY ts DESC, event_id DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS p
            FROM ev
        ),
        t AS (
            SELECT user_id, ts, event_id, event_type,
                   p.p_id AS p_id, p.p_value AS p_value
            FROM a WHERE event_type <> 'purchase' AND p IS NOT NULL
        ),
        r AS (
            SELECT *,
                   row_number() OVER (PARTITION BY user_id, p_id
                                      ORDER BY ts, event_id) AS rn,
                   count(*) OVER (PARTITION BY user_id, p_id) AS n
            FROM t
        )
        SELECT event_type,
               count(*) AS n_touches,
               CAST(count(DISTINCT p_id) AS BIGINT) AS n_conversions,
               round(CAST(sum(CAST(round(p_value / n, 6)
                                   AS DECIMAL(18,6))) AS DOUBLE), 4)
                   AS linear_credit,
               round(CAST(sum(CAST(round(p_value *
                          (CASE WHEN n = 1 THEN 1.0
                                WHEN n = 2 THEN 0.5
                                WHEN rn = 1 THEN 0.4
                                WHEN rn = n THEN 0.4
                                ELSE 0.2 / (n - 2) END), 6)
                                   AS DECIMAL(18,6))) AS DOUBLE), 4)
                   AS position_credit
        FROM r GROUP BY event_type ORDER BY event_type
    """,
    doc="Multi-touch conversion attribution (linear + U-shaped 40/20/40 "
    "in one pass): each purchase's value is split over the touches "
    "before it. The touch->conversion assignment is ONE reverse-"
    "chronological user window carrying the last-seen purchase — no "
    "self-join, no as-of join; credits are DECIMAL-summed "
    "(operators/attribution.touch_attribution).",
)
def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators.attribution import touch_attribution

    e = load_table(spark, "events", sf_dir)
    return touch_attribution(e).orderBy("event_type")


@register(
    "q_assoc_rules",
    oracle="""
        WITH items AS (
            SELECT DISTINCT user_id AS basket, event_type AS item FROM events
        ),
        nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM items),
        singles AS (SELECT item, count(*) AS n_item FROM items GROUP BY 1),
        pairs AS (
            SELECT a.item AS antecedent, b.item AS consequent,
                   count(*) AS n_both
            FROM items a JOIN items b
              ON a.basket = b.basket AND a.item <> b.item
            GROUP BY 1, 2
        )
        SELECT antecedent, consequent, n_both,
               round(CAST(n_both AS DOUBLE) / nb.n_baskets, 6) AS support,
               round(CAST(n_both AS DOUBLE) / sa.n_item, 6) AS confidence,
               round((CAST(n_both AS DOUBLE) * nb.n_baskets)
                     / (CAST(sa.n_item AS DOUBLE) * sc.n_item), 6) AS lift
        FROM pairs
        JOIN singles sa ON sa.item = pairs.antecedent
        JOIN singles sc ON sc.item = pairs.consequent
        CROSS JOIN nb
        ORDER BY antecedent, consequent
    """,
    doc="Pairwise association rules over per-user event-type baskets: "
    "support / confidence / lift from exact integer counts. Basket-"
    "keyed self-join is bounded by the item vocabulary per basket "
    "(items² per user, never users²); item totals and the 1-row basket "
    "count broadcast back (operators/stats.assoc_rules).",
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators.stats import assoc_rules

    e = load_table(spark, "events", sf_dir)
    return assoc_rules(e, "user_id", "event_type").orderBy(
        "antecedent", "consequent"
    )


@register(
    "q_percentiles_hist",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(quantile_cont("value", 0.25), 4) AS p25,
               round(quantile_cont("value", 0.50), 4) AS p50,
               round(quantile_cont("value", 0.90), 4) AS p90,
               round(quantile_cont("value", 0.99), 4) AS p99
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Exact interpolated percentiles per group computed from the "
    "per-(group, value) COUNT HISTOGRAM — the scale path q_percentiles' "
    "doc string promises: F.percentile buffers every raw value in one "
    "aggregator (row-bounded), this shape's heavy agg is a partial-"
    "combinable count keyed by the DOMAIN (distinct values), then one "
    "histogram window + closed-form interpolation. Same oracle as "
    "q_percentiles, so the drop-in equality is machine-checked "
    "(operators/stats.exact_percentiles_histogram).",
)
def q_percentiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators.stats import (
        exact_percentiles_histogram,
    )

    e = load_table(spark, "events", sf_dir)
    out = exact_percentiles_histogram(
        e, "value", "event_type", [0.25, 0.50, 0.90, 0.99]
    )
    return out.select(
        "event_type",
        "n",
        F.round("p0", 4).alias("p25"),
        F.round("p1", 4).alias("p50"),
        F.round("p2", 4).alias("p90"),
        F.round("p3", 4).alias("p99"),
    ).orderBy("event_type")


@register(
    "q_resample_interp",
    oracle="""
        WITH e AS (SELECT user_id, ts, "value" FROM events WHERE user_id <= 20),
        bounds AS (
          SELECT user_id,
                 time_bucket(INTERVAL '1 hour', min(ts)) AS t0,
                 time_bucket(INTERVAL '1 hour', max(ts)) AS t1
          FROM e GROUP BY user_id
        ),
        spine AS (
          SELECT b.user_id,
                 CAST(floor(epoch(u.bucket)) AS BIGINT) AS bucket_s
          FROM bounds b,
               LATERAL (SELECT unnest(generate_series(b.t0, b.t1,
                                      INTERVAL '1 hour')) AS bucket) u
        ),
        observed AS (
          SELECT user_id,
                 CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts)))
                      AS BIGINT) AS bucket_s,
                 arg_max("value", ts) AS v_last
          FROM e GROUP BY 1, 2
        ),
        g AS (
          SELECT s.user_id, s.bucket_s,
                 last_value(CASE WHEN o.v_last IS NOT NULL THEN
                     struct_pack(b := s.bucket_s, v := o.v_last) END
                     IGNORE NULLS)
                   OVER (PARTITION BY s.user_id ORDER BY s.bucket_s
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS prev,
                 first_value(CASE WHEN o.v_last IS NOT NULL THEN
                     struct_pack(b := s.bucket_s, v := o.v_last) END
                     IGNORE NULLS)
                   OVER (PARTITION BY s.user_id ORDER BY s.bucket_s
                         ROWS BETWEEN CURRENT ROW
                                  AND UNBOUNDED FOLLOWING) AS nxt
          FROM spine s LEFT JOIN observed o
            ON o.user_id = s.user_id AND o.bucket_s = s.bucket_s
        )
        SELECT user_id, bucket_s,
               round(CASE
                 WHEN prev IS NULL THEN nxt.v
                 WHEN nxt IS NULL THEN prev.v
                 WHEN nxt.b = prev.b THEN prev.v
                 ELSE prev.v + (CAST(bucket_s - prev.b AS DOUBLE)
                                / (nxt.b - prev.b)) * (nxt.v - prev.v)
               END + 0.000001, 4) AS v_interp
        FROM g ORDER BY user_id, bucket_s
    """,
    doc="Resample to a 1-hour grid + LINEAR interpolation between the "
    "surrounding observed buckets (LOCF's smooth sibling; head/tail "
    "clamp to the nearest observation). Two ignore-nulls windows over "
    "the same user-partitioned spine — previous sample via a trailing "
    "frame, next via a leading frame — then one scalar lerp; the spine "
    "explode and both windows share the user_id partitioning.",
)
def q_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).filter(F.col("user_id") <= 20)
    hour = 3600
    bucket = (F.col("ts").cast("long") / hour).cast("long") * hour
    bounds = e.groupBy("user_id").agg(
        F.min(bucket).alias("t0"), F.max(bucket).alias("t1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("t0", "t1", F.lit(hour))).alias("bucket_s"),
    )
    observed = (
        e.select("user_id", bucket.alias("bucket_s"), "ts", "value")
        .groupBy("user_id", "bucket_s")
        .agg(F.max_by("value", "ts").alias("v_last"))
    )
    base = Window.partitionBy("user_id").orderBy("bucket_s")
    w_prev = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_next = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    sample = F.when(
        F.col("v_last").isNotNull(),
        F.struct(F.col("bucket_s").alias("b"), F.col("v_last").alias("v")),
    )
    g = (
        spine.join(observed, ["user_id", "bucket_s"], "left")
        .withColumn("prev", F.last(sample, ignorenulls=True).over(w_prev))
        .withColumn("nxt", F.first(sample, ignorenulls=True).over(w_next))
    )
    lerp = F.col("prev.v") + (
        (F.col("bucket_s") - F.col("prev.b")).cast("double")
        / (F.col("nxt.b") - F.col("prev.b"))
    ) * (F.col("nxt.v") - F.col("prev.v"))
    v = (
        F.when(F.col("prev").isNull(), F.col("nxt.v"))
        .when(F.col("nxt").isNull(), F.col("prev.v"))
        .when(F.col("nxt.b") == F.col("prev.b"), F.col("prev.v"))
        .otherwise(lerp)
    )
    # + 1e-6 before the round on BOTH sides: lerp at dyadic fracs can
    # land exactly on a .00005 tie, where Spark rounds half-up and
    # DuckDB half-even — the q_window_running nudge
    return g.select(
        "user_id", "bucket_s", F.round(v + F.lit(0.000001), 4).alias("v_interp")
    ).orderBy("user_id", "bucket_s")


@register(
    "q_join_ivm",
    oracle="""
        SELECT o.o_orderkey, c.c_custkey, c.c_name,
               round(o.o_totalprice, 2) AS o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderkey % 7 = 0 OR c.c_custkey % 10 = 0
        ORDER BY o.o_orderkey, c.c_custkey
    """,
    doc="Incremental JOIN-view maintenance: with orders and customer "
    "each split into history + delta, the view delta is computed by "
    "the delta rule dV = dO><C + O><dC + dO><dC — history never "
    "re-joins itself, and every branch has a small (broadcastable) "
    "side. The oracle is the DEFINITION (rows of the full join "
    "touching at least one delta row), so the decomposition's "
    "correctness is value-hashed (operators/rollup.join_view_delta).",
)
def q_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators.rollup import join_view_delta

    o = load_table(spark, "orders", sf_dir).withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    c = load_table(spark, "customer", sf_dir)
    o_delta = o.filter(F.col("o_orderkey") % 7 == 0)
    o_old = o.filter(F.col("o_orderkey") % 7 != 0)
    c_delta = c.filter(F.col("c_custkey") % 10 == 0)
    c_old = c.filter(F.col("c_custkey") % 10 != 0)
    dv = join_view_delta(o_old, o_delta, c_old, c_delta, ["c_custkey"])
    return dv.select(
        "o_orderkey",
        "c_custkey",
        "c_name",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    ).orderBy("o_orderkey", "c_custkey")


@register(
    "q_time_to_convert",
    oracle="""
        WITH firsts AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'view'
                          THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS t_view,
                 min(CASE WHEN event_type = 'purchase'
                          THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS t_buy
          FROM events GROUP BY user_id
        ),
        conv AS (
          SELECT round((t_buy - t_view) / 3600.0, 2) AS delta_h
          FROM firsts WHERE t_view IS NOT NULL AND t_buy > t_view
        ),
        base AS (SELECT count(*) AS n_users FROM firsts
                 WHERE t_view IS NOT NULL)
        SELECT base.n_users,
               count(*) AS n_converted,
               round(CAST(count(*) AS DOUBLE) / base.n_users, 4) AS conv_rate,
               round(quantile_cont(delta_h, 0.50), 2) AS p50_hours,
               round(quantile_cont(delta_h, 0.90), 2) AS p90_hours
        FROM conv CROSS JOIN base GROUP BY base.n_users
    """,
    doc="Funnel latency: hours from first view to first purchase, "
    "median and p90 over converted users plus the conversion rate. "
    "The percentile runs through the count-histogram shape "
    "(exact_percentiles_histogram — deltas rounded to 0.01 h give a "
    "bounded domain), so no per-user value buffering; one user-keyed "
    "shuffle for the firsts, then domain-sized tables.",
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators.stats import (
        exact_percentiles_histogram,
    )

    e = load_table(spark, "events", sf_dir)
    ts_s = F.col("ts").cast("long")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", ts_s)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", ts_s)).alias("t_buy"),
    )
    conv = (
        firsts.filter(
            F.col("t_view").isNotNull() & (F.col("t_buy") > F.col("t_view"))
        )
        .select(
            F.lit("all").alias("grp"),
            F.round((F.col("t_buy") - F.col("t_view")) / 3600.0, 2).alias(
                "delta_h"
            ),
        )
    )
    qs = exact_percentiles_histogram(conv, "delta_h", "grp", [0.50, 0.90])
    base = firsts.filter(F.col("t_view").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_users")
    )
    return (
        qs.crossJoin(F.broadcast(base))
        .select(
            "n_users",
            F.col("n").alias("n_converted"),
            F.round(
                F.col("n").cast("double") / F.col("n_users"), 4
            ).alias("conv_rate"),
            F.round("p0", 2).alias("p50_hours"),
            F.round("p1", 2).alias("p90_hours"),
        )
    )


@register(
    "q_ks_test",
    oracle="""
        WITH base AS (
          SELECT "value" AS v, CAST(event_type = 'view' AS INT) AS is_a
          FROM events WHERE event_type IN ('view', 'click')
        ),
        per_v AS (
          SELECT v, CAST(sum(is_a) AS BIGINT) AS ca,
                 CAST(sum(1 - is_a) AS BIGINT) AS cb
          FROM base GROUP BY v
        ),
        tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                       CAST(sum(cb) AS BIGINT) AS nb FROM per_v),
        cum AS (
          SELECT CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
                 CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb
          FROM per_v
        ),
        agg AS (
          SELECT tot.na, tot.nb,
                 CAST(max(abs(cuma * tot.nb - cumb * tot.na)) AS BIGINT)
                     AS num
          FROM cum CROSS JOIN tot GROUP BY tot.na, tot.nb
        )
        SELECT na AS n_a, nb AS n_b,
               round(CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6)
                   AS ks_d,
               round(1.358 * sqrt(CAST(na + nb AS DOUBLE)
                                  / (CAST(na AS DOUBLE) * nb)), 6)
                   AS ks_crit_05,
               CAST(CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
                    > 1.358 * sqrt(CAST(na + nb AS DOUBLE)
                                   / (CAST(na AS DOUBLE) * nb)) AS INT)
                   AS reject_05
        FROM agg
    """,
    doc="Two-sample Kolmogorov-Smirnov drift test (view vs click value "
    "distributions): D computed over the INTEGER numerator "
    "|cum_a*n_b - cum_b*n_a| so no float enters before the final "
    "division; cumulatives via the block-prefix-sum pattern — the only "
    "single-partition window is over the driver-bounded floor(v) block "
    "table (operators/stats.ks_two_sample).",
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators.stats import ks_two_sample

    e = load_table(spark, "events", sf_dir)
    return ks_two_sample(e, "value", "event_type", "view", "click")


@register(
    "q_acf",
    oracle="""
        WITH series AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ),
        mu AS (
          SELECT event_type, CAST(sum(x) AS BIGINT) AS sx,
                 count(*) AS n
          FROM series GROUP BY 1
        ),
        lagged AS (
          SELECT s.event_type, s.x,
                 lag(s.x, 1) OVER w AS x1,
                 lag(s.x, 24) OVER w AS x24,
                 mu.sx, mu.n
          FROM series s JOIN mu USING (event_type)
          WINDOW w AS (PARTITION BY s.event_type ORDER BY s.h)
        )
        SELECT event_type, min(n) AS n_hours,
               round(CAST(sum(CAST(round(
                   (x - CAST(sx AS DOUBLE) / n)
                   * (x1 - CAST(sx AS DOUBLE) / n), 6) AS DECIMAL(18,6)))
                 AS DOUBLE)
                 / CAST(sum(CAST(round(
                     (x - CAST(sx AS DOUBLE) / n)
                     * (x - CAST(sx AS DOUBLE) / n), 6) AS DECIMAL(18,6)))
                   AS DOUBLE), 4) AS acf_1,
               round(CAST(sum(CAST(round(
                   (x - CAST(sx AS DOUBLE) / n)
                   * (x24 - CAST(sx AS DOUBLE) / n), 6) AS DECIMAL(18,6)))
                 AS DOUBLE)
                 / CAST(sum(CAST(round(
                     (x - CAST(sx AS DOUBLE) / n)
                     * (x - CAST(sx AS DOUBLE) / n), 6) AS DECIMAL(18,6)))
                   AS DOUBLE), 4) AS acf_24
        FROM lagged GROUP BY event_type ORDER BY event_type
    """,
    doc="Autocorrelation of the hourly event-count series at lags 1 "
    "and 24 (persistence and daily seasonality) per event type — the "
    "diagnostic behind choosing seasonal baselines. The series is "
    "hour-bucketed counts (domain-bounded by the time range, never "
    "row-bounded); lags are one partitioned window pass; deviation "
    "products are DECIMAL-summed so reducer order can't drift the "
    "ratio. Lag terms with no partner (series head) drop from both "
    "numerator sums, the standard sample-ACF convention.",
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    series = e.groupBy(
        "event_type",
        (F.col("ts").cast("long") / 3600).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).alias("x"))
    mu = series.groupBy("event_type").agg(
        F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = (
        series.join(F.broadcast(mu), "event_type")
        .withColumn("x1", F.lag("x", 1).over(w))
        .withColumn("x24", F.lag("x", 24).over(w))
    )
    m = F.col("sx").cast("double") / F.col("n")
    dev = F.col("x") - m

    def dsum(expr):
        return F.sum(F.round(expr, 6).cast("decimal(18,6)")).cast("double")

    return (
        lagged.groupBy("event_type")
        .agg(
            F.min("n").alias("n_hours"),
            F.round(
                dsum(dev * (F.col("x1") - m)) / dsum(dev * dev), 4
            ).alias("acf_1"),
            F.round(
                dsum(dev * (F.col("x24") - m)) / dsum(dev * dev), 4
            ).alias("acf_24"),
        )
        .orderBy("event_type")
    )


@register(
    "q_event_transitions",
    oracle="""
        WITH seq AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS nxt
          FROM events
        ),
        trans AS (
          SELECT event_type AS src, nxt AS dst, count(*) AS n
          FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
        ),
        outdeg AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot
                   FROM trans GROUP BY 1)
        SELECT src, dst, n,
               round(CAST(n AS DOUBLE) / tot, 4) AS p
        FROM trans JOIN outdeg USING (src)
        ORDER BY src, dst
    """,
    doc="First-order behavioral transition matrix: P(next event type | "
    "current) per adjacent event pair within a user's timeline — the "
    "Markov readout funnels summarize away (error loops, "
    "view-to-purchase shortcuts). One user-partitioned lead() window "
    "(the sessionize shape), one pair-keyed count, out-degree totals "
    "broadcast back.",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn("nxt", F.lead("event_type").over(w)).filter(
        F.col("nxt").isNotNull()
    )
    trans = seq.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count(F.lit(1)).alias("n"))
    outdeg = trans.groupBy("src").agg(F.sum("n").alias("tot"))
    return (
        trans.join(F.broadcast(outdeg), "src")
        .select(
            "src",
            "dst",
            "n",
            F.round(F.col("n").cast("double") / F.col("tot"), 4).alias("p"),
        )
        .orderBy("src", "dst")
    )


@register(
    "q_pacf",
    oracle="""
        WITH series AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ),
        mu AS (
          SELECT event_type, CAST(sum(x) AS BIGINT) AS sx,
                 count(*) AS n
          FROM series GROUP BY 1
        ),
        lagged AS (
          SELECT s.event_type, s.x,
                 lag(s.x, 1) OVER w AS x1,
                 lag(s.x, 2) OVER w AS x2,
                 lag(s.x, 3) OVER w AS x3,
                 mu.sx, mu.n
          FROM series s JOIN mu USING (event_type)
          WINDOW w AS (PARTITION BY s.event_type ORDER BY s.h)
        ),
        acf AS (
          SELECT event_type, min(n) AS n_hours,
                 round(CAST(sum(CAST(round(
                     (x - CAST(sx AS DOUBLE) / n)
                     * (x1 - CAST(sx AS DOUBLE) / n), 6) AS DECIMAL(18,6)))
                   AS DOUBLE)
                   / CAST(sum(CAST(round(
                       (x - CAST(sx AS DOUBLE) / n)
                       * (x - CAST(sx AS DOUBLE) / n), 6) AS DECIMAL(18,6)))
                     AS DOUBLE), 9) AS r1,
                 round(CAST(sum(CAST(round(
                     (x - CAST(sx AS DOUBLE) / n)
                     * (x2 - CAST(sx AS DOUBLE) / n), 6) AS DECIMAL(18,6)))
                   AS DOUBLE)
                   / CAST(sum(CAST(round(
                       (x - CAST(sx AS DOUBLE) / n)
                       * (x - CAST(sx AS DOUBLE) / n), 6) AS DECIMAL(18,6)))
                     AS DOUBLE), 9) AS r2,
                 round(CAST(sum(CAST(round(
                     (x - CAST(sx AS DOUBLE) / n)
                     * (x3 - CAST(sx AS DOUBLE) / n), 6) AS DECIMAL(18,6)))
                   AS DOUBLE)
                   / CAST(sum(CAST(round(
                       (x - CAST(sx AS DOUBLE) / n)
                       * (x - CAST(sx AS DOUBLE) / n), 6) AS DECIMAL(18,6)))
                     AS DOUBLE), 9) AS r3
          FROM lagged GROUP BY event_type
        ),
        dl AS (
          SELECT event_type, n_hours, r1, r2, r3,
                 round((r2 - r1 * r1) / (1 - r1 * r1), 9) AS p2
          FROM acf
        ),
        dl2 AS (
          SELECT *, round(r1 - p2 * r1, 9) AS phi21 FROM dl
        )
        SELECT event_type, n_hours,
               round(r1, 4) AS pacf_1,
               round(p2, 4) AS pacf_2,
               round((r3 - phi21 * r2 - p2 * r1)
                     / (1 - phi21 * r1 - p2 * r2), 4) AS pacf_3
        FROM dl2 ORDER BY event_type
    """,
    doc="Partial autocorrelation (PACF) of the hourly event-count "
    "series at lags 1-3 per event type, via the closed-form "
    "Durbin-Levinson recursion on the sample ACF: phi11=r1, "
    "phi22=(r2-r1^2)/(1-r1^2), phi33 from the level-2 coefficients — "
    "the AR-order diagnostic beside q_acf's MA-side view. The heavy "
    "part (hour-bucketed counts, one partitioned window pass, "
    "DECIMAL-summed deviation products) is exactly q_acf's "
    "domain-bounded shape; the recursion itself is a per-group scalar "
    "epilogue with every intermediate rounded to 9 dp so both engines "
    "walk identical doubles. Lag terms with no partner drop from the "
    "numerators only (the sample-ACF convention).",
)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    series = e.groupBy(
        "event_type",
        (F.col("ts").cast("long") / 3600).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).alias("x"))
    mu = series.groupBy("event_type").agg(
        F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = (
        series.join(F.broadcast(mu), "event_type")
        .withColumn("x1", F.lag("x", 1).over(w))
        .withColumn("x2", F.lag("x", 2).over(w))
        .withColumn("x3", F.lag("x", 3).over(w))
    )
    m = F.col("sx").cast("double") / F.col("n")
    dev = F.col("x") - m

    def dsum(expr):
        return F.sum(F.round(expr, 6).cast("decimal(18,6)")).cast("double")

    acf = lagged.groupBy("event_type").agg(
        F.min("n").alias("n_hours"),
        F.round(dsum(dev * (F.col("x1") - m)) / dsum(dev * dev), 9).alias("r1"),
        F.round(dsum(dev * (F.col("x2") - m)) / dsum(dev * dev), 9).alias("r2"),
        F.round(dsum(dev * (F.col("x3") - m)) / dsum(dev * dev), 9).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    dl = acf.withColumn(
        "p2", F.round((r2 - r1 * r1) / (F.lit(1) - r1 * r1), 9)
    )
    dl2 = dl.withColumn("phi21", F.round(r1 - F.col("p2") * r1, 9))
    p2, phi21 = F.col("p2"), F.col("phi21")
    return dl2.select(
        "event_type",
        "n_hours",
        F.round(r1, 4).alias("pacf_1"),
        F.round(p2, 4).alias("pacf_2"),
        F.round(
            (r3 - phi21 * r2 - p2 * r1) / (F.lit(1) - phi21 * r1 - p2 * r2), 4
        ).alias("pacf_3"),
    ).orderBy("event_type")


@register(
    "q_sax_symbols",
    oracle="""
        WITH series AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ),
        mom AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(x * x) AS BIGINT) AS sx2
          FROM series GROUP BY 1
        ),
        znorm AS (
          SELECT s.event_type, m.n,
                 CAST(row_number() OVER (PARTITION BY s.event_type
                                         ORDER BY s.h) AS BIGINT) AS rn,
                 round((s.x - CAST(m.sx AS DOUBLE) / m.n)
                       / (CASE WHEN CAST(m.sx2 AS DOUBLE) / m.n
                                    - (CAST(m.sx AS DOUBLE) / m.n)
                                      * (CAST(m.sx AS DOUBLE) / m.n) > 0
                               THEN sqrt(CAST(m.sx2 AS DOUBLE) / m.n
                                         - (CAST(m.sx AS DOUBLE) / m.n)
                                           * (CAST(m.sx AS DOUBLE) / m.n))
                               ELSE 1.0 END), 6) AS z
          FROM series s JOIN mom m USING (event_type)
        ),
        paa AS (
          SELECT event_type, ((rn - 1) * 16) // n AS seg,
                 round(CAST(sum(CAST(z AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*), 6) AS pv,
                 min(n) AS n
          FROM znorm GROUP BY 1, 2
        )
        SELECT event_type, min(n) AS n_hours,
               string_agg(CASE WHEN pv < -0.6745 THEN 'a'
                               WHEN pv < 0.0 THEN 'b'
                               WHEN pv < 0.6745 THEN 'c'
                               ELSE 'd' END, '' ORDER BY seg) AS sax_word
        FROM paa GROUP BY event_type ORDER BY event_type
    """,
    doc="SAX symbolization (Lin et al. 2003) of the hourly event-count "
    "series per event type: z-normalize (population moments from EXACT "
    "integer sums, the cusum recipe — no Welford drift), Piecewise "
    "Aggregate Approximation into 16 segments (integer-div bucketing, "
    "DECIMAL-summed segment means), then map each PAA mean to a 4-"
    "letter alphabet at the N(0,1) equiprobable breakpoints "
    "(-0.6745, 0, 0.6745). The discretization behind motif/anomaly "
    "mining over telemetry at scale: the series is domain-bounded "
    "hour counts, the word is one ordered string_agg per type, and "
    "the whole plan is two keyed aggs + one window — nothing "
    "row-bounded leaves the executors.",
)
def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    series = e.groupBy(
        "event_type",
        (F.col("ts").cast("long") / 3600).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).alias("x"))
    mom = series.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    m = F.col("sx").cast("double") / F.col("n")
    var = F.col("sx2").cast("double") / F.col("n") - m * m
    s = F.when(var > 0, F.sqrt(var)).otherwise(F.lit(1.0))
    w = Window.partitionBy("event_type").orderBy("h")
    znorm = (
        series.join(F.broadcast(mom), "event_type")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .select(
            "event_type",
            "n",
            "rn",
            F.round((F.col("x") - m) / s, 6).alias("z"),
        )
    )
    paa = znorm.groupBy(
        "event_type", F.expr("((rn - 1) * 16) div n").alias("seg")
    ).agg(
        F.round(
            F.sum(F.col("z").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("pv"),
        F.min("n").alias("n"),
    )
    return (
        paa.groupBy("event_type")
        .agg(
            F.min("n").alias("n_hours"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "pv"))),
                    lambda s: F.when(s.pv < -0.6745, F.lit("a"))
                    .when(s.pv < 0.0, F.lit("b"))
                    .when(s.pv < 0.6745, F.lit("c"))
                    .otherwise(F.lit("d")),
                ),
                "",
            ).alias("sax_word"),
        )
        .orderBy("event_type")
    )


@register(
    "q_cusum_changepoint",
    oracle="""
        WITH series AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ),
        idx AS (
          SELECT event_type, h, x,
                 CAST(row_number() OVER w AS BIGINT) AS t,
                 CAST(sum(x) OVER w AS BIGINT) AS cum
          FROM series
          WINDOW w AS (PARTITION BY event_type ORDER BY h)
        ),
        mom AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(x * x) AS BIGINT) AS s2
          FROM series GROUP BY 1
        ),
        num AS (
          SELECT i.event_type, i.h,
                 abs(m.n * i.cum - i.t * m.sx) AS dev,
                 m.n, m.sx, m.s2
          FROM idx i JOIN mom m USING (event_type)
        ),
        mx AS (
          SELECT event_type, CAST(max(dev) AS BIGINT) AS m,
                 min(n) AS n, min(sx) AS sx, min(s2) AS s2
          FROM num GROUP BY 1
        )
        SELECT mx.event_type,
               mx.n AS n_hours,
               (SELECT min(h) FROM num
                WHERE num.event_type = mx.event_type AND num.dev = mx.m)
                   AS changepoint_h,
               round(CAST(mx.m AS DOUBLE)
                     / (mx.n * sqrt(CAST(mx.s2 AS DOUBLE) / mx.n
                                    - (CAST(mx.sx AS DOUBLE) / mx.n)
                                      * (CAST(mx.sx AS DOUBLE) / mx.n))
                          * sqrt(CAST(mx.n AS DOUBLE))), 4) AS cusum_stat,
               CAST(CAST(mx.m AS DOUBLE)
                    / (mx.n * sqrt(CAST(mx.s2 AS DOUBLE) / mx.n
                                   - (CAST(mx.sx AS DOUBLE) / mx.n)
                                     * (CAST(mx.sx AS DOUBLE) / mx.n))
                         * sqrt(CAST(mx.n AS DOUBLE))) > 1.358 AS INT)
                   AS shift_detected
        FROM mx ORDER BY mx.event_type
    """,
    doc="CUSUM mean-shift detection over the hourly event-count series: "
    "the maximum |cumulative deviation| is carried as the INTEGER "
    "|n*cum - t*sx| (no float until the scalar epilogue), normalized "
    "by sigma*sqrt(n) and compared to the Brownian-bridge 5% critical "
    "value 1.358; ties on the argmax hour break to the earliest. Same "
    "domain-bounded hour-series shape as q_acf — the per-type window "
    "never sees raw rows.",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    series = e.groupBy(
        "event_type",
        (F.col("ts").cast("long") / 3600).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy("event_type").orderBy("h")
    idx = series.select(
        "event_type",
        "h",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("x").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
    )
    mom = series.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    num = idx.join(F.broadcast(mom), "event_type").select(
        "event_type",
        "h",
        F.abs(F.col("n") * F.col("cum") - F.col("t") * F.col("sx")).alias(
            "dev"
        ),
        "n",
        "sx",
        "s2",
    )
    num = managed_persist(num)  # max pass + argmax pass share it
    mx = num.groupBy("event_type").agg(
        F.max("dev").alias("m"),
        F.min("n").alias("n"),
        F.min("sx").alias("sx"),
        F.min("s2").alias("s2"),
    )
    arg = (
        num.join(
            F.broadcast(mx.select("event_type", "m")), "event_type"
        )
        .filter(F.col("dev") == F.col("m"))
        .groupBy("event_type")
        .agg(F.min("h").alias("changepoint_h"))
    )
    mean = F.col("sx").cast("double") / F.col("n")
    sigma = F.sqrt(F.col("s2").cast("double") / F.col("n") - mean * mean)
    stat = F.col("m").cast("double") / (
        F.col("n") * sigma * F.sqrt(F.col("n").cast("double"))
    )
    return (
        mx.join(F.broadcast(arg), "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_hours"),
            "changepoint_h",
            F.round(stat, 4).alias("cusum_stat"),
            (stat > 1.358).cast("int").alias("shift_detected"),
        )
        .orderBy("event_type")
    )


@register(
    "q_rfm_segments",
    oracle="""
        WITH rfm AS (
          SELECT user_id,
                 max(CAST(floor(epoch(ts)) AS BIGINT)) AS recency,
                 CAST(count(*) AS BIGINT) AS frequency,
                 sum(CAST("value" AS DECIMAL(18,2))) AS monetary
          FROM events WHERE event_type = 'purchase' GROUP BY user_id
        ),
        th AS (
          SELECT quantile_cont(CAST(recency AS DOUBLE), 1.0/3) AS r1,
                 quantile_cont(CAST(recency AS DOUBLE), 2.0/3) AS r2,
                 quantile_cont(CAST(frequency AS DOUBLE), 1.0/3) AS f1,
                 quantile_cont(CAST(frequency AS DOUBLE), 2.0/3) AS f2,
                 quantile_cont(CAST(monetary AS DOUBLE), 1.0/3) AS m1,
                 quantile_cont(CAST(monetary AS DOUBLE), 2.0/3) AS m2
          FROM rfm
        ),
        seg AS (
          SELECT 'R' || (1 + CAST(CAST(recency AS DOUBLE) > th.r1 AS INT)
                           + CAST(CAST(recency AS DOUBLE) > th.r2 AS INT))
              || 'F' || (1 + CAST(CAST(frequency AS DOUBLE) > th.f1 AS INT)
                           + CAST(CAST(frequency AS DOUBLE) > th.f2 AS INT))
              || 'M' || (1 + CAST(CAST(monetary AS DOUBLE) > th.m1 AS INT)
                           + CAST(CAST(monetary AS DOUBLE) > th.m2 AS INT))
                 AS segment,
                 monetary
          FROM rfm CROSS JOIN th
        )
        SELECT segment, count(*) AS n_users,
               round(CAST(sum(monetary) AS DOUBLE) / count(*) + 0.000001, 2)
                   AS avg_monetary
        FROM seg GROUP BY segment ORDER BY segment
    """,
    doc="RFM segmentation (recency / frequency / monetary terciles): "
    "the classic behavioral-value grid, built the quantile_buckets way "
    "— tercile thresholds are ONE exact-percentile aggregate broadcast "
    "back, never an ntile window over users; monetary sums exact "
    "DECIMAL(18,2) so the per-segment averages can't drift.",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    rfm = e.groupBy("user_id").agg(
        F.max(F.col("ts").cast("long")).alias("recency"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("monetary"),
    )
    th = rfm.agg(
        *[
            F.percentile(F.col(c).cast("double"), F.lit(p)).alias(f"{c[0]}{i}")
            for c in ("recency", "frequency", "monetary")
            for i, p in ((1, 1.0 / 3), (2, 2.0 / 3))
        ]
    )

    def score(c):
        return (
            F.lit(1)
            + (F.col(c).cast("double") > F.col(f"{c[0]}1")).cast("int")
            + (F.col(c).cast("double") > F.col(f"{c[0]}2")).cast("int")
        )

    seg = rfm.crossJoin(F.broadcast(th)).select(
        F.concat(
            F.lit("R"), score("recency").cast("string"),
            F.lit("F"), score("frequency").cast("string"),
            F.lit("M"), score("monetary").cast("string"),
        ).alias("segment"),
        "monetary",
    )
    return (
        seg.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            # + 1e-6 before the round on BOTH sides: cent-exact sums
            # over even counts land on .xx5 halves, where Spark's
            # shortest-repr round-half-up and DuckDB's binary
            # round-half-even disagree (the q_window_running nudge)
            F.round(
                F.sum("monetary").cast("double") / F.count(F.lit(1))
                + F.lit(0.000001),
                2,
            ).alias("avg_monetary"),
        )
        .orderBy("segment")
    )


@register(
    "q_event_paths",
    oracle="""
        WITH seq AS (
          SELECT event_type,
                 lead(event_type, 1) OVER w AS e2,
                 lead(event_type, 2) OVER w AS e3
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_type || '>' || e2 || '>' || e3 AS path,
               count(*) AS n
        FROM seq WHERE e3 IS NOT NULL
        GROUP BY 1 ORDER BY n DESC, path LIMIT 10
    """,
    doc="Top-10 three-step behavioral paths (the transition matrix's "
    "sequence-level sibling): two lead() offsets in one user-"
    "partitioned window pass, one path-keyed count, TakeOrdered "
    "top-10 — no global sort.",
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        e.withColumn("e2", F.lead("event_type", 1).over(w))
        .withColumn("e3", F.lead("event_type", 2).over(w))
        .filter(F.col("e3").isNotNull())
    )
    return (
        seq.groupBy(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(10)
    )


@register(
    "q_event_debounce",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(ts) OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) AS prev_ts
            FROM events WHERE user_id <= 50
        ),
        marked AS (
            SELECT user_id, event_type, ts, event_id,
                   CASE WHEN prev_ts IS NULL
                             OR epoch(ts) - epoch(prev_ts) > 300
                        THEN 1 ELSE 0 END AS is_burst_start
            FROM seq
        ),
        bursts AS (
            SELECT user_id, event_type, ts, event_id,
                   sum(is_burst_start) OVER (
                     PARTITION BY user_id, event_type
                     ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS burst_id
            FROM marked
        )
        SELECT user_id, event_type,
               CAST(burst_id AS BIGINT) AS burst_id,
               min(ts) AS burst_start,
               CAST(min_by(event_id,
                           lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                           || '-' ||
                           lpad(CAST(event_id AS VARCHAR), 20, '0'))
                       AS BIGINT) AS kept_event_id,
               CAST(count(*) AS BIGINT) AS n_in_burst,
               CAST(count(*) - 1 AS BIGINT) AS n_suppressed
        FROM bursts GROUP BY 1, 2, 3
        ORDER BY user_id, event_type, burst_id
    """,
    doc="Telemetry debounce via gaps-and-islands: within (user, type), "
    "events chained closer than 5 minutes form one burst; keep the "
    "burst's first event, count the suppressed repeats — the retry/"
    "double-click/flapping-sensor cleanup every event pipeline runs "
    "before counting anything. One (user, type)-partitioned lag + "
    "running-sum window pass, burst-keyed agg; deterministic "
    "(ts, event_id) ordering. (True capacitor-debounce — gap measured "
    "from the last KEPT event — is sequential by construction; the "
    "islands form is what batch pipelines deploy.)",
)
def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).filter(F.col("user_id") <= 50)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    burst_start = (
        prev_ts.isNull()
        | (F.col("ts").cast("long") - prev_ts.cast("long") > 300)
    ).cast("long")
    bursts = e.select("user_id", "event_type", "ts", "event_id").withColumn(
        "burst_id",
        F.sum(burst_start).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        bursts.groupBy("user_id", "event_type", "burst_id")
        .agg(
            F.min("ts").alias("burst_start"),
            # composite scalar key (zero-padded epoch-us + id): DuckDB's
            # min_by takes scalar keys only, so both engines order by
            # the same lexicographic string
            F.min_by(
                "event_id",
                F.concat(
                    F.lpad(
                        F.unix_micros("ts").cast("string"), 20, "0"
                    ),
                    F.lit("-"),
                    F.lpad(F.col("event_id").cast("string"), 20, "0"),
                ),
            )
            .cast("long")
            .alias("kept_event_id"),
            F.count(F.lit(1)).alias("n_in_burst"),
            (F.count(F.lit(1)) - 1).alias("n_suppressed"),
        )
        .orderBy("user_id", "event_type", "burst_id")
    )


@register(
    "q_psi_drift",
    oracle="""
        WITH base AS (
            SELECT value AS v,
                   CAST(event_type = 'view' AS INT) AS is_e
            FROM events WHERE event_type IN ('view', 'click')
        ),
        rng AS (
            SELECT min(v) AS lo, max(v) AS hi FROM base WHERE is_e = 1
        ),
        binned AS (
            SELECT CASE WHEN rng.hi <= rng.lo THEN 0
                        ELSE CAST(least(9, greatest(0,
                               floor((v - rng.lo)
                                     / ((rng.hi - rng.lo) / 10.0))))
                             AS INT) END AS b,
                   is_e
            FROM base CROSS JOIN rng
        ),
        counts AS (
            SELECT b, CAST(sum(is_e) AS BIGINT) AS ce,
                   CAST(sum(1 - is_e) AS BIGINT) AS ca
            FROM binned GROUP BY 1
        ),
        tot AS (
            SELECT CAST(sum(ce) AS BIGINT) AS ne,
                   CAST(sum(ca) AS BIGINT) AS na
            FROM counts
        )
        SELECT min(tot.ne) AS n_expected,
               min(tot.na) AS n_actual,
               round(CAST(sum(CAST(round(
                   (CAST(greatest(ca, 1) AS DOUBLE) / tot.na
                    - CAST(greatest(ce, 1) AS DOUBLE) / tot.ne)
                   * ln((CAST(greatest(ca, 1) AS DOUBLE) / tot.na)
                        / (CAST(greatest(ce, 1) AS DOUBLE) / tot.ne)), 9)
                 AS DECIMAL(20,9))) AS DOUBLE), 6) AS psi,
               CAST(round(CAST(sum(CAST(round(
                   (CAST(greatest(ca, 1) AS DOUBLE) / tot.na
                    - CAST(greatest(ce, 1) AS DOUBLE) / tot.ne)
                   * ln((CAST(greatest(ca, 1) AS DOUBLE) / tot.na)
                        / (CAST(greatest(ce, 1) AS DOUBLE) / tot.ne)), 9)
                 AS DECIMAL(20,9))) AS DOUBLE), 6) > 0.25 AS INT)
                   AS drift_flag
        FROM counts CROSS JOIN tot
    """,
    doc="Population Stability Index between the view and click value "
    "distributions: 10 equal-width bins over the EXPECTED (view) "
    "cohort's range (the deployed convention — the baseline defines "
    "the grid), actual values clamped to edge bins, add-one smoothing "
    "on empty bins, DECIMAL-summed per-bin terms. The drift stat ops "
    "teams page on (> 0.25 = drifted), complementing KS (no binning) "
    "and KL token drift (categorical) "
    "(operators/stats.psi_drift).",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators.stats import psi_drift

    e = load_table(spark, "events", sf_dir)
    return psi_drift(e, "value", "event_type", "view", "click", n_bins=10)


@register(
    "q_holt_forecast",
    oracle="""
        WITH RECURSIVE s AS (
          SELECT user_id, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn,
                 count(*) OVER (PARTITION BY user_id) AS n
          FROM events WHERE user_id < 30 AND value IS NOT NULL
        ), rec AS (
          SELECT s0.user_id, s0.n, 1 AS rn,
                 s0.value AS l,
                 COALESCE(s1.value - s0.value, 0.0) AS b
          FROM s s0 LEFT JOIN s s1
            ON s1.user_id = s0.user_id AND s1.rn = 2
          WHERE s0.rn = 1
          UNION ALL
          SELECT r.user_id, r.n, r.rn + 1,
                 0.5 * nx.value + 0.5 * (r.l + r.b),
                 0.5 * ((0.5 * nx.value + 0.5 * (r.l + r.b)) - r.l)
                   + 0.5 * r.b
          FROM rec r JOIN s nx
            ON nx.user_id = r.user_id AND nx.rn = r.rn + 1
        )
        SELECT user_id, CAST(n AS BIGINT) AS n,
               round(l, 6) AS level, round(b, 6) AS trend,
               round(l + 3 * b, 6) AS forecast
        FROM rec WHERE rn = n ORDER BY user_id
    """,
    doc="Holt double-exponential smoothing (level + linear trend, "
    "alpha=beta=1/2, init l0=y0 b0=y1-y0) per user over the events "
    "stream, forecasting 3 steps ahead — the standard public "
    "short-horizon forecaster. Sequential within a key, parallel "
    "across keys (applyInPandas after one key shuffle, the canonical "
    "per-entity state-machine shape; operators/stats.holt_linear). "
    "Exact binary smoothing constants + a pinned op order make the "
    "float trajectory bit-identical to the DuckDB recursive-CTE "
    "twin, which replays the full recurrence — every step of every "
    "user's state is value-hash-checked, like q_multimodal_adpcm's "
    "codec oracle.",
)
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators.stats import holt_linear

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 30)
    return holt_linear(
        ev, "user_id", ["ts", "event_id"], "value",
        alpha=0.5, beta=0.5, horizon=3,
    ).orderBy("user_id")


@register(
    "q_proportion_ztest",
    oracle="""
        WITH m AS (
          SELECT
            CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n1,
            CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n2,
            CAST(sum(CASE WHEN user_id % 2 = 0
                          AND event_type = 'purchase'
                     THEN 1 ELSE 0 END) AS BIGINT) AS x1,
            CAST(sum(CASE WHEN user_id % 2 = 1
                          AND event_type = 'purchase'
                     THEN 1 ELSE 0 END) AS BIGINT) AS x2
          FROM events WHERE user_id IS NOT NULL
        )
        SELECT n1, n2, x1, x2,
               round(CAST(x1 AS DOUBLE) / n1, 6) AS rate_1,
               round(CAST(x2 AS DOUBLE) / n2, 6) AS rate_2,
               round((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                     / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                            * (1 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                            * (1.0 / n1 + 1.0 / n2)), 6) AS z_score
        FROM m
    """,
    doc="Two-proportion pooled z-test of purchase conversion between "
    "even/odd user cohorts — the A/B test for binary outcomes "
    "(completing the test battery: Welch t for means, Mann-Whitney "
    "for distributions, chi2 for independence, this for rates). ONE "
    "conditional aggregation builds four exact integer counts; the "
    "pooled-variance z is a scalar epilogue. Cheapest possible plan "
    "at any scale: single pass, O(1) state, no shuffle beyond the "
    "4-number partial merge.",
)
def q_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    is1 = (F.col("user_id") % 2) == 0
    purch = F.col("event_type") == "purchase"
    m = ev.agg(
        F.sum(F.when(is1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~is1, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(is1 & purch, 1).otherwise(0)).alias("x1"),
        F.sum(F.when(~is1 & purch, 1).otherwise(0)).alias("x2"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    x1, x2 = F.col("x1").cast("double"), F.col("x2").cast("double")
    p = (x1 + x2) / (n1 + n2)
    z = (x1 / n1 - x2 / n2) / F.sqrt(
        p * (1 - p) * (F.lit(1.0) / n1 + F.lit(1.0) / n2)
    )
    return m.select(
        "n1", "n2", "x1", "x2",
        F.round(x1 / n1, 6).alias("rate_1"),
        F.round(x2 / n2, 6).alias("rate_2"),
        F.round(z, 6).alias("z_score"),
    )


@register(
    "q_theil_sen",
    oracle="""
        WITH e AS (
          SELECT user_id, epoch(ts) AS t, value
          FROM events
          WHERE user_id < 25 AND value IS NOT NULL AND ts IS NOT NULL
        ), slopes AS (
          SELECT a.user_id,
                 (b.value - a.value) / (b.t - a.t) AS slope
          FROM e a JOIN e b
            ON a.user_id = b.user_id AND a.t < b.t
        ), ranked AS (
          SELECT user_id, slope,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY slope) AS rn,
                 count(*) OVER (PARTITION BY user_id) AS m
          FROM slopes
        )
        SELECT user_id, CAST(m AS BIGINT) AS n_pairs,
               round(slope, 6) + 0.0 AS ts_slope
        FROM ranked WHERE rn = (m + 1) // 2
        ORDER BY user_id
    """,
    doc="Theil-Sen robust trend estimator per user: the LOWER MEDIAN "
    "of all pairwise slopes (v_j-v_i)/(t_j-t_i) over the user's "
    "event series — the standard outlier-resistant alternative to "
    "the OLS slope (breaks down only at 29% contamination vs OLS's "
    "0%). Lower median (element (m+1)//2 of the sorted slopes) "
    "instead of the interpolated median keeps the result an actual "
    "computed slope — one IEEE division, bit-identical across "
    "engines, no averaging drift. Pairs come from a per-key "
    "self-join (quadratic IN THE KEY GROUP only — bounded by "
    "per-entity series length, never corpus-wide; the keyed window "
    "rank is equally bounded). Timestamps compare as exact epoch "
    "integers; equal-timestamp pairs are excluded (undefined slope).",
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = (
        load_table(spark, "events", sf_dir)
        .filter(
            (F.col("user_id") < 25)
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
        )
        .select(
            "user_id",
            F.unix_timestamp("ts").alias("t"),
            "value",
        )
    )
    a = e.select("user_id", F.col("t").alias("t1"), F.col("value").alias("v1"))
    b = e.select(
        F.col("user_id").alias("u2"),
        F.col("t").alias("t2"),
        F.col("value").alias("v2"),
    )
    slopes = a.join(
        b, (F.col("user_id") == F.col("u2")) & (F.col("t1") < F.col("t2"))
    ).select(
        "user_id",
        ((F.col("v2") - F.col("v1")) / (F.col("t2") - F.col("t1"))).alias(
            "slope"
        ),
    )
    w = W.partitionBy("user_id").orderBy("slope")
    wc = W.partitionBy("user_id")
    ranked = slopes.select(
        "user_id",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("m"),
    )
    return (
        ranked.filter(F.col("rn") == F.floor((F.col("m") + 1) / 2))
        .select(
            "user_id",
            F.col("m").alias("n_pairs"),
            # + 0.0 folds IEEE negative zero (a rounded -1e-9) to +0.0
            # on both engines so the value-hash cannot split on -0.0
            (F.round("slope", 6) + F.lit(0.0)).alias("ts_slope"),
        )
        .orderBy("user_id")
    )


@register(
    "q_runs_test",
    oracle="""
        WITH e AS (
          SELECT user_id, ts, event_id, value
          FROM events
          WHERE user_id < 40 AND value IS NOT NULL AND ts IS NOT NULL
        ), med AS (
          SELECT user_id, value AS med FROM (
            SELECT user_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY value, event_id) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM e
          ) WHERE rn = (n + 1) // 2
        ), seq AS (
          SELECT e.user_id, e.ts, e.event_id,
                 CASE WHEN e.value > med.med THEN 1 ELSE 0 END AS s
          FROM e JOIN med ON e.user_id = med.user_id
          WHERE e.value <> med.med
        ), runs AS (
          SELECT user_id, s,
                 CASE WHEN lag(s) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) IS DISTINCT
                           FROM s THEN 1 ELSE 0 END AS st
          FROM seq
        ), m AS (
          SELECT user_id,
                 CAST(sum(st) AS BIGINT) AS r,
                 CAST(sum(s) AS BIGINT) AS n1,
                 CAST(count(*) - sum(s) AS BIGINT) AS n2
          FROM runs GROUP BY user_id
        )
        SELECT user_id, r AS n_runs, n1, n2,
               round((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
                     / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                            / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                               * (n1 + n2 - 1))), 6) + 0.0 AS z_score
        FROM m WHERE n1 > 0 AND n2 > 0 AND n1 + n2 > 1
        ORDER BY user_id
    """,
    doc="Wald-Wolfowitz runs test per user: binarize each event value "
    "against the user's LOWER MEDIAN (an actual data value from the "
    "keyed rank window — no interpolation, so the split is exact), "
    "drop median-equal points, count sign runs with one keyed lag "
    "window, and score run-count vs the exact-integer null "
    "moments — the sequence-randomness audit (does a user's metric "
    "alternate suspiciously or trend in streaks?). All counts exact; "
    "z is a scalar epilogue with the -0.0 fold. Everything runs in "
    "per-key windows: median rank, lag, and aggregation all shuffle "
    "once on user_id.",
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = (
        load_table(spark, "events", sf_dir)
        .filter(
            (F.col("user_id") < 40)
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
        )
        .select("user_id", "ts", "event_id", "value")
    )
    wv = W.partitionBy("user_id").orderBy("value", "event_id")
    wc = W.partitionBy("user_id")
    med = (
        e.select(
            "user_id",
            "value",
            F.row_number().over(wv).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select("user_id", F.col("value").alias("med"))
    )
    seq = (
        e.join(med, "user_id")
        .filter(F.col("value") != F.col("med"))
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("value") > F.col("med"), 1).otherwise(0).alias("s"),
        )
    )
    wt = W.partitionBy("user_id").orderBy("ts", "event_id")
    runs = seq.select(
        "user_id",
        "s",
        F.when(
            ~F.lag("s").over(wt).eqNullSafe(F.col("s")), 1
        ).otherwise(0).alias("st"),
    )
    m = runs.groupBy("user_id").agg(
        F.sum("st").alias("r"),
        F.sum("s").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).alias("n2"),
    )
    r = F.col("r").cast("double")
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    )
    return (
        m.filter((F.col("n1") > 0) & (F.col("n2") > 0) & (F.col("n1") + F.col("n2") > 1))
        .select(
            "user_id",
            F.col("r").alias("n_runs"),
            "n1",
            "n2",
            (F.round((r - mu) / F.sqrt(var), 6) + F.lit(0.0)).alias("z_score"),
        )
        .orderBy("user_id")
    )


@register(
    "q_decayed_heavy_hitters",
    oracle="""
        WITH mx AS (
          SELECT max(epoch_us(ts)) AS tmax FROM events
        ), w AS (
          SELECT user_id,
                 CASE CAST(floor((mx.tmax - epoch_us(ts)) / 604800000000.0)
                           AS INT)
                   WHEN 0 THEN 1.0
                   WHEN 1 THEN 0.5
                   WHEN 2 THEN 0.25
                   WHEN 3 THEN 0.125
                   ELSE 0.0625
                 END AS wt
          FROM events, mx
        )
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(sum(CAST(wt AS DECIMAL(28,10))) AS DOUBLE), 6)
                 AS decayed_score
        FROM w GROUP BY user_id
        ORDER BY decayed_score DESC, user_id LIMIT 20
    """,
    doc="Time-decayed heavy hitters: per-user event counts weighted by "
    "recency with a 1-week half-life, the monitoring-dashboard "
    "'trending entities' ranking. Decay is WEEK-BUCKETED so every "
    "weight is an exact power of 1/2 chosen by a CASE on the integer "
    "age bucket - zero libm exp/pow in either engine (the "
    "q_ewma_halflife determinism recipe), summed as exact "
    "DECIMAL(28,10) so reducer order cannot drift the ranking. Age "
    "comes from exact integer microsecond differences against the "
    "broadcast 1-row max-timestamp aggregate. Plan: one scan, one "
    "user-keyed map-side-combined aggregate, TakeOrdered top-20 - no "
    "window, no second scan; at stream scale the same CASE fold runs "
    "per micro-batch and the decimal partials merge associatively.",
)
def q_decayed_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    mx = ev.agg(F.max(F.unix_micros("ts")).alias("tmax"))
    age_w = F.floor(
        (F.col("tmax") - F.unix_micros("ts")) / F.lit(604800000000.0)
    ).cast("int")
    wt = (
        F.when(age_w == 0, F.lit(1.0))
        .when(age_w == 1, F.lit(0.5))
        .when(age_w == 2, F.lit(0.25))
        .when(age_w == 3, F.lit(0.125))
        .otherwise(F.lit(0.0625))
    )
    return (
        ev.crossJoin(F.broadcast(mx))
        .select("user_id", wt.cast("decimal(28,10)").alias("wt"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("wt").cast("double"), 6).alias("decayed_score"),
        )
        .orderBy(F.desc("decayed_score"), "user_id")
        .limit(20)
    )


@register(
    "q_mann_kendall",
    oracle="""
        WITH e AS (
          SELECT user_id, t, arg_min(value, event_id) AS v
          FROM (
            SELECT user_id, epoch(ts) AS t, value, event_id
            FROM events
            WHERE user_id < 25 AND value IS NOT NULL AND ts IS NOT NULL
          ) GROUP BY user_id, t
        ),
        s AS (
          SELECT a.user_id,
                 CAST(sum(CASE WHEN b.v > a.v THEN 1
                               WHEN b.v < a.v THEN -1 ELSE 0 END)
                      AS BIGINT) AS s_stat
          FROM e a JOIN e b
            ON a.user_id = b.user_id AND a.t < b.t
          GROUP BY a.user_id
        ),
        n AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
          FROM e GROUP BY user_id
        ),
        ties AS (
          SELECT user_id,
                 CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tie_term
          FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS c
                FROM e GROUP BY user_id, v)
          GROUP BY user_id
        )
        SELECT n.user_id, n.n_events, s.s_stat,
               round(CASE
                 WHEN n.n_events * (n.n_events - 1) * (2 * n.n_events + 5)
                      - ties.tie_term <= 0 THEN 0.0
                 WHEN s.s_stat > 0 THEN (s.s_stat - 1) / sqrt(
                   (n.n_events * (n.n_events - 1) * (2 * n.n_events + 5)
                    - ties.tie_term) / 18.0)
                 WHEN s.s_stat < 0 THEN (s.s_stat + 1) / sqrt(
                   (n.n_events * (n.n_events - 1) * (2 * n.n_events + 5)
                    - ties.tie_term) / 18.0)
                 ELSE 0.0
               END, 6) + 0.0 AS mk_z
        FROM n JOIN s USING (user_id) JOIN ties USING (user_id)
        WHERE n.n_events >= 3
        ORDER BY user_id
    """,
    doc="Mann-Kendall monotone-trend test per user - the standard "
    "nonparametric companion to q_theil_sen's slope (MK decides IF a "
    "trend exists; Theil-Sen estimates HOW steep). S = sum over "
    "time-ordered pairs of sign(v_j - v_i); Var(S) uses the classic "
    "tie-corrected form (n(n-1)(2n+5) - sum t(t-1)(2t+5))/18 and the "
    "continuity-corrected z = (S -/+ 1)/sqrt(Var). Time ties are "
    "removed up front by a deterministic min_by(event_id) "
    "representative per (user, timestamp) so the distinct-times "
    "variance formula is exact, not approximate. Every comparison is "
    "a CASE sign fold (no libm until the final sqrt, which is "
    "IEEE-correctly-rounded on both engines); S and the tie term stay "
    "BIGINT-exact. Pairs come from a per-key self-join - quadratic in "
    "the per-entity series length ONLY, never corpus-wide; at 100 TB "
    "the key-group bound (and the O(n log n) inversion-count rewrite "
    "if groups grow) keeps this a bounded shuffle, and S/n/ties all "
    "reduce with map-side combine.",
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, "events", sf_dir)
        .filter(
            (F.col("user_id") < 25)
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
        )
        .select(
            "user_id",
            F.unix_timestamp("ts").alias("t"),
            "value",
            "event_id",
        )
        .groupBy("user_id", "t")
        .agg(F.min_by("value", "event_id").alias("v"))
    )
    a = ev.select("user_id", F.col("t").alias("t1"), F.col("v").alias("v1"))
    b = ev.select(
        F.col("user_id").alias("u2"),
        F.col("t").alias("t2"),
        F.col("v").alias("v2"),
    )
    sgn = (
        F.when(F.col("v2") > F.col("v1"), F.lit(1))
        .when(F.col("v2") < F.col("v1"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    s = (
        a.join(b, (F.col("user_id") == F.col("u2")) & (F.col("t1") < F.col("t2")))
        .groupBy("user_id")
        .agg(F.sum(sgn).cast("long").alias("s_stat"))
    )
    n = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    ties = (
        ev.groupBy("user_id", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)
            ).cast("long").alias("tie_term")
        )
    )
    var_num = (
        F.col("n_events")
        * (F.col("n_events") - 1)
        * (2 * F.col("n_events") + 5)
        - F.col("tie_term")
    )
    z = (
        F.when(var_num <= 0, F.lit(0.0))
        .when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt(var_num / F.lit(18.0)),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt(var_num / F.lit(18.0)),
        )
        .otherwise(F.lit(0.0))
    )
    return (
        n.join(s, "user_id")
        .join(ties, "user_id")
        .filter(F.col("n_events") >= 3)
        .select(
            "user_id",
            "n_events",
            "s_stat",
            (F.round(z, 6) + F.lit(0.0)).alias("mk_z"),
        )
        .orderBy("user_id")
    )


@register(
    "q_gorilla_ts_blocks",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(min(epoch_us(ts)) AS BIGINT) AS ts_min_us,
               CAST(max(epoch_us(ts)) AS BIGINT) AS ts_max_us
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Gorilla TSDB chunk build (Pelkonen et al., VLDB 2015 - the "
    "Prometheus/InfluxDB storage lineage): each event-type series is "
    "time-ordered and compressed into one real delta-of-delta + "
    "XOR-window block (operators/gorillacodec.py), then DECODED and "
    "reduced - the returned exact integer aggregates (cent-scaled "
    "value sums, epoch-microsecond bounds) must equal the oracle's "
    "aggregates over the raw table, proving the bit-exact lossless "
    "cycle through real compression. applyInPandas keyed by series: "
    "chunks never cross executors, append is per-chunk - the hot-tail "
    "ingest shape of a 100 TB metrics store. block_bytes (the "
    "compression readout) is asserted in tests, not oracled.",
)
def q_gorilla_ts_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators.gorillacodec import (
        gorilla_block_stats,
    )

    ev = load_table(spark, "events", sf_dir)
    return (
        gorilla_block_stats(ev)
        .drop("block_bytes")
        .orderBy("event_type")
    )


@register(
    "q_kaplan_meier",
    oracle="""
        WITH per_u AS (
          SELECT user_id,
                 CAST(min(floor(epoch(ts))) AS BIGINT) AS first_s,
                 CAST(max(floor(epoch(ts))) AS BIGINT) AS last_s
          FROM events GROUP BY 1
        ), hz AS (
          SELECT CAST(max(floor(epoch(ts))) AS BIGINT) AS horizon
          FROM events
        ), dur AS (
          SELECT CASE WHEN h.horizon - u.last_s > 43200
                      THEN (u.last_s - u.first_s) // 3600
                      ELSE (h.horizon - u.first_s) // 3600 END AS t,
                 CASE WHEN h.horizon - u.last_s > 43200
                      THEN 1 ELSE 0 END AS ev
          FROM per_u u, hz h
        ), at_t AS (
          SELECT t, CAST(count(*) AS BIGINT) AS a,
                 CAST(sum(ev) AS BIGINT) AS d
          FROM dur GROUP BY 1
        ), risk AS (
          SELECT t, a, d,
                 (SELECT CAST(count(*) AS BIGINT) FROM dur)
                 - CAST(coalesce(sum(a) OVER (
                     ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
          FROM at_t
        ), ev_only AS (
          SELECT t, n_risk, d,
                 CAST(round(ln(greatest(
                     1.0 - CAST(d AS DOUBLE) / n_risk, 1e-12)), 9)
                   AS DECIMAL(18,9)) AS lnterm
          FROM risk WHERE d > 0
        )
        SELECT t AS duration_h, n_risk, d AS d_events,
               round(exp(CAST(sum(lnterm) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS DOUBLE)), 6) AS survival
        FROM ev_only ORDER BY t
    """,
    doc="Kaplan-Meier survival curve of user lifetime (hours from "
    "first to last activity), right-censored at the observation "
    "horizon: a user whose last event is >12h before the corpus max "
    "timestamp churned (event observed); everyone else is censored "
    "at horizon. S(t) = prod_{t_i<=t}(1 - d_i/n_i) — the estimator "
    "behind retention curves that q_retention_cohort's fixed buckets "
    "approximate. Scale shape: per-user min/max is one keyed agg; "
    "risk sets come from cumulative counts over DISTINCT durations "
    "(domain-bounded — hours, never users); the product is "
    "exp(cumsum ln) with 9dp-DECIMAL ln terms so both engines walk "
    "identical partial products; greatest(.,1e-12) guards the "
    "everyone-dies tail. No per-user window, no global row sort.",
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    per_u = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("long")).alias("first_s"),
        F.max(F.col("ts").cast("long")).alias("last_s"),
    )
    hz = e.agg(F.max(F.col("ts").cast("long")).alias("horizon"))
    churned = (F.col("horizon") - F.col("last_s")) > 43200
    dur = per_u.crossJoin(F.broadcast(hz)).select(
        F.when(
            churned,
            F.expr("(last_s - first_s) div 3600"),
        )
        .otherwise(F.expr("(horizon - first_s) div 3600"))
        .alias("t"),
        F.when(churned, F.lit(1)).otherwise(F.lit(0)).alias("ev"),
    )
    at_t = dur.groupBy("t").agg(
        F.count(F.lit(1)).alias("a"), F.sum("ev").alias("d")
    )
    ntot = dur.agg(F.count(F.lit(1)).alias("nt"))
    w = Window.partitionBy(tiny_table_partition("t")).orderBy("t")
    risk = (
        at_t.crossJoin(F.broadcast(ntot))
        .withColumn(
            "n_risk",
            F.col("nt")
            - F.coalesce(
                F.sum("a").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .filter(F.col("d") > 0)
    )
    lnterm = F.round(
        F.log(
            F.greatest(
                F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"),
                F.lit(1e-12),
            )
        ),
        9,
    ).cast("decimal(18,9)")
    return (
        risk.withColumn("lnterm", lnterm)
        .withColumn(
            "survival",
            F.round(
                F.exp(
                    F.sum("lnterm")
                    .over(w.rowsBetween(Window.unboundedPreceding, 0))
                    .cast("double")
                ),
                6,
            ),
        )
        .select(
            F.col("t").alias("duration_h"),
            "n_risk",
            F.col("d").alias("d_events"),
            "survival",
        )
        .orderBy("duration_h")
    )


@register(
    "q_piecewise_trend",
    oracle="""
        WITH series AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ),
        idx AS (
          SELECT event_type, h, x,
                 CAST(row_number() OVER w AS BIGINT) AS t,
                 CAST(sum(x) OVER w AS BIGINT) AS cum
          FROM series
          WINDOW w AS (PARTITION BY event_type ORDER BY h)
        ),
        mom AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx
          FROM series GROUP BY 1
        ),
        dev AS (
          SELECT i.event_type, i.h,
                 abs(m.n * i.cum - i.t * m.sx) AS d
          FROM idx i JOIN mom m USING (event_type)
        ),
        cp AS (
          SELECT event_type, min(h) AS cp_h FROM dev
          WHERE d = (SELECT max(d2.d) FROM dev d2
                     WHERE d2.event_type = dev.event_type)
          GROUP BY 1
        ),
        seg AS (
          SELECT s.event_type, cp.cp_h,
                 CAST(s.h <= cp.cp_h AS INT) AS pre,
                 s.h, s.x
          FROM series s JOIN cp USING (event_type)
        ),
        fits AS (
          SELECT event_type, cp_h, pre,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(h AS HUGEINT)) AS sh,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(h AS HUGEINT) * h) AS shh,
                 sum(CAST(h AS HUGEINT) * x) AS shx
          FROM seg GROUP BY 1, 2, 3
        ),
        slopes AS (
          SELECT event_type, cp_h, pre, n,
                 round((CAST(n AS DOUBLE) * CAST(shx AS DOUBLE)
                        - CAST(sh AS DOUBLE) * CAST(sx AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(shh AS DOUBLE)
                          - CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE)),
                       6) AS slope
          FROM fits WHERE n >= 2
        )
        SELECT a.event_type, a.cp_h AS changepoint_h,
               a.n AS n_pre, b.n AS n_post,
               a.slope AS slope_pre, b.slope AS slope_post,
               round(b.slope - a.slope, 6) AS slope_delta
        FROM slopes a JOIN slopes b
          ON a.event_type = b.event_type AND a.pre = 1 AND b.pre = 0
        ORDER BY a.event_type
    """,
    doc="Piecewise (segmented) trend: OLS slope of the hourly "
    "event-count series BEFORE vs AFTER its CUSUM changepoint — the "
    "follow-up question every detected shift raises (did the level "
    "jump, or did the TREND change?). Changepoint selection is "
    "q_cusum_changepoint's integer |n*cum - t*sx| argmax (earliest-h "
    "tiebreak); each segment's slope comes from exact HUGEINT/DECIMAL "
    "moments (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) with no float until the "
    "final division. Scale shape: the same domain-bounded hour series "
    "as q_acf, one window pass for the cumulative deviation, two "
    "conditional moment aggregations — no per-event rows past the "
    "first agg.",
)
def q_piecewise_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    series = e.groupBy(
        "event_type",
        (F.col("ts").cast("long") / 3600).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy("event_type").orderBy("h")
    idx = series.select(
        "event_type",
        "h",
        "x",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("x").over(w).alias("cum"),
    )
    mom = series.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx")
    )
    dev = idx.join(F.broadcast(mom), "event_type").select(
        "event_type",
        "h",
        F.abs(F.col("n") * F.col("cum") - F.col("t") * F.col("sx")).alias(
            "d"
        ),
    )
    mx = dev.groupBy("event_type").agg(F.max("d").alias("dmax"))
    cp = (
        dev.join(F.broadcast(mx), "event_type")
        .filter(F.col("d") == F.col("dmax"))
        .groupBy("event_type")
        .agg(F.min("h").alias("cp_h"))
    )
    seg = series.join(F.broadcast(cp), "event_type").withColumn(
        "pre", (F.col("h") <= F.col("cp_h")).cast("int")
    )
    hd = F.col("h").cast("decimal(38,0)")
    xd = F.col("x").cast("decimal(38,0)")
    fits = seg.groupBy("event_type", "cp_h", "pre").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(hd).alias("sh"),
        F.sum(xd).alias("sxx"),
        F.sum(hd * hd).alias("shh"),
        F.sum(hd * xd).alias("shx"),
    )
    slope = F.round(
        (
            F.col("n").cast("double") * F.col("shx").cast("double")
            - F.col("sh").cast("double") * F.col("sxx").cast("double")
        )
        / (
            F.col("n").cast("double") * F.col("shh").cast("double")
            - F.col("sh").cast("double") * F.col("sh").cast("double")
        ),
        6,
    )
    slopes = fits.filter(F.col("n") >= 2).select(
        "event_type", "cp_h", "pre", "n", slope.alias("slope")
    )
    a = slopes.filter(F.col("pre") == 1).alias("a")
    b = slopes.filter(F.col("pre") == 0).alias("b")
    return (
        a.join(b, F.col("a.event_type") == F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.cp_h").alias("changepoint_h"),
            F.col("a.n").alias("n_pre"),
            F.col("b.n").alias("n_post"),
            F.col("a.slope").alias("slope_pre"),
            F.col("b.slope").alias("slope_post"),
            F.round(F.col("b.slope") - F.col("a.slope"), 6).alias(
                "slope_delta"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "q_transition_entropy",
    oracle="""
        WITH seq AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS nxt
          FROM events
        ),
        trans AS (
          SELECT event_type AS src, nxt AS dst,
                 CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
        ),
        outdeg AS (
          SELECT src, CAST(sum(n) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS n_dst
          FROM trans GROUP BY 1
        )
        SELECT t.src, o.n_dst, o.tot AS n_transitions,
               round(CAST(sum(CAST(round(
                   -(CAST(t.n AS DOUBLE) / o.tot)
                   * ln(CAST(t.n AS DOUBLE) / o.tot), 9)
                 AS DECIMAL(18,9))) AS DOUBLE), 6) AS row_entropy,
               round(CAST(sum(CAST(round(
                   -(CAST(t.n AS DOUBLE) / o.tot)
                   * ln(CAST(t.n AS DOUBLE) / o.tot), 9)
                 AS DECIMAL(18,9))) AS DOUBLE)
                 / ln(CAST(o.n_dst AS DOUBLE)), 6) AS normalized
        FROM trans t JOIN outdeg o USING (src)
        GROUP BY 1, 2, 3
        HAVING o.n_dst > 1
        ORDER BY 1
    """,
    doc="Markov transition-row entropy per source state: H(next | "
    "current = s) over q_event_transitions' first-order matrix, plus "
    "the ln(k)-normalized form — the navigation-predictability signal "
    "(a state whose row entropy collapses funnels users "
    "deterministically; near-1 normalized entropy means the next step "
    "is anyone's guess). Exact integer transition counts, per-term "
    "9dp DECIMAL sums; states with a single successor drop (H = 0 by "
    "definition, ln(1) normalization undefined — stated contract). "
    "Scale shape: one per-user window pass (the transition extraction "
    "q_event_transitions already pays), then two aggregations over "
    "the k^2-row transition matrix — domain-bounded.",
)
def q_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count(F.lit(1)).alias("n"))
    outdeg = trans.groupBy("src").agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("n_dst")
    )
    p = F.col("n").cast("double") / F.col("tot")
    ent = F.sum(F.round(-p * F.log(p), 9).cast("decimal(18,9)")).cast(
        "double"
    )
    return (
        trans.join(outdeg, "src")
        .groupBy("src", "n_dst", F.col("tot").alias("n_transitions"))
        .agg(
            F.round(ent, 6).alias("row_entropy"),
            F.round(
                ent / F.log(F.col("n_dst").cast("double")), 6
            ).alias("normalized"),
        )
        .filter(F.col("n_dst") > 1)
        .orderBy("src")
    )


@register(
    "q_dau_wau_stickiness",
    oracle="""
        WITH act AS (
          SELECT DISTINCT user_id,
                 CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
          FROM events
        ),
        bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM act),
        contrib AS (
          SELECT user_id, unnest(range(day, LEAST(day + 7,
                   (SELECT d1 FROM bounds) + 1))) AS day
          FROM act
        ),
        dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
                FROM act GROUP BY 1),
        wau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT)
                  AS wau
                FROM contrib GROUP BY 1),
        full7 AS (
          SELECT w.day, d.dau, w.wau
          FROM wau w JOIN dau d USING (day)
          WHERE w.day >= (SELECT d0 FROM bounds) + 6
        )
        SELECT day - (SELECT d0 FROM bounds) AS day_idx, dau, wau,
               round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
        FROM full7 ORDER BY day_idx
    """,
    doc="DAU / trailing-7-day WAU / stickiness (DAU/WAU) per day — the "
    "product-analytics engagement rollup. The sliding DISTINCT is the "
    "interesting part at scale: a 7-day window COUNT(DISTINCT) per "
    "day would re-scan a week of raw events per day; instead each "
    "(user, active-day) pair — already deduplicated, far smaller "
    "than events — is EXPLODED into the <= 7 future day-buckets it "
    "contributes to, and WAU is one partial-agged distinct count per "
    "bucket (the standard contribution-explode trick; cost = 7x the "
    "per-day distinct table, independent of raw event volume). Days "
    "with an incomplete trailing week are dropped (stated contract); "
    "exact integer counts, one float division.",
)
def q_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    act = e.select(
        "user_id",
        (F.col("ts").cast("long") / 86400).cast("long").alias("day"),
    ).distinct()
    act = managed_persist(act)
    bounds = act.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    contrib = act.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.least(F.col("day") + 6, F.col("d1")),
            )
        ).alias("day"),
    )
    dau = act.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    wau = contrib.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return (
        wau.join(dau.hint("shuffle_hash"), "day")
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("day") >= F.col("d0") + 6)
        .select(
            (F.col("day") - F.col("d0")).alias("day_idx"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day_idx")
    )


@register(
    "q_abc_analysis",
    oracle="""
        WITH rev AS (
          SELECT l_partkey AS pk,
                 sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                   AS r
          FROM lineitem GROUP BY 1
        ),
        b AS (
          SELECT min(CAST(r AS DOUBLE)) AS rmin,
                 max(CAST(r AS DOUBLE)) AS rmax,
                 CAST(sum(r) AS DECIMAL(38,0)) AS tot
          FROM rev
        ),
        blked AS (
          SELECT pk, r,
                 LEAST(CAST(floor((b.rmax - CAST(r AS DOUBLE))
                       / (b.rmax - b.rmin + 1e-9) * 512) AS BIGINT),
                       511) AS blk,
                 b.tot
          FROM rev CROSS JOIN b
        ),
        inblk AS (
          SELECT pk, r, blk, tot,
                 sum(r) OVER (PARTITION BY blk
                              ORDER BY r DESC, pk) AS cum_in
          FROM blked
        ),
        bsum AS (SELECT blk, sum(r) AS bs FROM blked GROUP BY 1),
        boff AS (
          SELECT blk, COALESCE(sum(bs) OVER (ORDER BY blk
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS off
          FROM bsum
        ),
        cls AS (
          SELECT i.pk, i.r,
                 CASE WHEN CAST(i.cum_in + o.off AS DOUBLE) / i.tot
                           <= 0.80 THEN 'A'
                      WHEN CAST(i.cum_in + o.off AS DOUBLE) / i.tot
                           <= 0.95 THEN 'B'
                      ELSE 'C' END AS abc
          FROM inblk i JOIN boff o USING (blk)
        )
        SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
               round(CAST(sum(r) AS DOUBLE) / 1e4, 2) AS revenue,
               round(CAST(sum(r) AS DOUBLE)
                     / (SELECT CAST(tot AS DOUBLE) FROM b), 6) AS share
        FROM cls GROUP BY 1 ORDER BY abc
    """,
    doc="ABC / Pareto inventory classification of parts by revenue "
    "(class A = parts inside the top 80% of cumulative revenue, "
    "B to 95%, C the tail) — the classic concentration rollup behind "
    "'which 20% of the catalog earns 80%'. Scale shape: the global "
    "revenue-descending cumulative sum uses the block-prefix-sum "
    "pattern (512 range blocks over the revenue domain: per-block "
    "windows run parallel, only the 512-row block-offset table is "
    "single-partition) — never a global window over the data-sized "
    "part dimension. Per-part revenue is an exact 2dp-DECIMAL sum, "
    "so ordering (r DESC, partkey) and every cumulative are "
    "engine-identical; block boundaries are one shared float "
    "expression of the exact min/max.",
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators.winutil import (
        tiny_table_partition,
    )

    li = load_table(spark, "lineitem", sf_dir)
    # exact integer micro-cents: price and discount are 2dp-exact, so
    # round(x*100)::long is exact on both engines — round(x, 2) on the
    # 4-decimal product hits the .005 boundary constantly, where Spark
    # (shortest-repr BigDecimal) and DuckDB (exact binary) disagree
    rev = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * (100 - F.round(F.col("l_discount") * 100).cast("long"))
        ).alias("r")
    )
    rev = managed_persist(rev)
    b = rev.agg(
        F.min(F.col("r").cast("double")).alias("rmin"),
        F.max(F.col("r").cast("double")).alias("rmax"),
        F.sum("r").cast("decimal(38,0)").alias("tot"),
    )
    blk = F.least(
        F.floor(
            (F.col("rmax") - F.col("r").cast("double"))
            / (F.col("rmax") - F.col("rmin") + 1e-9)
            * 512
        ).cast("long"),
        F.lit(511),
    )
    blked = rev.crossJoin(F.broadcast(b)).select(
        "pk", "r", blk.alias("blk"), "tot"
    )
    blked = managed_persist(blked)
    win = Window.partitionBy("blk").orderBy(F.desc("r"), "pk")
    inblk = blked.withColumn("cum_in", F.sum("r").over(win))
    bsum = blked.groupBy("blk").agg(F.sum("r").alias("bs"))
    woff = (
        Window.partitionBy(tiny_table_partition("blk"))
        .orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = bsum.select(
        "blk", F.coalesce(F.sum("bs").over(woff), F.lit(0)).alias("off")
    )
    share = (F.col("cum_in") + F.col("off")).cast("double") / F.col("tot")
    cls = inblk.join(F.broadcast(boff), "blk").select(
        "r",
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise(
            "C"
        ).alias("abc"),
    )
    tot_d = b.select(F.col("tot").cast("double").alias("t"))
    return (
        cls.groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("r").cast("double").alias("revenue"),
        )
        .crossJoin(F.broadcast(tot_d))
        .select(
            "abc",
            "n_parts",
            F.round(F.col("revenue") / 1e4, 2).alias("revenue"),
            F.round(F.col("revenue") / F.col("t"), 6).alias("share"),
        )
        .orderBy("abc")
    )


@register(
    "q_pettitt_test",
    oracle="""
        WITH hrs AS (
          SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h
          FROM events
        ),
        bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hrs),
        grid AS (SELECT unnest(range(h0, h1 + 1)) - h0 AS t FROM bounds),
        cnt AS (SELECT h - (SELECT h0 FROM bounds) AS t,
                       CAST(count(*) AS BIGINT) AS x
                FROM hrs GROUP BY 1),
        series AS (
          SELECT g.t, COALESCE(cnt.x, 0) AS x
          FROM grid g LEFT JOIN cnt USING (t)
        ),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM series),
        vals AS (
          SELECT x AS v, CAST(count(*) AS BIGINT) AS c
          FROM series GROUP BY 1
        ),
        cum AS (
          SELECT v, c, sum(c) OVER (ORDER BY v) AS cm FROM vals
        ),
        vt AS (
          SELECT s.t, 2 * cum.cm - cum.c - nn.n AS vv
          FROM series s JOIN cum ON cum.v = s.x CROSS JOIN nn
        ),
        ut AS (
          SELECT t, sum(vv) OVER (ORDER BY t) AS u, nn.n
          FROM vt CROSS JOIN nn
        ),
        k AS (
          SELECT CAST(min(n) AS BIGINT) AS n,
                 CAST(max(abs(u)) AS BIGINT) AS kstat,
                 CAST(min(CASE WHEN abs(u) = mk THEN t END) AS BIGINT)
                   AS change_at
          FROM (SELECT t, u, n,
                       max(abs(u)) OVER () AS mk
                FROM ut WHERE t < n - 1)
        )
        SELECT n AS n_hours, kstat AS k_stat, change_at,
               round(2 * exp(-6.0 * kstat * kstat
                     / (CAST(n AS DOUBLE) * n * n
                        + CAST(n AS DOUBLE) * n)), 8) AS p_approx,
               CAST(2 * exp(-6.0 * kstat * kstat
                    / (CAST(n AS DOUBLE) * n * n
                       + CAST(n AS DOUBLE) * n)) < 0.05 AS INT)
                 AS significant
        FROM k
    """,
    doc="Pettitt changepoint test (Pettitt 1979) over the hourly "
    "event-count series: the rank-based (distribution-free) single "
    "changepoint detector — K = max_t |U_t| with U_t the "
    "Mann-Whitney-style statistic comparing everything before t to "
    "everything after, located at the argmax (ties -> earliest). "
    "Complements q_cusum_changepoint (CUSUM needs a mean scale; "
    "Pettitt survives heavy tails and monotone transforms). Computed "
    "via the exact identity U_t = prefix-sum of V_t where "
    "V_t = #{x_j < x_t} - #{x_j > x_t} comes from the value "
    "histogram (ties handled exactly, no O(n^2) pair join) — "
    "integers end to end, the only float is the closed-form "
    "significance 2 exp(-6K^2/(n^3+n^2)). Series zero-filled over "
    "the time-DOMAIN-bounded hour grid; every window runs on "
    "value- or domain-bounded tables.",
)
def q_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators.winutil import (
        tiny_table_partition,
    )

    e = load_table(spark, "events", sf_dir)
    hrs = e.select((F.col("ts").cast("long") / 3600).cast("long").alias("h"))
    bounds = hrs.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = bounds.select(
        F.explode(F.sequence(F.lit(0), F.col("h1") - F.col("h0"))).alias("t")
    )
    cnt = (
        hrs.crossJoin(F.broadcast(bounds))
        .groupBy((F.col("h") - F.col("h0")).alias("t"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    series = grid.join(cnt.hint("shuffle_hash"), "t", "left").select(
        "t", F.coalesce(F.col("x"), F.lit(0)).alias("x")
    )
    series = managed_persist(series)
    nn = series.agg(F.count(F.lit(1)).cast("long").alias("n"))
    vals = series.groupBy(F.col("x").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = Window.partitionBy(tiny_table_partition("v")).orderBy("v")
    cum = vals.withColumn("cm", F.sum("c").over(wv))
    vt = (
        series.join(F.broadcast(cum), series.x == cum.v)
        .crossJoin(F.broadcast(nn))
        .select(
            "t",
            (2 * F.col("cm") - F.col("c") - F.col("n")).alias("vv"),
            "n",
        )
    )
    wt = (
        Window.partitionBy(tiny_table_partition("t"))
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ut = vt.select(
        "t", F.sum("vv").over(wt).alias("u"), "n"
    ).filter(F.col("t") < F.col("n") - 1)
    wk = Window.partitionBy(tiny_table_partition("t"))
    k = ut.withColumn("mk", F.max(F.abs(F.col("u"))).over(wk)).agg(
        F.min("n").cast("long").alias("n"),
        F.max(F.abs(F.col("u"))).cast("long").alias("kstat"),
        F.min(F.when(F.abs(F.col("u")) == F.col("mk"), F.col("t")))
        .cast("long")
        .alias("change_at"),
    )
    nd = F.col("n").cast("double")
    p = 2 * F.exp(
        -6.0 * F.col("kstat") * F.col("kstat") / (nd * nd * nd + nd * nd)
    )
    return k.select(
        F.col("n").alias("n_hours"),
        F.col("kstat").alias("k_stat"),
        "change_at",
        F.round(p, 8).alias("p_approx"),
        (p < 0.05).cast("int").alias("significant"),
    )


@register(
    "q_matrix_profile",
    oracle="""
        WITH hrs AS (
          SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h
          FROM events
        ),
        bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hrs),
        grid AS (SELECT unnest(range(h0, h1 + 1)) - h0 AS t FROM bounds),
        cnt AS (SELECT h - (SELECT h0 FROM bounds) AS t,
                       CAST(count(*) AS BIGINT) AS x
                FROM hrs GROUP BY 1),
        series AS (
          SELECT g.t, COALESCE(cnt.x, 0) AS x
          FROM grid g LEFT JOIN cnt USING (t)
        ),
        win AS (
          SELECT t AS i,
                 sum(x) OVER w AS s,
                 sum(x * x) OVER w AS ss,
                 count(*) OVER w AS m_obs
          FROM series
          WINDOW w AS (ORDER BY t ROWS BETWEEN CURRENT ROW
                       AND 23 FOLLOWING)
        ),
        valid AS (SELECT i, s, ss FROM win
                  WHERE m_obs = 24 AND 24 * ss - s * s > 0),
        lags AS (
          SELECT unnest(range(24, (SELECT h1 - h0 + 1 FROM bounds) - 23))
            AS d
        ),
        prod AS (
          SELECT l.d, a.t,
                 a.x * b.x AS p
          FROM lags l
            JOIN series a ON a.t + l.d <= (SELECT h1 - h0 FROM bounds)
            JOIN series b ON b.t = a.t + l.d
        ),
        dots AS (
          SELECT d, t AS i,
                 sum(p) OVER w AS dot,
                 count(*) OVER w AS m_obs
          FROM prod
          WINDOW w AS (PARTITION BY d ORDER BY t
                       ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING)
        ),
        pair AS (
          SELECT dd.i, dd.i + dd.d AS j,
                 round(2.0 * 24 * (1.0
                   - (24.0 * dd.dot - wa.s * wb.s)
                     / sqrt(CAST((24 * wa.ss - wa.s * wa.s)
                            * (24 * wb.ss - wb.s * wb.s) AS DOUBLE))),
                   6) AS d2
          FROM dots dd
            JOIN valid wa ON wa.i = dd.i
            JOIN valid wb ON wb.i = dd.i + dd.d
          WHERE dd.m_obs = 24
        ),
        sym AS (
          SELECT i, j, d2 FROM pair
          UNION ALL
          SELECT j, i, d2 FROM pair
        ),
        mp AS (
          SELECT i, min(d2) AS mp_d2,
                 min(CASE WHEN d2 = md THEN j END) AS nn
          FROM (SELECT i, j, d2, min(d2) OVER (PARTITION BY i) AS md
                FROM sym)
          GROUP BY i
        )
        SELECT CAST(rnk AS INT) AS rnk, CAST(i AS BIGINT) AS win_start,
               mp_d2 AS mp_dist, CAST(nn AS BIGINT) AS nn_start
        FROM (SELECT *, row_number() OVER (ORDER BY mp_d2 DESC, i)
                AS rnk FROM mp)
        WHERE rnk <= 5 ORDER BY rnk
    """,
    doc="Matrix profile discord detection (Yeh et al., ICDM 2016) over "
    "the hourly event-count series, window m=24: for every "
    "day-length window, the z-normalized distance to its nearest "
    "non-overlapping neighbor; the 5 windows whose nearest neighbor "
    "is FARTHEST are the top discords — the strongest "
    "anomaly-detection primitive in the time-series toolkit (a "
    "discord is anomalous against every day in the corpus, not just "
    "a forecast). SQL-shaped as the STOMP diagonal decomposition: "
    "per-lag elementwise products, a 24-row rolling sum per diagonal "
    "(window dot products), and exact integer window moments — "
    "d^2 = 2m(1-r) with r built entirely from exact integer "
    "dot/s/ss, rounded 6dp before the min/rank so both engines pick "
    "identical neighbors (ties -> smaller index). The series is "
    "time-DOMAIN-bounded (720 hours at every SF), so the diagonal "
    "table is ~H^2/2 rows regardless of event count; at petabyte "
    "scale the hour-grid aggregation is the only data-sized stage "
    "(MASS/FFT is the documented in-kernel refinement if H itself "
    "grows).",
)
def q_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators.winutil import (
        tiny_table_partition,
    )

    m = 24
    e = load_table(spark, "events", sf_dir)
    hrs = e.select((F.col("ts").cast("long") / 3600).cast("long").alias("h"))
    bounds = hrs.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = bounds.select(
        F.explode(F.sequence(F.lit(0), F.col("h1") - F.col("h0"))).alias("t")
    )
    cnt = (
        hrs.crossJoin(F.broadcast(bounds))
        .groupBy((F.col("h") - F.col("h0")).alias("t"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    series = grid.join(cnt.hint("shuffle_hash"), "t", "left").select(
        "t", F.coalesce(F.col("x"), F.lit(0)).alias("x")
    )
    series = managed_persist(series)
    # rolling window moments: the series is time-DOMAIN-bounded (720
    # rows), so the single-series window runs on the block-table scale
    wseq = (
        Window.partitionBy(tiny_table_partition("t"))
        .orderBy("t")
        .rowsBetween(0, m - 1)
    )
    win = series.select(
        F.col("t").alias("i"),
        F.sum("x").over(wseq).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(wseq).alias("ss"),
        F.count(F.lit(1)).over(wseq).alias("m_obs"),
    )
    valid = win.filter(
        (F.col("m_obs") == m) & (m * F.col("ss") - F.col("s") * F.col("s") > 0)
    ).select("i", "s", "ss")
    valid = managed_persist(valid)
    hmax = bounds.select((F.col("h1") - F.col("h0")).alias("tmax"))
    # Guard: F.sequence counts DOWN when start > stop, which would emit
    # trivial-overlap lags d < m on series shorter than 2m hours while
    # the DuckDB oracle's range(m, H-m+1) is empty — filter bounds first.
    lags = hmax.filter(F.col("tmax") + 1 - m >= m).select(
        F.explode(
            F.sequence(F.lit(m), F.col("tmax") + 1 - m)
        ).alias("d")
    )
    a = series.select(F.col("t"), F.col("x").alias("xa"))
    b = series.select(F.col("t").alias("t2"), F.col("x").alias("xb"))
    prod = (
        lags.crossJoin(a)
        .crossJoin(F.broadcast(hmax))
        .filter(F.col("t") + F.col("d") <= F.col("tmax"))
        .join(b, F.col("t2") == F.col("t") + F.col("d"))
        .select("d", "t", (F.col("xa") * F.col("xb")).alias("p"))
    )
    wlag = (
        Window.partitionBy("d").orderBy("t").rowsBetween(0, m - 1)
    )
    dots = prod.select(
        "d",
        F.col("t").alias("i"),
        F.sum("p").over(wlag).alias("dot"),
        F.count(F.lit(1)).over(wlag).alias("m_obs"),
    ).filter(F.col("m_obs") == m)
    wa = valid.select(
        F.col("i").alias("ia"), F.col("s").alias("sa"), F.col("ss").alias("ssa")
    )
    wb = valid.select(
        F.col("i").alias("ib"), F.col("s").alias("sb"), F.col("ss").alias("ssb")
    )
    r = (m * F.col("dot") - F.col("sa") * F.col("sb")) / F.sqrt(
        (
            (m * F.col("ssa") - F.col("sa") * F.col("sa"))
            * (m * F.col("ssb") - F.col("sb") * F.col("sb"))
        ).cast("double")
    )
    pair = (
        dots.join(F.broadcast(wa), F.col("ia") == F.col("i"))
        .join(F.broadcast(wb), F.col("ib") == F.col("i") + F.col("d"))
        .select(
            "i",
            (F.col("i") + F.col("d")).alias("j"),
            F.round(2.0 * m * (1.0 - r), 6).alias("d2"),
        )
    )
    sym = pair.unionAll(
        pair.select(F.col("j").alias("i"), F.col("i").alias("j"), "d2")
    )
    mp = sym.groupBy("i").agg(
        F.min("d2").alias("mp_d2"),
        F.min_by(F.col("j"), F.struct(F.col("d2"), F.col("j"))).alias("nn"),
    )
    top = mp.orderBy(F.desc("mp_d2"), "i").limit(5)
    wr = Window.partitionBy(tiny_table_partition("i")).orderBy(
        F.desc("mp_d2"), "i"
    )
    return top.select(
        F.row_number().over(wr).cast("int").alias("rnk"),
        F.col("i").cast("long").alias("win_start"),
        F.col("mp_d2").alias("mp_dist"),
        F.col("nn").cast("long").alias("nn_start"),
    ).orderBy("rnk")


# A&S 26.2.17 upper-tail P(Z > x) for x >= 0 — the shared scalar text
# (same recipe as curation_q's battery).
_NORM_UPPER_TS = (
    "(exp(-{x} * {x} / 2.0) / 2.5066282746310002)"
    " * ((1.0 / (1.0 + 0.2316419 * {x}))"
    "    * (0.319381530"
    "       + (1.0 / (1.0 + 0.2316419 * {x}))"
    "         * (-0.356563782"
    "            + (1.0 / (1.0 + 0.2316419 * {x}))"
    "              * (1.781477937"
    "                 + (1.0 / (1.0 + 0.2316419 * {x}))"
    "                   * (-1.821255978"
    "                      + (1.0 / (1.0 + 0.2316419 * {x}))"
    "                        * 1.330274429)))))"
)


@register(
    "q_sign_test",
    oracle="""
        WITH bounds AS (
          SELECT (CAST(floor(epoch(min(ts))) AS BIGINT)
                  + CAST(floor(epoch(max(ts))) AS BIGINT)) // 2 AS mid
          FROM events
        ),
        halves AS (
          SELECT user_id,
                 CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                           < (SELECT mid FROM bounds)
                      THEN 0 ELSE 1 END AS half,
                 CAST(round(value, 6) AS DECIMAL(20,6)) AS v
          FROM events WHERE value IS NOT NULL
        ),
        per AS (
          SELECT user_id, half, sum(v) AS s,
                 CAST(count(*) AS BIGINT) AS n
          FROM halves GROUP BY 1, 2
        ),
        paired AS (
          SELECT a.user_id, a.s AS s1, a.n AS n1, b.s AS s2, b.n AS n2
          FROM per a JOIN per b USING (user_id)
          WHERE a.half = 0 AND b.half = 1
        ),
        signs AS (
          SELECT CASE WHEN s2 * n1 > s1 * n2 THEN 1
                      WHEN s2 * n1 < s1 * n2 THEN -1
                      ELSE 0 END AS sg
          FROM paired
        ),
        agg AS (
          SELECT CAST(sum(CASE WHEN sg <> 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n,
                 CAST(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS np
          FROM signs
        ),
        z AS (
          SELECT n, np,
                 (abs(np - CAST(n AS DOUBLE) / 2) - 0.5)
                 / (sqrt(CAST(n AS DOUBLE)) / 2) AS zv
          FROM agg
        )
        SELECT n AS n_pairs, np AS n_plus, round(zv, 6) AS z,
               round(2 * """ + _NORM_UPPER_TS.format(x="zv") + """, 6)
                 AS p_two_sided,
               CAST(2 * """ + _NORM_UPPER_TS.format(x="zv") + """
                    < 0.05 AS INT) AS reject_no_shift
        FROM z
    """,
    doc="Paired sign test: did each user's mean event value SHIFT "
    "between the first and second half of the observation window? "
    "The distribution-free paired-location test that needs nothing "
    "but comparison — the companion to q_welch_ttest (means) and "
    "q_mann_whitney (independent ranks) for paired data with "
    "arbitrary per-user value scales. Per-user half-means compare "
    "EXACTLY via DECIMAL cross-multiplication (s2*n1 vs s1*n2 — no "
    "division, no float), ties drop per the standard convention; "
    "normal approximation with continuity correction through the "
    "shared A&S 26.2.17 CDF. One (user, half) partial agg + a "
    "user-keyed self-join — fully distributed, k-row epilogue.",
)
def q_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).filter(
        F.col("value").isNotNull()
    )
    bounds = e.agg(
        (
            (F.min(F.col("ts").cast("long")) + F.max(F.col("ts").cast("long")))
            / 2
        )
        .cast("long")
        .alias("mid")
    )
    halves = e.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.when(F.col("ts").cast("long") < F.col("mid"), 0)
        .otherwise(1)
        .alias("half"),
        F.round("value", 6).cast("decimal(20,6)").alias("v"),
    )
    per = halves.groupBy("user_id", "half").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    )
    a = per.filter(F.col("half") == 0).select(
        "user_id", F.col("s").alias("s1"), F.col("n").alias("n1")
    )
    b = per.filter(F.col("half") == 1).select(
        "user_id", F.col("s").alias("s2"), F.col("n").alias("n2")
    )
    lhs = F.col("s2") * F.col("n1")
    rhs = F.col("s1") * F.col("n2")
    signs = a.join(b, "user_id").select(
        F.when(lhs > rhs, 1).when(lhs < rhs, -1).otherwise(0).alias("sg")
    )
    agg = signs.agg(
        F.sum((F.col("sg") != 0).cast("long")).cast("long").alias("n"),
        F.sum((F.col("sg") == 1).cast("long")).cast("long").alias("np"),
    )
    zv = (
        F.abs(F.col("np") - F.col("n").cast("double") / 2) - 0.5
    ) / (F.sqrt(F.col("n").cast("double")) / 2)

    def upper(x):
        t = 1.0 / (1.0 + 0.2316419 * x)
        return (F.exp(-x * x / 2.0) / 2.5066282746310002) * (
            t
            * (
                0.319381530
                + t
                * (
                    -0.356563782
                    + t
                    * (
                        1.781477937
                        + t * (-1.821255978 + t * 1.330274429)
                    )
                )
            )
        )

    z = agg.select("n", "np", zv.alias("zv"))
    p = 2 * upper(F.col("zv"))
    return z.select(
        F.col("n").alias("n_pairs"),
        F.col("np").alias("n_plus"),
        F.round("zv", 6).alias("z"),
        F.round(p, 6).alias("p_two_sided"),
        (p < 0.05).cast("int").alias("reject_no_shift"),
    )


@register(
    "q_transfer_entropy",
    oracle="""
        WITH hrs AS (
          SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 event_type
          FROM events
        ),
        bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hrs),
        grid AS (
          SELECT t.event_type, g.h
          FROM (SELECT DISTINCT event_type FROM hrs) t
          CROSS JOIN (SELECT unnest(range(h0, h1 + 1)) AS h
                      FROM bounds) g
        ),
        cnt AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS c
                FROM hrs GROUP BY 1, 2),
        series AS (
          SELECT g.event_type, g.h, COALESCE(cnt.c, 0) AS x
          FROM grid g LEFT JOIN cnt USING (event_type, h)
        ),
        tot AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS s,
                       CAST(count(*) AS BIGINT) AS nh
                FROM series GROUP BY 1),
        bin AS (
          SELECT s.event_type, s.h,
                 CAST(s.x * t.nh > t.s AS INT) AS b
          FROM series s JOIN tot t USING (event_type)
        ),
        lagd AS (
          SELECT event_type, h, b,
                 lag(b) OVER (PARTITION BY event_type ORDER BY h) AS bl
          FROM bin
        ),
        yy AS (SELECT event_type AS y_type, h, b AS yt, bl AS yl
               FROM lagd WHERE bl IS NOT NULL),
        xx AS (SELECT event_type AS x_type, h, bl AS xl
               FROM lagd WHERE bl IS NOT NULL),
        c3 AS (
          SELECT x_type, y_type, yt, yl, xl,
                 CAST(count(*) AS BIGINT) AS c
          FROM yy JOIN xx USING (h)
          WHERE x_type <> y_type GROUP BY 1, 2, 3, 4, 5
        ),
        c2a AS (SELECT x_type, y_type, yl, xl,
                       CAST(sum(c) AS BIGINT) AS c
                FROM c3 GROUP BY 1, 2, 3, 4),
        c2b AS (SELECT x_type, y_type, yt, yl,
                       CAST(sum(c) AS BIGINT) AS c
                FROM c3 GROUP BY 1, 2, 3, 4),
        c1 AS (SELECT x_type, y_type, yl, CAST(sum(c) AS BIGINT) AS c
               FROM c3 GROUP BY 1, 2, 3),
        nn AS (SELECT x_type, y_type, CAST(sum(c) AS BIGINT) AS n
               FROM c3 GROUP BY 1, 2)
        SELECT c3.x_type, c3.y_type, nn.n AS n_obs,
               round(CAST(sum(CAST(round(
                 (CAST(c3.c AS DOUBLE) / nn.n)
                 * ln(CAST(c3.c AS DOUBLE) * c1.c
                      / (CAST(c2a.c AS DOUBLE) * c2b.c)), 9)
                 AS DECIMAL(18,9))) AS DOUBLE), 6) AS te_nats
        FROM c3
          JOIN c2a USING (x_type, y_type, yl, xl)
          JOIN c2b USING (x_type, y_type, yt, yl)
          JOIN c1 USING (x_type, y_type, yl)
          JOIN nn USING (x_type, y_type)
        GROUP BY 1, 2, 3
        ORDER BY 1, 2
    """,
    doc="Lag-1 transfer entropy (Schreiber 2000) between every ordered "
    "pair of event types' hourly activity series — the DIRECTED "
    "information-flow companion to q_granger_lag1 (Granger sees only "
    "linear lead-lag; TE = I(y_t ; x_{t-1} | y_{t-1}) catches any "
    "predictive coupling, and TE(x->y) != TE(y->x) gives direction). "
    "Series are zero-filled over the complete hour grid (domain-"
    "bounded, never row-bounded), binarized by the exact integer "
    "above-mean test cnt*H > total; the plug-in estimator runs off "
    "ONE (yt, yl, xl) joint-count table per pair — every marginal is "
    "a grouped sum of it, so the whole statistic is k^2-bounded "
    "integer counts with a per-term 9-dp DECIMAL ln sum.",
)
def q_transfer_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    hrs = e.select(
        (F.col("ts").cast("long") / 3600).cast("long").alias("h"),
        "event_type",
    )
    bounds = hrs.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    types = hrs.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
    )
    cnt = hrs.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("c"))
    series = grid.join(cnt.hint("shuffle_hash"), ["event_type", "h"], "left")\
        .select(
            "event_type", "h", F.coalesce(F.col("c"), F.lit(0)).alias("x")
        )
    tot = series.groupBy("event_type").agg(
        F.sum("x").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("nh"),
    )
    b = (F.col("x") * F.col("nh") > F.col("s")).cast("int")
    binned = series.join(F.broadcast(tot), "event_type").select(
        "event_type", "h", b.alias("b")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagd = binned.withColumn("bl", F.lag("b").over(w)).filter(
        F.col("bl").isNotNull()
    )
    lagd = managed_persist(lagd)
    yy = lagd.select(
        F.col("event_type").alias("y_type"),
        "h",
        F.col("b").alias("yt"),
        F.col("bl").alias("yl"),
    )
    xx = lagd.select(
        F.col("event_type").alias("x_type"), "h", F.col("bl").alias("xl")
    )
    c3 = (
        yy.join(xx, "h")
        .filter(F.col("x_type") != F.col("y_type"))
        .groupBy("x_type", "y_type", "yt", "yl", "xl")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    c3 = managed_persist(c3)
    c2a = c3.groupBy("x_type", "y_type", "yl", "xl").agg(
        F.sum("c").cast("long").alias("ca")
    )
    c2b = c3.groupBy("x_type", "y_type", "yt", "yl").agg(
        F.sum("c").cast("long").alias("cb")
    )
    c1 = c3.groupBy("x_type", "y_type", "yl").agg(
        F.sum("c").cast("long").alias("c1")
    )
    nn = c3.groupBy("x_type", "y_type").agg(
        F.sum("c").cast("long").alias("n")
    )
    term = F.round(
        (F.col("c").cast("double") / F.col("n"))
        * F.log(
            F.col("c").cast("double")
            * F.col("c1")
            / (F.col("ca").cast("double") * F.col("cb"))
        ),
        9,
    ).cast("decimal(18,9)")
    return (
        c3.join(F.broadcast(c2a), ["x_type", "y_type", "yl", "xl"])
        .join(F.broadcast(c2b), ["x_type", "y_type", "yt", "yl"])
        .join(F.broadcast(c1), ["x_type", "y_type", "yl"])
        .join(F.broadcast(nn), ["x_type", "y_type"])
        .groupBy("x_type", "y_type", F.col("n").alias("n_obs"))
        .agg(F.round(F.sum(term).cast("double"), 6).alias("te_nats"))
        .orderBy("x_type", "y_type")
    )


@register(
    "q_gini_sources",
    oracle="""
        WITH st AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS chars
          FROM documents GROUP BY 1
        ),
        ranked AS (
          SELECT source, n_docs, chars,
                 CAST(row_number() OVER (ORDER BY chars, source)
                   AS BIGINT) AS i
          FROM st
        ),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(chars) AS BIGINT) AS tot,
                 CAST(sum(i * chars) AS BIGINT) AS iw
          FROM ranked
        )
        SELECT k AS n_sources, tot AS total_chars,
               round((2.0 * iw) / (CAST(k AS DOUBLE) * tot)
                     - (CAST(k AS DOUBLE) + 1) / k, 6) AS gini
        FROM m
    """,
    doc="Gini coefficient of corpus-share concentration across "
    "sources (by character volume): 0 = perfectly balanced corpus, "
    "near 1 = one source dominates — the one-number inequality audit "
    "run before trusting per-source mixture weights (a dominant "
    "source silently becomes the model's dialect). Exact integer "
    "rank-weighted formula G = 2*sum(i*x_i)/(k*sum x) - (k+1)/k over "
    "the k-row source table (ties broken by source name so both "
    "engines rank identically); the only window is over k rows "
    "(tiny partition).",
)
def q_gini_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    st = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )
    w = Window.partitionBy(tiny_table_partition("source")).orderBy(
        "chars", "source"
    )
    ranked = st.withColumn("i", F.row_number().over(w).cast("long"))
    m = ranked.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("chars").alias("tot"),
        F.sum(F.col("i") * F.col("chars")).alias("iw"),
    )
    return m.select(
        F.col("k").alias("n_sources"),
        F.col("tot").alias("total_chars"),
        F.round(
            (2.0 * F.col("iw"))
            / (F.col("k").cast("double") * F.col("tot"))
            - (F.col("k").cast("double") + 1) / F.col("k"),
            6,
        ).alias("gini"),
    )


@register(
    "q_grubbs_test",
    oracle="""
        WITH mom AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(round(value, 6) AS DECIMAL(28,6))) AS sx,
                 sum(CAST(round(value * value, 6) AS DECIMAL(38,6)))
                   AS sx2
          FROM events GROUP BY 1
        ),
        g AS (
          SELECT e.event_type,
                 max(abs(e.value - CAST(m.sx AS DOUBLE) / m.n)) AS maxdev,
                 min(m.n) AS n,
                 min(CAST(m.sx AS DOUBLE)) AS sxd,
                 min(CAST(m.sx2 AS DOUBLE)) AS sx2d
          FROM events e JOIN mom m USING (event_type)
          GROUP BY 1
        )
        SELECT event_type, n,
               round(maxdev
                     / sqrt((sx2d - sxd * sxd / n) / (n - 1)), 6)
                 AS grubbs_g,
               round(sqrt(CAST(n - 1 AS DOUBLE) * (n - 1) / n), 6)
                 AS g_max
        FROM g ORDER BY event_type
    """,
    doc="Grubbs statistic per event type: G = max|x - mean| / s (sample "
    "stddev), the parametric single-outlier screen beside "
    "q_mad_outliers' robust fences, reported with its theoretical "
    "ceiling (n-1)/sqrt(n) — G near the ceiling means one point "
    "carries the entire spread. Moments are 6dp-DECIMAL sums "
    "(reducer-order-proof); the max-deviation pass reuses the same "
    "event_type partitioning. Two group-keyed aggregations, no "
    "windows, no sort.",
)
def q_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    v = F.col("value")
    mom = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(v, 6).cast("decimal(28,6)")).alias("sx"),
        F.sum(F.round(v * v, 6).cast("decimal(38,6)")).alias("sx2"),
    )
    m = F.col("sx").cast("double") / F.col("n")
    g = (
        e.join(F.broadcast(mom), "event_type")
        .groupBy("event_type")
        .agg(
            F.max(F.abs(v - m)).alias("maxdev"),
            F.min("n").alias("n"),
            F.min(F.col("sx").cast("double")).alias("sxd"),
            F.min(F.col("sx2").cast("double")).alias("sx2d"),
        )
    )
    nd = F.col("n").cast("double")
    s = F.sqrt(
        (F.col("sx2d") - F.col("sxd") * F.col("sxd") / F.col("n"))
        / (F.col("n") - 1)
    )
    return g.select(
        "event_type",
        "n",
        F.round(F.col("maxdev") / s, 6).alias("grubbs_g"),
        F.round(F.sqrt((nd - 1) * (nd - 1) / nd), 6).alias("g_max"),
    ).orderBy("event_type")


@register(
    "q_durbin_watson",
    oracle="""
        WITH series AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ),
        mom AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(h AS HUGEINT)) AS sh,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(h AS HUGEINT) * h) AS shh,
                 sum(CAST(h AS HUGEINT) * x) AS shx
          FROM series GROUP BY 1
        ),
        fit AS (
          SELECT event_type, n,
                 round((CAST(n AS DOUBLE) * CAST(shx AS DOUBLE)
                        - CAST(sh AS DOUBLE) * CAST(sx AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(shh AS DOUBLE)
                          - CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE)),
                       9) AS b,
                 CAST(sh AS DOUBLE) / n AS mh,
                 CAST(sx AS DOUBLE) / n AS mx
          FROM mom
        ),
        resid AS (
          SELECT s.event_type,
                 round(s.x - (f.mx + f.b * (s.h - f.mh)), 6) AS e,
                 lag(round(s.x - (f.mx + f.b * (s.h - f.mh)), 6))
                   OVER (PARTITION BY s.event_type ORDER BY s.h) AS ep
          FROM series s JOIN fit f USING (event_type)
        )
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
               round(CAST(sum(CAST(round((e - ep) * (e - ep), 6)
                          AS DECIMAL(28,6))) AS DOUBLE)
                     / CAST(sum(CAST(round(e * e, 6)
                          AS DECIMAL(28,6))) AS DOUBLE), 6) AS dw
        FROM resid GROUP BY 1 ORDER BY 1
    """,
    doc="Durbin-Watson statistic of the OLS-detrended hourly "
    "event-count series per type: DW = sum (e_t - e_{t-1})^2 / "
    "sum e_t^2 — the residual-autocorrelation audit behind trusting "
    "any trend fit (DW near 2 = independent residuals, near 0 = the "
    "trend line is lying about its standard errors). Slope from "
    "exact HUGEINT/DECIMAL moments (9dp-rounded), residuals rounded "
    "to 6dp so both engines difference identical values, numerator/"
    "denominator DECIMAL-summed; the lag is one pass over the "
    "domain-bounded hour series. The first residual has no "
    "predecessor and drops from the numerator only (the standard "
    "convention).",
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    series = e.groupBy(
        "event_type",
        (F.col("ts").cast("long") / 3600).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).alias("x"))
    hd = F.col("h").cast("decimal(38,0)")
    xd = F.col("x").cast("decimal(38,0)")
    mom = series.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(hd).alias("sh"),
        F.sum(xd).alias("sx"),
        F.sum(hd * hd).alias("shh"),
        F.sum(hd * xd).alias("shx"),
    )
    nd = F.col("n").cast("double")
    b = F.round(
        (
            nd * F.col("shx").cast("double")
            - F.col("sh").cast("double") * F.col("sx").cast("double")
        )
        / (
            nd * F.col("shh").cast("double")
            - F.col("sh").cast("double") * F.col("sh").cast("double")
        ),
        9,
    )
    fit = mom.select(
        "event_type",
        "n",
        b.alias("b"),
        (F.col("sh").cast("double") / F.col("n")).alias("mh"),
        (F.col("sx").cast("double") / F.col("n")).alias("mx"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    ecol = F.round(
        F.col("x") - (F.col("mx") + F.col("b") * (F.col("h") - F.col("mh"))),
        6,
    )
    resid = (
        series.join(F.broadcast(fit), "event_type")
        .select("event_type", "h", ecol.alias("e"))
        .withColumn("ep", F.lag("e").over(w))
    )
    def dsum(expr):
        return F.sum(F.round(expr, 6).cast("decimal(28,6)")).cast("double")

    return (
        resid.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.round(
                dsum((F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep")))
                / dsum(F.col("e") * F.col("e")),
                6,
            ).alias("dw"),
        )
        .orderBy("event_type")
    )


@register(
    "q_friedman_test",
    oracle="""
        WITH series AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ),
        kk AS (
          SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
          FROM series
        ),
        full_blocks AS (
          SELECT h FROM series, kk GROUP BY h, kk.k
          HAVING count(*) = min(kk.k)
        ),
        b AS (
          SELECT s.h, s.event_type, s.x FROM series s
          JOIN full_blocks USING (h)
        ),
        dr AS (
          SELECT a.h, a.event_type,
                 CAST(2 * sum(CASE WHEN c.x < a.x THEN 1 ELSE 0 END)
                      + sum(CASE WHEN c.x = a.x THEN 1 ELSE 0 END)
                      + 1 AS BIGINT) AS dr
          FROM b a JOIN b c ON a.h = c.h
          GROUP BY 1, 2
        ),
        rj AS (
          SELECT event_type, CAST(sum(dr) AS BIGINT) AS rd,
                 CAST(sum(dr * dr) AS BIGINT) AS ad2
          FROM dr GROUP BY 1
        ),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(rd) AS BIGINT) AS rtot,
                 CAST(sum(ad2) AS BIGINT) AS ad,
                 (SELECT CAST(count(*) AS BIGINT) FROM full_blocks)
                   AS n
          FROM rj
        )
        SELECT m.k, m.n AS n_blocks,
               round((CAST(m.k AS DOUBLE) - 1)
                     * (SELECT sum(CAST((rj.rd - m.n * (m.k + 1))
                                   AS DOUBLE)
                                  * (rj.rd - m.n * (m.k + 1)))
                        FROM rj)
                     / (CAST(m.ad AS DOUBLE)
                        - CAST(m.n AS DOUBLE) * m.k * (m.k + 1)
                          * (m.k + 1)), 6) AS chi2
        FROM m
        WHERE m.n > 0
          AND m.ad > m.n * m.k * (m.k + 1) * (m.k + 1)
    """,
    doc="Friedman test (tie-corrected, Conover form) across event "
    "types with hours as blocks: do the k types keep the same rank "
    "order of activity hour after hour, or does some type "
    "systematically dominate? The repeated-measures nonparametric "
    "ANOVA beside q_kruskal_wallis's independent-groups one. "
    "Within-block average ranks stay INTEGERS by doubling (the "
    "Kruskal-Wallis trick: dr = 2r = 2*#less + #equal-incl-self + 1), "
    "collapses the tie-corrected statistic to an EXACT integer "
    "ratio: chi2 = (k-1)*sum(Rd_j - n(k+1))^2 / (Ad - n*k*(k+1)^2) "
    "— no float until the final division. Incomplete blocks (an "
    "hour missing a type) drop by contract. Scale shape: blocks are "
    "hour-sized (k rows each), the rank self-join is k^2 per block "
    "over the domain-bounded hour series, then two tiny rollups.",
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    series = e.groupBy(
        "event_type",
        (F.col("ts").cast("long") / 3600).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).alias("x"))
    kk = series.agg(F.countDistinct("event_type").alias("k"))
    full_blocks = (
        series.crossJoin(F.broadcast(kk))
        .groupBy("h", "k")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == F.col("k"))
        .select("h")
    )
    b = series.join(full_blocks, "h")
    a_, c_ = b.alias("a"), b.alias("c")
    dr = (
        a_.join(c_, F.col("a.h") == F.col("c.h"))
        .groupBy(F.col("a.h").alias("h"), F.col("a.event_type").alias("event_type"))
        .agg(
            (
                2 * F.sum((F.col("c.x") < F.col("a.x")).cast("long"))
                + F.sum((F.col("c.x") == F.col("a.x")).cast("long"))
                + 1
            ).alias("dr")
        )
    )
    rj = dr.groupBy("event_type").agg(
        F.sum("dr").alias("rd"),
        F.sum(F.col("dr") * F.col("dr")).alias("ad2"),
    )
    nb = full_blocks.agg(F.count(F.lit(1)).alias("n"))
    m = (
        rj.agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("ad2").alias("ad"),
        )
        .crossJoin(F.broadcast(nb))
    )
    dev = rj.crossJoin(F.broadcast(m)).agg(
        F.sum(
            (F.col("rd") - F.col("n") * (F.col("k") + 1)).cast("double")
            * (F.col("rd") - F.col("n") * (F.col("k") + 1))
        ).alias("ss"),
        F.min("k").alias("k"),
        F.min("n").alias("n"),
        F.min("ad").alias("ad"),
    )
    kd = F.col("k").cast("double")
    den = F.col("ad").cast("double") - F.col("n").cast("double") * F.col(
        "k"
    ) * (F.col("k") + 1) * (F.col("k") + 1)
    # degenerate corpora (no complete block, or all-tied ranks) emit
    # ZERO rows — the stated contract, identical in the oracle's WHERE
    return (
        dev.filter(
            F.col("n").isNotNull() & (F.col("n") > 0) & (den > 0)
        ).select(
            "k",
            F.col("n").alias("n_blocks"),
            F.round((kd - 1) * F.col("ss") / den, 6).alias("chi2"),
        )
    )


@register(
    "q_forecast_skill",
    oracle="""
        WITH series AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ),
        base AS (
          SELECT event_type, h % 24 AS hod,
                 CAST(sum(x) AS BIGINT) AS sxh,
                 CAST(count(*) AS BIGINT) AS nh
          FROM series GROUP BY 1, 2
        ),
        lagged AS (
          SELECT s.event_type, s.h, s.x,
                 lag(s.x) OVER (PARTITION BY s.event_type
                                ORDER BY s.h) AS xp,
                 CAST(b.sxh AS DOUBLE) / b.nh AS pred
          FROM series s JOIN base b
            ON s.event_type = b.event_type AND s.h % 24 = b.hod
        ),
        sub AS (
          SELECT * FROM lagged WHERE xp IS NOT NULL
        ),
        mom AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx
          FROM sub GROUP BY 1
        )
        SELECT s.event_type, min(m.n) AS n_hours,
               round(1 - CAST(sum(CAST(round(
                     (s.x - s.pred) * (s.x - s.pred), 6)
                   AS DECIMAL(28,6))) AS DOUBLE)
                 / CAST(sum(CAST(round(
                     (s.x - CAST(m.sx AS DOUBLE) / m.n)
                     * (s.x - CAST(m.sx AS DOUBLE) / m.n), 6)
                   AS DECIMAL(28,6))) AS DOUBLE), 6) AS r2_seasonal,
               round(sqrt(CAST(sum(CAST(round(
                     (s.x - s.pred) * (s.x - s.pred), 6)
                   AS DECIMAL(28,6))) AS DOUBLE)
                 / CAST(sum(CAST(round(
                     CAST((s.x - s.xp) * (s.x - s.xp) AS DOUBLE), 6)
                   AS DECIMAL(28,6))) AS DOUBLE)), 6) AS theil_u
        FROM sub s JOIN mom m USING (event_type)
        GROUP BY 1 ORDER BY 1
    """,
    doc="Forecast-skill audit of the hour-of-day seasonal baseline "
    "per event type: R^2 (variance explained vs the mean) and "
    "Theil's U vs the lag-1 naive persistence forecast (U < 1 = the "
    "seasonal baseline beats 'predict the last value'; U >= 1 = the "
    "seasonality is noise and a persistence model is better) — the "
    "go/no-go check before shipping any seasonal-baseline alerting "
    "(q_seasonal_residuals' flags presume the baseline has skill). "
    "Baseline means are exact integer ratios, every squared error is "
    "6dp-DECIMAL-summed, both statistics share one scan of the "
    "domain-bounded hour series restricted to lag-defined rows "
    "(the standard same-horizon comparison).",
)
def q_forecast_skill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    series = e.groupBy(
        "event_type",
        (F.col("ts").cast("long") / 3600).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).alias("x"))
    base = series.groupBy(
        "event_type", (F.col("h") % 24).alias("hod")
    ).agg(F.sum("x").alias("sxh"), F.count(F.lit(1)).alias("nh"))
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = (
        series.withColumn("xp", F.lag("x").over(w))
        .withColumn("hod", F.col("h") % 24)
        .join(F.broadcast(base), ["event_type", "hod"])
        .withColumn("pred", F.col("sxh").cast("double") / F.col("nh"))
        .filter(F.col("xp").isNotNull())
    )
    mom = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx")
    )
    m = F.col("sx").cast("double") / F.col("n")

    def dsum(expr):
        return F.sum(F.round(expr, 6).cast("decimal(28,6)")).cast("double")

    err = F.col("x") - F.col("pred")
    nerr = (F.col("x") - F.col("xp")).cast("double")
    return (
        lagged.join(F.broadcast(mom), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n").alias("n_hours"),
            F.round(
                1 - dsum(err * err) / dsum((F.col("x") - m) * (F.col("x") - m)),
                6,
            ).alias("r2_seasonal"),
            F.round(
                F.sqrt(dsum(err * err) / dsum(nerr * nerr)), 6
            ).alias("theil_u"),
        )
        .orderBy("event_type")
    )


@register(
    "q_hurst_exponent",
    oracle="""
        WITH series AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ),
        idx AS (
          SELECT event_type, h, x,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY h) AS BIGINT) AS rn
          FROM series
        ),
        sizes(n) AS (VALUES (CAST(8 AS BIGINT)), (16), (32)),
        chunked AS (
          SELECT i.event_type, s.n, (i.rn - 1) // s.n AS chunk,
                 i.rn, i.x
          FROM idx i CROSS JOIN sizes s
        ),
        cstats AS (
          SELECT event_type, n, chunk,
                 CAST(count(*) AS BIGINT) AS cnt,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(x * x) AS BIGINT) AS sx2
          FROM chunked GROUP BY 1, 2, 3
        ),
        dev AS (
          SELECT c.event_type, c.n, c.chunk,
                 sum(c.x) OVER (PARTITION BY c.event_type, c.n, c.chunk
                                ORDER BY c.rn)
                 - (row_number() OVER (PARTITION BY c.event_type, c.n,
                                       c.chunk ORDER BY c.rn))
                   * (CAST(cs.sx AS DOUBLE) / cs.cnt) AS cumdev,
                 CAST(cs.sx2 AS DOUBLE) / cs.cnt
                 - (CAST(cs.sx AS DOUBLE) / cs.cnt)
                   * (CAST(cs.sx AS DOUBLE) / cs.cnt) AS var_p
          FROM chunked c JOIN cstats cs
            USING (event_type, n, chunk)
          WHERE cs.cnt = c.n
        ),
        rs AS (
          SELECT event_type, n, chunk,
                 CAST(round((max(cumdev) - min(cumdev))
                            / sqrt(min(var_p)), 6)
                   AS DECIMAL(18,6)) AS rs
          FROM dev WHERE var_p > 0 GROUP BY 1, 2, 3
        ),
        pts AS (
          SELECT event_type, n,
                 round(ln(CAST(sum(rs) AS DOUBLE) / count(*)), 9)
                   AS lrs,
                 round(ln(CAST(n AS DOUBLE)), 9) AS ln_n,
                 CAST(count(*) AS BIGINT) AS n_chunks
          FROM rs GROUP BY 1, 2
        ),
        fit AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS k,
                 sum(ln_n) AS sx, sum(lrs) AS sy,
                 sum(ln_n * ln_n) AS sxx, sum(ln_n * lrs) AS sxy,
                 CAST(min(n_chunks) AS BIGINT) AS min_chunks
          FROM pts GROUP BY 1
        )
        SELECT event_type, k AS n_sizes, min_chunks,
               round((k * sxy - sx * sy) / (k * sxx - sx * sx), 4)
                 AS hurst
        FROM fit WHERE k >= 2 ORDER BY event_type
    """,
    doc="Hurst exponent per event type via rescaled-range (R/S) "
    "analysis (Hurst 1951; Mandelbrot's long-range-dependence "
    "diagnostic): chunk the hourly count series at sizes 8/16/32, "
    "per chunk R = range of mean-centered cumulative sums and "
    "S = population stddev, H = OLS slope of ln(mean R/S) on ln(n). "
    "H ~ 0.5 = memoryless, H -> 1 = persistent (bursts cluster — "
    "capacity planning must size for runs, not iid noise). "
    "Determinism: chunk moments are exact integer sums, cumdev is "
    "one integer cum minus i*(integer ratio), R/S rounded to 6dp and "
    "DECIMAL-averaged, the 3-point slope a rounded scalar epilogue. "
    "Scale shape: windows partition by (type, size, chunk) — chunk "
    "size <= 32 rows — over the domain-bounded hour series; ragged "
    "tail chunks drop by contract; zero-variance chunks drop (R/S "
    "undefined).",
)
def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    series = e.groupBy(
        "event_type",
        (F.col("ts").cast("long") / 3600).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).alias("x"))
    wrn = Window.partitionBy("event_type").orderBy("h")
    idx = series.withColumn("rn", F.row_number().over(wrn).cast("long"))
    sizes = F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("n")
    chunked = idx.select(
        "event_type", "rn", "x", sizes
    ).withColumn("chunk", F.expr("(rn - 1) div n"))
    cstats = chunked.groupBy("event_type", "n", "chunk").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    m = F.col("sx").cast("double") / F.col("cnt")
    var_p = F.col("sx2").cast("double") / F.col("cnt") - m * m
    wc = Window.partitionBy("event_type", "n", "chunk").orderBy("rn")
    dev = (
        chunked.join(cstats, ["event_type", "n", "chunk"])
        .filter(F.col("cnt") == F.col("n"))
        .select(
            "event_type",
            "n",
            "chunk",
            (
                F.sum("x").over(wc)
                - F.row_number().over(wc).cast("long") * m
            ).alias("cumdev"),
            var_p.alias("var_p"),
        )
    )
    rs = (
        dev.filter(F.col("var_p") > 0)
        .groupBy("event_type", "n", "chunk")
        .agg(
            F.round(
                (F.max("cumdev") - F.min("cumdev"))
                / F.sqrt(F.min("var_p")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("rs")
        )
    )
    pts = rs.groupBy("event_type", "n").agg(
        F.round(
            F.log(F.sum("rs").cast("double") / F.count(F.lit(1))), 9
        ).alias("lrs"),
        F.round(F.log(F.col("n").cast("double")), 9).alias("ln_n"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    fit = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ln_n").alias("sx"),
        F.sum("lrs").alias("sy"),
        F.sum(F.col("ln_n") * F.col("ln_n")).alias("sxx"),
        F.sum(F.col("ln_n") * F.col("lrs")).alias("sxy"),
        F.min("n_chunks").cast("long").alias("min_chunks"),
    )
    kd = F.col("k").cast("double")
    return (
        fit.filter(F.col("k") >= 2)
        .select(
            "event_type",
            F.col("k").alias("n_sizes"),
            "min_chunks",
            F.round(
                (kd * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (kd * F.col("sxx") - F.col("sx") * F.col("sx")),
                4,
            ).alias("hurst"),
        )
        .orderBy("event_type")
    )


def _hourly_counts(e: DataFrame) -> DataFrame:
    """Hourly event-count series per type — the shared grid behind
    q_acf/q_pacf and the round-9 portmanteau/AR(2) diagnostics.
    Domain-bounded (hours in the time range x event types), never
    row-bounded."""
    return e.groupBy(
        "event_type",
        (F.col("ts").cast("long") / 3600).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).alias("x"))


# Exact-integer sample-ACF sums shared by q_ljung_box and
# q_yule_walker_ar2: for lag k over the positionally-lagged series
# (the q_acf convention — gaps close up), the scaled numerator
#   Nk = n^2*sum(x_t*x_{t-k}) - n*sx*sum(x_t + x_{t-k}) + mk*sx^2
# and scaled denominator D = n^2*sxx - n*sx^2 are BOTH exact
# integers (counts are integers), so r_k = Nk/D involves exactly one
# float division — no reducer-order drift, no rounding recipe needed.
_ACF_SQL_SUMS = """
        series AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ),
        lagged AS (
          SELECT event_type, CAST(x AS HUGEINT) AS x,
                 CAST(lag(x, 1) OVER w AS HUGEINT) AS x1,
                 CAST(lag(x, 2) OVER w AS HUGEINT) AS x2,
                 CAST(lag(x, 3) OVER w AS HUGEINT) AS x3,
                 CAST(lag(x, 4) OVER w AS HUGEINT) AS x4,
                 CAST(lag(x, 5) OVER w AS HUGEINT) AS x5,
                 CAST(lag(x, 6) OVER w AS HUGEINT) AS x6
          FROM series
          WINDOW w AS (PARTITION BY event_type ORDER BY h)
        ),
        sums AS (
          SELECT event_type,
                 CAST(count(*) AS HUGEINT) AS n,
                 sum(x) AS sx, sum(x * x) AS sxx,
                 sum(x * x1) AS p1, sum(x + x1) AS q1,
                 CAST(count(x1) AS HUGEINT) AS m1,
                 sum(x * x2) AS p2, sum(x + x2) AS q2,
                 CAST(count(x2) AS HUGEINT) AS m2,
                 sum(x * x3) AS p3, sum(x + x3) AS q3,
                 CAST(count(x3) AS HUGEINT) AS m3,
                 sum(x * x4) AS p4, sum(x + x4) AS q4,
                 CAST(count(x4) AS HUGEINT) AS m4,
                 sum(x * x5) AS p5, sum(x + x5) AS q5,
                 CAST(count(x5) AS HUGEINT) AS m5,
                 sum(x * x6) AS p6, sum(x + x6) AS q6,
                 CAST(count(x6) AS HUGEINT) AS m6
          FROM lagged GROUP BY event_type
        ),
        acf AS (
          SELECT event_type, CAST(n AS BIGINT) AS n_hours,
                 CAST(m1 AS BIGINT) AS m1_b,
                 CAST(n*n*p1 - n*sx*q1 + m1*sx*sx AS DOUBLE)
                   / CAST(n*n*sxx - n*sx*sx AS DOUBLE) AS r1,
                 CAST(n*n*p2 - n*sx*q2 + m2*sx*sx AS DOUBLE)
                   / CAST(n*n*sxx - n*sx*sx AS DOUBLE) AS r2,
                 CAST(n*n*p3 - n*sx*q3 + m3*sx*sx AS DOUBLE)
                   / CAST(n*n*sxx - n*sx*sx AS DOUBLE) AS r3,
                 CAST(n*n*p4 - n*sx*q4 + m4*sx*sx AS DOUBLE)
                   / CAST(n*n*sxx - n*sx*sx AS DOUBLE) AS r4,
                 CAST(n*n*p5 - n*sx*q5 + m5*sx*sx AS DOUBLE)
                   / CAST(n*n*sxx - n*sx*sx AS DOUBLE) AS r5,
                 CAST(n*n*p6 - n*sx*q6 + m6*sx*sx AS DOUBLE)
                   / CAST(n*n*sxx - n*sx*sx AS DOUBLE) AS r6,
                 CAST(n AS DOUBLE) AS nf,
                 CAST(m1 AS DOUBLE) AS f1, CAST(m2 AS DOUBLE) AS f2,
                 CAST(m3 AS DOUBLE) AS f3, CAST(m4 AS DOUBLE) AS f4,
                 CAST(m5 AS DOUBLE) AS f5, CAST(m6 AS DOUBLE) AS f6
          FROM sums
        )
"""


def _acf_exact(e: DataFrame, max_lag: int) -> DataFrame:
    """Spark twin of _ACF_SQL_SUMS: one event_type-partitioned lag
    window over the hourly series, DECIMAL(38,0) exact-integer sums,
    one float division per lag.  Returns one row per event_type with
    n_hours, m{k}, r{k} (k = 1..max_lag)."""
    series = _hourly_counts(e)
    w = Window.partitionBy("event_type").orderBy("h")
    d = F.col("x").cast("decimal(38,0)")
    lagged = series.select(
        "event_type",
        d.alias("xd"),
        *[
            F.lag("x", k).over(w).cast("decimal(38,0)").alias(f"x{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    aggs = [
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("xd").alias("sx"),
        F.sum(F.col("xd") * F.col("xd")).alias("sxx"),
    ]
    for k in range(1, max_lag + 1):
        xk = F.col(f"x{k}")
        aggs += [
            F.sum(F.col("xd") * xk).alias(f"p{k}"),
            F.sum(F.col("xd") + xk).alias(f"q{k}"),
            F.count(xk).cast("decimal(38,0)").alias(f"m{k}"),
        ]
    sums = lagged.groupBy("event_type").agg(*aggs)
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    den = (n * n * sxx - n * sx * sx).cast("double")
    cols = [
        F.col("event_type"),
        n.cast("long").alias("n_hours"),
    ]
    for k in range(1, max_lag + 1):
        pk, qk, mk = F.col(f"p{k}"), F.col(f"q{k}"), F.col(f"m{k}")
        num = (n * n * pk - n * sx * qk + mk * sx * sx).cast("double")
        cols.append(mk.cast("long").alias(f"m{k}_rows"))
        cols.append((num / den).alias(f"r{k}"))
    return sums.select(*cols)


@register(
    "q_ljung_box",
    oracle="WITH " + _ACF_SQL_SUMS + """
        SELECT event_type, n_hours,
               round(r1, 4) AS acf_1,
               round(nf * (nf + 2) * (r1*r1/f1 + r2*r2/f2 + r3*r3/f3
                     + r4*r4/f4 + r5*r5/f5 + r6*r6/f6), 4) AS q_lb,
               6 AS df
        FROM acf ORDER BY event_type
    """,
    doc="Ljung-Box portmanteau whiteness test (Q = n(n+2) "
    "sum r_k^2/(n-k), lags 1-6) on the hourly event-count series per "
    "type — the standard 'is there ANY autocorrelation left' gate "
    "before trusting q_forecast_skill's persistence baselines or "
    "q_acf's individual lags (six separate r_k tests inflate alpha; "
    "the portmanteau pools them into one chi2_6). Exact-integer ACF: "
    "numerator and denominator are DECIMAL(38,0) sums of integer "
    "count products scaled by n^2, so each r_k is a single float "
    "division — no reducer-order drift. One event_type-partitioned "
    "lag window (positional-lag convention of q_acf: calendar gaps "
    "close up; the matched-pair count m_k stands in for n-k), one "
    "group-keyed reduce.",
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    acf = _acf_exact(e, 6)
    nf = F.col("n_hours").cast("double")
    q = nf * (nf + 2) * sum(
        (F.col(f"r{k}") * F.col(f"r{k}"))
        / F.col(f"m{k}_rows").cast("double")
        for k in range(1, 7)
    )
    return acf.select(
        "event_type",
        "n_hours",
        F.round("r1", 4).alias("acf_1"),
        F.round(q, 4).alias("q_lb"),
        F.lit(6).alias("df"),
    ).orderBy("event_type")


@register(
    "q_yule_walker_ar2",
    oracle="WITH " + _ACF_SQL_SUMS + """
        SELECT event_type, n_hours,
               round(r1, 4) AS acf_1, round(r2, 4) AS acf_2,
               round(r1 * (1 - r2) / (1 - r1 * r1), 6) AS phi1,
               round((r2 - r1 * r1) / (1 - r1 * r1), 6) AS phi2,
               round(1 - (r1 * (1 - r2) / (1 - r1 * r1)) * r1
                       - ((r2 - r1 * r1) / (1 - r1 * r1)) * r2,
                     6) AS resid_var_ratio
        FROM acf ORDER BY event_type
    """,
    doc="AR(2) fit of the hourly event-count series by Yule-Walker "
    "(Box-Jenkins 3.2): phi1 = r1(1-r2)/(1-r1^2), phi2 = "
    "(r2-r1^2)/(1-r1^2) from the exact-integer sample ACF, plus the "
    "implied innovation-variance ratio 1 - phi1*r1 - phi2*r2 (how "
    "much of the series the linear memory explains — the model-order "
    "companion to q_pacf's cutoff diagnostic). Same single-window "
    "exact-ACF plan as q_ljung_box; the closed form needs no "
    "iteration and no matrix solve beyond the 2x2 the formula "
    "already inverts.",
)
def q_yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    acf = _acf_exact(e, 2)
    r1, r2 = F.col("r1"), F.col("r2")
    phi1 = r1 * (1 - r2) / (1 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1 - r1 * r1)
    return acf.select(
        "event_type",
        "n_hours",
        F.round(r1, 4).alias("acf_1"),
        F.round(r2, 4).alias("acf_2"),
        F.round(phi1, 6).alias("phi1"),
        F.round(phi2, 6).alias("phi2"),
        F.round(1 - phi1 * r1 - phi2 * r2, 6).alias("resid_var_ratio"),
    ).orderBy("event_type")


@register(
    "q_granger_lag1",
    oracle="""
        WITH series AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(count(*) AS BIGINT) AS x
          FROM events WHERE event_type IN ('view', 'click')
          GROUP BY 1, 2
        ),
        bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM series),
        grid AS (SELECT unnest(generate_series(h0, h1)) AS h FROM bounds),
        wide AS (
          SELECT g.h,
                 COALESCE(max(CASE WHEN s.event_type = 'view'
                              THEN s.x END), 0) AS v,
                 COALESCE(max(CASE WHEN s.event_type = 'click'
                              THEN s.x END), 0) AS c
          FROM grid g LEFT JOIN series s ON g.h = s.h GROUP BY g.h
        ),
        reg AS (
          SELECT c, v,
                 lag(c) OVER (ORDER BY h) AS c1,
                 lag(v) OVER (ORDER BY h) AS v1
          FROM wide
        ),
        longf AS (
          SELECT 'view->click' AS direction,
                 CAST(c AS HUGEINT) AS y, CAST(c1 AS HUGEINT) AS a,
                 CAST(v1 AS HUGEINT) AS b
          FROM reg WHERE c1 IS NOT NULL
          UNION ALL
          SELECT 'click->view' AS direction,
                 CAST(v AS HUGEINT) AS y, CAST(v1 AS HUGEINT) AS a,
                 CAST(c1 AS HUGEINT) AS b
          FROM reg WHERE c1 IS NOT NULL
        ),
        sums AS (
          SELECT direction, CAST(count(*) AS HUGEINT) AS m,
                 sum(y) AS sy, sum(a) AS sa, sum(b) AS sb,
                 sum(y*y) AS syy, sum(a*a) AS saa, sum(b*b) AS sbb,
                 sum(a*y) AS say, sum(b*y) AS sby, sum(a*b) AS sab
          FROM longf GROUP BY direction
        ),
        cent AS (
          SELECT direction, CAST(m AS BIGINT) AS n_pairs,
                 CAST(m AS DOUBLE) AS mf,
                 CAST(m*syy - sy*sy AS DOUBLE) AS cyy,
                 CAST(m*saa - sa*sa AS DOUBLE) AS caa,
                 CAST(m*sbb - sb*sb AS DOUBLE) AS cbb,
                 CAST(m*say - sa*sy AS DOUBLE) AS cay,
                 CAST(m*sby - sb*sy AS DOUBLE) AS cby,
                 CAST(m*sab - sa*sb AS DOUBLE) AS cab
          FROM sums
        ),
        fit AS (
          SELECT direction, n_pairs, mf, cyy, cay, cby,
                 cyy - cay * cay / NULLIF(caa, 0) AS rss_r,
                 (cay * cbb - cby * cab)
                   / NULLIF(caa * cbb - cab * cab, 0) AS beta_a,
                 (cby * caa - cay * cab)
                   / NULLIF(caa * cbb - cab * cab, 0) AS beta_b
          FROM cent
        )
        SELECT direction, n_pairs,
               round(beta_b, 6) AS beta_cross,
               round((rss_r - (cyy - (beta_a * cay + beta_b * cby)))
                     * (mf - 3)
                     / NULLIF(cyy - (beta_a * cay + beta_b * cby), 0),
                     4) AS f_stat
        FROM fit ORDER BY direction
    """,
    doc="Lag-1 Granger causality between the hourly view and click "
    "count series, both directions: does yesterday's-hour view count "
    "predict this hour's clicks beyond clicks' own lag (and vice "
    "versa)? F = ((RSS_restricted - RSS_full)/1) / (RSS_full/(m-3)) "
    "with both OLS fits in closed form — centered second-moment sums "
    "scaled by m are EXACT DECIMAL(38,0) integers (hourly counts are "
    "integers; the zero-filled grid keeps the lag truly calendar-"
    "adjacent, unlike the positional q_acf convention), so the only "
    "float work is the final 2x2 Cramer solve. One domain-bounded "
    "grid, one tiny_table_partition window for the lag, one 2-row "
    "group reduce — nothing row-scale crosses the network after the "
    "first hourly-count shuffle.",
)
def q_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("view", "click")
    )
    series = _hourly_counts(e)
    bounds = series.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        F.explode(F.sequence("h0", "h1")).alias("h")
    )
    wide = (
        grid.join(series, "h", "left")
        .groupBy("h")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("event_type") == "view", F.col("x"))),
                F.lit(0),
            ).alias("v"),
            F.coalesce(
                F.max(F.when(F.col("event_type") == "click", F.col("x"))),
                F.lit(0),
            ).alias("c"),
        )
    )
    w = Window.partitionBy(tiny_table_partition("h")).orderBy("h")
    reg = (
        wide.select(
            "c",
            "v",
            F.lag("c").over(w).alias("c1"),
            F.lag("v").over(w).alias("v1"),
        )
        .filter(F.col("c1").isNotNull())
    )

    def side(direction, y, a, b):
        d = "decimal(38,0)"
        return reg.select(
            F.lit(direction).alias("direction"),
            F.col(y).cast(d).alias("y"),
            F.col(a).cast(d).alias("a"),
            F.col(b).cast(d).alias("b"),
        )

    longf = side("view->click", "c", "c1", "v1").unionAll(
        side("click->view", "v", "v1", "c1")
    )
    sums = longf.groupBy("direction").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum("y").alias("sy"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
        F.sum(F.col("a") * F.col("y")).alias("say"),
        F.sum(F.col("b") * F.col("y")).alias("sby"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
    )
    m = F.col("m")
    cent = sums.select(
        "direction",
        m.cast("long").alias("n_pairs"),
        m.cast("double").alias("mf"),
        (m * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("cyy"),
        (m * F.col("saa") - F.col("sa") * F.col("sa"))
        .cast("double")
        .alias("caa"),
        (m * F.col("sbb") - F.col("sb") * F.col("sb"))
        .cast("double")
        .alias("cbb"),
        (m * F.col("say") - F.col("sa") * F.col("sy"))
        .cast("double")
        .alias("cay"),
        (m * F.col("sby") - F.col("sb") * F.col("sy"))
        .cast("double")
        .alias("cby"),
        (m * F.col("sab") - F.col("sa") * F.col("sb"))
        .cast("double")
        .alias("cab"),
    )
    caa, cbb, cab = F.col("caa"), F.col("cbb"), F.col("cab")
    cay, cby, cyy = F.col("cay"), F.col("cby"), F.col("cyy")
    det = F.nullif(caa * cbb - cab * cab, F.lit(0.0))
    fit = cent.select(
        "direction",
        "n_pairs",
        "mf",
        "cyy",
        "cay",
        "cby",
        (cyy - cay * cay / F.nullif(caa, F.lit(0.0))).alias("rss_r"),
        ((cay * cbb - cby * cab) / det).alias("beta_a"),
        ((cby * caa - cay * cab) / det).alias("beta_b"),
    )
    rss_u = cyy - (
        F.col("beta_a") * cay + F.col("beta_b") * cby
    )
    return fit.select(
        "direction",
        "n_pairs",
        F.round(F.col("beta_b"), 6).alias("beta_cross"),
        F.round(
            (F.col("rss_r") - rss_u)
            * (F.col("mf") - 3)
            / F.nullif(rss_u, F.lit(0.0)),
            4,
        ).alias("f_stat"),
    ).orderBy("direction")


@register(
    "q_sprt_audit",
    oracle="""
        WITH base AS (
          SELECT event_type, ts, event_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
                 CASE WHEN value > 35 THEN 1 ELSE 0 END AS s
          FROM events
        ),
        rng AS (SELECT event_type, min(ts_s) AS vmin, max(ts_s) AS vmax
                FROM base GROUP BY 1),
        blkd AS (
          SELECT b.*, CASE WHEN r.vmax <= r.vmin THEN 0
                      ELSE LEAST(63, CAST(floor((b.ts_s - r.vmin)
                           / ((r.vmax - r.vmin) / 64.0)) AS BIGINT))
                      END AS blk
          FROM base b JOIN rng r USING (event_type)
        ),
        win AS (
          SELECT event_type, blk, s,
                 sum(s) OVER w AS cs, count(*) OVER w AS cn
          FROM blkd
          WINDOW w AS (PARTITION BY event_type, blk
                       ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        ),
        bt AS (SELECT event_type, blk, CAST(sum(s) AS BIGINT) AS bs,
                      CAST(count(*) AS BIGINT) AS bn
               FROM blkd GROUP BY 1, 2),
        off AS (
          SELECT event_type, blk,
                 COALESCE(sum(bs) OVER wo, 0) AS osum,
                 COALESCE(sum(bn) OVER wo, 0) AS onum
          FROM bt
          WINDOW wo AS (PARTITION BY event_type ORDER BY blk
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING)
        ),
        path AS (
          SELECT w.event_type, o.onum + w.cn AS idx,
                 o.osum + w.cs AS ns
          FROM win w JOIN off o
            ON w.event_type = o.event_type AND w.blk = o.blk
        ),
        llr AS (
          SELECT event_type, idx,
                 ns * ln(1.2) + (idx - ns) * ln(0.8) AS llr
          FROM path
        ),
        crossed AS (
          SELECT event_type, CAST(min(idx) AS BIGINT) AS n_to_decision,
                 min_by(CASE WHEN llr >= ln(19.0) THEN 'H1'
                        ELSE 'H0' END, idx) AS decision
          FROM llr WHERE llr >= ln(19.0) OR llr <= -ln(19.0)
          GROUP BY 1
        ),
        tot AS (SELECT event_type, CAST(sum(bn) AS BIGINT) AS n_events,
                       CAST(sum(bs) AS BIGINT) AS n_succ
                FROM bt GROUP BY 1)
        SELECT t.event_type, t.n_events,
               round(CAST(t.n_succ AS DOUBLE) / t.n_events, 4) AS p_hat,
               COALESCE(c.decision, 'continue') AS decision,
               c.n_to_decision,
               round(t.n_succ * ln(1.2)
                     + (t.n_events - t.n_succ) * ln(0.8), 6)
                 AS llr_final
        FROM tot t LEFT JOIN crossed c USING (event_type)
        ORDER BY t.event_type
    """,
    doc="Wald SPRT (1945) per event type over the time-ordered stream: "
    "H0 p=0.5 vs H1 p=0.6 on success = value > 35, "
    "alpha = beta = 0.05 (boundaries +-ln 19) — the sequential "
    "decision audit an online experiment runs instead of a "
    "fixed-horizon test, reporting WHEN the evidence first crossed "
    "and which way. The cumulative LLR needs only running INTEGER "
    "success/total counts (llr = ns*ln1.2 + nf*ln0.8), so the global "
    "prefix sum rides the block-prefix-sum pattern: per-(type, "
    "range-block) windows in parallel + one bounded per-type block "
    "rollup — no single-partition row-scale window, exact integer "
    "paths, floats only at the readout.",
)
def q_sprt_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    base = e.select(
        "event_type",
        "ts",
        "event_id",
        F.col("ts").cast("long").alias("ts_s"),
        (F.col("value") > 35).cast("long").alias("s"),
    )
    rng = base.groupBy("event_type").agg(
        F.min("ts_s").alias("vmin"), F.max("ts_s").alias("vmax")
    )
    width = (F.col("vmax") - F.col("vmin")) / 64.0
    blk = (
        F.when(F.col("vmax") <= F.col("vmin"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(63),
                F.floor((F.col("ts_s") - F.col("vmin")) / width),
            )
        )
        .cast("long")
    )
    blkd = base.join(F.broadcast(rng), "event_type").withColumn("blk", blk)
    blkd = managed_persist(blkd.select("event_type", "ts", "event_id", "s", "blk"))
    w_in = (
        Window.partitionBy("event_type", "blk")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    win = blkd.select(
        "event_type",
        "blk",
        F.sum("s").over(w_in).alias("cs"),
        F.count(F.lit(1)).over(w_in).alias("cn"),
    )
    bt = blkd.groupBy("event_type", "blk").agg(
        F.sum("s").alias("bs"), F.count(F.lit(1)).alias("bn")
    )
    w_blk = (
        Window.partitionBy("event_type")
        .orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = bt.select(
        "event_type",
        "blk",
        F.coalesce(F.sum("bs").over(w_blk), F.lit(0)).alias("osum"),
        F.coalesce(F.sum("bn").over(w_blk), F.lit(0)).alias("onum"),
    )
    path = win.join(off, ["event_type", "blk"]).select(
        "event_type",
        (F.col("onum") + F.col("cn")).alias("idx"),
        (F.col("osum") + F.col("cs")).alias("ns"),
    )
    l1, l0 = F.log(F.lit(1.2)), F.log(F.lit(0.8))
    a_bound = F.log(F.lit(19.0))
    llr_c = F.col("ns") * l1 + (F.col("idx") - F.col("ns")) * l0
    llr = path.select("event_type", "idx", llr_c.alias("llr"))
    crossed = (
        llr.filter((F.col("llr") >= a_bound) | (F.col("llr") <= -a_bound))
        .groupBy("event_type")
        .agg(
            F.min("idx").cast("long").alias("n_to_decision"),
            F.min_by(
                F.when(F.col("llr") >= a_bound, F.lit("H1")).otherwise(
                    F.lit("H0")
                ),
                F.col("idx"),
            ).alias("decision"),
        )
    )
    tot = bt.groupBy("event_type").agg(
        F.sum("bn").cast("long").alias("n_events"),
        F.sum("bs").cast("long").alias("n_succ"),
    )
    return (
        tot.join(F.broadcast(crossed), "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.round(
                F.col("n_succ").cast("double") / F.col("n_events"), 4
            ).alias("p_hat"),
            F.coalesce(F.col("decision"), F.lit("continue")).alias(
                "decision"
            ),
            "n_to_decision",
            F.round(
                F.col("n_succ") * l1
                + (F.col("n_events") - F.col("n_succ")) * l0,
                6,
            ).alias("llr_final"),
        )
        .orderBy("event_type")
    )


# Shapley scaffold: for every channel c and coalition S of the OTHER
# channels, one row (c, key(S), key(S+c), |S|!*(3-|S|)!) — 32 rows,
# generated once at import; weights are exact integers over 4! = 24.
_SHAP_ROWS = [('click', '', 'click', 6), ('error', '', 'error', 6), ('signup', '', 'signup', 6), ('view', '', 'view', 6), ('error', 'click', 'click,error', 2), ('signup', 'click', 'click,signup', 2), ('view', 'click', 'click,view', 2), ('click', 'error', 'click,error', 2), ('signup', 'error', 'error,signup', 2), ('view', 'error', 'error,view', 2), ('click', 'signup', 'click,signup', 2), ('error', 'signup', 'error,signup', 2), ('view', 'signup', 'signup,view', 2), ('click', 'view', 'click,view', 2), ('error', 'view', 'error,view', 2), ('signup', 'view', 'signup,view', 2), ('signup', 'click,error', 'click,error,signup', 2), ('view', 'click,error', 'click,error,view', 2), ('error', 'click,signup', 'click,error,signup', 2), ('view', 'click,signup', 'click,signup,view', 2), ('error', 'click,view', 'click,error,view', 2), ('signup', 'click,view', 'click,signup,view', 2), ('click', 'error,signup', 'click,error,signup', 2), ('view', 'error,signup', 'error,signup,view', 2), ('click', 'error,view', 'click,error,view', 2), ('signup', 'error,view', 'error,signup,view', 2), ('click', 'signup,view', 'click,signup,view', 2), ('error', 'signup,view', 'error,signup,view', 2), ('view', 'click,error,signup', 'click,error,signup,view', 6), ('signup', 'click,error,view', 'click,error,signup,view', 6), ('error', 'click,signup,view', 'click,error,signup,view', 6), ('click', 'error,signup,view', 'click,error,signup,view', 6)]
_SHAP_VALUES_SQL = """('click', '', 'click', 6),
          ('error', '', 'error', 6),
          ('signup', '', 'signup', 6),
          ('view', '', 'view', 6),
          ('error', 'click', 'click,error', 2),
          ('signup', 'click', 'click,signup', 2),
          ('view', 'click', 'click,view', 2),
          ('click', 'error', 'click,error', 2),
          ('signup', 'error', 'error,signup', 2),
          ('view', 'error', 'error,view', 2),
          ('click', 'signup', 'click,signup', 2),
          ('error', 'signup', 'error,signup', 2),
          ('view', 'signup', 'signup,view', 2),
          ('click', 'view', 'click,view', 2),
          ('error', 'view', 'error,view', 2),
          ('signup', 'view', 'signup,view', 2),
          ('signup', 'click,error', 'click,error,signup', 2),
          ('view', 'click,error', 'click,error,view', 2),
          ('error', 'click,signup', 'click,error,signup', 2),
          ('view', 'click,signup', 'click,signup,view', 2),
          ('error', 'click,view', 'click,error,view', 2),
          ('signup', 'click,view', 'click,signup,view', 2),
          ('click', 'error,signup', 'click,error,signup', 2),
          ('view', 'error,signup', 'error,signup,view', 2),
          ('click', 'error,view', 'click,error,view', 2),
          ('signup', 'error,view', 'error,signup,view', 2),
          ('click', 'signup,view', 'click,signup,view', 2),
          ('error', 'signup,view', 'error,signup,view', 2),
          ('view', 'click,error,signup', 'click,error,signup,view', 6),
          ('signup', 'click,error,view', 'click,error,signup,view', 6),
          ('error', 'click,signup,view', 'click,error,signup,view', 6),
          ('click', 'error,signup,view', 'click,error,signup,view', 6)"""


@register(
    "q_shapley_attribution",
    oracle="""
        WITH f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
        w AS (
          SELECT e.user_id, e.event_type
          FROM events e JOIN f USING (user_id)
          WHERE epoch(e.ts) < epoch(f.t0) + 21600
        ),
        s AS (
          SELECT user_id,
                 COALESCE(array_to_string(list_sort(list_distinct(
                     list(event_type)
                     FILTER (event_type <> 'purchase'))), ','), '')
                   AS st,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                     END) AS conv
          FROM w GROUP BY 1
        ),
        coal AS (SELECT st, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(conv) AS BIGINT) AS k
                 FROM s GROUP BY 1),
        scaf(c, s_key, sc_key, wnum) AS (VALUES
          """ + _SHAP_VALUES_SQL + """),
        terms AS (
          SELECT scaf.c,
                 scaf.wnum * (COALESCE(CAST(cu.k AS DOUBLE) / cu.n, 0.0)
                              - COALESCE(CAST(cs.k AS DOUBLE) / cs.n,
                                         0.0)) / 24.0 AS term
          FROM scaf
            LEFT JOIN coal cs ON cs.st = scaf.s_key
            LEFT JOIN coal cu ON cu.st = scaf.sc_key
        )
        SELECT c AS channel,
               round(CAST(sum(CAST(round(term, 9) AS DECIMAL(18,9)))
                     AS DOUBLE), 6) AS shapley
        FROM terms GROUP BY 1 ORDER BY 1
    """,
    doc="Shapley-value conversion attribution over the four "
    "non-purchase channels (Shapley 1953, applied per Zhao et al. "
    "2018): the characteristic function v(S) is the observed "
    "conversion rate of users whose first-6-hours touched-channel "
    "set is exactly S (unobserved coalitions contribute 0), and each "
    "channel's credit is the exact 4-player Shapley sum — the "
    "axiomatically fair split that last-touch/linear attribution "
    "(q_touch_attribution) can't give. The coalition table is "
    "2^4-bounded, the scaffold is a 32-row literal with exact "
    "integer weights over 4!, and the final per-channel sums are "
    "9dp-DECIMAL; at any corpus scale the only row-scale work is "
    "the per-user set derivation (one groupBy). Efficiency identity "
    "sum(shapley) = v(full) - v(empty) is pinned in tests.",
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    f = e.groupBy("user_id").agg(F.min("ts").alias("t0"))
    w = e.join(f, "user_id").filter(
        F.col("ts").cast("double") < F.col("t0").cast("double") + 21600
    )
    s = w.groupBy("user_id").agg(
        F.concat_ws(
            ",",
            F.sort_array(
                F.array_distinct(
                    F.collect_list(
                        F.when(
                            F.col("event_type") != "purchase",
                            F.col("event_type"),
                        )
                    )
                )
            ),
        ).alias("st"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "conv"
        ),
    )
    coal = s.groupBy("st").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("k"),
    )
    coal = F.broadcast(managed_persist(coal))
    scaf = spark.createDataFrame(
        _SHAP_ROWS, "c string, s_key string, sc_key string, wnum long"
    )
    cs = coal.withColumnsRenamed({"st": "s_key", "n": "ns", "k": "ks"})
    cu = coal.withColumnsRenamed({"st": "sc_key", "n": "nu", "k": "ku"})
    terms = (
        scaf.join(cs, "s_key", "left")
        .join(cu, "sc_key", "left")
        .select(
            "c",
            (
                F.col("wnum")
                * (
                    F.coalesce(
                        F.col("ku").cast("double") / F.col("nu"),
                        F.lit(0.0),
                    )
                    - F.coalesce(
                        F.col("ks").cast("double") / F.col("ns"),
                        F.lit(0.0),
                    )
                )
                / 24.0
            ).alias("term"),
        )
    )
    return (
        terms.groupBy(F.col("c").alias("channel"))
        .agg(
            F.round(
                F.sum(F.round(F.col("term"), 9).cast("decimal(18,9)"))
                .cast("double"),
                6,
            ).alias("shapley")
        )
        .orderBy("channel")
    )


def _entropy_rate_oracle(iters: int = 3) -> str:
    """Unrolled-CTE DuckDB replay of the power-iteration stationary
    distribution + entropy-rate readout — the q_bradley_terry oracle
    pattern over the k x k transition table."""
    head = """
        WITH seq AS MATERIALIZED (
          SELECT user_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS nxt
          FROM events
        ),
        trans AS MATERIALIZED (
          SELECT event_type AS src, nxt AS dst,
                 CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
        ),
        tot AS MATERIALIZED (SELECT src, CAST(sum(n) AS BIGINT) AS t
                             FROM trans GROUP BY 1),
        states AS MATERIALIZED (SELECT DISTINCT src AS st FROM trans),
        hrow AS MATERIALIZED (
          SELECT tr.src AS st,
                 CAST(sum(CAST(round(
                     -(CAST(tr.n AS DOUBLE) / tot.t)
                     * ln(CAST(tr.n AS DOUBLE) / tot.t), 9)
                   AS DECIMAL(28,9))) AS DOUBLE) AS h
          FROM trans tr JOIN tot USING (src) GROUP BY 1
        ),
        pi_0 AS (SELECT st, round(1.0 / (SELECT count(*) FROM states),
                                  9) AS p
                 FROM states)"""
    its = []
    for k in range(1, iters + 1):
        its.append(f"""
        , raw_{k} AS (
          SELECT tr.dst AS st,
                 CAST(sum(CAST(round(
                     pi.p * (CAST(tr.n AS DOUBLE) / tot.t), 9)
                   AS DECIMAL(28,9))) AS DOUBLE) AS pr
          FROM trans tr JOIN tot ON tot.src = tr.src
               JOIN pi_{k - 1} pi ON pi.st = tr.src
          GROUP BY 1
        ), pi_{k} AS (
          SELECT st, round(pr / (
            SELECT CAST(sum(CAST(round(pr, 9) AS DECIMAL(28,9)))
                   AS DOUBLE) FROM raw_{k}), 9) AS p
          FROM raw_{k}
        )"""
        )
    tail = f"""
        , rate AS (
          SELECT CAST(sum(CAST(round(pi.p * h.h, 9) AS DECIMAL(28,9)))
                 AS DOUBLE) AS er
          FROM pi_{iters} pi JOIN hrow h USING (st)
        )
        SELECT pi.st AS state, round(pi.p, 6) AS pi,
               round(h.h, 6) AS h_row,
               round(rate.er, 6) AS entropy_rate
        FROM pi_{iters} pi JOIN hrow h USING (st) CROSS JOIN rate
        ORDER BY state"""
    return head + "".join(its) + tail


@register(
    "q_entropy_rate",
    oracle=_entropy_rate_oracle(iters=3),
    doc="Markov entropy rate of the behavioral transition chain: "
    "H = sum_i pi_i * H(row_i) with the stationary distribution pi "
    "from 3 unrolled power iterations of the row-stochastic "
    "transition matrix — the single bits-per-step compressibility "
    "number that q_transition_entropy's per-row readout doesn't "
    "give (rows must be weighted by how often the chain actually "
    "sits in them). Same scale shape as q_bradley_terry: one "
    "user-partitioned lead window + (src, dst) count shuffle, then "
    "everything lives on the k x k matrix — iterations run as 1-row "
    "literal-projection jobs, trajectory pinned by 9dp rounding "
    "(DECIMAL term sums), oracle replays it as unrolled CTEs.",
)
def q_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn("nxt", F.lead("event_type").over(w)).filter(
        F.col("nxt").isNotNull()
    )
    trans = seq.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count(F.lit(1)).alias("n"))
    trans = managed_persist(trans)
    tmat = {(r.src, r.dst): r.n for r in trans.collect()}
    tot = {}
    for (s_, _), n_ in tmat.items():
        tot[s_] = tot.get(s_, 0) + n_
    states = sorted(tot)
    k = len(states)
    totdf = spark.createDataFrame(
        [(s_, t_) for s_, t_ in sorted(tot.items())], "src string, t long"
    )
    p_ij = F.col("n").cast("double") / F.col("t")
    hrow = (
        trans.join(F.broadcast(totdf), "src")
        .groupBy(F.col("src").alias("st"))
        .agg(
            F.sum(F.round(-p_ij * F.log(p_ij), 9).cast("decimal(28,9)"))
            .cast("double")
            .alias("h")
        )
    )
    # stationary distribution: 1-row literal-projection power
    # iterations (the q_bradley_terry shape) — engine-rounded so the
    # unrolled-CTE oracle replays the identical trajectory
    def dec_sum(cols):
        out = cols[0]
        for c in cols[1:]:
            out = out + c
        return out

    p0 = (
        spark.range(1)
        .select(F.round(F.lit(1.0) / F.lit(float(k)), 9).alias("p"))
        .first()[0]
    )
    pi = {s_: p0 for s_ in states}
    for _ in range(3):
        raw_exprs = {}
        for j in states:
            terms = [
                F.round(
                    F.lit(pi[i])
                    * (F.lit(tmat[(i, j)]) / F.lit(tot[i])),
                    9,
                ).cast("decimal(28,9)")
                for i in states
                if (i, j) in tmat
            ]
            raw_exprs[j] = dec_sum(terms).cast("double")
        srow = spark.range(1).select(
            dec_sum(
                [
                    F.round(raw_exprs[j], 9).cast("decimal(28,9)")
                    for j in states
                ]
            )
            .cast("double")
            .alias("s")
        )
        s_val = srow.first()[0]
        prow = spark.range(1).select(
            *[
                F.round(raw_exprs[j] / F.lit(s_val), 9).alias(f"p_{i}")
                for i, j in enumerate(states)
            ]
        ).first()
        pi = {j: prow[f"p_{i}"] for i, j in enumerate(states)}
    pidf = F.broadcast(
        spark.createDataFrame(
            [(s_, pi[s_]) for s_ in states], "st string, p double"
        )
    )
    joined = hrow.join(pidf, "st")
    joined = managed_persist(joined)
    rate = joined.agg(
        F.sum(
            F.round(F.col("p") * F.col("h"), 9).cast("decimal(28,9)")
        )
        .cast("double")
        .alias("er")
    )
    return (
        joined.crossJoin(F.broadcast(rate))
        .select(
            F.col("st").alias("state"),
            F.round("p", 6).alias("pi"),
            F.round("h", 6).alias("h_row"),
            F.round("er", 6).alias("entropy_rate"),
        )
        .orderBy("state")
    )


def _poisson_glm_oracle(iters: int = 3) -> str:
    """Unrolled-CTE DuckDB replay of the Newton-IRLS trajectory for
    the seasonal Poisson GLM: 9dp-rounded harmonic features, 6dp
    DECIMAL score/Hessian sums, 9dp-rounded coefficient updates —
    the same pinned-trajectory pattern as q_logreg_gd."""
    head = """
        WITH series AS MATERIALIZED (
          SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(count(*) AS BIGINT) AS y
          FROM events GROUP BY 1
        ),
        feat AS MATERIALIZED (
          SELECT y,
                 round(sin(2 * pi() * ((h % 24) / 24.0)), 9) AS x1,
                 round(cos(2 * pi() * ((h % 24) / 24.0)), 9) AS x2
          FROM series
        ),
        init AS (
          SELECT round(ln(CAST(sum(y) AS DOUBLE) / count(*)), 9) AS b0,
                 0.0 AS b1, 0.0 AS b2
          FROM feat
        )"""
    its = []
    for k in range(1, iters + 1):
        prev = "init" if k == 1 else f"beta_{k - 1}"
        its.append(f"""
        , s_{k} AS (
          SELECT
            CAST(sum(CAST(round(y - exp(b.b0 + b.b1 * x1 + b.b2 * x2),
              6) AS DECIMAL(28,6))) AS DOUBLE) AS g0,
            CAST(sum(CAST(round((y - exp(b.b0 + b.b1 * x1 + b.b2 * x2))
              * x1, 6) AS DECIMAL(28,6))) AS DOUBLE) AS g1,
            CAST(sum(CAST(round((y - exp(b.b0 + b.b1 * x1 + b.b2 * x2))
              * x2, 6) AS DECIMAL(28,6))) AS DOUBLE) AS g2,
            CAST(sum(CAST(round(exp(b.b0 + b.b1 * x1 + b.b2 * x2),
              6) AS DECIMAL(28,6))) AS DOUBLE) AS h00,
            CAST(sum(CAST(round(exp(b.b0 + b.b1 * x1 + b.b2 * x2)
              * x1, 6) AS DECIMAL(28,6))) AS DOUBLE) AS h01,
            CAST(sum(CAST(round(exp(b.b0 + b.b1 * x1 + b.b2 * x2)
              * x2, 6) AS DECIMAL(28,6))) AS DOUBLE) AS h02,
            CAST(sum(CAST(round(exp(b.b0 + b.b1 * x1 + b.b2 * x2)
              * x1 * x1, 6) AS DECIMAL(28,6))) AS DOUBLE) AS h11,
            CAST(sum(CAST(round(exp(b.b0 + b.b1 * x1 + b.b2 * x2)
              * x1 * x2, 6) AS DECIMAL(28,6))) AS DOUBLE) AS h12,
            CAST(sum(CAST(round(exp(b.b0 + b.b1 * x1 + b.b2 * x2)
              * x2 * x2, 6) AS DECIMAL(28,6))) AS DOUBLE) AS h22
          FROM feat CROSS JOIN {prev} b
        ), beta_{k} AS (
          SELECT
            round(b.b0 + ((g0 * (h11 * h22 - h12 * h12)
              - g1 * (h01 * h22 - h02 * h12)
              + g2 * (h01 * h12 - h02 * h11))
              / (h00 * (h11 * h22 - h12 * h12)
                 - h01 * (h01 * h22 - h02 * h12)
                 + h02 * (h01 * h12 - h02 * h11))), 9) AS b0,
            round(b.b1 + ((h00 * (g1 * h22 - g2 * h12)
              - h01 * (g0 * h22 - g2 * h02)
              + h02 * (g0 * h12 - g1 * h02))
              / (h00 * (h11 * h22 - h12 * h12)
                 - h01 * (h01 * h22 - h02 * h12)
                 + h02 * (h01 * h12 - h02 * h11))), 9) AS b1,
            round(b.b2 + ((h00 * (h11 * g2 - h12 * g1)
              - h01 * (h01 * g2 - h12 * g0)
              + h02 * (h01 * g1 - h11 * g0))
              / (h00 * (h11 * h22 - h12 * h12)
                 - h01 * (h01 * h22 - h02 * h12)
                 + h02 * (h01 * h12 - h02 * h11))), 9) AS b2
          FROM s_{k} CROSS JOIN {prev} b
        )""")
    tail = f"""
        , dev AS (
          SELECT
            CAST(sum(CAST(round(2 * (CASE WHEN y > 0
              THEN y * ln(y / exp(b.b0 + b.b1 * x1 + b.b2 * x2))
              ELSE 0.0 END
              - (y - exp(b.b0 + b.b1 * x1 + b.b2 * x2))), 6)
              AS DECIMAL(28,6))) AS DOUBLE) AS deviance,
            CAST(count(*) AS BIGINT) AS n_hours
          FROM feat CROSS JOIN beta_{iters} b
        ),
        ndev AS (
          SELECT CAST(sum(CAST(round(2 * (CASE WHEN y > 0
              THEN y * ln(y / exp(i.b0)) ELSE 0.0 END
              - (y - exp(i.b0))), 6) AS DECIMAL(28,6))) AS DOUBLE)
            AS null_dev
          FROM feat CROSS JOIN init i
        )
        SELECT d.n_hours, round(b.b0, 6) AS b0, round(b.b1, 6) AS b1,
               round(b.b2, 6) AS b2,
               round(sqrt(b.b1 * b.b1 + b.b2 * b.b2), 6)
                 AS daily_amplitude,
               round(d.deviance, 4) AS deviance,
               round(1 - d.deviance / n.null_dev, 6) AS pseudo_r2
        FROM beta_{iters} b CROSS JOIN dev d CROSS JOIN ndev n"""
    return head + "".join(its) + tail


@register(
    "q_poisson_glm",
    oracle=_poisson_glm_oracle(iters=3),
    doc="Poisson GLM with a daily harmonic (log-link rate = exp(b0 + "
    "b1 sin + b2 cos of hour-of-day)) fit to the hourly event-count "
    "series by 3 unrolled Newton-IRLS steps — the COUNT-data "
    "regression family beside the Gaussian OLS (q_regression_stats) "
    "and logistic (q_logreg_gd) fits, and the principled version of "
    "q_seasonal_residuals' per-hour baseline (2 parameters instead "
    "of 24, plus deviance/pseudo-R2 model diagnostics). Trajectory "
    "pinned: harmonic features 9dp-rounded, every score/Hessian sum "
    "a 6dp-DECIMAL reduce over the domain-bounded hour series, 3x3 "
    "Newton solve via explicit Cramer determinants, coefficients "
    "9dp-rounded per step; the oracle replays all 3 steps as "
    "unrolled CTEs. Each iteration is ONE map-side-combinable "
    "aggregation — at any scale the model state is 3 floats.",
)
def q_poisson_glm(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = load_table(spark, "events", sf_dir)
    series = e.groupBy(
        (F.col("ts").cast("long") / 3600).cast("long").alias("h")
    ).agg(F.count(F.lit(1)).alias("y"))
    hv = (F.col("h") % 24) / 24.0
    feat = series.select(
        "y",
        F.round(F.sin(2 * math.pi * hv), 9).alias("x1"),
        F.round(F.cos(2 * math.pi * hv), 9).alias("x2"),
    )
    feat = managed_persist(feat)
    init = feat.agg(
        F.round(
            F.log(F.sum("y").cast("double") / F.count(F.lit(1))), 9
        ).alias("b0")
    ).first()
    beta = (float(init["b0"]), 0.0, 0.0)

    def dsum(expr):
        return F.sum(F.round(expr, 6).cast("decimal(28,6)")).cast("double")

    for _ in range(3):
        b0, b1, b2 = (F.lit(v) for v in beta)
        mu = F.exp(b0 + b1 * F.col("x1") + b2 * F.col("x2"))
        y, x1, x2 = F.col("y"), F.col("x1"), F.col("x2")
        s = feat.agg(
            dsum(y - mu).alias("g0"),
            dsum((y - mu) * x1).alias("g1"),
            dsum((y - mu) * x2).alias("g2"),
            dsum(mu).alias("h00"),
            dsum(mu * x1).alias("h01"),
            dsum(mu * x2).alias("h02"),
            dsum(mu * x1 * x1).alias("h11"),
            dsum(mu * x1 * x2).alias("h12"),
            dsum(mu * x2 * x2).alias("h22"),
        ).first()
        g0, g1, g2 = s["g0"], s["g1"], s["g2"]
        h00, h01, h02 = s["h00"], s["h01"], s["h02"]
        h11, h12, h22 = s["h11"], s["h12"], s["h22"]
        # 3x3 Cramer solve + 9dp step, all through engine expressions
        # (1-row projection) so the oracle's identical CTE text lands
        # on the same doubles
        L = F.lit
        det = (
            L(h00) * (L(h11) * L(h22) - L(h12) * L(h12))
            - L(h01) * (L(h01) * L(h22) - L(h02) * L(h12))
            + L(h02) * (L(h01) * L(h12) - L(h02) * L(h11))
        )
        d0 = (
            L(g0) * (L(h11) * L(h22) - L(h12) * L(h12))
            - L(g1) * (L(h01) * L(h22) - L(h02) * L(h12))
            + L(g2) * (L(h01) * L(h12) - L(h02) * L(h11))
        )
        d1 = (
            L(h00) * (L(g1) * L(h22) - L(g2) * L(h12))
            - L(h01) * (L(g0) * L(h22) - L(g2) * L(h02))
            + L(h02) * (L(g0) * L(h12) - L(g1) * L(h02))
        )
        d2 = (
            L(h00) * (L(h11) * L(g2) - L(h12) * L(g1))
            - L(h01) * (L(h01) * L(g2) - L(h12) * L(g0))
            + L(h02) * (L(h01) * L(g1) - L(h11) * L(g0))
        )
        row = spark.range(1).select(
            F.round(L(beta[0]) + d0 / det, 9).alias("b0"),
            F.round(L(beta[1]) + d1 / det, 9).alias("b1"),
            F.round(L(beta[2]) + d2 / det, 9).alias("b2"),
        ).first()
        beta = (row["b0"], row["b1"], row["b2"])
    b0, b1, b2 = (F.lit(v) for v in beta)
    mu = F.exp(b0 + b1 * F.col("x1") + b2 * F.col("x2"))
    y = F.col("y")
    dev_term = 2 * (
        F.when(y > 0, y * F.log(y / mu)).otherwise(F.lit(0.0)) - (y - mu)
    )
    mu0 = F.exp(F.lit(float(init["b0"])))
    ndev_term = 2 * (
        F.when(y > 0, y * F.log(y / mu0)).otherwise(F.lit(0.0))
        - (y - mu0)
    )
    out = feat.agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        dsum(dev_term).alias("deviance"),
        dsum(ndev_term).alias("null_dev"),
    )
    return out.select(
        "n_hours",
        F.round(b0, 6).alias("b0"),
        F.round(b1, 6).alias("b1"),
        F.round(b2, 6).alias("b2"),
        F.round(F.sqrt(b1 * b1 + b2 * b2), 6).alias("daily_amplitude"),
        F.round("deviance", 4).alias("deviance"),
        F.round(1 - F.col("deviance") / F.col("null_dev"), 6).alias(
            "pseudo_r2"
        ),
    )


@register(
    "q_iv_wald",
    oracle="""
        WITH base AS (
          SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS z,
                 CASE WHEN event_type IN ('click', 'signup')
                 THEN 1 ELSE 0 END AS x,
                 CAST(round(value, 2) * 100 AS HUGEINT) AS yc
          FROM events
        ),
        s AS (
          SELECT z, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(yc) AS HUGEINT) AS sy
          FROM base GROUP BY 1
        ),
        w AS (
          SELECT
            (SELECT n FROM s WHERE z = 1) AS n1,
            (SELECT n FROM s WHERE z = 0) AS n0,
            (SELECT CAST(sx AS DOUBLE) / n FROM s WHERE z = 1)
              - (SELECT CAST(sx AS DOUBLE) / n FROM s WHERE z = 0)
              AS first_stage,
            ((SELECT CAST(sy AS DOUBLE) / n FROM s WHERE z = 1)
             - (SELECT CAST(sy AS DOUBLE) / n FROM s WHERE z = 0))
              / 100.0 AS reduced_form
        )
        SELECT n1 AS n_z1, n0 AS n_z0,
               round(first_stage, 6) AS first_stage,
               round(reduced_form, 6) AS reduced_form,
               round(reduced_form / first_stage, 4) AS wald_iv
        FROM w
    """,
    doc="Wald instrumental-variable estimator (the just-identified "
    "2SLS): instrument z = user-id parity (an as-good-as-random "
    "split on this synthetic fixture), treatment x = engaged action "
    "(click/signup), outcome y = event value — IV = reduced-form "
    "effect / first-stage effect, the causal-inference surface "
    "completing the battery next to q_diff_in_diff / q_cuped_lift "
    "(those need parallel trends or a covariate; IV needs an "
    "exclusion restriction instead). Method demo on synthetic data: "
    "with a near-zero first stage the ratio is honest but noisy — "
    "exactly the weak-instrument readout the first_stage column is "
    "there to expose. Money sums ride exact DECIMAL cents; one "
    "2-group reduce.",
)
def q_iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    base = e.select(
        (F.col("user_id") % 2 == 0).cast("int").alias("z"),
        F.col("event_type")
        .isin("click", "signup")
        .cast("int")
        .alias("x"),
        (F.round(F.col("value"), 2) * 100)
        .cast("decimal(38,0)")
        .alias("yc"),
    )
    s = base.groupBy("z").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("yc").alias("sy"),
    )
    z1 = s.filter(F.col("z") == 1).select(
        F.col("n").alias("n1"),
        (F.col("sx").cast("double") / F.col("n")).alias("x1"),
        (F.col("sy").cast("double") / F.col("n")).alias("y1"),
    )
    z0 = s.filter(F.col("z") == 0).select(
        F.col("n").alias("n0"),
        (F.col("sx").cast("double") / F.col("n")).alias("x0"),
        (F.col("sy").cast("double") / F.col("n")).alias("y0"),
    )
    fs = F.col("x1") - F.col("x0")
    rf = (F.col("y1") - F.col("y0")) / 100.0
    return z1.crossJoin(F.broadcast(z0)).select(
        F.col("n1").alias("n_z1"),
        F.col("n0").alias("n_z0"),
        F.round(fs, 6).alias("first_stage"),
        F.round(rf, 6).alias("reduced_form"),
        F.round(rf / fs, 4).alias("wald_iv"),
    )


# Integer-scaled 2-state HMM score constants: ln(0.9)*1e6 and
# ln(0.1)*1e6, pinned as literals so neither engine evaluates a
# transcendental for the transition matrix.
_HMM_T_STAY = -105361
_HMM_T_SWITCH = -2302585


@register(
    "q_hmm_viterbi",
    oracle=f"""
        WITH RECURSIVE series AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS h,
                 CAST(count(*) AS BIGINT) AS y
          FROM events GROUP BY 1, 2
        ),
        idx AS (
          SELECT event_type, y,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY h) AS rn
          FROM series
        ),
        lam AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 1.25 * (CAST(sum(y) AS DOUBLE) / count(*)) AS lh,
                 0.75 * (CAST(sum(y) AS DOUBLE) / count(*)) AS ll
          FROM idx GROUP BY 1
        ),
        consts AS (
          SELECT event_type, n,
                 CAST(round(ln(lh) * 1000000) AS BIGINT) AS l_hi,
                 CAST(round(lh * 1000000) AS BIGINT) AS lam_hi,
                 CAST(round(ln(ll) * 1000000) AS BIGINT) AS l_lo,
                 CAST(round(ll * 1000000) AS BIGINT) AS lam_lo
          FROM lam
        ),
        fwd AS (
          SELECT i.event_type, i.rn,
                 i.y * c.l_hi - c.lam_hi AS v_hi,
                 i.y * c.l_lo - c.lam_lo AS v_lo
          FROM idx i JOIN consts c USING (event_type) WHERE i.rn = 1
          UNION ALL
          SELECT i.event_type, i.rn,
                 i.y * c.l_hi - c.lam_hi
                   + GREATEST(f.v_hi + {_HMM_T_STAY},
                              f.v_lo + {_HMM_T_SWITCH}) AS v_hi,
                 i.y * c.l_lo - c.lam_lo
                   + GREATEST(f.v_lo + {_HMM_T_STAY},
                              f.v_hi + {_HMM_T_SWITCH}) AS v_lo
          FROM fwd f
            JOIN idx i ON i.event_type = f.event_type
                       AND i.rn = f.rn + 1
            JOIN consts c ON c.event_type = f.event_type
        ),
        fwdm AS MATERIALIZED (SELECT * FROM fwd),
        back AS (
          SELECT f.event_type, f.rn,
                 CASE WHEN f.v_hi >= f.v_lo THEN 1 ELSE 0 END AS st,
                 f.v_hi, f.v_lo
          FROM fwdm f JOIN consts c ON c.event_type = f.event_type
                     AND f.rn = c.n
          UNION ALL
          SELECT f.event_type, f.rn,
                 CASE b.st
                   WHEN 1 THEN CASE WHEN f.v_hi + {_HMM_T_STAY}
                                  >= f.v_lo + {_HMM_T_SWITCH}
                               THEN 1 ELSE 0 END
                   ELSE CASE WHEN f.v_lo + {_HMM_T_STAY}
                           >= f.v_hi + {_HMM_T_SWITCH}
                        THEN 0 ELSE 1 END
                 END AS st,
                 f.v_hi, f.v_lo
          FROM back b
            JOIN fwdm f ON f.event_type = b.event_type
                       AND f.rn = b.rn - 1
        ),
        path AS (SELECT event_type, rn, st FROM back)
        SELECT p.event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(p.st) AS BIGINT) AS n_high_days,
               CAST(sum(CASE WHEN nx.st IS NOT NULL
                        AND nx.st <> p.st THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_switches,
               round(CAST(max(CASE WHEN p.rn = c.n THEN
                        GREATEST(p2.v_hi, p2.v_lo) END) AS DOUBLE)
                     / 1000000, 4) AS viterbi_score
        FROM path p
          LEFT JOIN path nx ON nx.event_type = p.event_type
                            AND nx.rn = p.rn + 1
          JOIN consts c ON c.event_type = p.event_type
          JOIN back p2 ON p2.event_type = p.event_type
                       AND p2.rn = p.rn
        GROUP BY p.event_type ORDER BY p.event_type
    """,
    doc="2-state HMM regime decoding (Viterbi) of the daily "
    "event-count series: high/low-activity states with Poisson-rate "
    "emissions at 1.25x / 0.75x the series mean and sticky 0.9/0.1 "
    "transitions — reports hours in the high regime, regime "
    "switches, and the Viterbi path score per type (the "
    "duration-aware segmentation q_cusum_changepoint's single "
    "changepoint and q_sax_symbols' memoryless codes can't give). "
    "Determinism is TOTAL: log-rates and rates scale to integer "
    "micro-nats once per series (4 scalars), transitions are pinned "
    "integer literals, so the entire forward DP and backward path "
    "recovery is int64 arithmetic with a fixed tie rule — the "
    "DuckDB oracle replays it as two recursive CTEs (forward "
    "scores, backward argmax walk). Spark runs the identical int64 "
    "DP per event_type under applyInPandas — series are "
    "domain-bounded (hours in range), the holt_linear per-group "
    "sequential-fit convention; day series are ~30 steps so the "
    "recursive oracle stays cheap.",
)
def q_hmm_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    e = load_table(spark, "events", sf_dir)
    series = e.groupBy(
        "event_type",
        (F.col("ts").cast("long") / 86400).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).alias("x"))

    t_stay, t_switch = _HMM_T_STAY, _HMM_T_SWITCH

    def decode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h")
        y = pdf["x"].to_numpy(np.int64)
        n = len(y)
        mean = float(y.sum()) / n
        lh, ll = 1.25 * mean, 0.75 * mean
        l_hi = int(round(np.log(lh) * 1e6))
        lam_hi = int(round(lh * 1e6))
        l_lo = int(round(np.log(ll) * 1e6))
        lam_lo = int(round(ll * 1e6))
        v_hi = np.empty(n, np.int64)
        v_lo = np.empty(n, np.int64)
        v_hi[0] = y[0] * l_hi - lam_hi
        v_lo[0] = y[0] * l_lo - lam_lo
        for t in range(1, n):
            v_hi[t] = y[t] * l_hi - lam_hi + max(
                v_hi[t - 1] + t_stay, v_lo[t - 1] + t_switch
            )
            v_lo[t] = y[t] * l_lo - lam_lo + max(
                v_lo[t - 1] + t_stay, v_hi[t - 1] + t_switch
            )
        st = np.empty(n, np.int64)
        st[n - 1] = 1 if v_hi[n - 1] >= v_lo[n - 1] else 0
        for t in range(n - 2, -1, -1):
            if st[t + 1] == 1:
                st[t] = 1 if v_hi[t] + t_stay >= v_lo[t] + t_switch else 0
            else:
                st[t] = 0 if v_lo[t] + t_stay >= v_hi[t] + t_switch else 1
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [n],
                "n_high_days": [int(st.sum())],
                "n_switches": [int((st[1:] != st[:-1]).sum())],
                "viterbi_score": [
                    round(float(max(v_hi[n - 1], v_lo[n - 1])) / 1e6, 4)
                ],
            }
        )

    return (
        series.groupBy("event_type")
        .applyInPandas(
            decode,
            schema="event_type string, n_days long, n_high_days long,"
            " n_switches long, viterbi_score double",
        )
        .orderBy("event_type")
    )


@register(
    "q_gumbel_return_levels",
    oracle="""
        WITH daily AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                 max(value) AS mx
          FROM events GROUP BY 1, 2
        ),
        cents AS (
          SELECT event_type,
                 CAST(round(mx, 2) * 100 AS HUGEINT) AS c
          FROM daily
        ),
        mom AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 sum(c) AS s1, sum(c * c) AS s2
          FROM cents GROUP BY 1
        ),
        fit AS (
          SELECT event_type, n,
                 (CAST(s1 AS DOUBLE) / n) / 100.0 AS mean_mx,
                 sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (n - 1))) / 100.0 AS sd_mx
          FROM mom
        ),
        gum AS (
          SELECT event_type, n, mean_mx, sd_mx,
                 sd_mx * 0.7796968012336093 AS beta,
                 mean_mx
                   - sd_mx * 0.7796968012336093
                     * 0.5772156649015329 AS mu
          FROM fit
        )
        SELECT event_type, n AS n_days,
               round(mean_mx, 4) AS mean_daily_max,
               round(mu, 4) AS gumbel_mu,
               round(beta, 4) AS gumbel_beta,
               round(mu - beta * ln(-ln(1 - 1.0 / 30)), 4)
                 AS rl_30d,
               round(mu - beta * ln(-ln(1 - 1.0 / 365)), 4)
                 AS rl_365d
        FROM gum ORDER BY event_type
    """,
    doc="Extreme-value analysis of daily maxima (block-maxima "
    "Gumbel fit by method of moments: beta = sd*sqrt(6)/pi, mu = "
    "mean - beta*gamma) with 30-day and 365-day return levels — the "
    "tail-risk readout capacity planning actually asks for ('what "
    "peak value should we expect once a year?'), which mean/"
    "percentile summaries structurally underestimate. sqrt(6)/pi "
    "and the Euler-Mascheroni constant are pinned double literals "
    "in both engines; daily-max cents ride exact DECIMAL so the "
    "moments are one float division each. One domain-bounded "
    "(type, day) max shuffle, k-row epilogue.",
)
def q_gumbel_return_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    daily = e.groupBy(
        "event_type",
        (F.col("ts").cast("long") / 86400).cast("long").alias("d"),
    ).agg(F.max("value").alias("mx"))
    cents = daily.select(
        "event_type",
        (F.round(F.col("mx"), 2) * 100).cast("decimal(38,0)").alias("c"),
    )
    mom = cents.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    n = F.col("n")
    mean_mx = (F.col("s1").cast("double") / n) / 100.0
    sd_mx = (
        F.sqrt(
            (n.cast("decimal(38,0)") * F.col("s2")
             - F.col("s1") * F.col("s1")).cast("double")
            / (n.cast("double") * (n.cast("double") - 1))
        )
        / 100.0
    )
    beta = sd_mx * 0.7796968012336093
    mu = mean_mx - beta * 0.5772156649015329
    return mom.select(
        "event_type",
        n.alias("n_days"),
        F.round(mean_mx, 4).alias("mean_daily_max"),
        F.round(mu, 4).alias("gumbel_mu"),
        F.round(beta, 4).alias("gumbel_beta"),
        F.round(mu - beta * F.log(-F.log(F.lit(1 - 1.0 / 30))), 4).alias(
            "rl_30d"
        ),
        F.round(mu - beta * F.log(-F.log(F.lit(1 - 1.0 / 365))), 4).alias(
            "rl_365d"
        ),
    ).orderBy("event_type")


@register(
    "q_nelson_aalen",
    oracle="""
        WITH per_u AS (
          SELECT user_id,
                 CAST(min(floor(epoch(ts))) AS BIGINT) AS first_s,
                 CAST(max(floor(epoch(ts))) AS BIGINT) AS last_s
          FROM events GROUP BY 1
        ), hz AS (
          SELECT CAST(max(floor(epoch(ts))) AS BIGINT) AS horizon
          FROM events
        ), dur AS (
          SELECT CASE WHEN h.horizon - u.last_s > 43200
                      THEN (u.last_s - u.first_s) // 3600
                      ELSE (h.horizon - u.first_s) // 3600 END AS t,
                 CASE WHEN h.horizon - u.last_s > 43200
                      THEN 1 ELSE 0 END AS ev
          FROM per_u u, hz h
        ), at_t AS (
          SELECT t, CAST(count(*) AS BIGINT) AS a,
                 CAST(sum(ev) AS BIGINT) AS d
          FROM dur GROUP BY 1
        ), risk AS (
          SELECT t, a, d,
                 (SELECT CAST(count(*) AS BIGINT) FROM dur)
                 - CAST(coalesce(sum(a) OVER (
                     ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
          FROM at_t
        ), ev_only AS (
          SELECT t, n_risk, d,
                 CAST(round(CAST(d AS DOUBLE) / n_risk, 9)
                   AS DECIMAL(18,9)) AS hterm,
                 CAST(round(CAST(d AS DOUBLE)
                            / (CAST(n_risk AS DOUBLE) * n_risk), 9)
                   AS DECIMAL(18,9)) AS vterm
          FROM risk WHERE d > 0
        )
        SELECT t AS duration_h, n_risk, d AS d_events,
               round(CAST(sum(hterm) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS DOUBLE), 6) AS h_cum,
               round(CAST(sum(vterm) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS DOUBLE), 6) AS var_h
        FROM ev_only ORDER BY t
    """,
    doc="Nelson-Aalen cumulative-hazard estimator of user lifetime — "
    "the additive partner to q_kaplan_meier's product-limit curve "
    "(H(t) = sum_{t_i<=t} d_i/n_i with Aalen's variance sum d_i/n_i^2; "
    "same right-censoring convention: churned = last event >12h "
    "before the horizon). Preferred over -ln(KM) in sparse risk sets "
    "(it never degenerates when d = n). Scale shape identical to KM: "
    "one per-user keyed agg, risk sets from cumulative counts over "
    "the DISTINCT duration grid (domain-bounded hours), per-term "
    "9dp-DECIMAL hazard increments so both engines walk identical "
    "partial sums. No per-user window, no global row sort.",
)
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    per_u = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("long")).alias("first_s"),
        F.max(F.col("ts").cast("long")).alias("last_s"),
    )
    hz = e.agg(F.max(F.col("ts").cast("long")).alias("horizon"))
    churned = (F.col("horizon") - F.col("last_s")) > 43200
    dur = per_u.crossJoin(F.broadcast(hz)).select(
        F.when(churned, F.expr("(last_s - first_s) div 3600"))
        .otherwise(F.expr("(horizon - first_s) div 3600"))
        .alias("t"),
        F.when(churned, F.lit(1)).otherwise(F.lit(0)).alias("ev"),
    )
    at_t = dur.groupBy("t").agg(
        F.count(F.lit(1)).alias("a"), F.sum("ev").alias("d")
    )
    ntot = dur.agg(F.count(F.lit(1)).alias("nt"))
    w = Window.partitionBy(tiny_table_partition("t")).orderBy("t")
    risk = (
        at_t.crossJoin(F.broadcast(ntot))
        .withColumn(
            "n_risk",
            F.col("nt")
            - F.coalesce(
                F.sum("a").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .filter(F.col("d") > 0)
    )
    nr = F.col("n_risk").cast("double")
    hterm = F.round(F.col("d").cast("double") / nr, 9).cast("decimal(18,9)")
    vterm = F.round(F.col("d").cast("double") / (nr * nr), 9).cast(
        "decimal(18,9)"
    )
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        risk.withColumn("hterm", hterm)
        .withColumn("vterm", vterm)
        .select(
            F.col("t").alias("duration_h"),
            "n_risk",
            F.col("d").alias("d_events"),
            F.round(F.sum("hterm").over(cum).cast("double"), 6).alias(
                "h_cum"
            ),
            F.round(F.sum("vterm").over(cum).cast("double"), 6).alias(
                "var_h"
            ),
        )
        .orderBy("duration_h")
    )


@register(
    "q_kendall_tau",
    oracle="""
        WITH bounds AS (
          SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS h0,
                 max(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS h1
          FROM events
        ), grid AS (
          SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds
        ), cnts AS (
          SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(sum(CASE WHEN event_type = 'click'
                          THEN 1 ELSE 0 END) AS BIGINT) AS xa,
                 CAST(sum(CASE WHEN event_type = 'view'
                          THEN 1 ELSE 0 END) AS BIGINT) AS xb
          FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
        ), ser AS (
          SELECT g.h, COALESCE(c.xa, 0) AS xa, COALESCE(c.xb, 0) AS xb
          FROM grid g LEFT JOIN cnts c USING (h)
        ), pairs AS (
          SELECT CAST(sum(CASE
                   WHEN (i.xa - j.xa) * (i.xb - j.xb) > 0 THEN 1
                   WHEN (i.xa - j.xa) * (i.xb - j.xb) < 0 THEN -1
                   ELSE 0 END) AS BIGINT) AS s,
                 CAST(sum(CASE WHEN i.xa = j.xa THEN 1 ELSE 0 END)
                   AS BIGINT) AS ta,
                 CAST(sum(CASE WHEN i.xb = j.xb THEN 1 ELSE 0 END)
                   AS BIGINT) AS tb,
                 CAST(count(*) AS BIGINT) AS n0
          FROM ser i JOIN ser j ON i.h < j.h
        )
        SELECT n0 AS n_pairs, s AS s_stat, ta AS ties_a, tb AS ties_b,
               round(CAST(s AS DOUBLE)
                     / sqrt(CAST(n0 - ta AS DOUBLE) * (n0 - tb)), 6)
                 AS tau_b
        FROM pairs
    """,
    doc="Kendall tau-b rank correlation between the hourly click and "
    "view count series (zero-filled over the full hour grid) — the "
    "concordance-based dependence measure that, unlike "
    "q_spearman_corr, is robust to the mass ties integer count "
    "series produce (tau-b divides out tied pairs on each margin). "
    "S = sum of sign products over all hour pairs, exact integers; "
    "tau-b = S/sqrt((n0-t_a)(n0-t_b)) is one rounded scalar. Scale "
    "shape: the pair join is over the time-DOMAIN-bounded hour grid "
    "(O(H^2) on ~720 hours at every SF, independent of event rows); "
    "the event scan itself is one partial-agged hour bucketing.",
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    hcol = (F.col("ts").cast("long") / 3600).cast("long")
    bounds = e.agg(
        F.min(hcol).alias("h0"), F.max(hcol).alias("h1")
    )
    grid = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    cnts = (
        e.filter(F.col("event_type").isin("click", "view"))
        .groupBy(hcol.alias("h"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("xa"),
            F.sum(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).alias("xb"),
        )
    )
    ser = managed_persist(
        grid.join(cnts, "h", "left").select(
            "h",
            F.coalesce("xa", F.lit(0)).alias("xa"),
            F.coalesce("xb", F.lit(0)).alias("xb"),
        )
    )
    j = ser.select(
        F.col("h").alias("h2"),
        F.col("xa").alias("ya"),
        F.col("xb").alias("yb"),
    )
    prod = (F.col("xa") - F.col("ya")) * (F.col("xb") - F.col("yb"))
    pairs = (
        ser.join(j, F.col("h") < F.col("h2"))
        .agg(
            F.sum(
                F.when(prod > 0, 1).when(prod < 0, -1).otherwise(0)
            ).alias("s"),
            F.sum(
                F.when(F.col("xa") == F.col("ya"), 1).otherwise(0)
            ).alias("ta"),
            F.sum(
                F.when(F.col("xb") == F.col("yb"), 1).otherwise(0)
            ).alias("tb"),
            F.count(F.lit(1)).alias("n0"),
        )
    )
    return pairs.select(
        F.col("n0").alias("n_pairs"),
        F.col("s").alias("s_stat"),
        F.col("ta").alias("ties_a"),
        F.col("tb").alias("ties_b"),
        F.round(
            F.col("s").cast("double")
            / F.sqrt(
                (F.col("n0") - F.col("ta")).cast("double")
                * (F.col("n0") - F.col("tb"))
            ),
            6,
        ).alias("tau_b"),
    )


@register(
    "q_bowker_symmetry",
    oracle="""
        WITH seq AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS nxt
          FROM events
        ), trans AS (
          SELECT event_type AS src, nxt AS dst,
                 CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
        ), cells AS (
          SELECT a.src AS i, a.dst AS j, a.n AS nij,
                 CAST(COALESCE(b.n, 0) AS BIGINT) AS nji
          FROM trans a LEFT JOIN trans b
            ON a.src = b.dst AND a.dst = b.src
          WHERE a.src < a.dst
        )
        SELECT CAST(count(*) AS BIGINT) AS df,
               CAST(sum(nij + nji) AS BIGINT) AS n_offdiag,
               round(CAST(sum(CAST(round(
                   CAST((nij - nji) AS DOUBLE) * (nij - nji)
                   / (nij + nji), 9) AS DECIMAL(18,9))) AS DOUBLE), 6)
                 AS chi2
        FROM cells
    """,
    doc="Bowker's test of symmetry (Bowker 1948 — the k x k "
    "generalization of McNemar that q_mcnemar_filters covers only "
    "for 2x2) over the user event-type transition matrix: is "
    "P(view -> purchase) = P(purchase -> view) for every pair, i.e. "
    "is the behavior graph reversible? chi2 = sum_{i<j} "
    "(n_ij - n_ji)^2/(n_ij + n_ji), df = pairs with traffic. Exact "
    "integer transition counts (the q_event_transitions window + "
    "keyed count), per-term 9dp-DECIMAL chi2 sum over the k^2-bounded "
    "cell table; pairs where only one direction occurs contribute "
    "their full count (the asymmetric extreme).",
)
def q_bowker_symmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn("nxt", F.lead("event_type").over(w)).filter(
        F.col("nxt").isNotNull()
    )
    trans = seq.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count(F.lit(1)).alias("n"))
    trans = managed_persist(trans)
    b = trans.select(
        F.col("src").alias("bsrc"),
        F.col("dst").alias("bdst"),
        F.col("n").alias("nji"),
    )
    cells = (
        trans.filter(F.col("src") < F.col("dst"))
        .join(
            F.broadcast(b),
            (F.col("src") == F.col("bdst")) & (F.col("dst") == F.col("bsrc")),
            "left",
        )
        .select(
            F.col("n").alias("nij"),
            F.coalesce("nji", F.lit(0)).alias("nji"),
        )
    )
    d = (F.col("nij") - F.col("nji")).cast("double")
    term = F.round(
        d * (F.col("nij") - F.col("nji")) / (F.col("nij") + F.col("nji")), 9
    ).cast("decimal(18,9)")
    return cells.agg(
        F.count(F.lit(1)).alias("df"),
        F.sum(F.col("nij") + F.col("nji")).alias("n_offdiag"),
        F.round(F.sum(term).cast("double"), 6).alias("chi2"),
    )


@register(
    "q_log_rank_test",
    oracle="""
        WITH per_u AS (
          SELECT user_id, CAST(user_id % 2 AS INT) AS g,
                 CAST(min(floor(epoch(ts))) AS BIGINT) AS first_s,
                 CAST(max(floor(epoch(ts))) AS BIGINT) AS last_s
          FROM events GROUP BY 1, 2
        ), hz AS (
          SELECT CAST(max(floor(epoch(ts))) AS BIGINT) AS horizon
          FROM events
        ), dur AS (
          SELECT g,
                 CASE WHEN h.horizon - u.last_s > 43200
                      THEN (u.last_s - u.first_s) // 3600
                      ELSE (h.horizon - u.first_s) // 3600 END AS t,
                 CASE WHEN h.horizon - u.last_s > 43200
                      THEN 1 ELSE 0 END AS ev
          FROM per_u u, hz h
        ), tots AS (
          SELECT CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS tot0,
                 CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS tot1
          FROM dur
        ), at_t AS (
          SELECT t,
                 CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS a0,
                 CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS a1,
                 CAST(sum(CASE WHEN g = 0 THEN ev ELSE 0 END) AS BIGINT)
                   AS d0,
                 CAST(sum(CASE WHEN g = 1 THEN ev ELSE 0 END) AS BIGINT)
                   AS d1
          FROM dur GROUP BY 1
        ), risk AS (
          SELECT t, d0, d1,
                 tot0 - CAST(coalesce(sum(a0) OVER (
                     ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS n0,
                 tot1 - CAST(coalesce(sum(a1) OVER (
                     ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS n1
          FROM at_t, tots
        ), terms AS (
          SELECT d1,
                 CAST(round(CAST(d0 + d1 AS DOUBLE) * n1 / (n0 + n1), 9)
                   AS DECIMAL(18,9)) AS e1,
                 CAST(round(CASE WHEN n0 + n1 > 1 THEN
                     CAST(d0 + d1 AS DOUBLE)
                     * (CAST(n1 AS DOUBLE) / (n0 + n1))
                     * (CAST(n0 AS DOUBLE) / (n0 + n1))
                     * (n0 + n1 - d0 - d1)
                     / (n0 + n1 - 1) ELSE 0 END, 9)
                   AS DECIMAL(18,9)) AS v1
          FROM risk WHERE d0 + d1 > 0
        )
        SELECT CAST(count(*) AS BIGINT) AS n_times,
               CAST(sum(d1) AS BIGINT) AS o1,
               round(CAST(sum(e1) AS DOUBLE), 6) AS e1_sum,
               round(CAST(sum(v1) AS DOUBLE), 6) AS v_sum,
               round((CAST(sum(d1) AS DOUBLE) - CAST(sum(e1) AS DOUBLE))
                     / sqrt(CAST(sum(v1) AS DOUBLE)), 6) AS z_score,
               round(POWER(CAST(sum(d1) AS DOUBLE)
                           - CAST(sum(e1) AS DOUBLE), 2)
                     / CAST(sum(v1) AS DOUBLE), 6) AS chi2
        FROM terms
    """,
    doc="Log-rank (Mantel-Cox) test comparing the churn-survival "
    "curves of even- vs odd-id users — the two-sample partner to "
    "q_kaplan_meier/q_nelson_aalen (same lifetime and >12h-censoring "
    "convention): at each event time the observed group-1 deaths are "
    "scored against the hypergeometric expectation "
    "E = d*n1/(n0+n1) with variance d*(n1/n)(n0/n)(n-d)/(n-1); "
    "chi2 = (O-E)^2/V. Per-time E and V are 9dp-DECIMAL terms so both "
    "engines walk identical sums; risk sets come from per-group "
    "cumulative counts over the DISTINCT duration grid "
    "(domain-bounded hours). One per-user keyed agg, one tiny-grid "
    "window, a 1-row epilogue.",
)
def q_log_rank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    per_u = e.groupBy(
        "user_id", (F.col("user_id") % 2).cast("int").alias("g")
    ).agg(
        F.min(F.col("ts").cast("long")).alias("first_s"),
        F.max(F.col("ts").cast("long")).alias("last_s"),
    )
    hz = e.agg(F.max(F.col("ts").cast("long")).alias("horizon"))
    churned = (F.col("horizon") - F.col("last_s")) > 43200
    dur = per_u.crossJoin(F.broadcast(hz)).select(
        "g",
        F.when(churned, F.expr("(last_s - first_s) div 3600"))
        .otherwise(F.expr("(horizon - first_s) div 3600"))
        .alias("t"),
        F.when(churned, F.lit(1)).otherwise(F.lit(0)).alias("ev"),
    )
    dur = managed_persist(dur)
    g0 = F.when(F.col("g") == 0, 1).otherwise(0)
    g1 = F.when(F.col("g") == 1, 1).otherwise(0)
    tots = dur.agg(
        F.sum(g0).alias("tot0"), F.sum(g1).alias("tot1")
    )
    at_t = dur.groupBy("t").agg(
        F.sum(g0).alias("a0"),
        F.sum(g1).alias("a1"),
        F.sum(F.when(F.col("g") == 0, F.col("ev")).otherwise(0)).alias("d0"),
        F.sum(F.when(F.col("g") == 1, F.col("ev")).otherwise(0)).alias("d1"),
    )
    w = (
        Window.partitionBy(tiny_table_partition("t"))
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = at_t.crossJoin(F.broadcast(tots)).select(
        "t",
        "d0",
        "d1",
        (
            F.col("tot0") - F.coalesce(F.sum("a0").over(w), F.lit(0))
        ).alias("n0"),
        (
            F.col("tot1") - F.coalesce(F.sum("a1").over(w), F.lit(0))
        ).alias("n1"),
    ).filter(F.col("d0") + F.col("d1") > 0)
    d = (F.col("d0") + F.col("d1")).cast("double")
    nn = (F.col("n0") + F.col("n1")).cast("double")
    e1 = F.round(d * F.col("n1") / nn, 9).cast("decimal(18,9)")
    v1 = F.round(
        F.when(
            F.col("n0") + F.col("n1") > 1,
            d
            * (F.col("n1").cast("double") / nn)
            * (F.col("n0").cast("double") / nn)
            * (nn - d)
            / (nn - 1),
        ).otherwise(F.lit(0.0)),
        9,
    ).cast("decimal(18,9)")
    terms = risk.select(
        "d1", e1.alias("e1"), v1.alias("v1")
    )
    o_minus_e = F.sum("d1").cast("double") - F.sum("e1").cast("double")
    vs = F.sum("v1").cast("double")
    return terms.agg(
        F.count(F.lit(1)).alias("n_times"),
        F.sum("d1").alias("o1"),
        F.round(F.sum("e1").cast("double"), 6).alias("e1_sum"),
        F.round(vs, 6).alias("v_sum"),
        F.round(o_minus_e / F.sqrt(vs), 6).alias("z_score"),
        F.round(F.pow(o_minus_e, 2) / vs, 6).alias("chi2"),
    )


@register(
    "q_page_hinkley",
    oracle="""
        WITH bounds AS (
          SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS h0,
                 max(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS h1
          FROM events
        ), grid AS (
          SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds
        ), cnts AS (
          SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(count(*) AS BIGINT) AS x
          FROM events WHERE event_type = 'click' GROUP BY 1
        ), ser AS (
          SELECT row_number() OVER (ORDER BY g.h) AS t,
                 COALESCE(c.x, 0) AS x
          FROM grid g LEFT JOIN cnts c USING (h)
        ), cum AS (
          SELECT t, x,
                 sum(x) OVER (ORDER BY t
                              ROWS UNBOUNDED PRECEDING) AS cx
          FROM ser
        ), mt AS (
          SELECT t, x, cx,
                 CAST(cx AS DOUBLE)
                 - CAST(sum(CAST(round(CAST(cx AS DOUBLE) / t, 9)
                              AS DECIMAL(18,9)))
                        OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                     AS DOUBLE)
                 - t * 0.05 AS m
          FROM cum
        ), ph AS (
          SELECT t, m,
                 m - min(m) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                   AS ph_t
          FROM mt
        )
        SELECT CAST(count(*) AS BIGINT) AS n_hours,
               round(max(ph_t), 6) AS max_ph,
               CAST(sum(CASE WHEN ph_t > 10.0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_alarm_hours,
               CAST(COALESCE(min(CASE WHEN ph_t > 10.0 THEN t END), -1)
                 AS BIGINT) AS first_alarm_t
        FROM ph
    """,
    doc="Page-Hinkley upward mean-shift monitor (Page 1954; the "
    "sequential-analysis sibling of q_cusum_changepoint — CUSUM "
    "tracks deviation from a FIXED reference, PH from the RUNNING "
    "mean, so it needs no in-control calibration) over the hourly "
    "click-count series: m_t = sum_s (x_s - xbar_s - delta) with "
    "delta = 0.05, PH_t = m_t - min_{s<=t} m_s, alarm when PH_t > "
    "lambda = 10. The running-mean terms cx_s/s are 9dp-DECIMAL-"
    "rounded before their cumulative sum so both engines walk one "
    "exact trajectory; everything else is integer prefix sums. "
    "Scale shape: all windows run over the domain-bounded hour grid "
    "(~720 rows at any SF), the event scan is one partial-agged "
    "hour bucketing.",
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, "events", sf_dir)
    bounds = e.agg(
        F.min(
            F.expr("CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT) div 3600")
        ).alias("h0"),
        F.max(
            F.expr("CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT) div 3600")
        ).alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    cnts = (
        e.filter(F.col("event_type") == "click")
        .groupBy(
            F.expr("CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT) div 3600").alias(
                "h"
            )
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    wg = W.partitionBy(tiny_table_partition("h")).orderBy("h")
    ser = (
        grid.join(cnts, "h", "left")
        .select("h", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
        .withColumn("t", F.row_number().over(wg))
    )
    wt = W.partitionBy(tiny_table_partition("t")).orderBy("t").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = ser.withColumn("cx", F.sum("x").over(wt))
    mean_term = F.round(F.col("cx").cast("double") / F.col("t"), 9).cast(
        "decimal(18,9)"
    )
    mt = cum.withColumn(
        "m",
        F.col("cx").cast("double")
        - F.sum(mean_term).over(wt).cast("double")
        - F.col("t") * 0.05,
    )
    ph = mt.withColumn("ph_t", F.col("m") - F.min("m").over(wt))
    alarm = F.col("ph_t") > 10.0
    return ph.agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.round(F.max("ph_t"), 6).alias("max_ph"),
        F.sum(alarm.cast("int")).cast("long").alias("n_alarm_hours"),
        F.coalesce(
            F.min(F.when(alarm, F.col("t"))), F.lit(-1)
        )
        .cast("long")
        .alias("first_alarm_t"),
    )


@register(
    "q_croston_forecast",
    oracle="""
        WITH RECURSIVE d0 AS (
          SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day0
          FROM events
        ), dem AS (
          SELECT user_id,
                 CAST(CAST(floor(epoch(e.ts)) AS BIGINT) // 86400
                      - d.day0 AS BIGINT) AS day,
                 CAST(count(*) AS DOUBLE) AS z
          FROM events e CROSS JOIN d0 d
          WHERE event_type = 'purchase' AND user_id < 25
          GROUP BY 1, 2
        ), seq AS (
          SELECT user_id, day, z,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY day) AS rn,
                 count(*) OVER (PARTITION BY user_id) AS n,
                 CAST(COALESCE(day - lag(day) OVER (
                        PARTITION BY user_id ORDER BY day),
                      day + 1) AS DOUBLE) AS gap
          FROM dem
        ), rec AS (
          SELECT user_id, n, 1 AS rn, z AS lz, gap AS lp
          FROM seq WHERE rn = 1
          UNION ALL
          SELECT r.user_id, r.n, r.rn + 1,
                 0.5 * s.z + 0.5 * r.lz,
                 0.5 * s.gap + 0.5 * r.lp
          FROM rec r JOIN seq s
            ON s.user_id = r.user_id AND s.rn = r.rn + 1
        )
        SELECT user_id, CAST(n AS BIGINT) AS n_demands,
               round(lz, 6) AS z_hat, round(lp, 6) AS p_hat,
               round(lz / lp, 6) AS forecast
        FROM rec WHERE rn = n ORDER BY user_id
    """,
    doc="Croston's intermittent-demand forecast (Croston 1972) of "
    "daily purchase counts per user: SES (alpha = 1/2, exact binary) "
    "separately over the non-zero demand SIZES and the inter-demand "
    "INTERVALS, forecast = z_hat/p_hat per day — the sparse-series "
    "forecaster where q_holt_forecast's plain smoothing biases "
    "toward zero between demands (the classic spare-parts problem; "
    "here: sparse user activity). Pinned-op-order recurrence makes "
    "the float trajectory bit-identical to the DuckDB recursive-CTE "
    "replay (the q_holt_forecast contract). Scale shape: one keyed "
    "day-bucketed agg, then applyInPandas after one key shuffle — "
    "sequential within a user, parallel across users; the CTE grid "
    "is day-DOMAIN-bounded (~30 steps).",
)
def q_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hw_kafka_streams_spark.operators.stats import croston_ses

    e = load_table(spark, "events", sf_dir)
    day = F.expr("CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT) div 86400")
    d0 = e.agg(F.min(day).alias("day0"))
    dem = (
        e.filter(
            (F.col("event_type") == "purchase") & (F.col("user_id") < 25)
        )
        .crossJoin(F.broadcast(d0))
        .groupBy(
            "user_id",
            (day - F.col("day0")).cast("long").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("demand"))
    )
    return croston_ses(dem, "user_id", "day", alpha=0.5).orderBy("user_id")


@register(
    "q_cox_stuart",
    oracle="""
        WITH bounds AS (
          SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS h0,
                 max(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS h1
          FROM events
        ), grid AS (
          SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds
        ), cnts AS (
          SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(count(*) AS BIGINT) AS x
          FROM events WHERE event_type = 'click' GROUP BY 1
        ), ser AS (
          SELECT row_number() OVER (ORDER BY g.h) - 1 AS t,
                 COALESCE(c.x, 0) AS x
          FROM grid g LEFT JOIN cnts c USING (h)
        ), n AS (
          SELECT CAST(count(*) AS BIGINT) // 2 AS half FROM ser
        ), pairs AS (
          SELECT a.x AS xa, b.x AS xb
          FROM ser a JOIN n ON a.t < n.half
          JOIN ser b ON b.t = a.t + n.half
        ), m AS (
          SELECT CAST(sum(CASE WHEN xb > xa THEN 1 ELSE 0 END)
                   AS BIGINT) AS s_plus,
                 CAST(sum(CASE WHEN xb < xa THEN 1 ELSE 0 END)
                   AS BIGINT) AS s_minus
          FROM pairs
        )
        SELECT s_plus, s_minus, s_plus + s_minus AS n_pairs,
               round((s_plus - CAST(s_plus + s_minus AS DOUBLE) / 2)
                     / sqrt(CAST(s_plus + s_minus AS DOUBLE) / 4), 6)
                 AS z_score,
               CAST(abs((s_plus - CAST(s_plus + s_minus AS DOUBLE) / 2)
                        / sqrt(CAST(s_plus + s_minus AS DOUBLE) / 4))
                    > 1.96 AS INT) AS trend
        FROM m
    """,
    doc="Cox-Stuart trend test on the hourly click series: pair hour "
    "t with hour t + H/2, count sign of the difference, binomial "
    "z on the non-tied pairs — the assumption-free trend detector "
    "beside q_mann_kendall (MK uses all O(H^2) pairs for power; "
    "Cox-Stuart's H/2 independent pairs give the quick yes/no a "
    "monitoring dashboard wants). Exact integer sign counts over "
    "the domain-bounded hour grid (the self-join is on a computed "
    "offset, ~360 pairs at any SF); one rounded z.",
)
def q_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, "events", sf_dir)
    bounds = e.agg(
        F.min(
            F.expr("CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT) div 3600")
        ).alias("h0"),
        F.max(
            F.expr("CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT) div 3600")
        ).alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    cnts = (
        e.filter(F.col("event_type") == "click")
        .groupBy(
            F.expr("CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT) div 3600").alias(
                "h"
            )
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    wg = W.partitionBy(tiny_table_partition("h")).orderBy("h")
    ser = (
        grid.join(cnts, "h", "left")
        .select("h", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
        .withColumn("t", F.row_number().over(wg) - 1)
    )
    half = ser.agg(
        F.expr("CAST(count(*) AS BIGINT) div 2").alias("half")
    )
    a = ser.select(F.col("t").alias("ta"), F.col("x").alias("xa"))
    b = ser.select(F.col("t").alias("tb"), F.col("x").alias("xb"))
    pairs = (
        a.crossJoin(F.broadcast(half))
        .filter(F.col("ta") < F.col("half"))
        .join(
            F.broadcast(b),
            F.col("tb") == F.col("ta") + F.col("half"),
        )
    )
    m = pairs.agg(
        F.sum(F.when(F.col("xb") > F.col("xa"), 1).otherwise(0))
        .cast("long")
        .alias("s_plus"),
        F.sum(F.when(F.col("xb") < F.col("xa"), 1).otherwise(0))
        .cast("long")
        .alias("s_minus"),
    )
    ntied = (F.col("s_plus") + F.col("s_minus")).cast("double")
    z = (F.col("s_plus") - ntied / 2) / F.sqrt(ntied / 4)
    return m.select(
        "s_plus",
        "s_minus",
        (F.col("s_plus") + F.col("s_minus")).alias("n_pairs"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) > 1.96).cast("int").alias("trend"),
    )


@register(
    "q_partial_corr",
    oracle="""
        WITH bounds AS (
          SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS h0,
                 max(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS h1
          FROM events
        ), grid AS (
          SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds
        ), cnts AS (
          SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(sum(CASE WHEN event_type = 'click'
                          THEN 1 ELSE 0 END) AS BIGINT) AS x,
                 CAST(sum(CASE WHEN event_type = 'view'
                          THEN 1 ELSE 0 END) AS BIGINT) AS y,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS BIGINT) AS z
          FROM events GROUP BY 1
        ), ser AS (
          SELECT g.h, COALESCE(c.x, 0) AS x, COALESCE(c.y, 0) AS y,
                 COALESCE(c.z, 0) AS z
          FROM grid g LEFT JOIN cnts c USING (h)
        ), m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(z AS HUGEINT)) AS sz,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y AS HUGEINT) * y) AS syy,
                 sum(CAST(z AS HUGEINT) * z) AS szz,
                 sum(CAST(x AS HUGEINT) * y) AS sxy,
                 sum(CAST(x AS HUGEINT) * z) AS sxz,
                 sum(CAST(y AS HUGEINT) * z) AS syz
          FROM ser
        ), r AS (
          SELECT n,
                 (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / sqrt((n * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx)
                        * (n * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * sy)) AS rxy,
                 (n * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * sz)
                 / sqrt((n * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx)
                        * (n * CAST(szz AS DOUBLE)
                           - CAST(sz AS DOUBLE) * sz)) AS rxz,
                 (n * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * sz)
                 / sqrt((n * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * sy)
                        * (n * CAST(szz AS DOUBLE)
                           - CAST(sz AS DOUBLE) * sz)) AS ryz
          FROM m
        )
        SELECT n AS n_hours, round(rxy, 6) AS r_xy,
               round((rxy - rxz * ryz)
                     / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
                 AS r_xy_given_z,
               round((rxy - rxz * ryz)
                     / sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
                     * sqrt((n - 3)
                            / (1 - ((rxy - rxz * ryz)
                                    / sqrt((1 - rxz * rxz)
                                           * (1 - ryz * ryz)))
                                   * ((rxy - rxz * ryz)
                                      / sqrt((1 - rxz * rxz)
                                             * (1 - ryz * ryz))))),
                     6) AS t_stat
        FROM r
    """,
    doc="First-order partial correlation of the hourly click and view "
    "series CONTROLLING for the purchase series: r_xy.z = "
    "(r_xy - r_xz r_yz)/sqrt((1-r_xz^2)(1-r_yz^2)) with its "
    "t = r sqrt((n-3)/(1-r^2)) — the does-the-correlation-survive-"
    "the-confounder audit that raw q_spearman_corr/q_kendall_tau "
    "cannot answer (overall activity level drives all three series; "
    "the partial asks what remains). All three Pearson r's come from "
    "ONE pass of exact integer moments over the domain-bounded hour "
    "grid; the epilogue is a shared-text double expression.",
)
def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    cnts = e.groupBy(
        F.expr("CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT) div 3600").alias(
            "h"
        )
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("y"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("z"),
    )
    bounds = e.agg(
        F.min(
            F.expr("CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT) div 3600")
        ).alias("h0"),
        F.max(
            F.expr("CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT) div 3600")
        ).alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    ser = grid.join(cnts, "h", "left").select(
        F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        F.coalesce(F.col("z"), F.lit(0)).alias("z"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = ser.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d("x")).alias("sx"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("z")).alias("sz"),
        F.sum(d("x") * F.col("x")).alias("sxx"),
        F.sum(d("y") * F.col("y")).alias("syy"),
        F.sum(d("z") * F.col("z")).alias("szz"),
        F.sum(d("x") * F.col("y")).alias("sxy"),
        F.sum(d("x") * F.col("z")).alias("sxz"),
        F.sum(d("y") * F.col("z")).alias("syz"),
    )
    n = F.col("n")

    def pear(sab, sa, sb, saa, sbb):
        return (
            n * F.col(sab).cast("double")
            - F.col(sa).cast("double") * F.col(sb)
        ) / F.sqrt(
            (n * F.col(saa).cast("double") - F.col(sa).cast("double") * F.col(sa))
            * (n * F.col(sbb).cast("double") - F.col(sb).cast("double") * F.col(sb))
        )

    rxy = pear("sxy", "sx", "sy", "sxx", "syy")
    rxz = pear("sxz", "sx", "sz", "sxx", "szz")
    ryz = pear("syz", "sy", "sz", "syy", "szz")
    part = (rxy - rxz * ryz) / F.sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
    return m.select(
        F.col("n").alias("n_hours"),
        F.round(rxy, 6).alias("r_xy"),
        F.round(part, 6).alias("r_xy_given_z"),
        F.round(
            part * F.sqrt((n - 3) / (1 - part * part)), 6
        ).alias("t_stat"),
    )


@register(
    "q_fisher_z_corr_diff",
    oracle="""
        WITH bounds AS (
          SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS h0,
                 max(CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS h1
          FROM events
        ), grid AS (
          SELECT unnest(range(h0, h1 + 1)) AS h,
                 h0 + (h1 - h0 + 1) // 2 AS mid
          FROM bounds
        ), cnts AS (
          SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                 CAST(sum(CASE WHEN event_type = 'click'
                          THEN 1 ELSE 0 END) AS BIGINT) AS x,
                 CAST(sum(CASE WHEN event_type = 'view'
                          THEN 1 ELSE 0 END) AS BIGINT) AS y
          FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
        ), ser AS (
          SELECT CASE WHEN g.h < g.mid THEN 0 ELSE 1 END AS half,
                 COALESCE(c.x, 0) AS x, COALESCE(c.y, 0) AS y
          FROM grid g LEFT JOIN cnts c USING (h)
        ), m AS (
          SELECT half, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y AS HUGEINT) * y) AS syy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy
          FROM ser GROUP BY 1
        ), r AS (
          SELECT half, n,
                 (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / sqrt((n * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx)
                        * (n * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * sy)) AS rr
          FROM m
        ), piv AS (
          SELECT CAST(min(CASE WHEN half = 0 THEN n END) AS BIGINT)
                   AS n1,
                 CAST(min(CASE WHEN half = 1 THEN n END) AS BIGINT)
                   AS n2,
                 min(CASE WHEN half = 0 THEN rr END) AS r1,
                 min(CASE WHEN half = 1 THEN rr END) AS r2
          FROM r
        )
        SELECT n1 AS n_first, n2 AS n_second,
               round(r1, 6) AS r_first, round(r2, 6) AS r_second,
               round((0.5 * ln((1 + r1) / (1 - r1))
                      - 0.5 * ln((1 + r2) / (1 - r2)))
                     / sqrt(1.0 / (n1 - 3) + 1.0 / (n2 - 3)), 6)
                 AS z_diff
        FROM piv
    """,
    doc="Fisher r-to-z test for a DIFFERENCE of correlations: is the "
    "click-view correlation in the first half of the time span the "
    "same as in the second half? z_i = atanh(r_i) written explicitly "
    "as 0.5 ln((1+r)/(1-r)) — shared ln-only text on both engines "
    "(no engine-atanh pairing to trust) — and z_diff = (z1 - z2)/"
    "sqrt(1/(n1-3) + 1/(n2-3)), the standard two-sample correlation "
    "comparison; the correlation-STABILITY audit behind any "
    "train/validation time split (q_split_leakage checks overlap, "
    "this checks a relationship drifting). One grouped exact-integer "
    "moment pass over the halved hour grid, 2-row pivot epilogue.",
)
def q_fisher_z_corr_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    hexp = F.expr("CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT) div 3600")
    bounds = e.agg(F.min(hexp).alias("h0"), F.max(hexp).alias("h1"))
    grid = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
        (
            F.col("h0")
            + F.expr("CAST(h1 - h0 + 1 AS BIGINT) div 2")
        ).alias("mid"),
    )
    cnts = (
        e.filter(F.col("event_type").isin("click", "view"))
        .groupBy(hexp.alias("h"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    ser = grid.join(cnts, "h", "left").select(
        F.when(F.col("h") < F.col("mid"), 0).otherwise(1).alias("half"),
        F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        F.coalesce(F.col("y"), F.lit(0)).alias("y"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = ser.groupBy("half").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d("x")).alias("sx"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("x") * F.col("x")).alias("sxx"),
        F.sum(d("y") * F.col("y")).alias("syy"),
        F.sum(d("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    rr = (
        n * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy")
    ) / F.sqrt(
        (n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx"))
        * (n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy"))
    )
    r = m.select("half", "n", rr.alias("rr"))
    piv = r.groupBy().agg(
        F.min(F.when(F.col("half") == 0, F.col("n")))
        .cast("long")
        .alias("n1"),
        F.min(F.when(F.col("half") == 1, F.col("n")))
        .cast("long")
        .alias("n2"),
        F.min(F.when(F.col("half") == 0, F.col("rr"))).alias("r1"),
        F.min(F.when(F.col("half") == 1, F.col("rr"))).alias("r2"),
    )
    fz = lambda c: 0.5 * F.log((1 + F.col(c)) / (1 - F.col(c)))  # noqa: E731
    return piv.select(
        F.col("n1").alias("n_first"),
        F.col("n2").alias("n_second"),
        F.round(F.col("r1"), 6).alias("r_first"),
        F.round(F.col("r2"), 6).alias("r_second"),
        F.round(
            (fz("r1") - fz("r2"))
            / F.sqrt(
                1.0 / (F.col("n1") - 3) + 1.0 / (F.col("n2") - 3)
            ),
            6,
        ).alias("z_diff"),
    )
