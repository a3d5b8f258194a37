"""Extras battery: approx-distinct tolerance, pandas-UDF parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from hw_kafka_streams_spark.queries import REGISTRY, _load_all

_load_all()


def test_approx_distinct_within_tolerance(spark, sf_dir):
    # q_approx_distinct now emits the tolerance check itself (exact count
    # + within-5% boolean) so the driver can value-hash it.
    [r] = REGISTRY["q_approx_distinct"].fn(spark, sf_dir).collect()
    assert r.exact_orders > 0 and r.exact_parts > 0
    assert r.orders_within_5pct and r.parts_within_5pct


def test_censor_udf_matches_builtin(spark):
    """The pandas-UDF censor and the plan-time regexp fold must agree."""
    from hw_kafka_streams_spark.operators.censor import censor_column
    from hw_kafka_streams_spark.operators.udfs import make_censor_udf

    words = ["Политика", "1C", "data"]
    df = spark.createDataFrame(
        [("политика data x",), ("1c и 1С",), (None,), ("DATA Data dAtA",)],
        "text string",
    )
    out = df.select(
        censor_column("text", words).alias("builtin"),
        make_censor_udf(words)(F.col("text")).alias("udf"),
    ).collect()
    for r in out:
        assert r.builtin == r.udf


def test_weighted_mean_udf_matches_builtin(spark, sf_dir):
    from hw_kafka_streams_spark.operators.udfs import weighted_mean, weighted_mean_builtin
    from hw_kafka_streams_spark.sources.catalog import load_table

    li = load_table(spark, "lineitem", sf_dir)
    # grouped-agg pandas UDFs cannot mix with built-in aggs in one agg()
    u = li.groupBy("l_returnflag").agg(
        F.round(weighted_mean("l_extendedprice", "l_quantity"), 6).alias("u")
    )
    b = li.groupBy("l_returnflag").agg(
        F.round(
            weighted_mean_builtin(F.col("l_extendedprice"), F.col("l_quantity")), 6
        ).alias("b")
    )
    got = u.join(b, "l_returnflag").collect()
    for r in got:
        assert abs(r.u - r.b) < 1e-4


def test_sentence_split_udtf(spark):
    from hw_kafka_streams_spark.operators.udfs import make_sentence_split_udtf

    SentenceSplit = make_sentence_split_udtf()
    spark.udtf.register("sentence_split", SentenceSplit)
    rows = spark.sql(
        "SELECT s.* FROM (SELECT 'One two. Three! Four five six?' AS t), "
        "LATERAL sentence_split(t) s"
    ).collect()
    assert [(r.sentence, r.n_words) for r in rows] == [
        ("One two.", 2),
        ("Three!", 1),
        ("Four five six?", 3),
    ]


def test_hash_split_disjoint_stable_fractions(spark, sf_dir):
    from hw_kafka_streams_spark.operators.sampling import hash_split
    from hw_kafka_streams_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    n = docs.count()
    splits = hash_split(docs, "doc_id", {"train": 0.8, "eval": 0.1, "test": 0.1})
    ids = {k: {r.doc_id for r in v.select("doc_id").collect()} for k, v in splits.items()}
    assert sum(len(s) for s in ids.values()) == n  # disjoint & complete
    assert not (ids["train"] & ids["eval"]) and not (ids["eval"] & ids["test"])
    assert abs(len(ids["train"]) / n - 0.8) < 0.05
    # stability: same split on re-run
    again = hash_split(docs, "doc_id", {"train": 0.8, "eval": 0.1, "test": 0.1})
    assert {r.doc_id for r in again["eval"].select("doc_id").collect()} == ids["eval"]


def test_reservoir_per_key(spark, sf_dir):
    from hw_kafka_streams_spark.operators.sampling import reservoir_per_key
    from hw_kafka_streams_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    sampled = reservoir_per_key(docs, "lang", 3, order_hint="doc_id")
    counts = {r.lang: r.n for r in sampled.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert all(v <= 3 for v in counts.values()) and counts


def test_sql_entry_point(spark, sf_dir):
    from hw_kafka_streams_spark.sql import run_sql

    df = run_sql(
        spark,
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1",
        sf_dir,
    )
    rows = df.collect()
    assert len(rows) >= 2 and all(r.n > 0 for r in rows)


def test_approx_percentile_rank_accuracy(spark, sf_dir):
    """q_percentiles_approx emits its own contract: exact percentiles
    (oracle-hashed) + rank-ok booleans for the sketch estimates.
    Assert every boolean holds and the exact p50 matches a numpy
    linear-interpolation recompute."""
    import numpy as np

    from hw_kafka_streams_spark.sources.catalog import load_table

    rows = {
        r.event_type: r
        for r in REGISTRY["q_percentiles_approx"].fn(spark, sf_dir).collect()
    }
    e = load_table(spark, "events", sf_dir)
    for et, r in rows.items():
        for name in ("p25", "p50", "p90", "p99"):
            assert r[f"{name}_rank_ok"], (et, name)
        vals = np.array(
            [x.value for x in e.filter(F.col("event_type") == et).collect()]
        )
        assert abs(r.p50_exact - float(np.percentile(vals, 50))) < 1e-5, et


def test_hll_partial_union_within_tolerance(spark, sf_dir):
    """q_hll_partial_union's contract: exact distinct counts
    (oracle-hashed) + <2% booleans for the HLL estimates, incl. the
    merged __all__ row."""
    from hw_kafka_streams_spark.queries import REGISTRY
    from hw_kafka_streams_spark.sources.catalog import load_table

    _load_all()
    rows = {
        r["event_type"]: r
        for r in REGISTRY["q_hll_partial_union"].fn(spark, sf_dir).collect()
    }
    e = load_table(spark, "events", sf_dir)
    assert all(r["est_within_2pct"] for r in rows.values())
    assert rows["__all__"]["n_users_exact"] == e.select("user_id").distinct().count()
    for r in e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect():
        assert rows[r["event_type"]]["n_users_exact"] == r["n"]


def test_kll_quantiles_within_rank_tolerance(spark, sf_dir):
    """q_kll_quantiles' contract: exact percentiles (oracle-hashed) +
    2pp rank-error booleans for the KLL estimates; __all__ gates the
    MERGED sketch. Assert every boolean holds and the exact global p50
    matches a numpy recompute."""
    import numpy as np

    from hw_kafka_streams_spark.queries import REGISTRY
    from hw_kafka_streams_spark.sources.catalog import load_table

    _load_all()
    rows = {
        r["event_type"]: r
        for r in REGISTRY["q_kll_quantiles"].fn(spark, sf_dir).collect()
    }
    for et, r in rows.items():
        for col in ("p50_rank_ok", "p95_rank_ok", "p99_rank_ok"):
            assert r[col], (et, col)
    e = load_table(spark, "events", sf_dir)
    vals = np.array([r["value"] for r in e.select("value").collect()])
    assert abs(rows["__all__"]["p50_exact"] - float(np.percentile(vals, 50))) < 1e-5


def test_theta_overlap_within_tolerance(spark, sf_dir):
    """q_theta_overlap's contract: exact set-op counts (oracle-hashed,
    checked here vs python set algebra) + <2% booleans for the theta
    estimates."""
    from hw_kafka_streams_spark.queries import REGISTRY
    from hw_kafka_streams_spark.sources.catalog import load_table

    _load_all()
    est = REGISTRY["q_theta_overlap"].fn(spark, sf_dir).first()
    e = load_table(spark, "events", sf_dir)
    days = e.filter(F.col("event_type").isin("view", "purchase")).select(
        "event_type",
        F.concat_ws("|", F.col("user_id"), F.to_date("ts")).alias("ud"),
    )
    v = {r["ud"] for r in days.filter(F.col("event_type") == "view").collect()}
    p = {r["ud"] for r in days.filter(F.col("event_type") == "purchase").collect()}
    assert est["n_view_and_purchase"] == len(v & p)
    assert est["n_view_or_purchase"] == len(v | p)
    assert est["n_view_only"] == len(v - p)
    assert est["and_within_2pct"] and est["or_within_2pct"] and est["only_within_2pct"]


def test_mixture_plan_rates_and_caps(spark):
    """Undersupplied groups cap at rate 1.0; oversupplied groups get
    target/avail; unweighted groups drop from the plan."""
    from hw_kafka_streams_spark.operators.mixture import mixture_plan

    rows = [(i, "big", 100) for i in range(50)] + [
        (100 + i, "small", 100) for i in range(2)
    ] + [(200, "unweighted", 100)]
    df = spark.createDataFrame(rows, "id long, grp string, toks long")
    plan = mixture_plan(
        df, "grp", {"big": 0.5, "small": 0.5}, F.col("toks"),
        budget_tokens=1000,
    )
    p = {r.grp: r for r in plan.collect()}
    assert set(p) == {"big", "small"}
    # big: target 500 of 5000 avail -> rate 0.1; small: target 500 of
    # 200 avail -> capped at 1.0 (shortfall visible via target > avail)
    assert p["big"].target_tokens == 500 and abs(p["big"].rate - 0.1) < 1e-12
    assert p["small"].rate == 1.0 and p["small"].target_tokens > p["small"].avail_tokens


def test_mixture_apply_deterministic_subset(spark):
    from hw_kafka_streams_spark.operators.mixture import apply_mixture, mixture_plan

    rows = [(i, "a" if i % 2 else "b", 10) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, grp string, toks long")
    plan = mixture_plan(
        df, "grp", {"a": 0.75, "b": 0.25}, F.col("toks"), budget_fraction=0.5
    )
    s1 = apply_mixture(df, plan, "grp", "id")
    s2 = apply_mixture(df, plan, "grp", "id")
    ids1 = {r.id for r in s1.select("id").collect()}
    assert ids1 == {r.id for r in s2.select("id").collect()}  # content-stable
    assert ids1 <= {r.id for r in df.select("id").collect()}
    # realized rate tracks the planned rate (Bernoulli, 200 draws/group)
    rates = {r.grp: r.rate for r in plan.collect()}
    from collections import Counter
    got = Counter(("a" if i % 2 else "b") for i in ids1)
    for g in ("a", "b"):
        assert abs(got[g] / 200 - min(1.0, rates[g])) < 0.12


def test_mixture_report_on_documents(spark, sf_dir):
    """Report covers every weighted lang; sampled counts never exceed
    availability; rate==1 groups keep everything."""
    from hw_kafka_streams_spark.operators.mixture import mixture_report
    from hw_kafka_streams_spark.operators.text import token_count
    from hw_kafka_streams_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    rep = mixture_report(
        docs, "lang",
        {"en": 0.25, "zh": 0.25, "de": 0.25, "fr": 0.125, "es": 0.125},
        token_count("text"), id_col="doc_id", budget_fraction=0.5,
        hash_mode="md5",
    ).collect()
    assert {r.lang for r in rep} == {"en", "zh", "de", "fr", "es"}
    for r in rep:
        assert r.n_docs_sampled <= r.n_docs
        assert r.tokens_sampled <= r.avail_tokens
        if r.rate == 1.0:
            assert r.n_docs_sampled == r.n_docs


def test_point_in_time_join_no_temporal_leakage(spark, sf_dir):
    """Each probe's joined state started at-or-before the probe ts and
    (when bounded) ends after it; probes before any state stay NULL;
    exactly one row per probe (intervals are disjoint)."""
    from hw_kafka_streams_spark.queries import REGISTRY, _load_all

    _load_all()
    out = REGISTRY["q_point_in_time_join"].fn(spark, sf_dir).collect()
    probes = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter("user_id <= 30 and event_type = 'error'")
        .count()
    )
    assert len(out) == probes  # one state (or NULL) per probe, never a fanout
    assert any(r.state is not None for r in out)
    # leakage check by reconstruction: state must equal the last
    # non-error event type at-or-before the probe
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter("user_id <= 30")
        .select("user_id", "event_id", "ts", "event_type")
        .collect()
    )
    by_user = {}
    for r in sorted(rows, key=lambda r: (r.ts, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r)
    import bisect

    for o in out[:200]:
        evs = by_user[o.user_id]
        state = None
        for r in evs:
            if r.event_type == "error":
                continue
            if int(r.ts.timestamp()) <= o.ts_s:
                state = r.event_type
            else:
                break
        assert o.state == state, (o, state)


def test_session_funnel_monotone_and_bounded(spark, sf_dir):
    from hw_kafka_streams_spark.queries import REGISTRY, _load_all

    _load_all()
    r = REGISTRY["q_session_funnel"].fn(spark, sf_dir).collect()[0]
    assert r.n_sessions >= r.n_view >= r.n_view_click >= r.n_full_funnel >= 0
    assert r.n_view > 0  # data actually exercises the funnel


def test_managed_persist_lifecycle_releases_everything(spark):
    """Library persists register in the cache.py lifecycle; one
    release_managed_caches() call returns executor storage to zero —
    the harness-loop contract that keeps long sessions leak-free."""
    import pyspark.sql.functions as F

    from hw_kafka_streams_spark.cache import (
        managed_persist,
        release_managed_caches,
    )
    from hw_kafka_streams_spark.operators.stats import quantile_buckets

    release_managed_caches()  # drain anything earlier tests left
    jsc = spark.sparkContext._jsc.sc()
    # other suite tests may leave untracked storage (localCheckpoint
    # RDDs); assert on the DELTA this operator adds, not on emptiness
    base = len(jsc.getRDDStorageInfo())
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 1.5).alias("v"),
    )
    out = quantile_buckets(df, "v", "g", n_buckets=4)
    assert out.count() == 100  # terminal action consumes the persist
    assert len(jsc.getRDDStorageInfo()) > base, "operator persist live"
    assert release_managed_caches() >= 1
    assert len(jsc.getRDDStorageInfo()) <= base, "release must drop it"
    # double-release is a safe no-op; direct managed_persist registers
    d2 = managed_persist(spark.range(10))
    d2.count()
    assert release_managed_caches() == 1
