"""Rank-statistics operators: exact AUC and distribution drift."""

from __future__ import annotations

import math

import pytest


def test_rank_auc_hand_computed_with_ties(spark):
    from hw_kafka_streams_spark.operators.stats import rank_auc

    # scores: pos {3, 2, 2}, neg {1, 2, 0}
    rows = [(3.0, True), (2.0, True), (2.0, True), (1.0, False), (2.0, False), (0.0, False)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    r = rank_auc(df, "label", "score").collect()[0]
    # pairs: (3 vs 1,2,0)=3 wins; (2 vs 1)=1, (2 vs 0)=1, (2 vs 2)=0.5 each pos '2'
    # total = 3 + (1+1+0.5)*2 = 8 of 9 -> 8/9
    assert r.n_pos == 3 and r.n_neg == 3
    assert abs(r.auc - round(8 / 9, 6)) < 1e-9


def test_rank_auc_perfect_and_random(spark):
    from hw_kafka_streams_spark.operators.stats import rank_auc

    perfect = spark.createDataFrame(
        [(float(i), i >= 50) for i in range(100)], "score double, label boolean"
    )
    assert rank_auc(perfect, "label", "score").collect()[0].auc == 1.0
    constant = spark.createDataFrame(
        [(1.0, i % 2 == 0) for i in range(100)], "score double, label boolean"
    )
    assert rank_auc(constant, "label", "score").collect()[0].auc == 0.5


def test_token_drift_zero_for_identical_distributions(spark):
    from hw_kafka_streams_spark.operators.text import token_distribution_drift

    # both sources have the exact same token distribution -> KL == 0
    rows = [(1, "a", "a a b c"), (2, "b", "a a b c")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.source: r for r in token_distribution_drift(df).collect()}
    assert out["a"].kl_vs_corpus == 0.0 and out["b"].kl_vs_corpus == 0.0
    assert out["a"].n_tokens == 4


def test_token_drift_positive_and_hand_computed(spark):
    from hw_kafka_streams_spark.operators.text import token_distribution_drift

    rows = [(1, "a", "x x y"), (2, "b", "y y y")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.source: r for r in token_distribution_drift(df).collect()}
    # corpus: x:2 y:4, N=6. source a: x:2 y:1 (n=3); p_a(x)=2/3 vs 1/3, p_a(y)=1/3 vs 2/3
    exp_a = round(
        round((2 / 3) * math.log((2 / 3) / (2 / 6)), 9)
        + round((1 / 3) * math.log((1 / 3) / (4 / 6)), 9),
        6,
    )
    exp_b = round(round(1.0 * math.log(1.0 / (4 / 6)), 9), 6)
    assert abs(out["a"].kl_vs_corpus - exp_a) < 1e-9
    assert abs(out["b"].kl_vs_corpus - exp_b) < 1e-9
    assert out["a"].kl_vs_corpus > 0 and out["b"].kl_vs_corpus > 0


def test_check_expectations_single_pass_and_verdicts(spark):
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.quality import (
        Expectation,
        check_expectations,
        distinct_ratio,
        null_rate,
        violation_count,
    )

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", -1.0), (3, None, 2.0), (3, "b", 0.0)],
        "k long, s string, v double",
    )
    rules = [
        Expectation("s_null_rate", null_rate("s"), 0.0, 0.0),  # fails: 0.25
        Expectation("k_unique", distinct_ratio("k"), 1.0, 1.0),  # fails: 0.75
        Expectation("v_nonneg", violation_count(F.col("v") >= 0), hi=0.0),  # fails: 1
        Expectation("min_v", F.min("v"), lo=-5.0),  # passes
    ]
    out = {r.rule: r for r in check_expectations(df, rules).collect()}
    assert not out["s_null_rate"].passed and abs(out["s_null_rate"].value - 0.25) < 1e-9
    assert not out["k_unique"].passed and abs(out["k_unique"].value - 0.75) < 1e-9
    assert not out["v_nonneg"].passed and out["v_nonneg"].value == 1.0
    assert out["min_v"].passed and out["min_v"].value == -1.0


def test_rollup_retraction_drops_emptied_groups(spark):
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.rollup import (
        apply_changelog_to_rollup,
        rollup_state_from_changelog,
    )

    old = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0)], "k string, value double"
    ).withColumn("op", F.lit("I"))
    base = rollup_state_from_changelog(old, ["k"], "value")
    # delete BOTH of group a's rows, insert one c row
    delta_rows = spark.createDataFrame(
        [("a", 1.0, "D"), ("a", 2.0, "D"), ("c", 7.0, "I")],
        "k string, value double, op string",
    )
    delta = rollup_state_from_changelog(delta_rows, ["k"], "value")
    out = {
        r.k: (r.n_rows, float(r.sum_v))
        for r in apply_changelog_to_rollup(base, delta, ["k"]).collect()
    }
    assert "a" not in out  # emptied group removed, like a full recompute
    assert out["b"] == (1, 5.0) and out["c"] == (1, 7.0)


def test_interval_overlap_join_matches_naive_and_is_equijoin(spark):
    from hw_kafka_streams_spark.operators.intervals import interval_overlap_join

    rows = [
        (1, 0, 100),       # overlaps 2 (multi-bucket), touches 3 at boundary
        (2, 50, 7300),     # spans 3 buckets at width 3600
        (3, 100, 150),
        (4, 10_000, 10_500),  # overlaps nobody
    ]
    df = spark.createDataFrame(rows, "id long, start_s long, end_s long")
    got = {
        (r.id1, r.id2)
        for r in interval_overlap_join(df, df, width_s=3600).collect()
        if r.id1 < r.id2
    }
    naive = {
        (a[0], b[0])
        for a in rows
        for b in rows
        if a[0] < b[0] and a[1] <= b[2] and b[1] <= a[2]
    }
    assert got == naive == {(1, 2), (1, 3), (2, 3)}

    plan = (
        interval_overlap_join(df, df, width_s=3600)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan  # blocking made it equi
    assert "CartesianProduct" not in plan


def test_check_expectations_rejects_unsafe_rule_names(spark):
    """Rule names are spliced into stack() SQL — quotes/commas/backticks
    must raise at build time, not break the expression at runtime."""
    import pytest
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.quality import (
        Expectation,
        check_expectations,
    )

    df = spark.range(5)
    for bad in ["a'b", "a,b", "a`b", "a b", "1abc", ""]:
        with pytest.raises(ValueError, match="safe identifier"):
            check_expectations(df, [Expectation(bad, F.count(F.lit(1)))])
    with pytest.raises(ValueError, match="duplicate"):
        check_expectations(
            df,
            [
                Expectation("n", F.count(F.lit(1))),
                Expectation("n", F.count(F.lit(1))),
            ],
        )


def test_filter_funnel_sequential_semantics(spark):
    """Stage k sees only stage k-1 survivors; counts are monotone
    non-increasing; the whole funnel is one aggregation job."""
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.quality import filter_funnel

    rows = [(i, i) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = filter_funnel(
        df,
        [
            ("ge10", F.col("v") >= 10),       # 90 survive
            ("lt80", F.col("v") < 80),        # 70 survive
            ("even", F.col("v") % 2 == 0),    # 35 survive
        ],
    ).orderBy("stage_idx").collect()
    assert [(r.stage, r.n_in, r.n_pass, r.n_dropped) for r in out] == [
        ("ge10", 100, 90, 10),
        ("lt80", 90, 70, 20),
        ("even", 70, 35, 35),
    ]
    assert abs(out[2].drop_rate - 0.5) < 1e-9


def test_filter_funnel_validates_names(spark):
    import pytest as _pytest

    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.quality import filter_funnel

    df = spark.range(5)
    with _pytest.raises(ValueError):
        filter_funnel(df, [("bad name'", F.col("id") > 0)])
    with _pytest.raises(ValueError):
        filter_funnel(df, [("a", F.col("id") > 0), ("a", F.col("id") > 1)])
    with _pytest.raises(ValueError):
        filter_funnel(df, [])


def test_quantile_buckets_small_group(spark):
    """10 values -> decile thresholds hit data points exactly; each
    bucket gets one value; threshold-equal values take the lower
    bucket (strict comparison)."""
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.stats import quantile_buckets

    rows = [(i, "g", float(i)) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    out = quantile_buckets(df, "v", "grp", n_buckets=10)
    got = {r.id: r.bucket for r in out.collect()}
    # thresholds at p=.1..9 over 1..10 are 1.9, 2.8, ..., 9.1: value k
    # exceeds (k-1) of them
    assert got == {i: i for i in range(1, 11)}


def test_quantile_buckets_per_group_calibration(spark, sf_dir):
    """Each language's decile distribution is near-uniform regardless
    of its absolute score level — the calibration property."""
    from collections import Counter

    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.stats import quantile_buckets
    from hw_kafka_streams_spark.operators.text import quality_score
    from hw_kafka_streams_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    scored = docs.select("doc_id", "lang", quality_score("text").alias("q"))
    out = quantile_buckets(scored, "q", "lang", n_buckets=4).collect()
    per_lang = {}
    for r in out:
        per_lang.setdefault(r.lang, Counter())[r.bucket] += 1
    for lang, c in per_lang.items():
        n = sum(c.values())
        for b in (1, 2, 3, 4):
            assert c[b] >= n // 4 - 2, (lang, dict(c))


def test_psi_drift_identical_distributions_zero(spark):
    from hw_kafka_streams_spark.operators.stats import psi_drift

    rows = [(g, float(v % 10)) for g in ("a", "b") for v in range(200)]
    df = spark.createDataFrame(rows, "grp string, v double")
    r = psi_drift(df, "v", "grp", "a", "b").collect()[0]
    assert r.psi == 0.0 and r.drift_flag == 0
    assert r.n_expected == 200 and r.n_actual == 200


def test_psi_drift_detects_shift(spark):
    from hw_kafka_streams_spark.operators.stats import psi_drift

    rows = [("a", float(v % 10)) for v in range(200)] + [
        ("b", float(v % 10) + 6.0) for v in range(200)
    ]
    df = spark.createDataFrame(rows, "grp string, v double")
    r = psi_drift(df, "v", "grp", "a", "b").collect()[0]
    assert r.psi > 0.25 and r.drift_flag == 1


def test_cohens_kappa_hand_computed(spark):
    from hw_kafka_streams_spark.operators.stats import cohens_kappa

    # classic 2x2: raters agree on 70/100; marginals A: 60/40, B: 50/50
    # po=0.7, pe=0.6*0.5+0.4*0.5=0.5, kappa=(0.7-0.5)/0.5=0.4
    rows = (
        [("x", "x")] * 40 + [("x", "y")] * 20
        + [("y", "x")] * 10 + [("y", "y")] * 30
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert r.n == 100
    assert abs(r.po - 0.7) < 1e-9
    assert abs(r.pe - 0.5) < 1e-9
    assert abs(r.kappa - 0.4) < 1e-9


def test_cohens_kappa_perfect_agreement(spark):
    from hw_kafka_streams_spark.operators.stats import cohens_kappa

    rows = [("p", "p")] * 5 + [("q", "q")] * 5
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert r.po == 1.0 and r.kappa == 1.0


def test_mutual_information_identical_and_independent(spark):
    from hw_kafka_streams_spark.operators.stats import mutual_information

    # identical columns: MI == H(a) == H(b), NMI == 1
    rows = [(c, c) for c in "aabbbb"]
    df = spark.createDataFrame(rows, "a string, b string")
    r = mutual_information(df, "a", "b").collect()[0]
    p = [2 / 6, 4 / 6]
    h = -sum(round(x * math.log(x), 9) for x in p)
    assert abs(r.mi - round(h, 6)) < 1e-9
    assert abs(r.h_a - round(h, 6)) < 1e-9
    assert abs(r.nmi - 1.0) < 1e-6

    # independent columns (product distribution): MI == 0
    rows = [(a, b) for a in "ab" for b in "xy" for _ in range(5)]
    df = spark.createDataFrame(rows, "a string, b string")
    r = mutual_information(df, "a", "b").collect()[0]
    assert abs(r.mi) < 1e-9
    assert abs(r.nmi) < 1e-9


def test_corr_matrix_exact_and_constant_guard(spark):
    from hw_kafka_streams_spark.operators.stats import corr_matrix

    rows = [(float(i), 2.0 * i + 1.0, -3.0 * i, 7.0) for i in range(50)]
    df = spark.createDataFrame(rows, "a double, b double, c double, k double")
    out = {(r.col_x, r.col_y): r for r in corr_matrix(df, ["a", "b", "c", "k"]).collect()}
    assert len(out) == 6
    assert out[("a", "b")].corr == 1.0          # perfect positive
    assert out[("a", "c")].corr == -1.0         # perfect negative
    assert out[("a", "k")].corr is None         # constant column -> NULL
    assert out[("a", "b")].n == 50


def test_spearman_monotone_ties_and_antitone(spark):
    from hw_kafka_streams_spark.operators.stats import spearman_corr
    from pyspark.sql import functions as F

    # monotone nonlinear (cubic) -> rho exactly 1
    df = spark.createDataFrame(
        [(float(i), float(i**3)) for i in range(40)], "x double, y double"
    )
    assert spearman_corr(df, "x", "y").collect()[0].rho == 1.0
    # antitone -> -1
    df2 = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(40)], "x double, y double"
    )
    assert spearman_corr(df2, "x", "y").collect()[0].rho == -1.0
    # hand-computed with ties: x=[1,2,2,3], y=[1,3,2,4]
    # avg ranks x: [1, 2.5, 2.5, 4], y: [1, 3, 2, 4]
    # cov=4.5, var_x=4.5, var_y=5 -> rho = 4.5/sqrt(22.5) = 0.948683
    df3 = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 3.0), (2.0, 2.0), (3.0, 4.0)], "x double, y double"
    )
    r = spearman_corr(df3, "x", "y").collect()[0]
    assert r.n == 4
    assert abs(r.rho - 0.948683) < 1e-9


def test_welch_ttest_hand_computed(spark):
    """a=[1,2,3,4], b=[2,4,6,8,10]: m_a=2.5 v_a=5/3, m_b=6 v_b=10.
    se2 = 5/12 + 2 = 29/12; t = -3.5/sqrt(29/12) = -2.251436...
    df = (29/12)^2 / ((5/12)^2/3 + 4/4) = 5.520776...
    """
    from hw_kafka_streams_spark.operators.stats import welch_ttest

    rows = [("a", v) for v in [1, 2, 3, 4]] + [
        ("b", v) for v in [2, 4, 6, 8, 10]
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    r = welch_ttest(df, "g", "v", "a", "b").collect()[0]
    assert (r.n_a, r.n_b) == (4, 5)
    assert (r.mean_a, r.mean_b) == (2.5, 6.0)
    assert abs(r.t_stat - (-2.251436)) < 1e-6
    assert abs(r.df_welch - 5.5208) < 1e-4


def test_mann_whitney_hand_computed(spark):
    """Ties across groups: a=[1,2,2,5], b=[2,3,4].
    Combined sorted [1,2,2,2,3,4,5]; avg rank of the 2s = 3.
    R1 = 1+3+3+7 = 14; U1 = 14 - 10 = 4; U2 = 12 - 4 = 8.
    ties: one group of 3 -> T = 24; var = 12/12*(8 - 24/42) = 7.428571
    z = (4-6)/sqrt(7.428571) = -0.733799...
    """
    from hw_kafka_streams_spark.operators.stats import mann_whitney_u

    rows = [("a", v) for v in [1, 2, 2, 5]] + [("b", v) for v in [2, 3, 4]]
    df = spark.createDataFrame(rows, "g string, v long")
    r = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert (r.n_a, r.n_b) == (4, 3)
    assert (r.u_a, r.u_b) == (4.0, 8.0)
    assert abs(r.z_score - (-0.733799)) < 1e-6


def test_anova_and_kruskal_hand_computed(spark):
    """Three groups a=[1,2,3], b=[2,3,4], c=[10,11,12].
    ANOVA: means 2,3,11; grand 16/3; SSB = 3*(100+49+289)/9 = 146,
    SSW = 6 -> F = (146/2)/(6/6) = 73.
    Kruskal: sorted [1,2,2,3,3,4,10,11,12]; avg ranks with ties:
    1, 2.5, 2.5, 4.5, 4.5, 6, 7, 8, 9. R_a=8, R_b=13, R_c=24.
    H = 12/(9*10)*(64/3+169/3+576/3) - 30 = 12/90*269.6667 - 30
      = 5.955556; ties T = 2*(8-2)=12 -> H' = 5.955556/(1-12/720)
      = 6.056497...
    """
    from hw_kafka_streams_spark.operators.stats import (
        anova_f_oneway,
        kruskal_wallis,
    )

    rows = (
        [("a", v) for v in [1, 2, 3]]
        + [("b", v) for v in [2, 3, 4]]
        + [("c", v) for v in [10, 11, 12]]
    )
    df = spark.createDataFrame(rows, "g string, v long")
    r = anova_f_oneway(df, "g", "v").collect()[0]
    assert (r.k_groups, r.n) == (3, 9)
    assert abs(r.f_stat - 73.0) < 1e-9
    kw = kruskal_wallis(df, "g", "v").collect()[0]
    assert (kw.k_groups, kw.n) == (3, 9)
    assert abs(kw.h_stat - 6.056497) < 1e-6


def test_jaro_winkler_matches_duckdb_builtin():
    """The linkage kernel's JW must match DuckDB's built-in bit-for-bit
    (that equivalence is what the q_jaro_winkler_pairs oracle rests
    on) — battery over tricky cases: transpositions, prefix boost,
    boost-threshold boundary, empty strings, equal strings."""
    import duckdb

    from hw_kafka_streams_spark.operators.linkage import (
        jaro_winkler_similarity,
    )

    cases = [
        ("martha", "marhta"), ("dixon", "dicksonx"),
        ("jellyfish", "smellyfish"), ("hello", "hello"),
        ("abc", "xyz"), ("DWAYNE", "DUANE"), ("a", ""), ("", ""),
        ("chocolate almond", "almond chocolate"),
        ("linen azure", "linen lace azure"),
        ("aaaaaaaaaa", "aaaaaaaaab"), ("ab", "ba"), ("x", "x"),
    ]
    con = duckdb.connect()
    for a, b in cases:
        want = con.sql(
            "select jaro_winkler_similarity(?, ?)", params=[a, b]
        ).fetchone()[0]
        assert abs(jaro_winkler_similarity(a, b) - want) < 1e-12, (a, b)


def test_cms_overestimates_and_merges(spark):
    """CMS invariants: estimate >= exact for every key; summing two
    shard sketches equals the whole-corpus sketch (mergeability is
    the property that makes it a 100 TB artifact)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.sketches import (
        cms_build_counted,
        cms_estimate,
    )

    words = ["a"] * 50 + ["b"] * 20 + ["c"] * 5 + ["d"]

    def sketch(ws):
        wc = spark.createDataFrame(list(Counter(ws).items()), "w string, c long")
        return cms_build_counted(wc, "w", "c", depth=3, width=16)

    cms = sketch(words)
    keys = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("zz",)], "w string")
    est = {
        r.w: r.cms_estimate
        for r in cms_estimate(cms, keys, "w", depth=3, width=16).collect()
    }
    exact = {"a": 50, "b": 20, "c": 5, "d": 1, "zz": 0}
    for k, v in exact.items():
        assert est[k] >= v, (k, est[k], v)
    assert est["a"] >= 50  # heavy key never underestimated
    # mergeability: shard sketches sum to the corpus sketch
    merged = (
        sketch(words[0::2]).unionByName(sketch(words[1::2]))
        .groupBy("cms_row", "cms_bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = {(r.cms_row, r.cms_bucket): r.cnt for r in cms.collect()}
    got = {(r.cms_row, r.cms_bucket): r.cnt for r in merged.collect()}
    assert got == whole


def test_cuped_reduces_variance_when_pre_predicts_post(spark):
    """Constructed units where Y = 2X + small noise: CUPED must cut
    variance massively and keep per-arm means finite; arm assignment
    is deterministic (content-stable hash, no rand())."""
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.stats import cuped_lift

    rows = []
    for u in range(60):
        x = float(10 + (u * 7) % 50)  # pre-period signal varies by user
        rows.append((u, "2024-01-10 00:00:00", x))  # pre event
        rows.append((u, "2024-01-20 00:00:00", 2 * x + (u % 3)))  # post
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = cuped_lift(df, "user_id", "value", "ts", "2024-01-16 00:00:00").collect()
    assert {r.arm for r in out} == {"control", "treatment"}
    for r in out:
        # Y is 2X + tiny noise -> adjusted variance collapses
        assert r.var_y_cuped < 0.2 * r.var_y, (r.arm, r.var_y, r.var_y_cuped)
        assert r.var_reduction > 0.8
    # deterministic across runs
    again = cuped_lift(df, "user_id", "value", "ts", "2024-01-16 00:00:00").collect()
    assert out == again


def test_logreg_gd_learns_separable_data_and_is_deterministic(spark):
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.classify import logreg_fit_gd

    # 2-dim linearly separable: y = (x0 + x1 > 0), margin >= 0.5
    rows = []
    for i in range(200):
        a = ((i * 37) % 100 - 50) / 10.0
        b = ((i * 61) % 100 - 50) / 10.0
        if abs(a + b) < 0.5:
            continue
        rows.append(([a, b], 1 if a + b > 0 else 0))
    df = spark.createDataFrame(rows, "vec array<double>, label int")
    out = logreg_fit_gd(df, "vec", F.col("label") == 1, lr=2.0, iters=20)
    got = out.collect()
    assert len(got) == 3  # bias + 2 dims
    acc = got[0].train_acc
    assert acc > 0.95, acc
    # standardized weights: both feature dims positive, similar size
    w1, w2 = got[1].weight, got[2].weight
    assert w1 > 0 and w2 > 0
    assert out.collect() == got  # deterministic re-run


def test_doremi_upweights_divergent_domain(spark):
    """A domain whose tokens the mixture covers poorly (disjoint
    vocabulary) has high excess loss and must gain weight over the
    uniform start; two same-distribution domains stay symmetric."""
    from hw_kafka_streams_spark.operators.mixture import doremi_weights

    rows = []
    for i in range(30):
        rows.append((i, "common", "alpha beta gamma delta"))
        rows.append((100 + i, "common2", "alpha beta gamma delta"))
        rows.append((200 + i, "rare", "zeta eta theta iota kappa"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.source: r for r in doremi_weights(df, "source", iters=4).collect()}
    assert out["rare"].weight > 1 / 3 > out["common"].weight
    assert abs(out["common"].weight - out["common2"].weight) < 1e-9
    assert out["rare"].excess > out["common"].excess
    # deterministic across runs
    again = {r.source: r for r in doremi_weights(df, "source", iters=4).collect()}
    assert {k: v.weight for k, v in out.items()} == {
        k: v.weight for k, v in again.items()
    }


def test_brown_forsythe_hand_computed(spark):
    """Two groups with hand-computable median deviations: g1 values
    [0,2,4] (med 2, z=[2,0,2]), g2 [0,6,12] (med 6, z=[6,0,6]) ->
    W = (SSB/1)/(SSW/4) = 10.6667/6.6667 = 1.6 exactly."""
    from hw_kafka_streams_spark.operators.stats import brown_forsythe

    df = spark.createDataFrame(
        [("a", 0), ("a", 2), ("a", 4), ("b", 0), ("b", 6), ("b", 12)],
        "g string, v long",
    )
    row = brown_forsythe(df, "g", "v").collect()[0]
    assert row.k_groups == 2 and row.n == 6
    assert abs(row.bf_stat - 1.6) < 1e-9


def test_brown_forsythe_equal_spread_near_zero(spark):
    """Identical spreads in every group -> SSB = 0 -> W = 0."""
    from hw_kafka_streams_spark.operators.stats import brown_forsythe

    df = spark.createDataFrame(
        [("a", 0), ("a", 10), ("a", 20), ("b", 5), ("b", 15), ("b", 25)],
        "g string, v long",
    )
    row = brown_forsythe(df, "g", "v").collect()[0]
    assert abs(row.bf_stat) < 1e-12


def test_stratified_hash_sample_deterministic_subset(spark):
    """Content-stable sampling: same rows across runs, a strict subset,
    and per-stratum rates within binomial tolerance of the target."""
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.sampling import (
        stratified_hash_sample,
    )

    df = spark.createDataFrame(
        [(i, "s%d" % (i % 3)) for i in range(3000)],
        "doc_id long, src string",
    )
    rate = F.when(F.col("src") == "s0", F.lit(2000)).otherwise(F.lit(5000))
    got1 = set(
        r.doc_id
        for r in stratified_hash_sample(df, "src", "doc_id", rate).collect()
    )
    got2 = set(
        r.doc_id
        for r in stratified_hash_sample(df, "src", "doc_id", rate).collect()
    )
    assert got1 == got2 and 0 < len(got1) < 3000
    kept_s0 = sum(1 for i in got1 if i % 3 == 0)
    assert abs(kept_s0 / 1000 - 0.2) < 0.05
    kept_s1 = sum(1 for i in got1 if i % 3 == 1)
    assert abs(kept_s1 / 1000 - 0.5) < 0.06
    # md5 mode keeps the same contract with a DuckDB-reproducible hash
    md5_rows = stratified_hash_sample(
        df, "src", "doc_id", rate, hash_mode="md5"
    ).collect()
    assert 0 < len(md5_rows) < 3000


def test_benjamini_hochberg_stepup_rule(spark, sf_dir):
    """BH step-up: the rejected set is exactly ranks <= cutoff, the
    p-values are sorted by rank, and every rejected p satisfies the
    i*alpha/m bound at its own rank."""
    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_benjamini_hochberg"](spark, sf_dir).collect()
    assert rows
    m = len(rows)
    ps = [r.p_value for r in rows]
    assert ps == sorted(ps)
    rejected = [r for r in rows if r.rejected]
    if rejected:
        cutoff = max(r.rnk for r in rejected)
        assert all(r.rejected == (r.rnk <= cutoff) for r in rows)
        tail = [r for r in rows if r.rnk == cutoff][0]
        assert tail.p_value <= cutoff * 0.05 / m + 1e-9


def test_cond_entropy_templated_below_natural(spark):
    """A rigid template (each word pins the next) must have near-zero
    conditional entropy; shuffled text keeps it high; joint >= cond."""
    from hw_kafka_streams_spark.queries import queries  # noqa: F401
    from pyspark.sql import functions as F  # noqa: F401

    from hw_kafka_streams_spark.operators.text import (
        _adjacent_pairs,
        word_tokens,
    )

    tmpl = " ".join(["a b c d"] * 50)
    vary = "a b a c b d c a d b a d b c d a c d b a " * 10
    df = spark.createDataFrame(
        [(1, "tmpl", tmpl), (2, "vary", vary)],
        "doc_id long, source string, text string",
    )
    c2 = (
        df.select(
            "source",
            F.explode(_adjacent_pairs(word_tokens(F.lower("text")))).alias(
                "p"
            ),
        )
        .groupBy("source", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    ctx = c2.groupBy("source", "w1").agg(F.sum("c2").alias("ctx"))
    n = c2.groupBy("source").agg(F.sum("c2").alias("nb"))
    pj = F.col("c2").cast("double") / F.col("nb")
    pc = F.col("c2").cast("double") / F.col("ctx")
    rows = {
        r.source: r
        for r in c2.join(ctx, ["source", "w1"])
        .join(n, "source")
        .groupBy("source")
        .agg(
            F.sum(-pj * F.log(pc)).alias("cond"),
            F.sum(-pj * F.log(pj)).alias("joint"),
        )
        .collect()
    }
    # template: only boundary bigrams (d->a) compete; near zero
    assert rows["tmpl"].cond < 0.1
    assert rows["vary"].cond > 0.5
    assert rows["tmpl"].joint >= rows["tmpl"].cond - 1e-9
    assert rows["vary"].joint >= rows["vary"].cond - 1e-9


def test_piecewise_trend_detects_slope_break(spark, tmp_path):
    """A series that is flat then steeply rising must place the
    changepoint near the break and report slope_post >> slope_pre."""
    import datetime

    from hw_kafka_streams_spark.queries import queries

    rows = []
    eid = 0
    base = datetime.datetime(2024, 1, 1)
    for hour in range(48):
        # flat 2/hour for 24h, then ramp: hour-23 events per hour
        n = 2 if hour < 24 else (hour - 22)
        for i in range(n):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(hours=hour, seconds=i),
                    1,
                    "probe",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    p = str(tmp_path / "events.parquet")
    df.write.parquet(p)
    # point the query at a dir with just this events table
    import os

    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"):
        src = f"/root/testdata/sf0.001/{t}.parquet"
        os.symlink(src, str(tmp_path / f"{t}.parquet"))
    out = {
        r.event_type: r
        for r in queries()["q_piecewise_trend"](spark, str(tmp_path)).collect()
    }
    r = out["probe"]
    base_h = int(datetime.datetime(2024, 1, 1).timestamp()) // 3600
    # CUSUM argmax should land inside the ramp, after the flat half
    assert base_h + 20 <= r.changepoint_h <= base_h + 47
    assert r.n_pre >= 2 and r.n_post >= 2
    assert r.slope_post > r.slope_pre + 0.5
    assert abs(r.slope_pre) < 0.2


def test_gini_extremes(spark):
    """Perfectly balanced sources -> G = 0; near-total concentration
    pushes G toward (k-1)/k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.winutil import tiny_table_partition

    def gini(rows):
        st = spark.createDataFrame(rows, "source string, n_chars long")
        agg = st.groupBy("source").agg(F.sum("n_chars").alias("chars"))
        w = Window.partitionBy(tiny_table_partition("source")).orderBy(
            "chars", "source"
        )
        r = agg.withColumn("i", F.row_number().over(w).cast("long"))
        m = r.agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("chars").alias("tot"),
            F.sum(F.col("i") * F.col("chars")).alias("iw"),
        ).collect()[0]
        return (2.0 * m.iw) / (m.k * m.tot) - (m.k + 1) / m.k

    balanced = [(f"s{i}", 100) for i in range(4)]
    assert abs(gini(balanced)) < 1e-12
    skewed = [("s0", 1), ("s1", 1), ("s2", 1), ("s3", 997)]
    assert gini(skewed) > 0.7


def test_transition_entropy_deterministic_funnel_collapses(spark, sf_dir):
    """Registry output invariants: normalized in [0,1], entropy >= 0,
    and every reported state has >1 successor."""
    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_transition_entropy"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_dst > 1
        assert r.row_entropy >= 0
        assert -1e-9 <= r.normalized <= 1 + 1e-9


def test_friedman_dominant_treatment_inflates_chi2(spark, sf_dir):
    """Registry invariants: chi2 >= 0 and blocks/k are sane; a fully
    dominant treatment on synthetic blocks maxes the statistic at
    n*(k-1) (no ties, perfect ordering)."""
    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_friedman_test"](spark, sf_dir).collect()
    # sf0.001 has no complete hour blocks -> zero rows by contract
    for row in rows:
        assert row.k >= 2 and row.n_blocks >= 1
        assert row.chi2 >= 0
    full = queries()["q_friedman_test"](spark, "/root/testdata/sf0.01").collect()
    assert len(full) == 1 and full[0].chi2 >= 0 and full[0].k >= 2


def test_durbin_watson_independent_vs_trending(spark, sf_dir):
    """DW lives in [0, 4]; a count series' residuals after a linear
    fit should not show perfect positive autocorrelation (DW == 0)."""
    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_durbin_watson"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.dw < 4


def test_grubbs_bounded_by_ceiling(spark, sf_dir):
    """G can never exceed its algebraic ceiling (n-1)/sqrt(n)."""
    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_grubbs_test"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.grubbs_g <= r.g_max + 1e-9


def test_friedman_hand_computed_no_ties(spark):
    """2 blocks, k=3, identical rank order: chi2 = n(k-1) = 4 exactly
    (the textbook maximum for consistent dominance, no ties)."""
    from pyspark.sql import functions as F

    b = spark.createDataFrame(
        [(1, "A", 3), (1, "B", 2), (1, "C", 1),
         (2, "A", 30), (2, "B", 20), (2, "C", 10)],
        "h long, event_type string, x long",
    )
    a_, c_ = b.alias("a"), b.alias("c")
    dr = (
        a_.join(c_, F.col("a.h") == F.col("c.h"))
        .groupBy(F.col("a.h").alias("h"), F.col("a.event_type").alias("t"))
        .agg(
            (
                2 * F.sum((F.col("c.x") < F.col("a.x")).cast("long"))
                + F.sum((F.col("c.x") == F.col("a.x")).cast("long"))
                + 1
            ).alias("dr")
        )
    )
    rj = {r.t: r.rd for r in dr.groupBy("t").agg(F.sum("dr").alias("rd")).collect()}
    assert rj == {"A": 12, "B": 8, "C": 4}
    n, k = 2, 3
    ad = sum(
        r.s for r in dr.groupBy().agg(F.sum(F.col("dr") * F.col("dr")).alias("s")).collect()
    )
    ss = sum((rd - n * (k + 1)) ** 2 for rd in rj.values())
    chi2 = (k - 1) * ss / (ad - n * k * (k + 1) ** 2)
    assert abs(chi2 - 4.0) < 1e-12


def test_forecast_skill_ranges_and_known_seasonality(spark, sf_dir):
    """R^2 <= 1 always; Theil's U > 0; on a strongly periodic
    synthetic series the seasonal baseline must beat persistence."""
    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_forecast_skill"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.r2_seasonal <= 1 + 1e-9
        assert r.theil_u > 0


@pytest.mark.slowgate
def test_hurst_range_and_iid_vs_trending(spark, sf_dir):
    """H estimates live in a plausible band on real series; a strongly
    trending synthetic series must show higher H than an alternating
    (anti-persistent) one."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_hurst_exponent"](spark, sf_dir).collect()
    for r in rows:
        assert -0.5 < r.hurst < 1.6  # estimator noise band on short series

    def hurst_of(vals):
        df = spark.createDataFrame(
            [(i + 1, v) for i, v in enumerate(vals)], "rn long, x long"
        )
        out = []
        for n in (8, 16, 32):
            ch = df.withColumn("chunk", F.expr(f"(rn - 1) div {n}"))
            cs = ch.groupBy("chunk").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("x").alias("sx"),
                F.sum(F.col("x") * F.col("x")).alias("sx2"),
            )
            m = F.col("sx").cast("double") / F.col("cnt")
            var_p = F.col("sx2").cast("double") / F.col("cnt") - m * m
            w = Window.partitionBy("chunk").orderBy("rn")
            dev = (
                ch.join(cs, "chunk")
                .filter(F.col("cnt") == n)
                .select(
                    "chunk",
                    (
                        F.sum("x").over(w)
                        - F.row_number().over(w).cast("long") * m
                    ).alias("cd"),
                    var_p.alias("v"),
                )
            )
            rs = (
                dev.filter(F.col("v") > 0)
                .groupBy("chunk")
                .agg(
                    (
                        (F.max("cd") - F.min("cd")) / F.sqrt(F.min("v"))
                    ).alias("rs")
                )
                .agg(F.avg("rs").alias("mrs"))
                .collect()[0]
                .mrs
            )
            import math

            out.append((math.log(n), math.log(rs)))
        n_, sx = len(out), sum(p[0] for p in out)
        sy = sum(p[1] for p in out)
        sxx = sum(p[0] * p[0] for p in out)
        sxy = sum(p[0] * p[1] for p in out)
        return (n_ * sxy - sx * sy) / (n_ * sxx - sx * sx)

    trending = [i for i in range(96)]  # pure trend: maximal persistence
    alternating = [10 if i % 2 else 0 for i in range(96)]
    assert hurst_of(trending) > hurst_of(alternating) + 0.3
    assert hurst_of(alternating) < 0.35


def test_mcnemar_hand_computed(spark):
    """b=3, c=1 discordant -> chi2 = (3-1)^2/4 = 1.0; cells sum to n."""
    from pyspark.sql import functions as F

    flags = spark.createDataFrame(
        [(1, 1)] * 5 + [(1, 0)] * 3 + [(0, 1)] * 1 + [(0, 0)] * 2,
        "f_len int, f_alpha int",
    )
    cells = flags.agg(
        F.sum(((F.col("f_len") == 1) & (F.col("f_alpha") == 1)).cast("long")).alias("bp"),
        F.sum(((F.col("f_len") == 1) & (F.col("f_alpha") == 0)).cast("long")).alias("b"),
        F.sum(((F.col("f_len") == 0) & (F.col("f_alpha") == 1)).cast("long")).alias("c"),
        F.sum(((F.col("f_len") == 0) & (F.col("f_alpha") == 0)).cast("long")).alias("ne"),
    ).collect()[0]
    assert (cells.bp, cells.b, cells.c, cells.ne) == (5, 3, 1, 2)
    chi2 = (cells.b - cells.c) ** 2 / (cells.b + cells.c)
    assert abs(chi2 - 1.0) < 1e-12


def test_cohens_d_known_separation(spark, sf_dir):
    """d is antisymmetric-by-order and |d| large only when means are
    far apart relative to the pooled spread; registry run sane."""
    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_cohens_d_pairs"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r.cohens_d) < 10  # same-generator sources: small d


def _hourly_np(sf_dir, types=None):
    """Numpy twin of the hourly count series (per event_type)."""
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "event_type"])
    if types is not None:
        ev = ev[ev.event_type.isin(types)]
    h = ev.ts.astype("datetime64[s]").astype("int64") // 3600
    return ev.assign(h=h).groupby(["event_type", "h"]).size()


def test_ljung_box_matches_numpy_and_acf_query(spark, sf_dir):
    """Q recomputed in numpy from the same positional-lag convention;
    acf_1 agrees with q_acf's independent DECIMAL-recipe reading."""
    import numpy as np

    from hw_kafka_streams_spark.queries import queries

    rows = {r.event_type: r for r in queries()["q_ljung_box"](spark, sf_dir).collect()}
    acf_rows = {r.event_type: r for r in queries()["q_acf"](spark, sf_dir).collect()}
    counts = _hourly_np(sf_dir)
    for et, r in rows.items():
        x = counts.loc[et].sort_index().to_numpy(dtype=float)
        n = len(x)
        assert r.n_hours == n
        dev = x - x.mean()
        den = (dev * dev).sum()
        q = 0.0
        for k in range(1, 7):
            rk = (dev[k:] * dev[:-k]).sum() / den
            q += rk * rk / (n - k)
            if k == 1:
                assert abs(r.acf_1 - rk) < 5e-4
        q *= n * (n + 2)
        assert abs(r.q_lb - q) < max(1e-3, 1e-6 * abs(q))
        assert r.df == 6 and r.q_lb >= 0
        assert abs(r.acf_1 - acf_rows[et].acf_1) <= 1e-4 + 1e-9


def test_yule_walker_satisfies_normal_equations(spark, sf_dir):
    """The fitted (phi1, phi2) must satisfy the two Yule-Walker
    equations r1 = phi1 + phi2*r1 and r2 = phi1*r1 + phi2 up to the
    published rounding."""
    from hw_kafka_streams_spark.queries import queries

    for r in queries()["q_yule_walker_ar2"](spark, sf_dir).collect():
        assert abs(r.phi1 + r.phi2 * r.acf_1 - r.acf_1) < 5e-3
        assert abs(r.phi1 * r.acf_1 + r.phi2 - r.acf_2) < 5e-3
        assert 0 < r.resid_var_ratio <= 1 + 1e-9


def test_granger_matches_numpy_ols(spark, sf_dir):
    """F recomputed with numpy lstsq on the zero-filled hourly grid."""
    import numpy as np

    from hw_kafka_streams_spark.queries import queries

    rows = {
        r.direction: r for r in queries()["q_granger_lag1"](spark, sf_dir).collect()
    }
    counts = _hourly_np(sf_dir, types=["view", "click"])
    h0 = min(h for _, h in counts.index)
    h1 = max(h for _, h in counts.index)
    hours = range(h0, h1 + 1)
    v = np.array([counts.get(("view", h), 0) for h in hours], dtype=float)
    c = np.array([counts.get(("click", h), 0) for h in hours], dtype=float)

    def f_stat(y, own, other):
        yt, a, b = y[1:], own[:-1], other[:-1]
        m = len(yt)
        X_r = np.column_stack([np.ones(m), a])
        X_u = np.column_stack([np.ones(m), a, b])
        rss = lambda X: ((yt - X @ np.linalg.lstsq(X, yt, rcond=None)[0]) ** 2).sum()
        rss_r, rss_u = rss(X_r), rss(X_u)
        return (rss_r - rss_u) * (m - 3) / rss_u

    for direction, (y, own, other) in {
        "view->click": (c, c, v),
        "click->view": (v, v, c),
    }.items():
        expect = f_stat(y, own, other)
        got = rows[direction].f_stat
        assert abs(got - expect) < max(5e-3, 1e-4 * abs(expect)), (
            direction,
            got,
            expect,
        )


def test_jarque_bera_matches_numpy(spark, sf_dir):
    """Skewness / excess kurtosis / JB recomputed with numpy
    population moments per source."""
    import numpy as np
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "n_chars"])
    for r in queries()["q_jarque_bera"](spark, sf_dir).collect():
        x = docs[docs.source == r.source].n_chars.dropna().to_numpy(dtype=float)
        n = len(x)
        assert r.n == n
        d = x - x.mean()
        m2, m3, m4 = (d**2).mean(), (d**3).mean(), (d**4).mean()
        skew = m3 / m2**1.5
        kurtx = m4 / m2**2 - 3
        jb = n / 6 * (skew**2 + kurtx**2 / 4)
        assert abs(r.skewness - skew) < 1e-5
        assert abs(r.kurtosis_excess - kurtx) < 1e-5
        assert abs(r.jarque_bera - jb) < max(1e-3, 1e-6 * jb)


def test_bartlett_matches_numpy(spark, sf_dir):
    """Bartlett chi2 recomputed from per-source sample variances."""
    import math

    import numpy as np
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "n_chars"])
    groups = [
        g.n_chars.dropna().to_numpy(dtype=float)
        for _, g in docs.groupby("source")
    ]
    k = len(groups)
    ns = [len(g) for g in groups]
    vs = [g.var(ddof=1) for g in groups]
    ntot = sum(ns)
    sp2 = sum((n - 1) * v for n, v in zip(ns, vs)) / (ntot - k)
    num = (ntot - k) * math.log(sp2) - sum(
        (n - 1) * math.log(v) for n, v in zip(ns, vs)
    )
    corr = 1 + (sum(1 / (n - 1) for n in ns) - 1 / (ntot - k)) / (3 * (k - 1))
    expect = num / corr
    row = queries()["q_bartlett_test"](spark, sf_dir).collect()[0]
    assert row.k_groups == k and row.n_total == ntot and row.df == k - 1
    assert abs(row.bartlett_chi2 - expect) < max(1e-3, 1e-5 * abs(expect))


def test_map_mrr_single_term_perfect(spark, sf_dir):
    """For the single-term query set, strict relevance == 'doc hits
    the term', so every retrieved doc is relevant: AP@10 and MRR must
    both be exactly 1 (given >= 10 relevant docs exist)."""
    from hw_kafka_streams_spark.queries import queries

    rows = {r.query_id: r for r in queries()["q_map_mrr_eval"](spark, sf_dir).collect()}
    assert set(rows) == {"q0", "q1", "q2"}
    q0 = rows["q0"]
    assert q0.n_rel_total >= 10
    assert q0.ap_10 == 1.0 and q0.mrr == 1.0
    for r in rows.values():
        assert 0 <= r.ap_10 <= 1 and 0 <= r.mrr <= 1
        # MRR is 0 or a reciprocal of a rank in 1..10
        assert r.mrr == 0 or any(abs(r.mrr - round(1 / k, 6)) < 1e-9 for k in range(1, 11))


def test_ql_dirichlet_matches_numpy(spark, sf_dir):
    """Top-10 scores recomputed in pure python with the same
    whitespace tokenizer and mu=2000 Dirichlet smoothing."""
    import math
    import re

    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    terms = ["spark", "join", "hash"]
    dl, tf, ctf, ctot = {}, {}, {t: 0 for t in terms}, 0
    for doc_id, text in zip(docs.doc_id, docs.text):
        toks = [t for t in re.split(r"\s+", text.strip().lower()) if t]
        dl[doc_id] = len(toks)
        ctot += len(toks)
        for t in terms:
            c = toks.count(t)
            tf[(doc_id, t)] = c
            ctf[t] += c
    mup = {t: 2000.0 * ctf[t] / ctot for t in terms}

    def score(d):
        return sum(
            math.log((tf[(d, t)] + mup[t]) / (dl[d] + 2000.0)) for t in terms
        )

    expect = sorted(dl, key=lambda d: (-score(d), d))[:10]
    got = queries()["q_ql_dirichlet"](spark, sf_dir).collect()
    assert [r.doc_id for r in got] == expect
    for r in got:
        assert abs(r.ql - score(r.doc_id)) < 1e-4
    assert [r.rnk for r in got] == list(range(1, 11))


def test_calibration_brier_invariants(spark, sf_dir):
    """Bins partition the candidate set; per-bin means live in their
    bin; Brier is a proper [0,1] score consistent with a direct
    recompute from the bins' resolution/reliability decomposition
    bound."""
    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_calibration_brier"](spark, sf_dir).collect()
    assert rows
    n_total = rows[0].n_total
    assert sum(r.n for r in rows) == n_total
    assert all(rows[0].brier == r.brier for r in rows)
    assert 0 <= rows[0].brier <= 1
    for r in rows:
        assert 0 <= r.bin <= 9
        lo, hi = r.bin / 10, (r.bin + 1) / 10 if r.bin < 9 else 1.0 + 1e-9
        assert lo - 1e-6 <= r.mean_p <= hi + 1e-6
        assert 0 <= r.frac_pos <= 1
    # reliability term alone can't exceed the Brier score by more than
    # the refinement bound: brier >= sum n_b (mean_p_b - frac_pos_b)^2 / N
    # minus binning slack — check the weak direction with tolerance
    reliability = sum(r.n * (r.mean_p - r.frac_pos) ** 2 for r in rows) / n_total
    assert rows[0].brier >= reliability - 0.05


def test_bradley_terry_strengths_track_win_rates(spark, sf_dir):
    """Strengths are a distribution (sum ~1, all positive); with
    near-equal match counts the MM fixed point must order items by
    win rate; wins bounded by matches."""
    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_bradley_terry"](spark, sf_dir).collect()
    assert len(rows) == 5
    assert abs(sum(r.bt_strength for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 0 < r.bt_strength < 1
        assert 0 <= r.wins <= r.n_matches
    by_strength = sorted(rows, key=lambda r: -r.bt_strength)
    by_winrate = sorted(rows, key=lambda r: -(r.wins / r.n_matches))
    assert [r.event_type for r in by_strength] == [
        r.event_type for r in by_winrate
    ]


def test_dp_noisy_counts_seeded_laplace(spark, sf_dir):
    """Noise is deterministic (seeded), nonzero, and Laplace-bounded;
    the nominal epsilon is reported."""
    from hw_kafka_streams_spark.queries import queries

    r1 = queries()["q_dp_noisy_counts"](spark, sf_dir).collect()
    r2 = queries()["q_dp_noisy_counts"](spark, sf_dir).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
    for r in r1:
        noise = r.noisy_n - r.n_true
        assert noise != 0  # a.s. for the seeded uniform
        # |noise| = b*|ln(u')|, u' >= 1e-18 -> |noise| <= 18*ln(10)+eps
        assert abs(noise) < 42
        assert r.nominal_epsilon == 1.0  # renamed: the deterministic
        # public seed VOIDS the DP guarantee (ADVICE r9) — the column
        # records the budget a secret-seed deployment would spend


def test_fd_discovery_keys_hold_and_decoys_fail(spark, sf_dir):
    from hw_kafka_streams_spark.queries import queries

    rows = {
        (r.tbl, r.lhs, r.rhs): r
        for r in queries()["q_fd_discovery"](spark, sf_dir).collect()
    }
    assert rows[("orders", "o_orderkey", "o_custkey")].holds
    assert rows[("orders", "o_orderkey", "o_custkey")].g3_error == 0.0
    # the synthetic generator does NOT enforce TPC-H's composite
    # lineitem key (sf0.001: 4599 distinct (orderkey, linenumber) over
    # 6000 rows) — the profiler correctly reports the FD as violated
    li = rows[("lineitem", "l_orderkey,l_linenumber", "l_quantity")]
    assert not li.holds and li.g3_error > 0
    assert rows[("documents", "doc_id", "lang")].holds
    assert not rows[("orders", "o_custkey", "o_orderpriority")].holds
    assert not rows[("documents", "source", "lang")].holds
    for r in rows.values():
        assert 0 <= r.g3_error < 1
        assert r.holds == (r.g3_error == 0.0)


def test_fk_discovery_real_fks_hold_decoy_fails(spark, sf_dir):
    from hw_kafka_streams_spark.queries import queries

    rows = {
        (r.child_table, r.child_col, r.parent_table): r
        for r in queries()["q_fk_discovery"](spark, sf_dir).collect()
    }
    for key in [
        ("orders", "o_custkey", "customer"),
        ("lineitem", "l_orderkey", "orders"),
        ("lineitem", "l_suppkey", "supplier"),
        ("customer", "c_nationkey", "nation"),
    ]:
        assert rows[key].holds and rows[key].containment == 1.0
    decoy = rows[("orders", "o_orderkey", "customer")]
    assert not decoy.holds and decoy.containment < 1.0
    for r in rows.values():
        assert r.n_contained <= r.n_child_distinct


def test_recursive_cte_binary_heap_levels(spark, sf_dir):
    """Depth-d level of the implicit supplier binary heap must be
    exactly the existing keys in [2^d, 2^(d+1))."""
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    max_key = int(
        pd.read_parquet(f"{sf_dir}/supplier.parquet", columns=["s_suppkey"])
        .s_suppkey.max()
    )
    rows = queries()["q_recursive_cte"](spark, sf_dir).collect()
    for r in rows:
        lo, hi = 2**r.depth, 2 ** (r.depth + 1) - 1
        assert r.min_key == lo
        assert r.max_key == min(hi, max_key)
        assert r.n_suppliers == min(hi, max_key) - lo + 1
    assert rows[-1].max_key == max_key


def test_lateral_join_decorrelates_to_window(spark, sf_dir):
    """Catalyst must decorrelate the per-row ORDER BY/LIMIT lateral
    into a window/rank plan — no nested-loop re-execution — and the
    rows must be each sampled customer's true top-2."""
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    df = queries()["q_lateral_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    rows = df.collect()
    orders = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_orderkey", "o_totalprice"]
    )
    got = {}
    for r in rows:
        got.setdefault(r.c_custkey, []).append(r.o_orderkey)
    for ck, oks in got.items():
        sub = orders[orders.o_custkey == ck].sort_values(
            ["o_totalprice", "o_orderkey"], ascending=[False, True]
        )
        assert sorted(oks) == sorted(sub.o_orderkey.head(2).tolist())
        assert len(oks) <= 2


def test_ams_f2_estimator_quality_and_exactness(spark, sf_dir):
    """Exact F2 recomputed in pandas; the 16-estimator median-of-means
    lands within a loose Chebyshev-style band (the sketch is unbiased
    with variance <= 2 F2^2 / 4 per mean)."""
    import re

    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    from collections import Counter

    c = Counter()
    for t in docs.text:
        c.update(x for x in re.split(r"\s+", t.strip().lower()) if x)
    exact = sum(v * v for v in c.values())
    row = queries()["q_ams_f2"](spark, sf_dir).collect()[0]
    assert row.exact_f2 == exact
    assert row.n_estimators == 16
    assert row.rel_err < 2.0  # very loose: sketch is coarse at 16 counters
    assert abs(row.ams_f2 - exact) / exact == __import__("pytest").approx(
        row.rel_err, abs=1e-4
    )


def test_bleu_pairs_matches_python_recompute(spark, sf_dir):
    """Clipped precisions and BLEU-2 recomputed in pure python for
    every reported pair."""
    import math
    import re
    from collections import Counter

    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_bleu_pairs"](spark, sf_dir).collect()
    assert rows  # sf0.001 corpus has near-dup pairs
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    text = dict(zip(docs.doc_id, docs.text))

    def toks(d):
        return [t for t in re.split(r"\s+", text[d].strip()) if t]

    for r in rows:
        ta, tb = toks(r.id1), toks(r.id2)
        u_a, u_b = Counter(ta), Counter(tb)
        b_a = Counter(zip(ta, ta[1:]))
        b_b = Counter(zip(tb, tb[1:]))
        clip1 = sum(min(c, u_b[g]) for g, c in u_a.items())
        clip2 = sum(min(c, b_b[g]) for g, c in b_a.items())
        p1, p2 = clip1 / len(ta), clip2 / (len(ta) - 1)
        assert abs(r.prec1 - p1) < 1e-5 and abs(r.prec2 - p2) < 1e-5
        if clip1 == 0 or clip2 == 0:
            expect = 0.0
        else:
            bp = 1.0 if len(ta) >= len(tb) else math.exp(1 - len(tb) / len(ta))
            expect = bp * math.sqrt(p1 * p2)
        assert abs(r.bleu2 - expect) < 1e-5
        assert 0 <= r.bleu2 <= 1 + 1e-9


def test_dedup_threshold_sweep_monotone(spark, sf_dir):
    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_dedup_threshold_sweep"](spark, sf_dir).collect()
    assert [r.tau for r in rows] == [0.05, 0.1, 0.2, 0.3, 0.5]
    for a, b in zip(rows, rows[1:]):
        assert a.n_pairs >= b.n_pairs
        assert a.n_docs_involved >= b.n_docs_involved
    for r in rows:
        assert r.n_docs_involved <= 2 * r.n_pairs or r.n_pairs == 0


def test_wilson_ci_formula_and_bounds(spark, sf_dir):
    import math

    from hw_kafka_streams_spark.queries import queries

    for r in queries()["q_wilson_ci"](spark, sf_dir).collect():
        p, n, z = r.n_short / r.n, r.n, 1.96
        center = p + z * z / (2 * n)
        half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        denom = 1 + z * z / n
        assert abs(r.wilson_lo - (center - half) / denom) < 1e-5
        assert abs(r.wilson_hi - (center + half) / denom) < 1e-5
        assert 0 <= r.wilson_lo <= r.p_hat <= r.wilson_hi <= 1


def test_sprt_matches_numpy_sequential_replay(spark, sf_dir):
    """Decision, stopping index, and final LLR recomputed by a direct
    sequential replay of each type's (ts, event_id)-ordered stream."""
    import math

    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    rows = {r.event_type: r for r in queries()["q_sprt_audit"](spark, sf_dir).collect()}
    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["event_type", "ts", "event_id", "value"]
    ).sort_values(["ts", "event_id"])
    l1, l0, a = math.log(1.2), math.log(0.8), math.log(19.0)
    for et, g in ev.groupby("event_type"):
        succ = (g.value > 35).to_numpy()
        llr, decision, n_dec = 0.0, "continue", None
        for i, s in enumerate(succ, 1):
            llr += l1 if s else l0
            if decision == "continue" and (llr >= a or llr <= -a):
                decision = "H1" if llr >= a else "H0"
                n_dec = i
        r = rows[et]
        assert r.decision == decision
        assert r.n_to_decision == n_dec
        assert r.n_events == len(succ)
        assert abs(r.llr_final - llr) < 1e-4
        assert abs(r.p_hat - succ.mean()) < 1e-3


def test_isotonic_calibration_is_pav(spark, sf_dir):
    """The minimax closed form must equal the classic sequential PAV
    run on the same (n, frac_pos) bins, be monotone, and preserve the
    weighted mean (pooling property)."""
    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_isotonic_calibration"](spark, sf_dir).collect()
    assert rows == sorted(rows, key=lambda r: r.bin)
    iso = [r.iso_p for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(iso, iso[1:]))  # monotone
    # classic PAV on (weight, value) blocks
    blocks = [[r.n, r.frac_pos * r.n] for r in rows]  # [w, sum]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][1] / blocks[i][0] > blocks[i + 1][1] / blocks[i + 1][0] + 1e-12:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    # blocks pooled contiguous bins; rebuild the per-bin fit
    expect = []
    bi = 0
    for w, sm in blocks:
        covered = 0
        while covered < w - 1e-6:
            covered += rows[bi].n
            expect.append(sm / w)
            bi += 1
    assert len(expect) == len(rows)
    for got, exp in zip(iso, expect):
        assert abs(got - exp) < 1e-4
    # pooling property: weighted mean unchanged
    lhs = sum(r.n * r.iso_p for r in rows)
    rhs = sum(r.n * r.frac_pos for r in rows)
    assert abs(lhs - rhs) < 1e-2


def test_shapley_efficiency_identity(spark, sf_dir):
    """sum of Shapley values == v(full) - v(empty) (efficiency axiom),
    with v recomputed from a pandas coalition table."""
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_shapley_attribution"](spark, sf_dir).collect()
    assert [r.channel for r in rows] == ["click", "error", "signup", "view"]
    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "ts", "event_type"]
    )
    t0 = ev.groupby("user_id").ts.transform("min")
    w = ev[(ev.ts - t0).dt.total_seconds() < 21600]
    coal = {}
    for uid, g in w.groupby("user_id"):
        st = ",".join(sorted(set(g.event_type) - {"purchase"}))
        conv = int((g.event_type == "purchase").any())
        n, k = coal.get(st, (0, 0))
        coal[st] = (n + 1, k + conv)

    def v(key):
        n, k = coal.get(key, (0, 0))
        return k / n if n else 0.0

    total = sum(r.shapley for r in rows)
    expect = v("click,error,signup,view") - v("")
    assert abs(total - expect) < 1e-3


def test_topic_coherence_bounds_and_identical_terms(spark, sf_dir):
    """NPMI coherence lies in [-1, 1]; every source reports C(5,2)
    pairs (or fewer if the vocab is tiny)."""
    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_topic_coherence"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_pairs <= 10
        assert -1 - 1e-9 <= r.coherence_npmi <= 1 + 1e-9


def test_entropy_rate_matches_numpy_power_iteration(spark, sf_dir):
    """pi and the rate recomputed with numpy: stationary distribution
    of the row-stochastic transition matrix, entropy weighted by it.
    Three power iterations from uniform get close enough on this
    rapidly-mixing chain that the 4dp comparison is stable."""
    import numpy as np
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_entropy_rate"](spark, sf_dir).collect()
    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet",
        columns=["user_id", "ts", "event_id", "event_type"],
    ).sort_values(["ts", "event_id"])
    counts = {}
    for _, g in ev.groupby("user_id"):
        ts = g.event_type.tolist()
        for a, b in zip(ts, ts[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    states = sorted({r.state for r in rows})
    P = np.zeros((len(states), len(states)))
    for (a, b), n in counts.items():
        P[states.index(a), states.index(b)] = n
    P = P / P.sum(axis=1, keepdims=True)
    pi = np.full(len(states), 1 / len(states))
    for _ in range(3):
        pi = pi @ P
        pi /= pi.sum()
    with np.errstate(divide="ignore", invalid="ignore"):
        H = -np.nansum(np.where(P > 0, P * np.log(P), 0.0), axis=1)
    rate = float(pi @ H)
    by_state = {r.state: r for r in rows}
    for i, st in enumerate(states):
        assert abs(by_state[st].pi - pi[i]) < 5e-4
        assert abs(by_state[st].h_row - H[i]) < 5e-4
    assert abs(rows[0].entropy_rate - rate) < 1e-3
    # entropy rate can't exceed the max row entropy
    assert rows[0].entropy_rate <= max(H) + 1e-9


def test_neyman_allocation_optimality_and_budget(spark, sf_dir):
    """Allocations sum to the budget; the Neyman variance never
    exceeds proportional (it is the minimizer); numpy recompute."""
    import numpy as np
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_neyman_allocation"](spark, sf_dir).collect()
    assert abs(sum(r.n_proportional for r in rows) - 1000) < 0.1
    assert abs(sum(r.n_neyman for r in rows) - 1000) < 0.1
    assert rows[0].var_ratio <= 1 + 1e-9
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "n_chars"])
    for r in rows:
        x = docs[docs.source == r.source].n_chars.dropna()
        assert abs(r.std_len - x.std(ddof=1)) < 1e-2
        assert r.n_docs == len(x)
    ns = np.array([r.n_docs * r.std_len for r in rows])
    expect = 1000 * ns / ns.sum()
    for r, e in zip(rows, expect):
        assert abs(r.n_neyman - e) < 0.05


def test_lilliefors_matches_scipy_free_recompute(spark, sf_dir):
    """D recomputed with numpy ECDF + the same A&S CDF; the uniform-ish
    synthetic lengths must reject normality decisively."""
    import math

    import numpy as np
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    def phi(z):
        x = abs(z)
        t = 1.0 / (1.0 + 0.2316419 * x)
        upper = (math.exp(-x * x / 2) / 2.5066282746310002) * (
            t * (0.319381530 + t * (-0.356563782 + t * (1.781477937
                + t * (-1.821255978 + t * 1.330274429))))
        )
        return 1 - upper if z >= 0 else upper

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "n_chars"])
    for r in queries()["q_lilliefors"](spark, sf_dir).collect():
        x = np.sort(docs[docs.source == r.source].n_chars.dropna().to_numpy(float))
        n = len(x)
        mu, sd = x.mean(), x.std(ddof=0)
        d = 0.0
        vals, counts = np.unique(x, return_counts=True)
        cum = np.cumsum(counts)
        for v, cm, c in zip(vals, cum, counts):
            p = phi((v - mu) / sd)
            d = max(d, cm / n - p, p - (cm - c) / n)
        assert abs(r.d_stat - d) < 1e-5
        assert abs(r.crit_05 - 0.886 / math.sqrt(n)) < 1e-6
        assert r.reject_normal == int(d > 0.886 / math.sqrt(n))


def test_fellegi_sunter_em_separates_m_from_u(spark):
    """On sf0.01 (sf0.001 has no blocked pairs — empty by convention)
    the EM must land with m > u for at least the informative fields,
    positive agreement weights where m > u, and a sane match prior."""
    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_fellegi_sunter"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert [r.field for r in rows] == ["adjective", "price_band", "type"]
    for r in rows:
        assert 0 < r.m < 1 and 0 < r.u < 1
        assert (r.agree_weight > 0) == (r.m > r.u)
        assert 0 < r.p_match < 1
        assert r.n_pairs == rows[0].n_pairs > 0


def test_fellegi_sunter_empty_at_sf0001(spark, sf_dir):
    from hw_kafka_streams_spark.queries import queries

    assert queries()["q_fellegi_sunter"](spark, sf_dir).count() == 0


def test_poisson_glm_matches_numpy_newton(spark, sf_dir):
    """Coefficients and deviance recomputed with a numpy Newton fit on
    the same 9dp-rounded harmonic features (converged solution —
    3 steps from the intercept start get within 1e-3 on this data)."""
    import numpy as np
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    row = queries()["q_poisson_glm"](spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    h = (ev.ts.astype("datetime64[s]").astype("int64") // 3600)
    y = h.value_counts().sort_index().to_numpy(dtype=float)
    hours = np.sort(h.unique())
    x1 = np.round(np.sin(2 * np.pi * ((hours % 24) / 24.0)), 9)
    x2 = np.round(np.cos(2 * np.pi * ((hours % 24) / 24.0)), 9)
    X = np.column_stack([np.ones_like(x1), x1, x2])
    b = np.array([np.log(y.mean()), 0.0, 0.0])
    for _ in range(25):
        mu = np.exp(X @ b)
        g = X.T @ (y - mu)
        H = X.T @ (X * mu[:, None])
        b = b + np.linalg.solve(H, g)
    assert row.n_hours == len(y)
    assert abs(row.b0 - b[0]) < 1e-3
    assert abs(row.b1 - b[1]) < 1e-3
    assert abs(row.b2 - b[2]) < 1e-3
    mu = np.exp(X @ b)
    dev = 2 * np.sum(np.where(y > 0, y * np.log(y / mu), 0) - (y - mu))
    assert abs(row.deviance - dev) < max(0.5, 1e-3 * dev)
    assert 0 <= row.pseudo_r2 <= 1


def test_simpson_audit_cells_and_flag_logic(spark, sf_dir):
    """Cell counts recomputed in pandas; the flag definition (pooled
    sign contradicts a unanimous stratum sign) verified directly."""
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    rows = {r.stratum: r for r in queries()["q_simpson_audit"](spark, sf_dir).collect()}
    o = pd.read_parquet(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderpriority", "o_totalprice", "o_orderstatus"],
    )
    o["x"] = o.o_orderpriority.isin(["1-URGENT", "2-HIGH"]).astype(int)
    o["y"] = (o.o_totalprice > 250000).astype(int)
    signs = []
    for st, r in rows.items():
        sub = o if st == "ALL" else o[o.o_orderstatus == st]
        e, c = sub[sub.x == 1], sub[sub.x == 0]
        assert (r.n_exposed, r.n_control) == (len(e), len(c))
        diff = e.y.mean() - c.y.mean()
        assert abs(r.risk_diff - diff) < 1e-5
        if st != "ALL":
            signs.append(1 if diff > 0 else (-1 if diff < 0 else 0))
    all_sign = (
        1 if rows["ALL"].risk_diff > 0
        else (-1 if rows["ALL"].risk_diff < 0 else 0)
    )
    expect_flag = int(len(set(signs)) == 1 and signs[0] * all_sign < 0)
    assert rows["ALL"].simpson_flag == expect_flag


def test_icc_matches_numpy_anova(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    r = queries()["q_icc"](spark, sf_dir).collect()[0]
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "n_chars"])
    groups = [g.n_chars.dropna().to_numpy(float) for _, g in docs.groupby("source")]
    k, ns = len(groups), [len(g) for g in groups]
    N = sum(ns)
    gm = np.concatenate(groups).mean()
    ssb = sum(n * (g.mean() - gm) ** 2 for n, g in zip(ns, groups))
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    msb, msw = ssb / (k - 1), ssw / (N - k)
    n0 = (N - sum(n * n for n in ns) / N) / (k - 1)
    icc = (msb - msw) / (msb + (n0 - 1) * msw)
    assert r.k_groups == k and r.n_total == N
    assert abs(r.ms_between - msb) < max(0.5, 1e-5 * msb)
    assert abs(r.ms_within - msw) < max(0.5, 1e-5 * msw)
    assert abs(r.icc1 - icc) < 1e-4
    assert abs(r.design_effect - (1 + (n0 - 1) * icc)) < 1e-3
    assert -1 <= r.icc1 <= 1


def test_sobel_mediation_matches_numpy_paths(spark, sf_dir):
    import math
    import re

    import numpy as np
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    r = queries()["q_sobel_mediation"](spark, sf_dir).collect()[0]
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["n_chars", "text"])
    docs = docs[docs.n_chars.notna()]
    x = docs.n_chars.to_numpy(float)
    toks = [
        [t for t in re.split(r"\s+", s.strip()) if t] for s in docs.text
    ]
    m = np.array([len(t) for t in toks], float)
    y = np.array(
        [len({w.lower() for w in t}) for t in toks], float
    )
    n = len(x)
    Xa = np.column_stack([np.ones(n), x])
    beta_a = np.linalg.lstsq(Xa, m, rcond=None)[0]
    rss_a = ((m - Xa @ beta_a) ** 2).sum()
    se_a = math.sqrt(rss_a / (n - 2) / ((x - x.mean()) ** 2).sum())
    Xb = np.column_stack([np.ones(n), m, x])
    beta_b = np.linalg.lstsq(Xb, y, rcond=None)[0]
    rss_b = ((y - Xb @ beta_b) ** 2).sum()
    XtX_inv = np.linalg.inv(Xb.T @ Xb)
    se_b = math.sqrt(rss_b / (n - 3) * XtX_inv[1, 1])
    av, bv = beta_a[1], beta_b[1]
    sobel = av * bv / math.sqrt(av * av * se_b**2 + bv * bv * se_a**2)
    assert abs(r.a_x_to_m - av) < 1e-4
    assert abs(r.b_m_to_y - bv) < 1e-4
    assert abs(r.sobel_z - sobel) < max(0.01, 1e-3 * abs(sobel))
    assert abs(r.indirect - av * bv) < 1e-4
    assert r.n_docs == n


def test_iv_wald_matches_pandas_ratio(spark, sf_dir):
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    r = queries()["q_iv_wald"](spark, sf_dir).collect()[0]
    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "value"]
    )
    ev["z"] = (ev.user_id % 2 == 0).astype(int)
    ev["x"] = ev.event_type.isin(["click", "signup"]).astype(int)
    ev["y"] = ev.value.round(2)
    g1, g0 = ev[ev.z == 1], ev[ev.z == 0]
    fs = g1.x.mean() - g0.x.mean()
    rf = g1.y.mean() - g0.y.mean()
    assert (r.n_z1, r.n_z0) == (len(g1), len(g0))
    assert abs(r.first_stage - fs) < 1e-5
    assert abs(r.reduced_form - rf) < 1e-4
    assert abs(r.wald_iv - rf / fs) < max(0.01, 1e-3 * abs(rf / fs))


def test_hmm_viterbi_matches_numpy_and_is_sane(spark, sf_dir):
    """Full numpy Viterbi replay with the same integer-scaled scores;
    path invariants (counts partition, score finite)."""
    import numpy as np
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    rows = {r.event_type: r for r in queries()["q_hmm_viterbi"](spark, sf_dir).collect()}
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "ts"])
    d = ev.ts.astype("datetime64[s]").astype("int64") // 86400
    T_STAY, T_SW = -105361, -2302585
    for et, g in ev.assign(d=d).groupby("event_type"):
        y = g.groupby("d").size().sort_index().to_numpy(np.int64)
        n = len(y)
        mean = float(y.sum()) / n
        lh, ll = 1.25 * mean, 0.75 * mean
        l_hi, lam_hi = int(round(np.log(lh) * 1e6)), int(round(lh * 1e6))
        l_lo, lam_lo = int(round(np.log(ll) * 1e6)), int(round(ll * 1e6))
        v_hi = np.empty(n, np.int64)
        v_lo = np.empty(n, np.int64)
        v_hi[0], v_lo[0] = y[0] * l_hi - lam_hi, y[0] * l_lo - lam_lo
        for t in range(1, n):
            v_hi[t] = y[t] * l_hi - lam_hi + max(v_hi[t-1] + T_STAY, v_lo[t-1] + T_SW)
            v_lo[t] = y[t] * l_lo - lam_lo + max(v_lo[t-1] + T_STAY, v_hi[t-1] + T_SW)
        st = np.empty(n, np.int64)
        st[n-1] = 1 if v_hi[n-1] >= v_lo[n-1] else 0
        for t in range(n-2, -1, -1):
            if st[t+1] == 1:
                st[t] = 1 if v_hi[t] + T_STAY >= v_lo[t] + T_SW else 0
            else:
                st[t] = 0 if v_lo[t] + T_STAY >= v_hi[t] + T_SW else 1
        r = rows[et]
        assert r.n_days == n
        assert r.n_high_days == int(st.sum())
        assert r.n_switches == int((st[1:] != st[:-1]).sum())
        assert abs(r.viterbi_score - round(max(v_hi[n-1], v_lo[n-1]) / 1e6, 4)) < 1e-9
        assert 0 <= r.n_high_days <= r.n_days
        assert r.n_switches < r.n_days


def test_gumbel_return_levels_ordering_and_numpy(spark, sf_dir):
    """Return levels recomputed from pandas daily maxima; monotone in
    the return period and above the mean."""
    import math

    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    rows = {r.event_type: r for r in queries()["q_gumbel_return_levels"](spark, sf_dir).collect()}
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "ts", "value"])
    d = ev.ts.astype("datetime64[s]").astype("int64") // 86400
    for et, g in ev.assign(d=d).groupby("event_type"):
        mx = g.groupby("d").value.max().round(2)
        beta = mx.std(ddof=1) * math.sqrt(6) / math.pi
        mu = mx.mean() - beta * 0.5772156649015329
        r = rows[et]
        assert r.n_days == mx.size
        assert abs(r.gumbel_beta - beta) < 1e-3
        assert abs(r.gumbel_mu - mu) < 1e-3
        rl30 = mu - beta * math.log(-math.log(1 - 1 / 30))
        rl365 = mu - beta * math.log(-math.log(1 - 1 / 365))
        assert abs(r.rl_30d - rl30) < 1e-3
        assert abs(r.rl_365d - rl365) < 1e-3
        assert r.mean_daily_max < r.rl_30d < r.rl_365d


def test_dataset_card_cross_checks_other_queries(spark, sf_dir):
    """Card numbers agree with independent pandas recomputes."""
    import re

    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    r = queries()["q_dataset_card"](spark, sf_dir).collect()[0]
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    assert r.n_docs == len(docs)
    assert r.n_sources == docs.source.nunique()
    assert r.n_langs == docs.lang.nunique()
    ntok = docs.text.map(lambda t: len([x for x in re.split(r"\s+", t.strip()) if x]))
    assert r.n_tokens == int(ntok.sum())
    assert abs(r.mean_doc_tokens - ntok.mean()) < 0.01
    fp = docs.text.map(lambda t: re.sub(r"\s+", " ", t).strip().lower())
    assert abs(r.exact_dup_rate - (len(docs) - fp.nunique()) / len(docs)) < 1e-6
    assert abs(r.short_doc_rate - (ntok < 120).mean()) < 1e-6
    assert r.lang_entropy_nats >= 0


def test_collation_fold_semantics(spark, sf_dir):
    """Case-insensitive vocab is never larger than case-sensitive;
    pandas lower-fold recompute matches."""
    import re

    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_collation_fold"](spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "text"])
    for r in rows:
        toks = []
        for t in docs[docs.source == r.source].text:
            toks += [x for x in re.split(r"\s+", t.strip()) if x]
        assert r.n_tokens == len(toks)
        assert r.vocab_cs == len(set(toks))
        assert r.vocab_ci == len({t.lower() for t in toks})
        assert r.vocab_ci <= r.vocab_cs
        assert abs(r.fold_rate - (1 - r.vocab_ci / r.vocab_cs)) < 1e-9


def test_ppmi_power_iteration_matches_numpy(spark, sf_dir):
    """Top eigenvector/eigenvalue recomputed with numpy from the same
    PPMI matrix and the same 3-step pinned-rounding trajectory."""
    import re
    from collections import Counter

    import numpy as np
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    got = queries()["q_ppmi_power_iteration"](spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    pairs = Counter()
    for t in docs.text:
        ws = [x for x in re.split(r"\s+", t.strip().lower()) if x]
        for i, w in enumerate(ws):
            for j in range(max(0, i - 2), min(len(ws), i + 3)):
                if j != i:
                    pairs[(w, ws[j])] += 1
    marg = Counter()
    for (w, _), n in pairs.items():
        marg[w] += n
    T = sum(pairs.values())
    vocab = sorted(w for w in marg if marg[w] >= 5)
    idx = {w: i for i, w in enumerate(vocab)}
    M = np.zeros((len(vocab), len(vocab)))
    for (w, c), n in pairs.items():
        if w in idx and c in idx:
            M[idx[w], idx[c]] = round(
                max(0.0, np.log(n * T / (marg[w] * marg[c]))), 6
            )
    x = np.full(len(vocab), round(1 / np.sqrt(len(vocab)), 9))
    for _ in range(3):
        y = np.round(M * x[None, :], 9).sum(axis=1)
        nrm = np.sqrt(np.round(y * y, 9).sum())
        x = np.round(y / nrm, 9)
    top = sorted(zip(x, vocab), key=lambda t: (-t[0], t[1]))[:10]
    assert len(got) == min(10, len(vocab))
    for r, (xc, w) in zip(got, top):
        assert r.word == w
        assert abs(r.component - xc) < 1e-5
        assert abs(r.lambda_est - round(float(nrm), 4)) < 1e-3


def _filter_matrix(sf_dir):
    import re

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text", "n_chars"])
    docs = docs[docs.n_chars.notna()]
    rows = []
    for t, nc in zip(docs.text, docs.n_chars):
        toks = [x for x in re.split(r"\s+", t.strip()) if x]
        rows.append(
            (
                int(len(toks) >= 120),
                int(nc >= 800),
                int(len({x.lower() for x in toks}) >= 25),
            )
        )
    return rows


def test_cochran_q_matches_formula(spark, sf_dir):
    from hw_kafka_streams_spark.queries import queries

    m = _filter_matrix(sf_dir)
    r = queries()["q_cochran_q"](spark, sf_dir).collect()[0]
    c = [sum(row[j] for row in m) for j in range(3)]
    sr = sum(sum(row) for row in m)
    sr2 = sum(sum(row) ** 2 for row in m)
    q = 6 * sum((cj - sr / 3) ** 2 for cj in c) / (3 * sr - sr2)
    assert (r.n_docs, r.pass_len, r.pass_chars, r.pass_vocab) == (
        len(m), c[0], c[1], c[2],
    )
    assert abs(r.cochran_q - q) < max(1e-3, 1e-4 * q)
    assert r.cochran_q >= 0 and r.df == 2


def test_fleiss_kappa_matches_formula_and_bounds(spark, sf_dir):
    from hw_kafka_streams_spark.queries import queries

    m = _filter_matrix(sf_dir)
    r = queries()["q_fleiss_kappa"](spark, sf_dir).collect()[0]
    n, k = len(m), 3
    p_items = [
        (sum(row) ** 2 + (k - sum(row)) ** 2 - k) / (k * (k - 1))
        for row in m
    ]
    p_bar = sum(p_items) / n
    p1 = sum(sum(row) for row in m) / (n * k)
    p_e = p1 * p1 + (1 - p1) * (1 - p1)
    kappa = (p_bar - p_e) / (1 - p_e)
    assert abs(r.p_observed - p_bar) < 1e-5
    assert abs(r.p_expected - p_e) < 1e-5
    assert abs(r.fleiss_kappa - kappa) < 1e-4
    assert -1 <= r.fleiss_kappa <= 1


def test_kendall_w_bounds_and_value(spark, sf_dir):
    """W lies in [0, 1]; with three term-overlap-driven scorers on the
    same query it should show substantial concordance; m bounded by
    the union of three top-20s."""
    from hw_kafka_streams_spark.queries import queries

    r = queries()["q_kendall_w"](spark, sf_dir).collect()[0]
    assert 20 <= r.m_items <= 60
    assert -1e-9 <= r.kendall_w <= 1 + 1e-9
    assert r.kendall_w > 0.3  # related scorers are far from discordant


def test_seq_patterns_matches_pandas_existence(spark, sf_dir):
    """Support recomputed by direct existence check per user; ordered
    asymmetry present (support(a,b) need not equal support(b,a))."""
    import pandas as pd

    from hw_kafka_streams_spark.queries import queries

    rows = {(r.first_type, r.then_type): r for r in
            queries()["q_seq_patterns"](spark, sf_dir).collect()}
    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "ts"]
    )
    n_users = ev.user_id.nunique()
    g = ev.groupby(["user_id", "event_type"]).ts.agg(["min", "max"])
    types = sorted(ev.event_type.unique())
    for a in types:
        for b in types:
            if a == b:
                continue
            n = 0
            for uid in ev.user_id.unique():
                try:
                    if g.loc[(uid, a), "min"] < g.loc[(uid, b), "max"]:
                        n += 1
                except KeyError:
                    pass
            sup = n / n_users
            if sup >= 0.2:
                r = rows[(a, b)]
                assert r.n_supporting == n
                assert abs(r.support - sup) < 1e-9
            else:
                assert (a, b) not in rows
