"""Semantics tests for the dedup operators on constructed fixtures —
this is what pins MinHash/SimHash behavior since they have no DuckDB
oracle (xxhash64 has no DuckDB twin).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hw_kafka_streams_spark.operators.dedup import (
    exact_dedup,
    jaccard_candidate_pairs,
    minhash_lsh_pairs,
    simhash_candidate_pairs,
    word_shingles,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalization(spark):
    df = _docs(
        spark,
        [
            (1, "Hello   World"),
            (2, "hello world"),          # same after normalize
            (3, "  HELLO WORLD  "),      # same after normalize
            (4, "something else"),
        ],
    )
    out = {r.keep_id: r.n_copies for r in exact_dedup(df).collect()}
    assert out == {1: 3, 4: 1}


def test_word_shingles(spark):
    df = _docs(spark, [(1, "a b c d"), (2, "a b"), (3, "x x x x x")])
    out = {
        r.doc_id: sorted(r.sh)
        for r in df.select("doc_id", word_shingles(F.col("text"), 3).alias("sh")).collect()
    }
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == []  # fewer than n tokens
    assert out[3] == ["x x x"]  # distinct


def test_jaccard_identical_docs(spark):
    df = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words entirely here now"),
        ],
    )
    pairs = {(r.id1, r.id2): r.jaccard for r in jaccard_candidate_pairs(df).collect()}
    assert pairs == {(1, 2): 1.0}


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "one two three four five six seven eight nine ten eleven twelve " \
           "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    near = base.replace("twenty", "twentyone")  # 1 token changed
    df = _docs(
        spark,
        [
            (1, base),
            (2, base),          # exact dup
            (3, near),          # near dup
            (4, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
    )
    pairs = {(r.id1, r.id2): r.est_jaccard for r in minhash_lsh_pairs(df).collect()}
    assert pairs.get((1, 2)) == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5
    assert not any(4 in p for p in pairs)


def test_minhash_signature_is_similarity_estimate(spark):
    """Estimated Jaccard from signatures tracks true shingle Jaccard."""
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    b = a.replace("w16", "x16").replace("w15", "x15")
    df = _docs(spark, [(1, a), (2, b)])
    true_j = jaccard_candidate_pairs(df, threshold=0.0).collect()[0].jaccard
    est = minhash_lsh_pairs(df, verify_threshold=None).collect()
    assert est, "near-identical docs must share an LSH band"
    assert abs(est[0].est_jaccard - true_j) < 0.25


def test_simhash_hamming(spark):
    from hw_kafka_streams_spark.operators.dedup import simhash_signatures

    base = " ".join(f"tok{i}" for i in range(200))
    near = base.replace("tok199", "tokX")
    df = _docs(
        spark,
        [(1, base), (2, base), (3, near), (4, "unrelated content words only four")],
    )
    # signature property: near docs are few bits apart, unrelated ~32
    sigs = {r.id: r.sig for r in simhash_signatures(df).collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(sigs[1], sigs[2]) == 0
    assert ham(sigs[1], sigs[3]) < 16 < ham(sigs[1], sigs[4])
    # candidate generation: exact dups always found (hamming 0 ≤ 3);
    # unrelated docs never pair
    pairs = {(r.id1, r.id2): r.hamming for r in simhash_candidate_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0
    assert not any(4 in p for p in pairs)


def test_dedup_plans_have_no_cartesian(spark):
    """The sub-quadratic promise: no cross/nested-loop join in any
    dedup plan — candidates come from equi-joins."""
    df = _docs(spark, [(i, f"word{i} common text here now") for i in range(20)])
    for out in (
        jaccard_candidate_pairs(df),
        minhash_lsh_pairs(df),
        simhash_candidate_pairs(df),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.slowgate
def test_connected_components_chain_and_islands(spark):
    from hw_kafka_streams_spark.operators.dedup import (
        connected_components,
        keep_cluster_representatives,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 3)], "id1 long, id2 long"
    )
    comp = {(r.id, r.comp) for r in connected_components(pairs).collect()}
    assert comp == {(1, 1), (2, 1), (3, 1), (9, 1), (5, 5), (6, 5)}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [1, 2, 3, 5, 6, 7, 9]], "doc_id long, text string"
    )
    kept = {
        r.doc_id
        for r in keep_cluster_representatives(docs, pairs).collect()
    }
    assert kept == {1, 5, 7}  # 7 untouched (no pairs), one rep per cluster


def test_jaccard_max_df_drops_hot_shingles(spark):
    from hw_kafka_streams_spark.operators.dedup import jaccard_candidate_pairs

    # 'the common boilerplate' shingle appears in ALL docs; the unique
    # tails only pair up docs 1 and 2
    docs = spark.createDataFrame(
        [
            (1, "the common boilerplate alpha beta gamma"),
            (2, "the common boilerplate alpha beta gamma"),
            (3, "the common boilerplate zeta eta theta"),
            (4, "the common boilerplate iota kappa lambda"),
        ],
        "doc_id long, text string",
    )
    full = {
        (r.id1, r.id2): r.jaccard
        for r in jaccard_candidate_pairs(docs, threshold=0.01).collect()
    }
    assert (1, 2) in full and len(full) == 6  # all pairs share boilerplate
    capped = {
        (r.id1, r.id2): r.jaccard
        for r in jaccard_candidate_pairs(docs, threshold=0.01, max_df=2).collect()
    }
    # hot shingles dropped from the JOIN only: the true near-dup pair
    # is the sole survivor, and its jaccard is the LOWER BOUND over
    # true (uncut) set sizes — 3 kept shared shingles of 4-shingle
    # sets: 3/(4+4-3) = 0.6 <= the true 1.0 (round-10 contract: sizes
    # are never shrunk by the cut, so the guard can only DROP pairs)
    assert set(capped) == {(1, 2)} and capped[(1, 2)] == 0.6


def test_minhash_arrow_kernel_matches_jvm_md5(spark):
    """The Arrow mapInPandas signature kernel must be bit-identical to the
    JVM md5 expression shape (same tokens, same md5h, same affine minima)
    — it is what the DuckDB oracle reconstructs."""
    from hw_kafka_streams_spark.operators.dedup import minhash_signatures
    from hw_kafka_streams_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    jvm = {r.id: r.sig for r in minhash_signatures(docs, hash_mode="md5", impl="jvm").collect()}
    arw = {r.id: r.sig for r in minhash_signatures(docs, hash_mode="md5").collect()}
    assert set(jvm) == set(arw)
    assert all(jvm[k] == arw[k] for k in jvm)


def test_simhash_arrow_kernel_matches_jvm_md5(spark):
    from hw_kafka_streams_spark.operators.dedup import simhash_signatures
    from hw_kafka_streams_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    jvm = {r.id: r.sig for r in simhash_signatures(docs, hash_mode="md5", impl="jvm").collect()}
    arw = {r.id: r.sig for r in simhash_signatures(docs, hash_mode="md5").collect()}
    assert jvm == arw


def test_source_ngram_overlap_hand_computed(spark):
    """Two sources sharing one 3-gram, a third sharing none."""
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.dedup import source_ngram_overlap

    rows = [
        (1, "the quick brown fox", "A"),
        (2, "a quick brown fox runs", "B"),   # shares 'quick brown fox'
        (3, "zz yy xx ww", "C"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r.s1, r.s2): r for r in source_ngram_overlap(df).collect()}
    # A: {'the quick brown','quick brown fox'}; B: {'a quick brown',
    # 'quick brown fox','brown fox runs'}; C disjoint
    assert set(out) == {("A", "B")}
    r = out[("A", "B")]
    assert r.n_shared == 1
    assert abs(r.jaccard - 1 / 4) < 1e-9  # 1 shared of (2+3-1)
    # md5 mode produces the same matrix (hash-invariance)
    out2 = {(r.s1, r.s2): (r.n_shared, r.jaccard)
            for r in source_ngram_overlap(df, hash_mode="md5").collect()}
    assert out2 == {k: (v.n_shared, v.jaccard) for k, v in out.items()}


def test_dedup_cascade_accounting(spark):
    """Exact copies are caught by stage 1, near-dups (word swap) by
    stage 2, and the counts reconcile."""
    from hw_kafka_streams_spark.queries import REGISTRY, _load_all

    _load_all()
    import tempfile

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the band plays on ") * 3
    rows = [
        (0, base, "en", "s0", len(base)),
        (1, base, "en", "s0", len(base)),            # exact dup of 0
        (2, base.replace("lazy", "sleepy"), "en", "s1", len(base)),  # near dup
        (3, "completely different text about spark shuffles and joins "
            "partitioned aggregation broadcast exchange codegen " * 3,
         "en", "s1", 100),
    ]
    d = tempfile.mkdtemp(prefix="cascade_")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(d + "/documents.parquet")
    r = REGISTRY["q_dedup_cascade"].fn(spark, d).collect()[0]
    assert r.n_docs == 4
    assert r.n_exact_dups == 1        # doc 1
    assert r.n_near_dups == 1         # doc 2 (vs surviving doc 0)
    assert r.n_survivors == 2


def test_lsh_eval_metric_consistency(spark, sf_dir):
    """Hits bound both sets; metrics are the implied ratios; every hit
    is a genuine truth pair (precision accounting is self-consistent)."""
    from hw_kafka_streams_spark.queries import REGISTRY, _load_all

    _load_all()
    r = REGISTRY["q_lsh_eval"].fn(spark, sf_dir).collect()[0]
    assert r.n_hit <= min(r.n_truth, r.n_cand)
    assert abs(r.recall - round(r.n_hit / r.n_truth, 4)) < 1e-9
    assert abs(r.precision - round(r.n_hit / r.n_cand, 4)) < 1e-9
    assert 0 < r.recall <= 1.0 and 0 < r.precision <= 1.0


def test_prefix_filter_matches_inverted_index_and_prunes(spark, sf_dir):
    """Completeness: prefix-filtered output equals the full inverted-
    index join at the same threshold. Efficiency: the prefix candidate
    set is strictly smaller than all-sharing-pairs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.dedup import (
        jaccard_candidate_pairs,
        prefix_filter_jaccard_pairs,
        shingle_postings,
    )
    from hw_kafka_streams_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    full = {
        (r.id1, r.id2, r.jaccard)
        for r in jaccard_candidate_pairs(docs, threshold=0.5).collect()
    }
    pref = {
        (r.id1, r.id2, r.jaccard)
        for r in prefix_filter_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pref == full and full  # identical result set, non-empty

    # candidate-volume reduction: count pairs sharing >=1 prefix
    # shingle vs pairs sharing >=1 shingle at all
    postings = shingle_postings(docs, distinct=True)
    sdf = postings.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    ordered = postings.join(sdf, "shingle")
    w = Window.partitionBy("id").orderBy("sdf", "shingle")
    wc = Window.partitionBy("id")
    pre = (
        ordered.select(
            "id", "shingle",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("sz"),
        )
        .filter(F.col("rn") <= F.col("sz") - F.ceil(F.lit(0.5) * F.col("sz")) + 1)
        .select("id", "shingle")
    )

    def n_pairs(p):
        b = p.select(F.col("id").alias("id2"), "shingle")
        return (
            p.join(b, "shingle").filter(F.col("id") < F.col("id2"))
            .select("id", "id2").distinct().count()
        )

    assert n_pairs(pre) < n_pairs(postings)


def test_prefix_filter_lossless_under_duplicate_doc_ids(spark):
    """ADVICE r8: duplicate doc ids must not inflate the per-doc set
    size (collect_set, not collect_list) — losslessness vs the
    inverted-index path (union-of-shingles semantics per id) must hold
    on a corpus where one id appears on two rows, including the case
    where the dup rows carry DIFFERENT text (set union across rows)."""
    from hw_kafka_streams_spark.operators.dedup import (
        jaccard_candidate_pairs,
        prefix_filter_jaccard_pairs,
    )

    base = " ".join(f"tok{i}" for i in range(30))
    near = " ".join(f"tok{i}" for i in range(28)) + " zz yy"
    other = " ".join(f"alt{i}" for i in range(25))
    df = spark.createDataFrame(
        [
            (1, base),       # id 1, twice with identical text
            (1, base),
            (2, near),       # near-dup of 1
            (3, other),      # id 3, twice with different text: union
            (3, other + " extra0 extra1"),
            (4, other + " extra0 extra1 extra2"),
        ],
        "doc_id long, text string",
    )
    for tau in (0.5, 0.8):
        full = {
            (r.id1, r.id2, r.jaccard)
            for r in jaccard_candidate_pairs(df, threshold=tau).collect()
        }
        pref = {
            (r.id1, r.id2, r.jaccard)
            for r in prefix_filter_jaccard_pairs(df, threshold=tau).collect()
        }
        assert pref == full, f"tau={tau}: {pref ^ full}"
    assert any(p[:2] == (1, 2) for p in pref) or any(
        p[:2] == (3, 4) for p in pref
    )  # the corpus genuinely exercises the dup-id rows


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A short doc fully contained in a long one: containment = 1.0
    while Jaccard is far below any dedup threshold."""
    from hw_kafka_streams_spark.operators.dedup import (
        containment_pairs,
        jaccard_candidate_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(200))
    short_text = " ".join(f"w{i}" for i in range(40, 50))  # a 10-token excerpt
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, "zz yy xx ww vv")],
        "doc_id long, text string",
    )
    cont = {(r.small_id, r.big_id): r.containment
            for r in containment_pairs(df, threshold=0.8).collect()}
    assert cont == {(2, 1): 1.0}  # excerpt contained; never the reverse
    jac = jaccard_candidate_pairs(df, threshold=0.2).collect()
    assert not [r for r in jac if {r.id1, r.id2} == {1, 2}]  # J ≈ 0.04


def test_winnowing_guarantee_shared_run(spark):
    """The winnowing guarantee: any shared run of >= w+k-1 = 6 words
    must share at least one selected fingerprint; fully disjoint texts
    share none; short docs emit nothing."""
    from hw_kafka_streams_spark.operators.dedup import (
        winnow_fingerprints,
        winnowing_candidate_pairs,
    )

    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [
            (1, f"intro words here {shared} tail one"),
            (2, f"other opening {shared} different ending"),
            (3, "completely disjoint vocabulary nothing matches here at all"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    fps = {
        i: set(
            r.fp
            for r in winnow_fingerprints(df.filter(f"doc_id = {i}")).collect()
        )
        for i in (1, 2, 3, 4)
    }
    assert fps[1] & fps[2], "shared 6-word run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert fps[4] == set()
    pairs = winnowing_candidate_pairs(df, min_shared=1).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}
