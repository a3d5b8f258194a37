"""Golden end-to-end test of the reference pipeline semantics.

Fixtures and expected output are the reference's own self-seeded run
(KafkaStreamApp.java:200-247; README.md:49-55; logs/application.log:
118-123). Subtleties asserted (SURVEY.md §2.1 a-c):
  a) blocked key is receiver:sender — login2:login4 blocks
     login4→login2, NOT login4→login1, so login4's message survives;
  b) censorship is case-insensitive and literal; mask preserves length
     (Политика → ********);
  c) Cyrillic 1С ≠ Latin 1C.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from hw_kafka_streams_spark.operators.censor import censor_column, filter_pipeline


def _fixtures(spark):
    messages = spark.createDataFrame(
        [
            ("login4", "Java", "login1"),
            ("login2", "Spring", "login1"),
            ("login3", "1С", "login1"),  # Cyrillic С
            ("login5", "Политика React", "login1"),
        ],
        "sender string, text string, receiver string",
    )
    blocked = spark.createDataFrame(
        [("login1:login2", "blocked"), ("login1:login3", "blocked"), ("login2:login4", "blocked")],
        "key string, value string",
    )
    words = spark.createDataFrame(
        [("Политика", "ban"), ("1C", "ban"), ("Алкоголь", "ban")],  # Latin C
        "word string, value string",
    )
    return messages, blocked, words


def test_golden_pipeline(spark):
    messages, blocked, words = _fixtures(spark)
    out = filter_pipeline(messages, blocked, words)
    rows = {(r.sender, r.text, r.receiver) for r in out.collect()}
    assert rows == {
        ("login4", "Java", "login1"),
        ("login5", "******** React", "login1"),
    }


def test_censor_case_insensitive_unicode(spark):
    df = spark.createDataFrame(
        [("политика и ПОЛИТИКА",), ("Alcohol Алкоголь алкоголь",), (None,)],
        "text string",
    )
    out = df.select(censor_column("text", ["Политика", "Алкоголь"]).alias("text"))
    got = [r.text for r in out.collect()]
    assert got[0] == "******** и ********"
    assert got[1] == "Alcohol ******** ********"
    assert got[2] is None


def test_censor_literal_not_regex(spark):
    # A word containing regex metacharacters must match literally.
    df = spark.createDataFrame([("price is $9.99 yes a.b",)], "text string")
    out = df.select(censor_column("text", ["$9.99", "a.b"]).alias("text"))
    assert out.collect()[0].text == "price is ***** yes ***"
    # 'a.b' must NOT match 'axb'
    df2 = spark.createDataFrame([("axb",)], "text string")
    assert df2.select(censor_column("text", ["a.b"]).alias("t")).collect()[0].t == "axb"


def test_censor_overlapping_words_fold_order(spark):
    """``censor_column`` folds one word at a time in list order, so an
    earlier word's mask hides a later word it overlaps: ``"bc"`` masks
    first, and ``"ab"`` no longer occurs."""
    df = spark.createDataFrame([("abc",)], "text string")
    assert df.select(censor_column("text", ["bc", "ab"]).alias("t")).first().t == "a**"


def test_guarded_passes_match_jvm_fold(spark):
    """The guarded passes against one plain ``regexp_replace`` per word,
    both on the JVM: first characters whose case folding is irregular
    (``İ ı ſ K ß``), class metacharacters (``- ] ^ \\ & [``) and an
    emoji, in lower, Title and UPPER text."""
    words = ["İx", "ıy", "ſa", "\u212ab", "ßc", "-d", "]e", "^f", "\\g", "&h", "[i", "\U0001F600j", "ab", "SS", "ẞz"]
    texts = [
        f"q {t} {t}{t}"
        for w in words
        for t in (w, w.lower(), w.title(), w.upper())
    ] + ["İX IY ſA KB ẞC ßC ssc SSC \u212aB kb"]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    fold = F.col("text")
    for w in words:
        fold = F.regexp_replace(fold, "(?iu)" + re.escape(w), "*" * len(w))
    got = dict(df.select("i", censor_column("text", words)).collect())
    want = dict(df.select("i", fold).collect())
    assert got == want


def _fold(text, words):
    """The reference censor in Python: one case-insensitive literal
    ``re.sub`` per word, in list order."""
    for w in words:
        if w:
            text = re.sub(re.escape(w), "*" * len(w), text, flags=re.IGNORECASE)
    return text


# shared syllables so words overlap and contain each other; Title and
# UPPER variants so matching must fold case, Cyrillic included
_SYLLABLES = ["a", "aa", "ab", "ba", "ли", "по", "ил", "$9", "."]
_piece = st.sampled_from(_SYLLABLES).flatmap(
    lambda s: st.sampled_from([s, s.title(), s.upper()])
)
_word = st.lists(_piece, min_size=1, max_size=3).map("".join)
_text = st.lists(st.one_of(_piece, st.just(" ")), max_size=12).map("".join)


@settings(max_examples=25, deadline=None)
@given(words=st.lists(_word, min_size=1, max_size=8), texts=st.lists(_text, max_size=6))
@example(words=["aa"], texts=["aaa", "aaaa", "AaA"])
@example(words=["$9.99", "a.b"], texts=["price is $9.99 yes a.b", "axb"])
@example(words=["x", "*y", "y"], texts=["xy", "x*y", "*yy"])
@example(words=["", "ab", "ba"], texts=["aba", "bab", ""])
def test_censor_column_matches_fold(spark, words, texts):
    """The scheduled passes give the word-by-word fold's output on the
    JVM; null text stays null."""
    rows = list(enumerate(texts + [None]))
    df = spark.createDataFrame(rows, "i int, text string")
    got = dict(df.select("i", censor_column("text", words).alias("t")).collect())
    assert got == {i: None if t is None else _fold(t, words) for i, t in rows}


def test_block_is_anti_join_plan(spark):
    """Blocking is a filter on the collected keys: no join and no
    exchange of any kind, broadcast included."""
    messages, blocked, words = _fixtures(spark)
    out = filter_pipeline(messages, blocked, words)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Filter" in plan
    assert "Join" not in plan and "Exchange" not in plan and "Broadcast" not in plan


def _blocking(spark, keys, rows):
    """The (sender, receiver) pairs ``filtered_messages`` keeps."""
    from hw_kafka_streams_spark.operators.censor import filtered_messages

    msgs = spark.createDataFrame(
        [(s, "t", r) for s, r in rows], "sender string, text string, receiver string"
    )
    blocked = spark.createDataFrame([(k, "blocked") for k in keys], "key string, value string")
    out = filtered_messages(msgs, blocked, [])
    return {(r.sender, r.receiver) for r in out.collect()}, out


def _anti_join(rows, keys):
    keys = {k for k in keys if k is not None}
    return {(s, r) for s, r in rows if s is None or r is None or f"{r}:{s}" not in keys}


@pytest.mark.parametrize("n_keys", [0, 5, 50])
def test_blocking_matches_anti_join(spark, n_keys):
    """Quotes, backslashes, colons, newlines and Cyrillic in keys; null
    senders and receivers kept; a null key blocks nothing; 5 keys plan
    as ``In``, 50 as ``InSet``."""
    odd = ["o'k", "back\\slash", "a:b", "new\nline", "логин", "q\\'", "''"]
    users = odd + [f"u{i}" for i in range(60)]
    pairs = [(s, r) for s in users[:12] for r in users[:12]]
    keys = [f"{r}:{s}" for s, r in pairs][: max(n_keys - 1, 0)]
    if n_keys:
        keys.append(None)
    rows = pairs + [(None, "u1"), ("u1", None), (None, None)]
    kept, out = _blocking(spark, keys, rows)
    assert kept == _anti_join(rows, keys)
    assert len(kept) == len(rows) - max(n_keys - 1, 0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    if n_keys == 5:
        assert " IN (" in plan
    if n_keys == 50:
        assert "INSET" in plan


def test_empty_word_list(spark):
    messages, blocked, _ = _fixtures(spark)
    empty = spark.createDataFrame([], "word string, value string")
    out = filter_pipeline(messages, blocked, empty)
    assert out.count() == 2  # blocking still applies, no censorship


def test_non_ban_words_ignored(spark):
    messages, blocked, _ = _fixtures(spark)
    words = spark.createDataFrame(
        [("Java", "allow"), ("Политика", "ban")], "word string, value string"
    )
    out = filter_pipeline(messages, blocked, words)
    rows = {(r.sender, r.text) for r in out.collect()}
    assert rows == {("login4", "Java"), ("login5", "******** React")}


def test_app_main_golden(spark, capsys):
    """The runnable entry reproduces the reference's golden run."""
    from hw_kafka_streams_spark.__main__ import main

    assert main([]) == 0
    out = capsys.readouterr().out
    assert "golden check: PASS" in out and "******** React" in out
