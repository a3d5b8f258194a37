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

from hw_kafka_streams_spark.operators.censor import (
    censor_column,
    censor_column_many_words,
    filter_pipeline,
)

from pyspark.sql import functions as F


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


def test_censor_many_words_variant(spark):
    df = spark.createDataFrame([("Политика spring SPRING ok",)], "text string")
    out = df.select(
        censor_column_many_words("text", ["Политика", "spring", "ok"]).alias("text")
    )
    assert out.collect()[0].text == "******** ****** ****** **"


def test_censor_overlapping_words_fold_order(spark):
    """``censor_column`` folds one word at a time in list order, so an
    earlier word's mask hides a later word it overlaps. The grouped
    alternation takes the leftmost match instead: the two agree only
    when no word overlaps another."""
    df = spark.createDataFrame([("abc",)], "text string")
    row = df.select(
        censor_column("text", ["bc", "ab"]).alias("fold"),
        censor_column_many_words("text", ["bc", "ab"]).alias("grouped"),
    ).collect()[0]
    assert row.fold == "a**"
    assert row.grouped == "**c"


def test_block_is_anti_join_plan(spark):
    """The physical plan must be a broadcast anti-join (no shuffle)."""
    messages, blocked, words = _fixtures(spark)
    out = filter_pipeline(messages, blocked, words)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


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
