"""Message blocking + censorship — the reference's semantic core.

Reference behavior (svolga/hw-kafka-streams):
- Blocking: a message from ``sender`` to ``receiver`` is dropped when
  the composite key ``"{receiver}:{sender}"`` exists in the
  blocked-users table (KafkaStreamApp.java:157-166 — leftJoin whose
  joiner nulls matches, followed by a null-filter; i.e. an ANTI join
  written procedurally).
- Censorship: every forbidden word with value ``"ban"`` is replaced,
  case-insensitively and as a literal (regex-quoted), by ``"*"`` times
  the word's length (MessageFilterProcessor.java:31-44). The reference
  iterates the whole word store per record — O(records × words).

Spark-first re-expression:
- Blocking → a single ``left_anti`` broadcast join. Catalyst can't see
  through an opaque joiner lambda, but since we author the plan we
  write the anti-join directly; the blocked table is a small dim →
  ``F.broadcast`` keeps the plan shuffle-free at any scale.
- Censorship → a *compile-time* fold of ``regexp_replace`` over the
  collected word list. The word dim is tiny (the reference materializes
  it fully on every node anyway, as a GlobalKTable), so collecting it
  to the driver at plan-build time is the same replication decision —
  but the resulting plan is pure JVM column expressions inside
  whole-stage codegen: O(records) vectorized passes, not a Python UDF.
  For unbounded dictionaries see ``censor_column_many_words`` (combined
  regex in one pass).
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _java_ci_literal(word: str) -> str:
    """Case-insensitive (incl. Unicode), literal-quoted regex for a word.

    Matches the reference's ``"(?i)" + Pattern.quote(word)``
    (MessageFilterProcessor.java:39). Java's (?i) alone is
    ASCII-case-insensitive; (?iu) adds Unicode case folding so Cyrillic
    ``Политика``/``политика`` both match — the golden data relies on
    Unicode-correct folding. ``re.escape`` is a safe literal quoting
    for Java regex too (escapes every non-alphanumeric).
    """
    return "(?iu)" + re.escape(word)


def censor_column(text: Column | str, words: Iterable[str]) -> Column:
    """Censor ``words`` in ``text``: each occurrence → '*' × len(word).

    A fold of JVM-side ``regexp_replace`` calls — one vectorized pass
    per word, whole-stage-codegen friendly, no Python in the hot path.
    Null text passes through untouched (regexp_replace is null-safe),
    matching MessageFilterProcessor.java:33-35.
    """
    col = F.col(text) if isinstance(text, str) else text
    for w in words:
        if not w:
            continue
        col = F.regexp_replace(col, _java_ci_literal(w), "*" * len(w))
    return col


def censor_column_many_words(text: Column | str, words: list[str]) -> Column:
    """Censor with ONE combined alternation regex — for large dictionaries.

    ``(?iu)(w1|w2|...)`` with longest-first ordering, replacement via a
    single pass + a length-preserving mask can't be expressed with a
    constant replacement string (lengths differ), so we mask per-length
    group: one regexp_replace per distinct word length, each with an
    alternation of that length's words. #passes = #distinct lengths,
    typically ≪ #words.

    Output matches ``censor_column`` only when no word overlaps another:
    the fold masks words one at a time in list order, an alternation
    takes the leftmost match, so ``["bc", "ab"]`` on ``"abc"`` gives
    ``"a**"`` there and ``"**c"`` here.
    """
    col = F.col(text) if isinstance(text, str) else text
    by_len: dict[int, list[str]] = {}
    for w in words:
        if w:
            by_len.setdefault(len(w), []).append(w)
    for length, group in sorted(by_len.items(), reverse=True):
        pattern = "(?iu)(?:" + "|".join(re.escape(w) for w in group) + ")"
        col = F.regexp_replace(col, pattern, "*" * length)
    return col


def banned_words(forbidden_words: DataFrame, word_col: str = "key") -> list[str]:
    """The words whose control ``value`` is ``"ban"``
    (MessageFilterProcessor.java:37), collected to the driver — the word
    dim is tiny by construction (GlobalKTable-style full replication)."""
    banned = forbidden_words.filter(F.col("value") == "ban")
    return [r[word_col] for r in banned.collect()]


def filtered_messages(
    messages: DataFrame,
    blocked: DataFrame,
    words: list[str],
) -> DataFrame:
    """The core transformation, source-agnostic (works on batch AND
    streaming DataFrames — the plan is identical).

    ``messages``: (sender, text, receiver); ``blocked``: (key, value)
    with key = "receiver:sender"; ``words``: banned word list.

    Blocking is the reference's O4+O5 (leftJoin-null + filter,
    KafkaStreamApp.java:157-166) fused into one LEFT ANTI
    broadcast-hash join. Note the key order: *receiver first*
    (KafkaStreamApp.java:158) — ``login2:login4`` blocks
    login4→login2, not login4→login1.
    """
    join_key = F.concat(F.col("receiver"), F.lit(":"), F.col("sender"))
    survived = messages.join(
        F.broadcast(blocked.select("key")), join_key == F.col("key"), "left_anti"
    )
    return survived.withColumn("text", censor_column("text", words))


def filter_pipeline(
    messages: DataFrame, blocked: DataFrame, forbidden_words: DataFrame
) -> DataFrame:
    """The full reference topology, batch form: block then censor, with
    the word dim given as a (word, value) table; only words whose value
    is ``"ban"`` take effect."""
    return filtered_messages(messages, blocked, banned_words(forbidden_words, "word"))
