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
- Blocking → a filter against a collected key set. The reference holds
  the whole blocked table in memory on every instance (a GlobalKTable),
  so the keys are collected to the driver when the plan is built, as
  the words are, and inlined as one ``IN`` list (``InSet`` past 10
  keys): ``concat(receiver, ':', sender) IN (...)``. The plan is one
  codegen stage with no join, no exchange and no broadcast; a
  per-batch broadcast anti-join paid a shuffle-map job, a broadcast job
  and an adaptive re-plan every micro-batch. The limit is the driver
  and the plan: building the filter (collect + parse) took 0.17 s at
  250 keys, 0.50 s at 10k and 3.2 s at 100k, and planning 0.01, 0.05
  and 0.81 s (4 cores).
- Censorship → a *compile-time* schedule of ``regexp_replace`` passes
  over the collected word list. The word dim is tiny (the reference
  materializes it fully on every node anyway, as a GlobalKTable), so
  collecting it to the driver at plan-build time is the same
  replication decision — but the resulting plan is pure JVM column
  expressions inside whole-stage codegen: O(records) vectorized
  passes, not a Python UDF.

The censor schedule
-------------------
The reference's output is a *fold*: the words are applied one at a
time in list order, each occurrence (leftmost, non-overlapping) of a
word becomes ``*`` × ``len(word)``, and the next word sees the masked
text. One ``regexp_replace`` per word computes that, at one pass over
every row per word. ``censor_passes`` groups the words into fewer
passes with the same output. A pass is one ``regexp_replace`` whose
pattern is an alternation of words of ONE length, in fold order, with
the constant mask ``*`` × that length: the scan only asks whether some
word of the pass starts at a position, so which alternative matched
does not matter. (Mixing lengths needs the mask to depend on the
match; a lookahead that carries the stars along is exact but scans to
the end of the text on every match — minutes instead of 0.17 s on 64
documents of ~60 KB.)

Characters are compared with an over-approximation of Java's
``(?iu)`` equality: two characters are equal when their closures under
``str.lower/upper/casefold/title/swapcase`` meet (``İ``, ``ı``, ``i``
and ``I`` are one class). Words are compared per character — never
``str.lower()`` on a whole word, which makes ``İ`` two characters long.
Over-approximating only finds more conflicts, which only adds passes.

An earlier word ``a`` and a later word ``b`` *touch* when an occurrence
of one can overlap an occurrence of the other: one contains the other,
or a proper suffix of one equals a proper prefix of the other.

1. Words that do not touch may go in any passes.
2. Touching words share a pass only when they have the same length and
   no proper suffix of ``b`` equals a proper prefix of ``a`` (``b``
   cannot start before an overlapping ``a``). Otherwise ``b``'s pass
   comes strictly after ``a``'s.
3. A word containing ``*`` gets a pass of its own, after every earlier
   word and before every later one: it can match masks, so masking a
   later word first changes its matches (``["*y", "x"]`` on ``"xy"``
   folds to ``"*y"``; masking ``x`` first gives ``"**"``).

The passes are built greedily: at each step, emit the length whose
ready set is largest, where a word is ready when each of its
predecessors is emitted or ready in the same pass. The earliest
unemitted word is always ready, so the build terminates.

Proof sketch (for words without ``*``; rule 3 cuts the list into
segments that are scheduled independently).

(i) Adjacent non-touching words commute. In any text no occurrence of
``a`` overlaps one of ``b``. Masking ``b`` writes ``*`` over ``b``'s
occurrences only, and an occurrence of ``a`` holds no ``*``, so ``a``
has the same occurrences, and the same leftmost matches, before and
after; and symmetrically. The schedule's order (pass by pass, fold
order inside a pass) reaches the fold order by swapping adjacent pairs
that are out of order, and rules 1-2 allow only non-touching pairs to
be out of order.

(ii) One pass equals the fold of its words. Let the pass hold
``w_1..w_k`` of length ``L`` and mask, on input ``X``, the positions
``p_1 < p_2 < ...``. The *owner* of ``p_s`` is the first ``w_i`` that
occurs at ``p_s`` in ``X``. Claim: the fold step of ``w_i`` masks
exactly the positions ``w_i`` owns. Assume it for ``w_1..w_{i-1}`` and
for the first ``u`` matches of ``w_i``'s scan, and let ``r`` be its next
match (at or after the scan cursor, past the ``u``-th owned position).
``r`` is unmasked, so if it is a pass position its owner is not an
earlier word, and not a later word (``w_i`` occurs there), so it is
``w_i``. If it is not, the pass skipped it inside some
``p_s < r < p_s + L``; the owner of ``p_s`` is not earlier (``r`` would
be masked), not later (a later word would start before an overlapping
earlier one, which rule 2 forbids inside a pass), and not ``w_i``
(``w_i``'s scan matched ``p_s`` and resumed past ``r``). So ``r`` is owned
by ``w_i``; and the next owned position is unmasked, so ``r`` is not
after it. Both sides mask the same intervals, hence the same text.

Each pass leads with a zero-width guard of its words' first
characters, ``(?iu)(?=[<first chars>])(?:w1|w2|…)``, so Java rejects
most start positions with one class test instead of trying every
alternative. It is exact: every match of a pass starts with a
character that the first character of one of its words matches, and
the guard admits every such character (``_first_char_guard``), so it
adds no match and removes none.

On the ``censor-drain`` dictionary the schedule is 26 passes for 100
words and 52 for 200 (built in 2 and 6 ms). Censoring one cached batch
of 8000 of its messages on 4 cores took 0.93 → 0.45 s at 100 words and
2.73 → 0.97 s at 200 (median of 5). The 200-word fold is the "JIT
cliff" the benchmark notes record: each run of its plan logs ``Code
grows beyond 64 KB`` and whole-stage codegen falls back to the
interpreted plan; no scheduled plan does.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_CASE_MAPS = (str.lower, str.upper, str.casefold, str.title, str.swapcase)


def _case_closure(c: str) -> set[str]:
    """``c`` and every character reachable from it by ``_CASE_MAPS``."""
    closure, todo = {c}, [c]
    while todo:
        x = todo.pop()
        for f in _CASE_MAPS:
            for d in f(x):
                if d not in closure:
                    closure.add(d)
                    todo.append(d)
    return closure


def _case_classes(chars: Iterable[str]) -> dict[str, str]:
    """Each character → one representative of its case class (the
    transitive closure of "the two characters' case closures meet")."""
    parent: dict[str, str] = {}

    def find(c: str) -> str:
        while parent.setdefault(c, c) != c:
            parent[c] = c = parent[parent[c]]
        return c

    for c in set(chars):
        for d in _case_closure(c):
            parent[find(d)] = find(c)
    return {c: find(c) for c in parent}


def _first_char_guard(group: list[str]) -> str:
    """A zero-width lookahead that admits every position where a word of
    ``group`` can match under ``(?iu)``.

    It lists the case closure of each first character. An ASCII member
    is a plain class member: Java keeps its case pair in the class bit
    set, or tests it like a literal when another character folds to it
    (``i``, ``s``, ``k``). A non-ASCII member is a one-character range:
    Java tests a range under ``(?iu)`` against the character, its upper
    case and the lower case of that, which covers every character a
    literal's ``lower(upper(·))`` compare matches (``ẞ`` for ``ß``), where
    a plain member would test ``ß`` exactly.
    """
    members = sorted({d for w in group for d in _case_closure(w[0])})
    body = "".join(
        re.escape(d) if d.isascii() else f"{re.escape(d)}-{re.escape(d)}" for d in members
    )
    return f"(?=[{body}])"


def _schedule(words: list[str]) -> list[list[str]]:
    """Rules 1-2 and the greedy build (module docstring) for star-free
    ``words`` in fold order: the passes, each a list of same-length
    words in fold order."""
    rep = _case_classes(c for w in words for c in w)
    canon = ["".join(rep[c] for c in w) for w in words]
    by_word: dict[str, list[int]] = {}
    by_prefix: dict[str, list[int]] = {}  # proper prefixes only
    for i, w in enumerate(canon):
        by_word.setdefault(w, []).append(i)
        for k in range(1, len(w)):
            by_prefix.setdefault(w[:k], []).append(i)
    # (x, y): a proper suffix of x equals a proper prefix of y, i.e. x
    # can start before an overlapping y
    starts_before = {
        (x, y)
        for x, w in enumerate(canon)
        for k in range(1, len(w))
        for y in by_prefix.get(w[k:], ())
    }
    touch = {(min(x, y), max(x, y)) for x, y in starts_before}
    for x, w in enumerate(canon):  # containment, equal words included
        for i in range(len(w)):
            for j in range(i + 1, len(w) + 1):
                for y in by_word.get(w[i:j], ()):
                    touch.add((min(x, y), max(x, y)))
    strict: list[list[int]] = [[] for _ in words]  # earlier pass required
    soft: list[list[int]] = [[] for _ in words]  # same or earlier pass
    for a, b in touch:
        if a == b:
            continue
        if len(words[a]) == len(words[b]) and (b, a) not in starts_before:
            soft[b].append(a)
        else:
            strict[b].append(a)

    by_len: dict[int, list[int]] = {}
    for i, w in enumerate(words):
        by_len.setdefault(len(w), []).append(i)
    emitted = [False] * len(words)
    passes: list[list[str]] = []
    while not all(emitted):
        best: list[int] = []
        for group in by_len.values():
            ready: list[int] = []
            in_pass: set[int] = set()
            for b in group:
                if (
                    not emitted[b]
                    and all(emitted[a] for a in strict[b])
                    and all(emitted[a] or a in in_pass for a in soft[b])
                ):
                    ready.append(b)
                    in_pass.add(b)
            if len(ready) > len(best):
                best = ready
        for b in best:
            emitted[b] = True
        passes.append([words[b] for b in best])
    return passes


def censor_passes(words: Iterable[str]) -> list[tuple[str, str]]:
    """The ``(pattern, mask)`` of each ``regexp_replace`` pass that
    censors ``words`` exactly as their fold does (module docstring).

    A pattern is ``(?iu)``, a first-character guard
    (:func:`_first_char_guard`) and the pass's words, ``re.escape``-quoted
    and joined by ``|``: the reference's ``"(?i)" + Pattern.quote(word)``
    (MessageFilterProcessor.java:39) with Unicode case folding added, so
    Cyrillic ``Политика``/``политика`` match — the golden data relies on
    it. ``re.escape`` is a safe literal quoting for Java regex too (it
    escapes every character special to either engine). Empty words are skipped. Spark-free:
    Python's ``re.sub`` runs the same passes.
    """
    passes: list[list[str]] = []
    run: list[str] = []
    for w in words:
        if "*" in w:  # rule 3
            passes += _schedule(run) + [[w]]
            run = []
        elif w:
            run.append(w)
    passes += _schedule(run)
    return [
        (
            "(?iu)" + _first_char_guard(group) + "(?:" + "|".join(re.escape(w) for w in group) + ")",
            "*" * len(group[0]),
        )
        for group in passes
    ]


def censor_column(text: Column | str, words: Iterable[str]) -> Column:
    """Censor ``words`` in ``text``: each occurrence → '*' × len(word),
    the words folded in list order.

    One JVM-side ``regexp_replace`` per pass of ``censor_passes`` —
    whole-stage-codegen friendly, no Python in the hot path. Null text
    passes through untouched (regexp_replace is null-safe), matching
    MessageFilterProcessor.java:33-35.
    """
    col = F.col(text) if isinstance(text, str) else text
    for pattern, mask in censor_passes(words):
        col = F.regexp_replace(col, pattern, mask)
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
    KafkaStreamApp.java:157-166) as a filter against the blocked keys,
    collected to the driver here, once, when the plan is built: a row
    is dropped when ``receiver:sender`` is one of them. A row with a
    null sender or receiver has a null key and is kept, as the
    anti-join keeps it; null keys in ``blocked`` block nothing. Note
    the key order: *receiver first* (KafkaStreamApp.java:158) —
    ``login2:login4`` blocks login4→login2, not login4→login1.

    The keys go into the plan as literals, so ``blocked`` must fit the
    driver and the plan: ~0.1 s to build at 10k keys (module
    docstring). A live dim is refreshed by calling this again per
    batch (``pipeline.process_batch_with_refresh``).
    """
    survived = messages.filter(~F.coalesce(_blocked_key_in(blocked), F.lit(False)))
    return survived.withColumn("text", censor_column("text", words))


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _blocked_key_in(blocked: DataFrame) -> Column:
    """``concat(receiver, ':', sender) IN (<blocked keys>)``, built as
    one ``F.expr``: ``Column.isin`` costs one Py4J call per key."""
    keys = sorted({r.key for r in blocked.select("key").where(F.col("key").isNotNull()).collect()})
    if not keys:
        return F.lit(False)
    return F.expr(
        "concat(receiver, ':', sender) IN (" + ", ".join(map(_sql_string, keys)) + ")"
    )


def filter_pipeline(
    messages: DataFrame, blocked: DataFrame, forbidden_words: DataFrame
) -> DataFrame:
    """The full reference topology, batch form: block then censor, with
    the word dim given as a (word, value) table; only words whose value
    is ``"ban"`` take effect."""
    return filtered_messages(messages, blocked, banned_words(forbidden_words, "word"))
