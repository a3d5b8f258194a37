"""Seeded inputs for the two censor workloads, and the pure-Python
reference they are checked against.

Inputs follow the reference topology's wire shapes: a message frame is
``key = sender`` and ``value = {"text": ..., "receiver": ...}`` JSON;
the control topics are changelogs of ``(key, value, offset)`` where a
blocked pair is keyed ``"receiver:sender"`` and a banned word is keyed
by the word with value ``"ban"``.

The reference recomputation is independent of the engine: compaction
is a dict walk in offset order, blocking a set lookup, and censoring a
fold of ``re.sub`` per banned word, applied token by token. Banned
words never contain a space and texts are tokens joined by single
spaces, so no match can cross a token boundary and the per-token fold
equals the fold over the whole text.
"""

from __future__ import annotations

import json
import re
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FRAME_SCHEMA = pa.schema([("key", pa.binary()), ("value", pa.binary())])
CONTROL_SCHEMA = pa.schema(
    [("key", pa.string()), ("value", pa.string()), ("offset", pa.int64())]
)

_LATIN = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da", "fu", "go", "pa", "xe"]
_CYRILLIC = ["ли", "по", "ка", "ти", "ал", "ко", "го", "ль", "ра", "ме"]


#: The vocabulary and the order banned words are drawn in are the same
#: for every seed, so a seed changes which messages are sent but not
#: which words the censor has to fold (a regex pass costs more or less
#: by the word).
DICTIONARY_SEED = 20240101


class MessageGen:
    """Messages, senders, receivers and blocked pairs come from ``seed``;
    the vocabulary and the banned-word order from ``DICTIONARY_SEED``."""

    def __init__(self, seed: int, n_users: int = 300, n_vocab: int = 800):
        self.rng = np.random.default_rng(seed)
        self.dict_rng = np.random.default_rng(DICTIONARY_SEED)
        self.users = [f"login{i}" for i in range(n_users)]
        vocab: set[str] = set()
        while len(vocab) < n_vocab:
            sylls = _CYRILLIC if self.dict_rng.random() < 0.2 else _LATIN
            k = int(self.dict_rng.integers(2, 5))
            vocab.add("".join(sylls[i] for i in self.dict_rng.integers(0, len(sylls), k)))
        self.vocab = sorted(vocab)
        # each token appears in lower, Title and UPPER case, so censoring
        # has to be case-insensitive (including Cyrillic) to pass the check
        self.variants = [v for t in self.vocab for v in (t, t.title(), t.upper())]
        self._offset = 0

    # ------------------------------------------------------------ messages

    def messages(self, n: int) -> list[tuple[str, str, str]]:
        """``n`` messages as (sender, text, receiver)."""
        rng = self.rng
        senders = rng.integers(0, len(self.users), n)
        receivers = rng.integers(0, len(self.users), n)
        lens = rng.integers(3, 11, n)
        toks = rng.integers(0, len(self.variants), int(lens.sum()))
        out = []
        pos = 0
        users, variants = self.users, self.variants
        for i in range(n):
            k = int(lens[i])
            text = " ".join(variants[j] for j in toks[pos : pos + k])
            pos += k
            out.append((users[senders[i]], text, users[receivers[i]]))
        return out

    @staticmethod
    def frames(msgs: list[tuple[str, str, str]]) -> pa.Table:
        keys = [s.encode() for s, _, _ in msgs]
        # texts and logins are letters, digits and spaces, so this is the
        # JSON that json.dumps(..., ensure_ascii=False) writes, built faster
        values = [f'{{"text": "{t}", "receiver": "{r}"}}'.encode() for _, t, r in msgs]
        return pa.table([keys, values], schema=FRAME_SCHEMA)

    # ------------------------------------------------------------ controls

    def control_rows(self, entries: list[tuple[str, str | None]]) -> list[tuple]:
        rows = []
        for key, value in entries:
            rows.append((key, value, self._offset))
            self._offset += 1
        return rows

    def pick_pairs(self, n: int, taken: set[str]) -> list[str]:
        out = []
        while len(out) < n:
            s, r = self.rng.integers(0, len(self.users), 2)
            key = f"{self.users[r]}:{self.users[s]}"
            if key not in taken:
                taken.add(key)
                out.append(key)
        return out

    def pick_words(self, n: int, taken: set[str]) -> list[str]:
        """Banned words in the case the dictionary stores them; the
        texts carry every case variant."""
        free = [t for t in self.vocab if t not in taken]
        idx = self.dict_rng.choice(len(free), size=n, replace=False)
        out = []
        for i in idx:
            w = free[int(i)]
            taken.add(w)
            out.append(w.title() if self.dict_rng.random() < 0.3 else w)
        return out

    def initial_blocked(self, n: int, taken: set[str]) -> list[tuple]:
        """``n`` blocked pairs, then re-blocks of five of them and
        tombstones for five others, so the snapshot needs compaction."""
        keys = self.pick_pairs(n, taken)
        entries = [(k, "blocked") for k in keys]
        entries += [(k, "blocked") for k in keys[:5]]
        entries += [(k, None) for k in keys[5:10]]
        return self.control_rows(entries)

    def initial_words(self, n: int, taken: set[str]) -> list[tuple]:
        """``n`` banned words plus three whose value is not ``ban``."""
        words = self.pick_words(n + 3, taken)
        entries = [(w, "ban") for w in words[:n]] + [(w, "allow") for w in words[n:]]
        return self.control_rows(entries)


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def control_table(rows: list[tuple]) -> pa.Table:
    keys, values, offsets = zip(*rows) if rows else ((), (), ())
    return pa.table([list(keys), list(values), list(offsets)], schema=CONTROL_SCHEMA)


# ------------------------------------------------------------- reference


def compact(rows) -> dict[str, str]:
    """Latest value per key in offset order; a null latest value deletes."""
    latest: dict[str, tuple[int, str | None]] = {}
    for key, value, offset in rows:
        if key not in latest or offset > latest[key][0]:
            latest[key] = (offset, value)
    return {k: v for k, (_, v) in latest.items() if v is not None}


class Censor:
    """Masks each case-insensitive literal occurrence of each word with
    ``*`` times the word's length, folding the words in the given order."""

    def __init__(self, words: list[str]):
        self.patterns = [
            (re.compile(re.escape(w), re.IGNORECASE), "*" * len(w)) for w in words if w
        ]
        self._memo: dict[str, str] = {}

    def token(self, tok: str) -> str:
        out = self._memo.get(tok)
        if out is None:
            out = tok
            for pat, mask in self.patterns:
                out = pat.sub(mask, out)
            self._memo[tok] = out
        return out

    def text(self, text: str) -> str:
        return " ".join(self.token(t) for t in text.split(" "))


def expected_output(msgs, blocked: set[str], censor: Censor) -> Counter:
    """Multiset of (sender, text, receiver) the topology must emit."""
    return Counter(
        (s, censor.text(t), r) for s, t, r in msgs if f"{r}:{s}" not in blocked
    )


def read_sink(path: str) -> Counter:
    """Multiset of (sender, text, receiver) written by the sink at ``path``."""
    table = pq.read_table(path, columns=["key", "value"])
    out: Counter = Counter()
    for key, value in zip(table.column("key").to_pylist(), table.column("value").to_pylist()):
        m = json.loads(value)
        out[(key, m.get("text"), m.get("receiver"))] += 1
    return out


def mismatches(expected: Counter, actual: Counter) -> int:
    """Rows missing or extra, whichever is larger."""
    return max(sum((expected - actual).values()), sum((actual - expected).values()))
