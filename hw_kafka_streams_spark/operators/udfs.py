"""The engine's Python-UDF surface — the escape hatch, used right.

Rules (SURVEY §2.2 UDF row): built-in column expressions first; when
custom logic is unavoidable it runs as an Arrow-batched pandas UDF
(vectorized, ~10-100× faster than row-at-a-time Python), never in the
hot path of a query a built-in can express.

Two canonical shapes:
- SCALAR pandas UDF: a censor whose regexes are precompiled once per
  executor (closure state), then applied per Arrow batch via pandas
  .str.replace (reference semantics: MessageFilterProcessor.java:31-44;
  the exact, JVM-side censor is operators.censor.censor_column).
- GROUPED_AGG pandas UDF: a custom aggregate (weighted mean) that
  Spark's built-ins don't provide directly; partial aggregation does
  NOT apply to grouped-agg UDFs (full shuffle of group rows), which is
  the documented cost of leaving the built-in agg surface.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def make_censor_udf(words: list[str]):
    """Scalar pandas UDF censoring ``words`` (case-insensitive, literal,
    length-preserving mask) — one compiled regex per word length, built
    once per executor process, applied vectorized per Arrow batch.

    Output matches operators.censor.censor_column (and the reference's
    MessageFilterProcessor) only when no word overlaps another: with
    ``["bc", "ab"]`` on ``"abc"`` the fold gives ``"a**"``, this
    length-grouped alternation ``"**c"``. ``censor_column`` schedules
    its same-length alternations so that they stay exact.
    """
    by_len: dict[int, list[str]] = {}
    for w in words:
        if w:
            by_len.setdefault(len(w), []).append(w)
    # Precompile outside the UDF body: shipped in the closure, compiled
    # once per executor, reused across batches.
    compiled = [
        (re.compile("(?iu)(?:" + "|".join(re.escape(w) for w in ws) + ")"), "*" * length)
        for length, ws in sorted(by_len.items(), reverse=True)
    ]

    @pandas_udf("string")
    def censor(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            for rx, mask in compiled:
                s = s.str.replace(rx, mask, regex=True)
            yield s

    return censor


_weighted_mean_udf = None


def weighted_mean(v, w):  # GROUPED_AGG
    """sum(v*w)/sum(w) with pandas NaN semantics (null rows excluded).

    Built lazily: a module-level ``@pandas_udf`` would be evaluated at
    import time on executors too (UDF closures import this module when
    unpickled), where no SparkSession exists.
    """
    global _weighted_mean_udf
    if _weighted_mean_udf is None:

        @pandas_udf("double")
        def _wm(v: pd.Series, w: pd.Series) -> float:
            m = v.notna() & w.notna()
            den = w[m].sum()
            return float((v[m] * w[m]).sum() / den) if den else float("nan")

        _weighted_mean_udf = _wm
    return _weighted_mean_udf(v, w)


def make_sentence_split_udtf():
    """Python UDTF (Spark 4): one output row per sentence of the input.

    Completes the UDF/UDAF/UDTF surface. UDTFs execute row-at-a-time
    Python — fine for control-plane/table-generating jobs, NOT a hot
    100-TB path (there, `explode(split(...))` expresses the same thing
    JVM-side; see tests for the parity assertion).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence string, n_words int")
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            for raw in re.split(r"(?<=[.!?])\s+", text.strip()):
                s = raw.strip()
                if s:
                    yield s, len(s.split())

    return SentenceSplit


def weighted_mean_builtin(v: Column, w: Column) -> Column:
    """The same aggregate as built-in expressions — partial-agg friendly;
    prefer this in production plans, keep the UDF for parity testing."""
    return F.sum(v * w) / F.sum(w)


def make_nfc_normalizer_udf():
    """Arrow-batched Unicode NFC normalizer.

    Spark has no built-in Unicode normalization, so this is one of the
    few legitimately-Python text ops — vectorized through Arrow, a pure
    per-row map (zero shuffle). NFC is the canonical-composition pass
    every text pipeline runs before hashing/dedup: visually identical
    strings with decomposed combining marks ('e' + U+0301 vs 'é')
    otherwise fingerprint differently and defeat exact dedup. DuckDB's
    ``nfc_normalize`` is the oracle twin (verified equal to
    ``unicodedata.normalize('NFC', ...)``).
    """
    import unicodedata

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return _nfc
