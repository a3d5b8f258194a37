"""Column-function façade — the engine's ``pyspark.sql.functions``-style
namespace.

Everything here is a pure Column expression builder (JVM-side, codegen-
friendly; no Python UDFs): text analysis, censorship, shingling, and
vector math. Operators (DataFrame → DataFrame pipelines) live in
``hw_kafka_streams_spark.operators``; this module is the single import
point for composing the engine's scalar surface into your own queries::

    from hw_kafka_streams_spark import functions as EF
    df.select(EF.quality_score("text"), EF.cosine(a, b))
"""

from __future__ import annotations

from hw_kafka_streams_spark.operators.censor import censor_column
from hw_kafka_streams_spark.operators.dedup import md5h, word_shingles
from hw_kafka_streams_spark.operators.sampling import hash_bucket
from hw_kafka_streams_spark.operators.similarity import (
    cosine,
    cosine_arrow,
    dot,
    int_dot_arrow,
    l2_norm,
    quantize_vec_arrow,
)
from hw_kafka_streams_spark.operators.text import (
    bpe_ish_token_count,
    fingerprint,
    lang_id_charset,
    mean_word_length,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    word_tokens,
)

__all__ = [
    "bpe_ish_token_count",
    "censor_column",
    "cosine",
    "cosine_arrow",
    "dot",
    "int_dot_arrow",
    "fingerprint",
    "hash_bucket",
    "l2_norm",
    "lang_id_charset",
    "md5h",
    "mean_word_length",
    "punct_ratio",
    "quality_score",
    "quantize_vec_arrow",
    "stopword_ratio",
    "token_count",
    "word_shingles",
    "word_tokens",
]
