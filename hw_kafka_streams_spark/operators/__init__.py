"""Engine operators: the reference's pipeline ops plus scale extensions.

Submodules: censor (block+censor core), dedup (exact/Jaccard/MinHash/
SimHash + clusters), similarity (brute-force/LSH/IVF ANN), text
(tokens/quality/lang-ID/fingerprint/boilerplate/LM-score/drift),
multimodal (binary payloads + decode stages), sampling (splits), skew
(salted joins), stats (rank statistics), chunking (windows/packing/
decontamination), udfs (the pandas-UDF/UDTF surface).
"""

from hw_kafka_streams_spark.operators.censor import (
    censor_column,
    filter_pipeline,
    filtered_messages,
)
from hw_kafka_streams_spark.operators.chunking import sequence_pack_stats
from hw_kafka_streams_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    jaccard_candidate_pairs,
    keep_cluster_representatives,
    minhash_band_buckets,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_candidate_pairs,
)
from hw_kafka_streams_spark.operators.sampling import (
    hash_split,
    reservoir_per_key,
)
from hw_kafka_streams_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_topk,
)
from hw_kafka_streams_spark.operators.skew import salted_join
from hw_kafka_streams_spark.operators.stats import rank_auc
from hw_kafka_streams_spark.operators.text import (
    boilerplate_prune,
    token_distribution_drift,
    unigram_logprob_scores,
)

__all__ = [
    "boilerplate_prune",
    "brute_force_topk",
    "censor_column",
    "connected_components",
    "embedding_near_dup_pairs",
    "exact_dedup",
    "filter_pipeline",
    "filtered_messages",
    "hash_split",
    "ivf_topk",
    "jaccard_candidate_pairs",
    "keep_cluster_representatives",
    "lsh_topk",
    "minhash_band_buckets",
    "minhash_lsh_pairs",
    "minhash_signatures",
    "rank_auc",
    "reservoir_per_key",
    "salted_join",
    "sequence_pack_stats",
    "simhash_candidate_pairs",
    "token_distribution_drift",
    "unigram_logprob_scores",
]
