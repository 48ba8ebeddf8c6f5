from graphdbetl_spark.operators.dedup import (
    dedup_merge_first_wins,
    dedup_exact_text,
    dedup_keep_list,
    minhash_near_duplicates_md5,
    simhash_fingerprints_md5,
    ngram_jaccard_pairs,
)
from graphdbetl_spark.operators.joins import asof_join, topk_per_group
from graphdbetl_spark.operators.similarity import (
    cosine_topk_bruteforce,
    ivf_cosine_topk_md5,
    lsh_cosine_topk_md5,
)
from graphdbetl_spark.operators.skew import salted_count_sum, replicated_skew_join

__all__ = [
    "dedup_merge_first_wins",
    "dedup_exact_text",
    "dedup_keep_list",
    "minhash_near_duplicates_md5",
    "simhash_fingerprints_md5",
    "ngram_jaccard_pairs",
    "asof_join",
    "topk_per_group",
    "cosine_topk_bruteforce",
    "ivf_cosine_topk_md5",
    "lsh_cosine_topk_md5",
    "salted_count_sum",
    "replicated_skew_join",
]
