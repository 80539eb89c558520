from .aggregates import group_count_zerofill  # noqa: F401
from .asof import asof_join  # noqa: F401
from .dedup import (  # noqa: F401
    embedding_near_dup_pairs,
    exact_dedup,
    fingerprint_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash64,
    simhash_pairs,
)
from .filters import apply_filters, compile_filter  # noqa: F401
from .joins import anti_join, fk_join, null_safe_key_condition, semi_join  # noqa: F401
from .merge import merge_upsert  # noqa: F401
from .pagination import keyset_page  # noqa: F401
from .similarity import brute_force_topk, ivf_topk, lsh_topk  # noqa: F401
from .skew import salted_join  # noqa: F401
from .windows import latest_per_group, top_k_per_group  # noqa: F401
from .clustering import cluster_near_dups, kmeans_lite  # noqa: F401
from .corpus import (  # noqa: F401
    bigram_counts,
    contamination_overlap,
    deterministic_sample,
    redact_pii,
    stratified_sample,
    tfidf_top_terms,
    vocab_top_terms,
)
from .pagination import decode_cursor, encode_cursor, page_cursor  # noqa: F401
