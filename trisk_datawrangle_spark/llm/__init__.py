from trisk_datawrangle_spark.llm.text import (  # noqa: F401
    fingerprint,
    lang_id,
    normalize_text,
    pii_scrub,
    quality_score,
    token_count,
    tokenize,
)
from trisk_datawrangle_spark.llm.dedup import (  # noqa: F401
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_hashes,
    simhash64,
    simhash_table,
    word_ngrams,
)
from trisk_datawrangle_spark.llm.similarity import (  # noqa: F401
    cosine_similarity,
    cosine_topk,
    lsh_bucket_topk,
)
