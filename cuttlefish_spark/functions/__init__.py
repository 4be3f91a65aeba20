from cuttlefish_spark.functions.columns import (
    cosine_sim,
    dec_sum,
    dot,
    get_in,
    hash60,
    tokens,
    word_shingles,
)

__all__ = [
    "cosine_sim",
    "dec_sum",
    "dot",
    "get_in",
    "hash60",
    "tokens",
    "word_shingles",
]
