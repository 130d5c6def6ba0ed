"""Scalar/array expression helpers shared by operators and queries."""

from social_warner_spark.functions.vectors import dot, l2_norm, cosine
from social_warner_spark.functions.text import (
    tokens,
    token_count_ws,
    token_count_bpe,
    fingerprint,
)

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "tokens",
    "token_count_ws",
    "token_count_bpe",
    "fingerprint",
]
