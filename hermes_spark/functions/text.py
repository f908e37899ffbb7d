"""Text analysis: tokenization, token counts and document fingerprints.

All functions are pure Column expressions (JVM-side, whole-stage
codegen, no Python); the curation job's quality filter, sequence
packing and the exact-dedup operators (batch and streaming) build on
them.
"""

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokenization of lowercased text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count(col: str | Column = "text") -> Column:
    return F.size(tokens(col)).cast("long")


def distinct_token_count(col: str | Column = "text") -> Column:
    return F.size(F.array_distinct(tokens(col))).cast("long")


def normalized_fingerprint(col: str | Column = "text") -> Column:
    """Document fingerprint: sha256 of whitespace-collapsed lowercase
    text — the exact-dedup key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "), 256)
