"""Content checksums and per-conversation merkle rollups.

Reference: the deep content hash over event-visible attributes with
cache + dirty invalidation (/root/reference/lib/datamodel/dataobject.py:
209-247) drives `modified` detection; here the analog is a single
JVM-side sha256 over a canonical encoding of the diff-relevant columns
— computed once per row inside whole-stage codegen, never in Python.

The per-conversation merkle checksum required by the north rule is an
aggregation of sorted ``(turn_idx, sha256(text))`` leaves: any
insert/update/delete of any turn changes the conversation digest, which
is what makes source-vs-target reconciliation a single broadcast-able
join of two tiny digest tables instead of a row-by-row compare at
10^12-turn scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Canonical field separator — ASCII unit separator, cannot appear in the
# hex digests it joins, so the encoding is prefix-free.
_SEP = "\x1f"


def row_cksum(cols: Sequence[str | Column]) -> Column:
    """sha256 over a canonical null-safe encoding of the given columns.

    NULL is encoded as the literal ``\\x00`` sentinel so that
    (NULL, "a") and ("a", NULL) hash differently — the reference treats
    "attribute absent" as a first-class diffable state
    (dataobject.py:145-158, 278).
    """
    parts = [
        F.coalesce(F.col(c).cast("string") if isinstance(c, str) else c.cast("string"), F.lit("\x00"))
        for c in cols
    ]
    return F.sha2(F.concat_ws(_SEP, *parts), 256)


def with_cksum(df: DataFrame, cols: Sequence[str], out: str = "cksum") -> DataFrame:
    return df.withColumn(out, row_cksum(cols))


def turn_leaf(idx_col: str = "turn_idx", text_col: str = "text", width: int = 10) -> Column:
    """Merkle leaf string: zero-padded turn_idx + sha256(text).

    Zero-padding makes lexicographic array_sort equal numeric order, so
    the digest is deterministic under any arrival order.
    """
    return F.concat_ws(
        ":",
        F.format_string(f"%0{width}d", F.col(idx_col)),
        F.sha2(F.coalesce(F.col(text_col), F.lit("\x00")), 256),
    )


def salted_merkle(
    df: DataFrame,
    key: str,
    leaf: Column,
    n_salts: int = 16,
    out: str = "merkle",
    n_out: str = "n_leaves",
) -> DataFrame:
    """Skew-safe two-phase merkle rollup over arbitrary leaves.

    Phase 1 groups on (key, salt) so no reducer holds a whole hot key's
    leaf set; phase 2 merges ≤ n_salts partials per key (flatten,
    re-sort, hash).  Bit-identical to the single-phase rollup (pinned
    against a hashlib model in tests/test_operators.py), which makes
    it a drop-in skew guard for mega-conversations."""
    p1 = (
        df.select(F.col(key), leaf.alias("_leaf"))
        .withColumn("_salt", F.pmod(F.xxhash64("_leaf"), F.lit(n_salts)))
        .groupBy(key, "_salt")
        .agg(
            F.sort_array(F.collect_list("_leaf")).alias("_leaves"),
            F.count(F.lit(1)).cast("long").alias("_n"),
        )
    )
    return p1.groupBy(key).agg(
        F.sha2(
            F.concat_ws(_SEP, F.sort_array(F.flatten(F.collect_list("_leaves")))),
            256,
        ).alias(out),
        F.sum("_n").cast("long").alias(n_out),
    )


def conversation_merkle(
    df: DataFrame,
    key: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
    out: str = "conv_cksum",
    n_turns_out: str = "n_turns",
) -> DataFrame:
    """Per-conversation merkle digest over sorted (turn_idx, sha256(text)).

    Entirely JVM-side: map-side partial collect_list keeps the shuffle
    payload at one 75-byte leaf per turn (hashes, not texts), then
    sort_array + concat + sha2 at the reducer.  State/shuffle size is
    O(turns) in leaves but O(1) in text size — the design that keeps
    mega-conversation state bounded.
    """
    leaves = df.select(F.col(key), turn_leaf(idx_col, text_col).alias("_leaf"))
    return leaves.groupBy(key).agg(
        F.sha2(F.concat_ws(_SEP, F.sort_array(F.collect_list("_leaf"))), 256).alias(out),
        F.count(F.lit(1)).cast("long").alias(n_turns_out),
    )
