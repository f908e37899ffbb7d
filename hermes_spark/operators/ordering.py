"""Per-key ordered delivery (W3) for the error queue.

The reference's error queue yields only the *oldest* pending event per
pkey; younger events of a blocked key are skipped
(clients/errorqueue.py:611-641), and events whose object is an
FK-parent of another errored object are also skipped
(errorqueue.py:700-711).

Spark restatement: ``row_number() OVER (PARTITION BY key ORDER BY
offset) = 1`` plus an anti-join against the blocked-parent key set —
single window/join stages, so ordering is a property of the plan, not
of a driver-side loop.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def oldest_event_per_key(
    queue: DataFrame,
    key: Sequence[str],
    order_col: str = "offset",
) -> DataFrame:
    """W3: the retryable head of each per-key FIFO (row_number = 1)."""
    w = Window.partitionBy(*key).orderBy(F.col(order_col).asc())
    return (
        queue.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def unblocked_retry_candidates(
    queue: DataFrame,
    key: Sequence[str],
    parent_key_of: Sequence[tuple[str, str]] | None = None,
    order_col: str = "offset",
) -> DataFrame:
    """Oldest event per key, minus events whose key is the FK-parent of
    some other errored key (dependency blocking, errorqueue.py:700-711).

    ``parent_key_of`` maps this queue's key cols to the child-reference
    cols: [(parent_col_in_queue, child_fk_col_in_queue), ...].
    """
    heads = oldest_event_per_key(queue, key, order_col)
    if not parent_key_of:
        return heads
    # rename the queue side wholesale (heads derives from queue — plain
    # aliases are ambiguous under shared lineage)
    q = queue.select([F.col(c).alias(f"__q_{c}") for c in queue.columns])
    cond = [F.col(p).eqNullSafe(F.col(f"__q_{c}")) for p, c in parent_key_of]
    # a head is blocked if any *other* errored event references it
    not_self = F.lit(False)
    for k in key:
        not_self = not_self | ~F.col(k).eqNullSafe(F.col(f"__q_{k}"))
    return heads.join(q, [*cond, not_self], "left_anti")
