"""Integrity / merge constraints as set-based semi-joins.

Reference: per-row Jinja predicates evaluated in a Python fixpoint loop
until no row is removed — merge_constraints
(/root/reference/server/datamodel.py:562-618) and integrity_constraints
(server/datamodel.py:647-702); the canonical pattern is
``_SELF.user_id in Users_pkeys`` (hermes-server-config-example.yml:232).

Spark restatement: each "pkey membership" predicate is a left_semi
(keep-if-parent-exists) or left_anti (keep-if-absent) join.  A chain of
FK constraints converges in one topological cascade of semi-joins —
no iteration needed, because the FK graph is acyclic (the reference
rejects circular FKs at schema build, foreignkey.py:65-87).

Scale note: pkey sets are projections of the parent tables — Catalyst
prunes to the key column, and small parents broadcast, so a constraint
costs one narrow join, not a per-row interpreted predicate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def fk_filter(
    child: DataFrame,
    parent: DataFrame,
    on: Sequence[tuple[str, str]],
    keep_if_exists: bool = True,
) -> DataFrame:
    """Keep child rows whose FK tuple (does / does not) exist in parent."""
    how = "left_semi" if keep_if_exists else "left_anti"
    c, p = child.alias("c"), parent.alias("p")
    cond = [c[ck].eqNullSafe(p[pk]) for ck, pk in on]
    return c.join(p, cond, how)


def cascade_fk_filter(
    tables: dict[str, DataFrame],
    edges: Sequence[tuple[str, str, Sequence[tuple[str, str]]]],
) -> dict[str, DataFrame]:
    """Topological cascade: filter each child against its (already
    filtered) parent, in the given order.  ``edges`` is a sequence of
    (child_table, parent_table, [(child_col, parent_col), ...]).
    """
    out = dict(tables)
    for child, parent, on in edges:
        out[child] = fk_filter(out[child], out[parent], on)
    return out

