"""Windowed conversation-snapshot reconstruction (tumbling + session).

The reference has no time windows — its "windows" are ordering
guarantees over a totally ordered bus (SURVEY.md §2.5).  The north rule
adds real event-time windows: tumbling and session windows with
watermarks reconstructing ordered conversation snapshots.

Batch forms here share the exact column expressions with the streaming
forms in hermes_spark/streaming/pipeline.py — the snapshot aggregation
is the same ``sort_array(collect_list(struct(turn_idx, ...)))`` either
way, so batch recomputation is the oracle for the stream.

Skew: mega-conversations make `conv_id` a hot key.  ``salted`` variants
do a two-phase aggregate — phase 1 groups on (conv_id, salt) buckets so
no single reducer sees a whole mega-conversation, phase 2 merges the
per-salt partials.  This is the explicit salting the north rule asks
for; with merkle leaves as the carried payload the partial states stay
tiny.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hermes_spark.operators.checksum import _SEP, turn_leaf


def _snapshot_aggs() -> list[Column]:
    return [
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
        F.sha2(
            F.concat_ws(_SEP, F.sort_array(F.collect_list("_leaf"))), 256
        ).alias("conv_cksum"),
    ]


def tumbling_snapshots(
    turns: DataFrame,
    duration: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Per (window, conv_id) ordered snapshot digest + turn stats."""
    return (
        turns.withColumn("_leaf", turn_leaf())
        .groupBy(F.window(F.col(ts_col), duration).alias("win"), F.col("conv_id"))
        .agg(*_snapshot_aggs())
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "conv_id",
            "n_turns",
            "first_turn",
            "last_turn",
            "conv_cksum",
        )
    )


def sliding_snapshots(
    turns: DataFrame,
    duration: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Per (sliding window, conv_id) snapshot digest: each turn lands
    in duration/slide overlapping windows (F.window with a slide) —
    the third window family the north rule names.  Same digest
    aggregate as tumbling, so the streaming twin shares the plan."""
    return (
        turns.withColumn("_leaf", turn_leaf())
        .groupBy(
            F.window(F.col(ts_col), duration, slide).alias("win"),
            F.col("conv_id"),
        )
        .agg(*_snapshot_aggs())
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "conv_id",
            "n_turns",
            "first_turn",
            "last_turn",
            "conv_cksum",
        )
    )


def session_snapshots(
    turns: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Per (session_window, conv_id) snapshot — session = activity run
    with < gap between consecutive turns (F.session_window)."""
    return (
        turns.withColumn("_leaf", turn_leaf())
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("win"), F.col("conv_id")
        )
        .agg(*_snapshot_aggs())
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "conv_id",
            "n_turns",
            "first_turn",
            "last_turn",
            "conv_cksum",
        )
    )


def salted_conversation_agg(
    turns: DataFrame,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe per-conversation rollup.

    Phase 1 (partial): group on (conv_id, salt) where salt spreads each
    conversation's turns over ``n_salts`` reducers; carries sorted leaf
    arrays + counts.  Phase 2 (final): merge the ≤ n_salts partials per
    conv_id — flatten, re-sort, hash.  Equivalent to
    ``conversation_merkle`` (tests assert it) but no reducer ever holds
    more than ~1/n_salts of a mega-conversation in phase 1.
    """
    p1 = (
        turns.withColumn("_salt", F.pmod(F.xxhash64("turn_idx"), F.lit(n_salts)))
        .withColumn("_leaf", turn_leaf())
        .groupBy("conv_id", "_salt")
        .agg(
            F.sort_array(F.collect_list("_leaf")).alias("_leaves"),
            F.count(F.lit(1)).cast("long").alias("_n"),
        )
    )
    return (
        p1.groupBy("conv_id")
        .agg(
            F.sha2(
                F.concat_ws(
                    _SEP, F.sort_array(F.flatten(F.collect_list("_leaves")))
                ),
                256,
            ).alias("conv_cksum"),
            F.sum("_n").cast("long").alias("n_turns"),
        )
    )


def sessionize_batch(
    events: DataFrame,
    key: str,
    ts_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Batch sessionization: lag + cumulative gap-count session ids.

    Classic two-window formulation (new session when gap > threshold);
    returns per-session rollups keyed (key, session_id).  This is the
    batch oracle for streaming ``session_window`` and is itself a
    first-class operator (events-table sessionization).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(key).orderBy(F.col(ts_col).asc(), F.col("event_id").asc()) \
        if "event_id" in events.columns else W.partitionBy(key).orderBy(F.col(ts_col).asc())
    lag_ts = F.lag(ts_col).over(w)
    # compare in microseconds — exact epoch arithmetic, no
    # second-truncation skew
    is_new = (
        lag_ts.isNull()
        | (
            F.unix_micros(F.col(ts_col)) - F.unix_micros(lag_ts)
            > gap_seconds * 1_000_000
        )
    ).cast("long")
    with_sid = events.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return with_sid.groupBy(key, "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
    )
