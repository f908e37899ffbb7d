"""JVM-only CDC classification: micro-batch MERGE-join against the
target table (which doubles as the state store).

This is the reference's *literal* model — diff the incoming snapshot
against the cache (/root/reference/lib/datamodel/dataobjectlist.py:
294-322) — expressed as one whole-stage-codegen join per micro-batch,
with zero Python in the hot path.  It exists alongside the
``applyInPandasWithState`` classifier (streaming/cdc.py) as the
bandwidth-lean alternative: the stateful operator round-trips its full
state through Arrow/Python every batch, while this mode's state reads
are columnar parquet scans that never leave the JVM.

``JoinCdcPipeline`` is the shared client loop (``pipeline.ClientLoop``:
validate, apply, error queue, scheduled retry, maintenance) over the
RAW source stream — ``JoinCdcSink`` classifies each batch itself and
commits through the same ``ExactlyOnceSink`` the stateful mode uses.

Semantics are identical (last-writer-by-event-time, stale suppression,
tombstone memory) — the equivalence test drives both pipelines over
the same reordered input and asserts identical live state.

Scale model: the target is hive-partitioned on a hash bucket of
conv_id (Iceberg ``bucket(N, conv_id)`` partition-spec analog) and
writes hash-distribute on the bucket (write.distribution-mode=hash →
~1 file per bucket per delta, no tiny-file explosion).  Per
micro-batch the state read prunes to the buckets the batch touches
(file-level pruning) AND to the (key, op, ts, cks64) columns (the
wide payload stays on disk) — read amplification is O(touched state),
not O(table).  Compaction is out-of-band (``maintain()``), keeping
the foreachBatch commit O(batch): one classify-join + one MERGE, no
periodic full-table rewrite in the hot path.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hermes_spark.streaming.cdc import with_content_cksum
from hermes_spark.streaming.pipeline import ClientLoop
from hermes_spark.streaming.sink import ExactlyOnceSink
from hermes_spark.tables import ParquetMergeTable

_NEG_INF = -(1 << 62)

# target-as-state schema: live rows + remembered tombstones (op delete)
JOIN_STATE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("cksum", T.StringType(), True),
        T.StructField("cks64", T.LongType(), True),
    ]
)

KEY = ["conv_id", "turn_idx"]

# bucket-partitioned target: JOIN_STATE_SCHEMA plus the hash-bucket
# partition column — a micro-batch reads ONLY the buckets it touches
# (Iceberg bucket-partition-spec analog), so per-batch state read
# amplification is O(state of touched buckets), not O(table)
JOIN_TARGET_SCHEMA = T.StructType(
    [*JOIN_STATE_SCHEMA.fields, T.StructField("_bucket", T.IntegerType(), False)]
)


def bucket_of(conv_col, n_buckets: int):
    return F.pmod(F.xxhash64(conv_col), F.lit(n_buckets)).cast("int")


def _rank(ts_col, tomb_col, cks_col):
    """Last-writer rank (ts_us, cks-or--inf) — identical tie rules to
    streaming/cdc.py::_classify_core."""
    return F.struct(
        F.unix_micros(ts_col).alias("r_ts"),
        F.when(tomb_col, F.lit(_NEG_INF)).otherwise(cks_col).alias("r_ck"),
    )


class JoinCdcSink:
    """foreachBatch body: dedupe-in-batch → classify via join → write
    delta (tombstones retained as op='delete' rows = state memory).

    When the target is bucket-partitioned (the default pipeline
    wiring), the batch's touched buckets are computed once (a tiny
    distinct over the deduped, cached batch) and the state fold prunes
    to those hive partitions — O(touched state) per batch instead of a
    groupBy over the whole base+deltas.  One table, one ledger, one
    MERGE per batch: replay-under-crash stays the single-commit
    idempotency argument.

    Adaptive pruning: computing the touched-bucket list costs a second
    driver action (distinct+collect over the persisted batch) that is
    pure overhead once batches are dense — a high-throughput stream
    touches every bucket every trigger, so the "pruned" read lists the
    same files anyway.  The sink therefore tracks how many buckets the
    PREVIOUS batch touched via an Observation riding the merge job
    (zero extra jobs) and skips the collect — one job per batch, no
    persist — while the stream stays dense (≥ ``PRUNE_THRESHOLD`` of
    the buckets); a sparse batch flips it back to the pruned fold.
    Dense and sparse regimes each get their optimal plan without any
    per-batch measurement cost."""

    # fraction of buckets above which the touched-bucket collect is
    # skipped; 0 disables pruning entirely, >1 forces it always
    PRUNE_THRESHOLD = 0.5

    def __init__(
        self,
        target: ParquetMergeTable,
        n_buckets: int = 32,
        dlq=None,
        validator=None,
    ) -> None:
        if n_buckets is None or n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets!r}")
        self.target = target
        self.n_buckets = n_buckets
        self.bucketed = bool(
            target.partition_by and "_bucket" in target.partition_by
        )
        self._last_touched: int | None = None
        # the COMMIT goes through the shared exactly-once sink: the
        # classified rows are this mode's change events, so validator
        # diversion, per-key FIFO + FK gating, the persisted-split
        # two-ledger protocol, and per-batch lineage annotation apply
        # identically to both classifiers — one implementation of the
        # reference client loop, not two
        self.inner = ExactlyOnceSink(target, dlq=dlq, validator=validator)
        self.dlq = dlq

    def __call__(self, turns: DataFrame, batch_id: int) -> None:
        # the two-ledger replay probe is the inner sink's — ONE
        # implementation of the id scheme and membership test
        t_done, q_done = self.inner.ledger_state(batch_id)
        if t_done and q_done:
            # replay no-op — but the batch plan must still run so any
            # upstream stateful operator commits its state stores
            # (Spark 4 validates this and fails the batch otherwise)
            turns.count()
            return
        # t_done without q_done (crash between the two commits): fall
        # through — the inner sink re-enqueues the persisted split; the
        # classification join runs once as the replay's count() driver
        b = with_content_cksum(turns)
        tomb = F.col("text").isNull()
        b = b.withColumn("_tomb", tomb).withColumn(
            "_rank", _rank(F.col("ts"), F.col("_tomb"), F.col("cks64"))
        )
        # in-batch last-writer per key
        payload = [c for c in b.columns if c not in KEY]
        b = (
            b.groupBy(*KEY)
            .agg(F.max_by(F.struct(*payload), F.col("_rank")).alias("_w"))
            .select(*KEY, "_w.*")
        )

        cached = None
        state_cols = ["conv_id", "turn_idx", "op", "ts", "cks64"]
        if self.bucketed:
            b = b.withColumn(
                "_bucket", bucket_of(F.col("conv_id"), self.n_buckets)
            )
            dense = (
                self._last_touched is not None
                and self._last_touched >= self.PRUNE_THRESHOLD * self.n_buckets
            )
            if dense:
                # dense stream: every bucket is (almost) touched — the
                # pruned fold would list the same files, so skip the
                # collect and the persist entirely: ONE job this batch
                state_src = self.target.read(columns=state_cols)
            else:
                cached = b.persist()
                touched = [
                    r[0] for r in b.select("_bucket").distinct().collect()
                ]
                # state = pruned fold of the target: only touched bucket
                # partitions are listed/scanned, and only the narrow
                # classification columns are decoded
                state_src = self.target.read(
                    columns=state_cols,
                    partition_filter=F.col("_bucket").isin(touched),
                )
        else:
            # unpartitioned fallback: column pruning only
            state_src = self.target.read(columns=state_cols)
        state = state_src.select(
            F.col("conv_id").alias("s_conv_id"),
            F.col("turn_idx").alias("s_turn_idx"),
            F.col("op").alias("s_op"),
            F.col("ts").alias("s_ts"),
            F.col("cks64").alias("s_cks64"),
        )
        j = b.join(
            state,
            (F.col("conv_id") == F.col("s_conv_id"))
            & (F.col("turn_idx") == F.col("s_turn_idx")),
            "left_outer",
        )
        s_exists = F.col("s_op").isNotNull()
        s_live = s_exists & (F.col("s_op") != "delete")
        s_rank = _rank(F.col("s_ts"), F.col("s_op") == "delete", F.col("s_cks64"))
        fresh = ~s_exists | (F.col("_rank") > s_rank)

        op = (
            # a fresh tombstone is recorded as op=delete whether the key
            # was live or a ghost (never-seen / already-deleted): retained
            # tombstones ARE the state memory, so both cases land
            # identically and the live view drops them
            F.when(F.col("_tomb"), F.lit("delete"))
            .when(~s_live, F.lit("insert"))                  # absent or tombstoned → (re)insert
            .when(F.col("cks64") != F.col("s_cks64"), F.lit("update"))
            .otherwise(F.coalesce(F.col("s_op"), F.lit("insert")))  # content unchanged → advance ts, keep op
        )
        extra = ["_bucket"] if self.bucketed else []
        out = (
            j.where(fresh)
            .select(
                *KEY,
                op.alias("op"),
                "role", "text", "tool", "ts", "cksum", "cks64",
                *extra,
            )
        )
        # MERGE: every classified row (incl. tombstones) lands as the
        # key's new state version; nothing is physically dropped here —
        # live vs deleted is a view predicate, purged on compaction+retention.
        obs = None
        if self.bucketed:
            # density telemetry rides the merge job (no extra action):
            # it decides whether the NEXT batch bothers pruning
            obs = Observation(f"join_touched_{batch_id}")
            out = out.observe(
                obs, F.approx_count_distinct("_bucket").alias("nb")
            )
        try:
            self.inner(out, batch_id)
            if obs is not None:
                try:
                    self._last_touched = int(obs.get["nb"] or 0)
                except Exception:
                    # an all-stale batch writes an EMPTY delta — zero
                    # tasks run, so the metrics row never materializes;
                    # treat it as a sparse signal (prune next batch)
                    self._last_touched = 0
        finally:
            if cached is not None:
                cached.unpersist()


@dataclass
class JoinCdcPipeline(ClientLoop):
    """The client loop over the JVM-only join classifier: the sink
    classifies the raw source batch itself."""

    n_buckets: int = 32

    def __post_init__(self) -> None:
        super().__post_init__()
        # compaction is out-of-band (maintain()): the sink commit stays
        # O(batch) with no periodic full-table rewrite inside
        # foreachBatch — same discipline as CdcPipeline.  The target is
        # bucket-partitioned so the per-batch state fold prunes to the
        # touched buckets.
        self.target = ParquetMergeTable(
            self.spark,
            os.path.join(self.work_dir, "target"),
            key=KEY,
            schema=JOIN_TARGET_SCHEMA,
            tombstone_mode="retain",
            compact_every=None,
            partition_by=["_bucket"],
        )
        self._open_dlq(KEY, JOIN_TARGET_SCHEMA)
        self.sink = JoinCdcSink(
            self.target, self.n_buckets, dlq=self.dlq, validator=self.validator
        )

    def _commit_sink(self) -> ExactlyOnceSink:
        return self.sink.inner

    def changes(self) -> DataFrame:
        return self.source()

    def target_live(self) -> DataFrame:
        return (
            self.target.read().where(F.col("op") != "delete").drop("_bucket")
        )
