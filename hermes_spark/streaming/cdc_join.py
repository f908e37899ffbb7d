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
RAW source stream.  ``JoinCdcSink`` is an ``ExactlyOnceSink`` whose
``transform`` is the classification, so both modes share one sink: one
replay probe, one error-queue split, one lineage observation.

Semantics are identical (last-writer-by-event-time, stale suppression,
tombstone memory) — the equivalence test drives both pipelines over
the same reordered input and asserts identical live state.

Scale model: each delta is one flat parquet snapshot written straight
from the classify plan — one file per post-shuffle partition of the
classify join, so at most ``spark.sql.shuffle.partitions`` files
whatever the input's task count.  There is no partition layout and no
write-side shuffle, because nothing reads the target by partition.  Per
micro-batch the state read is the whole fold pruned to the
(key, op, ts, cks64) columns — the wide payload stays on disk.
Compaction is out-of-band (``maintain()``), keeping the foreachBatch
commit O(batch + narrow state): one classify-join + one MERGE, no
periodic full-table rewrite in the hot path.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
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


def _rank(ts_col, tomb_col, cks_col):
    """Last-writer rank (ts_us, cks-or--inf) — identical tie rules to
    streaming/cdc.py::_classify_core."""
    return F.struct(
        F.unix_micros(ts_col).alias("r_ts"),
        F.when(tomb_col, F.lit(_NEG_INF)).otherwise(cks_col).alias("r_ck"),
    )


class JoinCdcSink(ExactlyOnceSink):
    """The exactly-once sink whose ``transform`` is the join
    classification: in-batch last writer per key → left join against
    the narrow target state (key, op, ts, cks64 — the wide payload
    stays on disk) → op truth table.  Tombstones are written as
    op='delete' rows, which are the state memory.  Replay, the error
    queue split and lineage are ``ExactlyOnceSink``'s, unchanged: one
    table, one ledger, one MERGE per batch."""

    def __init__(
        self, target: ParquetMergeTable, dlq=None, validator=None
    ) -> None:
        super().__init__(
            target, transform=self._classify, dlq=dlq, validator=validator
        )

    def _classify(self, turns: DataFrame) -> DataFrame:
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
        state = self.target.read(
            columns=["conv_id", "turn_idx", "op", "ts", "cks64"]
        ).select(
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
        # every classified row (incl. tombstones) lands as the key's new
        # state version; nothing is physically dropped here — live vs
        # deleted is a view predicate, purged on compaction+retention
        return j.where(fresh).select(
            *KEY,
            op.alias("op"),
            "role", "text", "tool", "ts", "cksum", "cks64",
        )


@dataclass
class JoinCdcPipeline(ClientLoop):
    """The client loop over the JVM-only join classifier: the sink
    classifies the raw source batch itself."""

    def __post_init__(self) -> None:
        super().__post_init__()
        # compaction is out-of-band (maintain()): the sink commit stays
        # O(batch) with no periodic full-table rewrite inside
        # foreachBatch — same discipline as CdcPipeline
        self.target = ParquetMergeTable(
            self.spark,
            os.path.join(self.work_dir, "target"),
            key=KEY,
            schema=JOIN_STATE_SCHEMA,
            tombstone_mode="retain",
            compact_every=None,
        )
        self._open_dlq(KEY, JOIN_STATE_SCHEMA)
        self.sink = JoinCdcSink(
            self.target, dlq=self.dlq, validator=self.validator
        )

    def changes(self) -> DataFrame:
        return self.source()

    def target_live(self) -> DataFrame:
        return self.target.read().where(F.col("op") != "delete")
