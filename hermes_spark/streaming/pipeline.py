"""End-to-end streaming CDC pipeline wiring.

The producer-side lifecycle of the reference
(/root/reference/server/hermesserver.py:468-509: poll → diff → publish
→ commit cache) becomes ONE streaming query:

    file/iceberg source (micro-batch = one poll)
      → event-time watermark on ts
      → classify (insert/update/delete vs the state of each key)
      → foreachBatch: idempotent MERGE into target + lineage metrics

``ClientLoop`` is the one implementation of the reference client loop
around that query — validate, apply, divert failures to the error
queue, retry on an interval, maintain — and both classifiers extend
it: ``CdcPipeline`` (stateful ``applyInPandasWithState``, below) and
``JoinCdcPipeline`` (JVM-only join against the target,
streaming/cdc_join.py).

Restart-from-checkpoint resumes mid-stream exactly-once (tests kill the
query between micro-batches and assert the target equals an
uninterrupted run).  The stateful classifier keys its state by hash
bucket, so ``CdcPipeline`` pins its bucket count in the checkpoint
(``pin_n_buckets``): a resume with another count would re-key the
state and let stale deliveries through.  Windowed snapshot queries and
the tool-call join run as sibling queries over the same source.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from hermes_spark.schema import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from hermes_spark.streaming.cdc import classify_changes
from hermes_spark.streaming.sink import ExactlyOnceSink
from hermes_spark.tables import ParquetMergeTable

# stateful classifier buckets per shuffle partition (128 at local[4]).
# Each touched bucket is one grouped-state Python call per trigger
# (~0.5 ms of operator cost, whatever it holds) and rewrites its whole
# state blob.  At ~1M live turns on 4 vCPUs, 8 per partition was the
# slowest on 125-row triggers and 256 the slowest on 8750-row ones.
BUCKETS_PER_SHUFFLE_PARTITION = 32


def pin_n_buckets(spark: SparkSession, checkpoint: str, n_buckets: int | None) -> int:
    """The classifier's bucket count for ``checkpoint``, recorded there.

    The state is keyed by ``xxhash64(conv_id) mod n_buckets``, so the
    count is part of the checkpoint exactly like Spark's own
    ``spark.sql.shuffle.partitions`` in the offset log: resuming with
    another count would look every conversation up in the wrong
    bucket, finding no state, and a stale delivery would re-apply.

    * a record exists → it is used; an explicit ``n_buckets`` that
      differs raises ``ValueError`` naming both counts;
    * no record, fresh checkpoint → ``n_buckets``, else
      ``BUCKETS_PER_SHUFFLE_PARTITION × spark.sql.shuffle.partitions``,
      recorded before the query starts;
    * no record but committed batches (a checkpoint started before the
      record existed) → only an explicit ``n_buckets`` is accepted
      (and recorded): the count it ran with cannot be known."""
    if n_buckets is not None and n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets!r}")
    path = os.path.join(checkpoint, "n_buckets.json")
    if os.path.exists(path):
        with open(path) as f:
            recorded = json.load(f)["n_buckets"]
        if n_buckets not in (None, recorded):
            raise ValueError(
                f"n_buckets={n_buckets} conflicts with n_buckets={recorded} "
                f"recorded in {path}: the classifier state is keyed by "
                "bucket, so a checkpoint cannot change its count"
            )
        return recorded
    if n_buckets is None:
        commits = os.path.join(checkpoint, "commits")
        if os.path.isdir(commits) and any(n.isdigit() for n in os.listdir(commits)):
            raise ValueError(
                f"checkpoint {checkpoint} has committed batches but no "
                "n_buckets record: pass the n_buckets it was started with"
            )
        n_buckets = BUCKETS_PER_SHUFFLE_PARTITION * int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
    os.makedirs(checkpoint, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump({"n_buckets": n_buckets}, f)
    os.replace(path + ".tmp", path)
    return n_buckets


@dataclass
class ClientLoop:
    """The reference client loop (clients/__init__.py:913-1020 +
    640-755), shared by both classifiers: every micro-batch commits
    through the sink (rows failing ``validator`` divert to a
    dead-letter queue with per-key FIFO + FK gating), every
    ``retry_every`` micro-batches a dependency-ordered drain pass
    retries the queue with the same validator — transient failures
    heal without operator intervention (errorQueue_retryInterval) —
    and every ``maintain_every`` micro-batches the target folds its
    deltas in-stream.

    A subclass opens ``self.target`` and ``self.sink`` in its
    ``__post_init__`` (after this one, passing the declared target
    schema to ``_open_dlq``) and supplies ``changes()`` and
    ``target_live()``."""

    spark: SparkSession
    source_dir: str          # parquet files appear here (one per micro-batch)
    work_dir: str            # checkpoint + target + metrics
    max_files_per_trigger: int | None = None
    validator: Callable[[DataFrame], Column] | None = None
    retry_every: int | None = None
    # FK dependency blocking for the error queue (reference
    # foreignkeys_policy): child events wait until their errored
    # parent drains (fk edges as (parent_col, child_col) pairs over
    # the change-event columns)
    fk_map: list | None = None
    foreignkeys_policy: str = "disabled"
    # in-stream maintenance cadence: every N micro-batches, fold the
    # delta set (incremental compact_deltas — O(churned keys), never
    # O(table)) and vacuum superseded snapshots INSIDE foreachBatch
    # (after the sink commit, so no in-flight plan references the
    # folded generation; vacuum retains one superseded generation for
    # sibling readers).  Full O(table) rebasing stays out-of-band via
    # maintain(mode="full").
    maintain_every: int | None = None

    def __post_init__(self) -> None:
        self.checkpoint = os.path.join(self.work_dir, "checkpoint")
        self.dlq = None

    def _open_dlq(self, key: list[str], schema: T.StructType) -> None:
        """The error queue, when a validator is configured: its payload
        is the declared target schema minus ``op``."""
        if self.validator is None:
            return
        from hermes_spark.streaming.errorqueue import DeadLetterQueue

        self.dlq = DeadLetterQueue(
            self.spark,
            os.path.join(self.work_dir, "dlq"),
            key=key,
            payload_schema=T.StructType(
                [f for f in schema.fields if f.name != "op"]
            ),
            fk_map=self.fk_map,
            foreignkeys_policy=self.foreignkeys_policy,
        )

    # -- foreachBatch body: sink + scheduled retry ---------------------

    def _on_batch(self, df: DataFrame, batch_id: int) -> None:
        self.sink(df, batch_id)
        if (
            self.dlq is not None
            and self.retry_every
            and (batch_id + 1) % self.retry_every == 0
            # a drain over a provably-empty queue is two wasted jobs
            # per cycle — the healthy-stream fast path skips it (the
            # hint can never be wrongly True, so no retry is missed)
            and not self.dlq.known_empty()
        ):
            self.retry_queue(tag=f"b{batch_id}")
        if self.maintain_every and (batch_id + 1) % self.maintain_every == 0:
            self.maintain(mode="incremental")

    def retry_queue(self, tag: str | None = None, max_passes: int = 10) -> int:
        """One scheduled error-queue retry: dependency-ordered drain
        with the sink's validator, then queue compaction — the
        reference's ``errorQueue_retryInterval`` loop
        (clients/__init__.py:640-755) as a batch job.

        Candidates are re-validated (NULL verdict = "no opinion" =
        passes — a queued tombstone must not stay stuck forever
        because a content validator NULLs out on its NULL text) and
        applied through the exactly-once sink's observed ``_apply``, so
        drain merges land in the lineage/metrics surfaces like any
        other commit (the reference counts retried events in its
        status counters).

        Exactly-once across a crash inside the pass: each pass's target
        merge is ledgered under a CONTENT-STABLE id — ``dlq-<tag>-``
        plus a hash of the candidate (key, offset) set — so a replay
        whose pass numbering shifted (earlier passes already resolved
        their rows before the crash) merges the NEW candidate set
        instead of silently no-oping against an old pass's ledger entry
        while resolve still removed the rows (that was a data-loss
        path: ledgered-but-different pass → rows neither applied nor
        queued).  Identical candidates replay to the same id → merge
        no-ops and resolve removes exactly the rows that were already
        applied.  A re-applied row is also state-idempotent (the queue
        holds the key's NEWEST effective event — per-key FIFO gating
        guarantees no fresher write reached the target while the key
        was queued).  Empty passes commit nothing; compaction runs only
        when a pass moved something.  Returns the rows left in the
        queue."""
        if self.dlq is None:
            return 0
        sink, dlq = self.sink, self.dlq
        # the LIVE target schema, not the static default: mid-stream
        # evolution (fanout payloads, dataschema events) must be
        # visible to the drain's re-apply projection
        fields = [f.name for f in self.target.schema.fields]
        applied = False
        cached: list[DataFrame] = []

        def apply_fn(cands: DataFrame) -> DataFrame:
            nonlocal applied
            # a queue exists only with a validator
            ok = cands.where(
                F.coalesce(self.validator(cands), F.lit(True))
            ).cache()
            cached.append(ok)
            agg = ok.agg(
                F.count(F.lit(1)).alias("n"),
                F.xxhash64(
                    F.sort_array(
                        F.collect_list(F.concat_ws("\x00", *dlq.key, "offset"))
                    )
                ).alias("h"),
            ).first()
            if agg.n == 0:
                return ok  # nothing passes — no empty commit churn
            bid = f"dlq-{tag}-{agg.h}" if tag is not None else None
            sink._apply(ok.select(*fields), bid, time.monotonic())
            applied = True
            return ok

        try:
            left = dlq.drain(apply_fn, max_passes=max_passes)
        finally:
            for df in cached:
                df.unpersist()
        if applied:
            # queue compaction only when the pass moved something — an
            # idle queue must not rewrite itself every trigger
            dlq.maintain()
        return left

    def maintain(self, mode: str = "full") -> None:
        """Out-of-band maintenance: fold target deltas into a fresh
        base and expire superseded snapshot dirs (Iceberg
        rewrite_data_files + expire_snapshots analog) — disk stays
        O(live state) over an unbounded stream.

        ``retain_superseded=1`` keeps the one generation this compact
        just superseded: a live micro-batch (or sibling query) whose
        plan listed files before the compact committed still resolves
        — vacuum's default destroy-everything mode could otherwise
        fail an in-flight trigger mid-plan (Spark's batch retry would
        self-heal, but the trigger fails).

        ``mode='incremental'`` folds only the delta set
        (``compact_deltas``, O(churned keys)) instead of rewriting the
        whole table — the cadence ``maintain_every`` runs in-stream,
        where an O(table) rewrite per cycle would dominate the trigger
        wall at scale."""
        if mode not in ("full", "incremental"):
            raise ValueError(f"maintain mode must be full|incremental, got {mode!r}")
        if mode == "incremental":
            self.target.compact_deltas()
        else:
            self.target.compact()
        self.target.vacuum(retain_superseded=1)

    def source(self) -> DataFrame:
        reader = self.spark.readStream.schema(TRANSCRIPT_SCHEMA)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return reader.parquet(self.source_dir)

    def start(self) -> StreamingQuery:
        return (
            self.changes()
            .writeStream.foreachBatch(self._on_batch)
            .option("checkpointLocation", self.checkpoint)
            .outputMode("append")
            .start()
        )

    def run_available(self) -> None:
        """Process everything currently in source_dir, then stop —
        the batch-driver mode used by tests and bench."""
        q = self.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            # Spark 4 stop() is async-ish; awaitTermination for cleanliness
            try:
                q.awaitTermination(30)
            except Exception:
                pass


@dataclass
class CdcPipeline(ClientLoop):
    """The client loop over the ``applyInPandasWithState`` classifier
    (streaming/cdc.py).  ``n_buckets`` resolves when a query first
    starts (``pin_n_buckets``); after that it holds the pinned count."""

    # hash buckets of conv_id: the classifier's state key (None =
    # pinned at start(), see pin_n_buckets)
    n_buckets: int | None = None
    watermark: str = "10 minutes"
    # per-batch reshaping between classifier and commit — the client
    # datamodel fan-out (reference clients/datamodel.py:497-621): runs
    # inside the sink on the classified change frame, BEFORE the
    # validator split (the validator therefore sees the transformed
    # columns).  ``type_col``/``type_names`` feed the sink's
    # per-objtype diff counters; ``target_schema`` overrides
    # CHANGE_EVENT_SCHEMA when the transform reshapes the payload
    # (the config layer computes it by analyzing the transform
    # against an empty frame — no data runs at build time).
    transform: Callable[[DataFrame], DataFrame] | None = None
    type_col: str | None = None
    type_names: "Sequence[str] | None" = None
    target_schema: T.StructType | None = None
    # the MERGE key.  A fan-out emits ONE event per local type for the
    # same (conv_id, turn_idx) — the reference applies each to a
    # distinct local object (clients/datamodel.py:497-621), so a
    # shared target must key by (type, conv_id, turn_idx) or sibling
    # types would overwrite each other
    target_key: "Sequence[str]" = ("conv_id", "turn_idx")
    # trashbin semantics (reference trashbin_purgeInterval,
    # clients/__init__.py:757-813): "retain" keeps op='delete' rows as
    # tombstone state — target_live() hides them, trashbin() shows
    # them, a re-delivered row restores the key (the classifier
    # re-inserts), and maintain(mode="full") purges tombstones older
    # than ``tombstone_retention`` (event-time interval vs max ts)
    tombstone_mode: str = "drop"
    tombstone_retention: str | None = None

    def __post_init__(self) -> None:
        super().__post_init__()
        schema = self.target_schema or CHANGE_EVENT_SCHEMA
        key = list(self.target_key)
        self.target = ParquetMergeTable(
            self.spark,
            os.path.join(self.work_dir, "target"),
            key=key,
            schema=schema,
            tombstone_mode=self.tombstone_mode,
            tombstone_retention=self.tombstone_retention,
            # compaction is out-of-band for the streaming hot path: the
            # sink commit stays O(batch) with no periodic full-table
            # rewrite inside foreachBatch (call target.compact() from a
            # maintenance job, exactly like Iceberg rewrite_data_files)
            compact_every=None,
        )
        self._open_dlq(key, schema)
        self.sink = ExactlyOnceSink(
            self.target,
            transform=self.transform,
            dlq=self.dlq,
            validator=self.validator,
            type_col=self.type_col,
            type_names=self.type_names,
        )

    def start(self) -> StreamingQuery:
        self.n_buckets = pin_n_buckets(self.spark, self.checkpoint, self.n_buckets)
        return super().start()

    def changes(self) -> DataFrame:
        return classify_changes(
            self.source(), watermark=self.watermark, n_buckets=self.n_buckets
        )

    def target_live(self) -> DataFrame:
        """Current live target state.  In tombstone-retain (trashbin)
        mode the retained op='delete' rows are hidden here — they are
        deleted objects awaiting restore or retention expiry, not live
        data."""
        df = self.target.read()
        if self.tombstone_mode == "retain" and "op" in df.columns:
            df = df.where(F.col("op") != "delete")
        return df

    def trashbin(self) -> DataFrame:
        """Deleted-but-retained rows (the reference trashbin view,
        clients/__init__.py:757-813).  Empty unless
        ``tombstone_mode='retain'``."""
        df = self.target.read()
        if self.tombstone_mode != "retain" or "op" not in df.columns:
            return df.where(F.lit(False))
        return df.where(F.col("op") == "delete")

    # -- sibling windowed-snapshot queries over the change stream -------

    def windowed_snapshots(
        self, kind: str = "tumbling", duration: str = "1 hour",
        gap: str = "30 minutes", slide: str = "30 minutes",
    ) -> DataFrame:
        """Tumbling or session windowed conversation-snapshot digests
        over the *classified change stream* (watermarked) — the
        north-rule 'reconstructing ordered conversation snapshots'
        queries, runnable as sibling streaming queries sharing the
        source.  Needs a resolved ``n_buckets``: ``start_windowed``
        pins it in the sibling's own checkpoint."""
        from hermes_spark.operators.windows import (
            session_snapshots,
            sliding_snapshots,
            tumbling_snapshots,
        )

        # applyInPandasWithState output carries no watermark; re-apply it
        # so the downstream windowed agg can emit finalized windows in
        # append mode (without this, start_windowed raises
        # STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION).
        changes = (
            self.changes()
            .where(F.col("op") != "delete")
            .withWatermark("ts", self.watermark)
        )
        if kind == "tumbling":
            return tumbling_snapshots(changes, duration=duration)
        if kind == "sliding":
            return sliding_snapshots(changes, duration=duration, slide=slide)
        if kind == "session":
            return session_snapshots(changes, gap=gap)
        raise ValueError(f"unknown window kind {kind!r}")

    def start_windowed(
        self, out_dir: str, kind: str = "tumbling", **kw
    ) -> StreamingQuery:
        # the sibling query runs a classifier of its own, with state in
        # its own checkpoint: pinned the same way, to the same count
        self.n_buckets = pin_n_buckets(self.spark, out_dir + "_ck", self.n_buckets)
        return (
            self.windowed_snapshots(kind=kind, **kw)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", out_dir + "_ck")
            .outputMode("append")
            .start()
        )
