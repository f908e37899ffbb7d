"""Exactly-once sink: foreachBatch → idempotent MERGE + lineage metrics.

Reference anchors: the producer's synchronous ack with abort-and-retry
(at-least-once delivery made effectively-once by content dedup,
/root/reference/server/hermesserver.py:697-711), the client's
per-event offset commit (clients/__init__.py:113-120, 913-955), and the
write-if-changed atomic cache snapshot (lib/datamodel/serialization.py:
373-510).

Spark restatement: Structured Streaming replays an uncommitted
micro-batch after restart with the *same* batch_id; the sink MERGE is
keyed on (batch_id, pkey) — `ParquetMergeTable.merge` records batch_id
in its atomic commit log and no-ops on replay, yielding end-to-end
exactly-once on top of at-least-once delivery.

Per-batch lineage/metrics (the reference's diff counters + per-phase
timings, hermesserver.py:584-616, dataobjectlist.py:313-321) are
collected with ZERO extra Spark jobs: an ``Observation`` rides the
single delta-write job (op counts, rows) and lands inside the same
atomic commit entry as the data — crash-consistent by construction.
Per-partition lineage detail is derivable on demand from the delta
snapshot files themselves (one file set per batch).  One job per
micro-batch is also the scaling-efficiency lever: serial driver work
per batch is what flattens the N→4N curve.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hermes_spark.tables import ParquetMergeTable

# batch ids are int|str in the ledger (streaming batch numbers, but
# also "dlq-<tag>-p<n>" drain merges and "sink-N" queue entries) — the
# metrics surfaces carry them verbatim as strings
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("rows", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)

PARTITION_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("rows", T.LongType(), True),
    ]
)


class ExactlyOnceSink:
    """foreachBatch body: idempotent MERGE with observed metrics —
    exactly one Spark job per micro-batch.  The input holds at most one
    change per key (both classifiers emit one compacted event per key
    per batch)."""

    def __init__(
        self,
        target: ParquetMergeTable,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        dlq=None,
        validator: Callable[[DataFrame], "F.Column"] | None = None,
        type_col: str | None = None,
        type_names: "Sequence[str] | None" = None,
    ) -> None:
        self.target = target
        self.transform = transform
        # per-objtype diff counters (the reference's status verb
        # reports added/modified/removed PER TYPE,
        # server/hermesserver.py:584-616): when ``type_col`` names a
        # column carrying the fanout local-type name and
        # ``type_names`` lists the types the plan declares (fanout
        # type names are STATIC — the keys of fanout_events' result),
        # the per-(type, op) counts ride the SAME Observation as the
        # global counters — still zero extra jobs.  Rows whose type is
        # not in the list land in an ``"other"`` bucket (derived, not
        # counted).  The type column never reaches the target schema.
        self.type_col = type_col
        self.type_names = tuple(type_names or ())
        # the reference's client event loop (clients/__init__.py:
        # 913-1020): each event is validated/handled; failures land in
        # the error queue, and subsequent events for a queued key — or
        # for an FK-parent of a queued key, per foreignkeys_policy —
        # divert to the queue instead of applying (per-key FIFO).
        # ``validator(df) -> boolean Column`` marks rows that apply
        # cleanly; everything else (plus gated keys) goes to ``dlq``.
        self.dlq = dlq
        self.validator = validator

    @staticmethod
    def _in_ledger(batch_id, ids: set) -> bool:
        """Format-neutral membership: ParquetMergeTable preserves ids
        verbatim (int stays int), Iceberg snapshot summaries are
        string-typed — an int-only compare would make every replay
        undetected on the cluster twin."""
        return batch_id in ids or str(batch_id) in ids

    @staticmethod
    def _delta_is_empty(committed) -> bool | None:
        """False when the commit PROVES the delta was written by a job
        that ran (so its Observation must exist), None when it cannot
        tell — callers treat None as best-effort.  A local table
        commits every delta as an int version; an Iceberg MERGE returns
        an int only when it created a snapshot, and the "batch-<id>"
        string marker when it changed nothing."""
        return False if isinstance(committed, int) else None

    def __call__(self, changes: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        # THE two-ledger replay probe: target committed, queue closed
        t_done = self._in_ledger(batch_id, self.target.committed_batch_ids())
        q_done = (
            self.dlq is None
            or f"sink-{batch_id}" in self.dlq.table.committed_batch_ids()
        )
        if t_done:
            # replayed batch: the MERGE will no-op, but the batch plan
            # must still execute end-to-end — Spark validates that
            # foreachBatch drove every partition of a stateful operator
            # (state-store commits), and an early return fails the
            # batch with STATE_STORE_COMMIT_VALIDATION_FAILED
            changes.count()
        if t_done and q_done:
            return  # replayed batch — exactly-once no-op
        if self.dlq is None:
            if self.transform is not None:
                changes = self.transform(changes)
            self._apply(changes, batch_id, t0)
            return
        # Two-ledger protocol with a PERSISTED split: the DLQ gating
        # decision is written as a sidecar of the target commit (same
        # atomic ledger append), and the queue write always enqueues
        # the persisted rows.  A replay after a crash between the two
        # commits therefore re-enqueues the ORIGINAL split even if
        # resolve()/drain() changed the queue in between — recomputing
        # the split there could silently drop rows (gated→process with
        # the target merge already skipped) or duplicate them into the
        # queue (process→gated with the rows already applied).
        #
        # FAST PATH — the healthy steady state: when the queue is
        # provably EMPTY, gating is a no-op (no key can be queued, no
        # FK-parent can be errored) and the split collapses to the
        # validator alone, which is DETERMINISTIC in the batch.  Then:
        # no gating joins, no persist, no sidecar write — the failure
        # count rides the delta-write job as a second Observation, and
        # a crash-replay recomputes the identical split (the commit
        # line carries a ``split: inline`` marker so the replay can
        # tell this from an expired sidecar).  One Spark job per
        # healthy micro-batch, same as a plain sink.
        if not t_done:
            if self.transform is not None:
                changes = self.transform(changes)
            if self.dlq.known_empty():
                self._apply_inline_split(changes, batch_id, t0, q_done)
                return
            # persist the classified batch: the split produces THREE
            # actions over it (sidecar write, delta write, enqueue/
            # empty-check), and without the cache each re-executes the
            # full stateful-classify plan — measured 2.4× wall on a
            # clean stream.  O(batch) rows, MEMORY_AND_DISK, released
            # before the trigger ends.
            changes = changes.persist()
            to_enqueue = None
            try:
                process, to_enqueue = self._split_failures(changes)
                to_enqueue = to_enqueue.persist()
                self._apply(process, batch_id, t0, sidecar=to_enqueue)
                if not q_done:
                    # the frame we just persisted as the commit sidecar
                    # IS the split — no read-back needed on the normal
                    # path (the parquet round-trip is for replays only)
                    if to_enqueue.isEmpty():
                        # healthy batch, nothing diverted: close the
                        # queue ledger with a zero-job latch
                        self.dlq.table.mark_batch(f"sink-{batch_id}")
                    else:
                        self.dlq.enqueue(
                            to_enqueue, batch_id=f"sink-{batch_id}"
                        )
            finally:
                changes.unpersist()
                if to_enqueue is not None:
                    to_enqueue.unpersist()
        elif not q_done:
            # replay after a crash between target-commit and
            # queue-commit: re-enqueue the ORIGINAL persisted split
            persisted = self.target.read_sidecar_of_batch(batch_id)
            if persisted is not None:
                if persisted.isEmpty():
                    self.dlq.table.mark_batch(f"sink-{batch_id}")
                else:
                    self.dlq.enqueue(persisted, batch_id=f"sink-{batch_id}")
                return
            info = self.target.commit_info_of_batch(batch_id)
            if (info or {}).get("split") == "inline":
                # the original commit took the fast path: the split was
                # validator-only (queue empty, gating skipped) and is
                # deterministic in the replayed batch — recompute it
                if self.transform is not None:
                    changes = self.transform(changes)
                bad = self._validator_failures(changes)
                if bad.isEmpty():
                    self.dlq.table.mark_batch(f"sink-{batch_id}")
                else:
                    self.dlq.enqueue(bad, batch_id=f"sink-{batch_id}")
            else:
                # the split expired (vacuum retention / purge_columns
                # ran during the downtime): there is nothing left to
                # re-enqueue — latch the queue ledger closed, or this
                # branch re-runs on every future replay and the
                # two-ledger protocol never converges for this batch
                self.dlq.table.mark_batch(f"sink-{batch_id}")

    def _validator_ok(self, changes: DataFrame):
        """The exhaustive per-row verdict Column: NULL = "no opinion"
        = the event applies (see the NULL-tombstone note in
        ``_split_failures``)."""
        ok = (
            self.validator(changes) if self.validator is not None
            else F.lit(True)
        )
        return F.coalesce(ok, F.lit(True))

    def _validator_failures(self, changes: DataFrame) -> DataFrame:
        """The validator-only enqueue frame (no gating) — the fast
        path's split, recomputable deterministically on replay."""
        return (
            changes.where(~self._validator_ok(changes))
            .withColumn("offset", F.unix_micros(F.col("ts")))
            .withColumn("err", F.lit("validation failed"))
        )

    def _apply_inline_split(
        self, changes: DataFrame, batch_id: int, t0: float, q_done: bool
    ) -> None:
        """The empty-queue fast path: ONE Spark job for a healthy
        micro-batch.  The validator verdict splits the plan before the
        delta write; the failure count rides the same job as a second
        aggregate on the pre-filter frame; the commit line carries
        ``split: inline`` so a crash-replay knows the split is
        recomputable (deterministic — no queue state involved)."""
        ev = changes.withColumn("_ok", self._validator_ok(changes))
        obs = Observation(f"split_{batch_id}")
        ev = ev.observe(
            obs, F.sum((~F.col("_ok")).cast("long")).alias("bad")
        )
        process = ev.where(F.col("_ok")).drop("_ok")
        self._apply(
            process, batch_id, t0, commit_info={"split": "inline"}
        )
        if q_done:
            return
        # the failure count rides the delta write, which always runs
        # tasks on a local table.  Should the observation still be
        # missing, obs.get raises and the trigger fails with the commit
        # line already carrying ``split: inline``: the replay recomputes
        # the split (``__call__``'s committed-target branch)
        if (dict(obs.get).get("bad", 0) or 0) == 0:
            self.dlq.table.mark_batch(f"sink-{batch_id}")
        else:
            self.dlq.enqueue(
                self._validator_failures(changes), batch_id=f"sink-{batch_id}"
            )

    def _split_failures(self, changes: DataFrame):
        """Reference client loop (clients/__init__.py:913-1020): rows
        failing validation divert to the error queue with an error
        message; ``gate_incoming`` then diverts the valid rows whose
        key is already queued (per-key FIFO) or FK-parents a queued
        object (foreignkeys_policy).  Offsets = event-time micros (the
        last-writer order the classifier already enforces)."""
        # the split must be EXHAUSTIVE: a NULL verdict (any content
        # validator over a NULL column — which is every delete
        # tombstone, text IS NULL) is neither true nor ~true, so the
        # row would fall through BOTH branches and silently vanish —
        # neither applied nor enqueued (measured: a text validator
        # dropped every delete in the stream).  NULL = "no opinion" =
        # the event applies; a validator wanting strictness returns an
        # explicit false.  (_validator_ok coalesces the verdict.)
        ev = changes.withColumn(
            "offset", F.unix_micros(F.col("ts"))
        ).withColumn("_ok", self._validator_ok(changes))
        bad = ev.where(~F.col("_ok")).withColumn(
            "err", F.lit("validation failed")
        )
        process, gated = self.dlq.gate_incoming(ev.where(F.col("_ok")))
        to_enqueue = bad.unionByName(
            gated.withColumn("err", F.lit(None).cast("string"))
        ).drop("_ok")
        return process.drop("offset", "_ok"), to_enqueue

    def _apply(
        self,
        changes: DataFrame,
        batch_id: int,
        t0: float,
        sidecar: DataFrame | None = None,
        commit_info: dict | None = None,
    ) -> None:
        # mid-stream schema evolution: when a batch carries columns the
        # target doesn't know, publish a dataschema event AHEAD of the
        # data commit and evolve the target (reference
        # server/hermesserver.py:340-443 → clients/__init__.py:876-887).
        # Without this the MERGE would silently drop the new columns.
        known = {f.name for f in self.target.schema.fields}
        extra = [
            f for f in changes.schema.fields
            if f.name not in known and f.name != self.type_col
        ]
        if extra:
            # idempotent under replay-after-crash: once evolved, the
            # diff is empty and no duplicate event is published
            self.target.evolve(
                T.StructType(list(self.target.schema.fields) + extra)
            )
        obs = Observation(f"lineage_{batch_id}")
        aggs = [
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("op") == "insert").cast("long")).alias("inserts"),
            F.sum((F.col("op") == "update").cast("long")).alias("updates"),
            F.sum((F.col("op") == "delete").cast("long")).alias("deletes"),
        ]
        # per-objtype counters: static count_ifs per declared (type,
        # op) pair, riding the same single job — NOT a groupBy (that
        # would be a second aggregation/shuffle) and NOT collect_list
        # (that would ship O(rows) to the driver)
        ops = ("insert", "update", "delete")
        per_type = (
            self.type_names
            if self.type_col is not None
            and self.type_col in changes.columns
            else ()
        )
        for i, t in enumerate(per_type):
            for opname in ops:
                aggs.append(
                    F.sum(
                        (
                            (F.col(self.type_col) == t)
                            & (F.col("op") == opname)
                        ).cast("long")
                    ).alias(f"bt_{i}_{opname}")
                )
        observed = changes.observe(obs, *aggs)
        committed = self.target.merge(
            changes=observed, batch_id=batch_id, sidecar=sidecar,
            commit_info=commit_info,
        )
        if committed is not None:
            try:
                got = dict(obs.get)
            except Exception:
                # the metrics row never materialized: the write ran zero
                # tasks.  A micro-batch's delta write on a local table
                # always runs tasks (no test reaches this branch there);
                # an Iceberg MERGE that changed nothing may not, and its
                # commit is the string marker — every counter is zero.
                # An int commit ran a real write: swallowing its
                # observation failure would silently under-report
                # applied work in every metrics surface.
                if self._delta_is_empty(committed) is False:
                    raise
                got = {}
            info = {
                "rows": got.get("rows", 0) or 0,
                "inserts": got.get("inserts", 0) or 0,
                "updates": got.get("updates", 0) or 0,
                "deletes": got.get("deletes", 0) or 0,
                "wall_ms": int((time.monotonic() - t0) * 1000),
            }
            if per_type:
                by_type = {
                    t: {
                        f"{op}s": int(got.get(f"bt_{i}_{op}", 0) or 0)
                        for op in ops
                    }
                    for i, t in enumerate(per_type)
                }
                other = {
                    f"{op}s": int(info[f"{op}s"] or 0)
                    - sum(v[f"{op}s"] for v in by_type.values())
                    for op in ops
                }
                if any(other.values()):
                    by_type["other"] = other
                info["by_type"] = by_type
            self.target.annotate_commit(committed, info)

    # -- metrics surfaces ---------------------------------------------------

    def metrics(self) -> DataFrame:
        """Per-batch op counts + sink wall (from commit-log entries)."""
        rows = []
        for c in self.target._read_commits():
            info = c.get("info")
            if not info or c.get("batch_id") is None:
                continue
            for op in ("inserts", "updates", "deletes"):
                rows.append(
                    (
                        str(c["batch_id"]),
                        op.rstrip("s"),
                        int(info.get(op, 0)),
                        int(info.get("wall_ms", 0)),
                    )
                )
        return self.target.spark.createDataFrame(rows, METRICS_SCHEMA)

    def partition_lineage(self) -> DataFrame:
        """Per (batch, partition, op) row counts, derived from the delta
        snapshot files (one file set per committed batch) — the detailed
        lineage view, computed on demand instead of per trigger."""
        import os

        spark = self.target.spark
        parts = []
        for c in self.target._read_commits():
            if c.get("kind") != "delta" or c.get("batch_id") is None:
                continue
            path = self.target._version_dir(c["version"])
            if not os.path.isdir(path):
                # vacuumed by maintenance — per-partition detail exists
                # only for retained snapshots (aggregate counts survive
                # in the ledger via metrics())
                continue
            d = spark.read.schema(self.target.schema).parquet(path)
            parts.append(
                d.withColumn("partition_id", F.spark_partition_id())
                .groupBy("partition_id", "op")
                .agg(F.count(F.lit(1)).cast("long").alias("rows"))
                .withColumn("batch_id", F.lit(str(c["batch_id"])))
                .select("batch_id", "partition_id", "op", "rows")
            )
        if not parts:
            return spark.createDataFrame([], PARTITION_METRICS_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
