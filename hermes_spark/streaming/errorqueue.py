"""Dead-letter queue with per-key ordering, FK dependency blocking and
enqueue-time compaction — the reference's error-queue machinery
(/root/reference/clients/errorqueue.py) as table operations.

Model: failed change events land in a dead-letter table
(key..., offset, op, payload..., err, step, partially_processed,
enqueue_batch).  Retry passes drain it in dependency order:

  1. candidates = oldest event per key (W3, errorqueue.py:611-641)
     minus keys that are FK-parents of other errored keys
     (errorqueue.py:700-711);
  2. the caller's apply function processes candidates; successes are
     removed, failures stay with an updated error;
  3. repeat while progress is made (the reference's multi-pass drain,
     clients/__init__.py:741-753).

Enqueue-time autoremediation: events for a key already in the queue
are compacted with the queued ones (first/last-state truth table —
``compact_events`` — or the full field-level ``_mergeEvents`` fold,
errorqueue.py:187-417).  Keys holding a partially-processed event are
never compacted (the reference refuses to merge them,
errorqueue.py:437-460), and the newest error text + step survive the
fold (errorqueue.py:463-501 keeps and updates them per retry).

Enqueue-time FK policy (``foreignkeys_policy``, reference
clients/__init__.py:133-141, applied at :1020 and :1153): an incoming
event is diverted to the queue up-front when (a) its own key already
has queued events (per-key FIFO), or (b) its object is the FK-parent
of an object already in the queue AND its op is in the policy set —
``disabled`` (never), ``on_remove_event`` (deletes only),
``on_every_event`` (all ops).  ``gate_incoming`` splits a batch
accordingly.

Scale: all queue writes are MERGE *deltas* keyed on (key..., offset) —
O(affected keys) per enqueue/resolve, never an O(queue) rewrite.  The
table's own ``op`` column is the *event* op, so the MERGE names a
separate ``_qop`` channel for upsert/delete-row semantics.  Each delta
records that channel in its commit line, and the table's liveness rule
prefers a recorded channel over the in-schema ``op``: a plain
``table.read()``, ``compact()`` or ``compact_deltas()`` keeps queued
``delete`` events.  Read amplification is bounded out-of-band via
``maintain()``.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hermes_spark.operators.compaction import compact_events
from hermes_spark.operators.ordering import unblocked_retry_candidates
from hermes_spark.tables import ParquetMergeTable

# policy name → ops diverted to the queue when the object is an
# FK-parent of an errored object (both reference and CDC vocabularies)
FOREIGNKEYS_POLICIES: dict[str, tuple[str, ...]] = {
    "disabled": (),
    "on_remove_event": ("removed", "delete"),
    "on_every_event": (
        "added", "modified", "removed", "insert", "update", "delete"
    ),
}


class DeadLetterQueue:
    def __init__(
        self,
        spark,
        path: str,
        key: Sequence[str],
        payload_schema: T.StructType,
        fk_map: Sequence[tuple[str, str]] | None = None,
        foreignkeys_policy: str = "disabled",
    ) -> None:
        if foreignkeys_policy not in FOREIGNKEYS_POLICIES:
            raise ValueError(
                f"unknown foreignkeys_policy {foreignkeys_policy!r}; "
                f"one of {sorted(FOREIGNKEYS_POLICIES)}"
            )
        self.key = list(key)
        self.fk_map = list(fk_map or [])
        self.foreignkeys_policy = foreignkeys_policy
        fields = (
            list(payload_schema.fields)
            + [
                T.StructField("offset", T.LongType(), False),
                T.StructField("op", T.StringType(), False),
                T.StructField("err", T.StringType(), True),
                T.StructField("step", T.IntegerType(), True),
                T.StructField("partially_processed", T.BooleanType(), True),
            ]
        )
        # compaction of the queue table itself is out-of-band
        # (maintain()) — enqueue/resolve stay O(affected)
        self.table = ParquetMergeTable(
            spark, path, key=self.key + ["offset"],
            schema=T.StructType(fields), compact_every=None,
        )
        self.spark = spark
        # driver-side emptiness hint (None = unknown).  The healthy
        # steady state of a stream is an EMPTY queue, and per-key FIFO
        # gating against an empty queue is a provable no-op — the sink
        # uses this hint to skip the whole gating plan (reference: the
        # client only consults its error queue when it has entries,
        # clients/__init__.py:1020).  Never wrongly True: rows enter
        # only through enqueue(), which latches it False; True comes
        # only from a never-written table, a measured empty read, or a
        # drain that returned zero rows.
        self._empty_hint: bool | None = None

    def known_empty(self) -> bool:
        """True iff the queue is provably empty right now.  Zero Spark
        jobs for a never-written queue; one cached isEmpty() probe the
        first time an existing queue is opened."""
        if self._empty_hint is None:
            if not self.table._read_commits():
                self._empty_hint = True
            else:
                self._empty_hint = self.read().isEmpty()
        return self._empty_hint

    @property
    def _fields(self) -> list[str]:
        return [f.name for f in self.table.schema.fields]

    def _conform(self, df: DataFrame) -> DataFrame:
        """Fill optional metadata columns absent from the caller's
        frame (err/step/partially_processed are part of the queue
        schema but not every producer carries them)."""
        for f in self.table.schema.fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return df.select(*self._fields)

    def _deletes_for(self, rows: DataFrame) -> DataFrame:
        """Null-padded delete rows for the given (key..., offset)s —
        the MERGE-channel tombstones that remove queue entries."""
        out = rows.select(*self.key, "offset")
        for f in self.table.schema.fields:
            if f.name not in (*self.key, "offset"):
                out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
        return out.select(*self._fields).withColumn("_qop", F.lit("delete"))

    def read(self) -> DataFrame:
        # the queue's own `op` is the EVENT op; row liveness rides the
        # out-of-schema `_qop` channel each delta records, which the
        # table's liveness rule prefers
        return self.table.read()

    def maintain(self) -> None:
        """Out-of-band queue compaction (fold deltas into a base) plus
        snapshot GC.  An ``overwrite`` of the repartitioned read rather
        than ``table.compact()``: both keep queued delete-events, but
        the queue is O(#failing keys), so its base is ONE file, not
        one per plan partition of the fold."""
        self.table.overwrite(self.read().repartition(1))
        self.table.vacuum(retain_superseded=1)

    # -- enqueue-time FK policy ----------------------------------------

    def gate_incoming(
        self, events: DataFrame, op_col: str = "op", order_col: str = "offset"
    ) -> tuple[DataFrame, DataFrame]:
        """Split an incoming event batch into (process_now, enqueue).

        An event is diverted to the queue when its key already has
        queued events (per-key FIFO — processing it would reorder), or
        when its object is the FK-parent of an errored object and its
        op is in the ``foreignkeys_policy`` set (reference
        clients/__init__.py:133-141, :1020, :1153).  Order-faithful
        within the batch: from a key's FIRST diverted event onward,
        all its later events divert too (in the reference they would
        find the key queued); earlier ones process normally."""
        cur = self.read()
        neg_inf = F.lit(-(1 << 62)).cast("long")
        # per-key gate threshold = offset of the first diverted event
        thr = (
            events.join(cur.select(*self.key).distinct(), self.key, "left_semi")
            .select(*self.key)
            .distinct()
            .withColumn("_thr", neg_inf)  # key already queued: gate all
        )
        kinds = FOREIGNKEYS_POLICIES[self.foreignkeys_policy]
        if kinds and self.fk_map:
            refs = cur.select(
                *[F.col(c).alias(f"__q_{c}") for _p, c in self.fk_map]
            ).distinct()
            cond = [
                F.col(p).eqNullSafe(F.col(f"__q_{c}")) for p, c in self.fk_map
            ]
            parent_hits = (
                events.where(F.col(op_col).isin(list(kinds)))
                .join(refs, cond, "left_semi")
                .groupBy(*self.key)
                .agg(F.min(order_col).cast("long").alias("_thr"))
            )
            thr = thr.unionByName(parent_hits)
        thr = thr.groupBy(*self.key).agg(F.min("_thr").alias("_thr"))
        ev = events.join(thr, self.key, "left")
        gate = F.col("_thr").isNotNull() & (
            F.col(order_col).cast("long") >= F.col("_thr")
        )
        enqueue = ev.where(gate).drop("_thr")
        process = ev.where(~F.coalesce(gate, F.lit(False))).drop("_thr")
        return process, enqueue

    # -- writes (all MERGE deltas, O(affected)) -------------------------

    def enqueue(
        self,
        failed: DataFrame,
        autoremediate: bool = True,
        field_level: bool = False,
        prior: DataFrame | None = None,
        batch_id: int | str | None = None,
    ) -> None:
        """Append failed events; when a key already has queued events,
        compact the key's whole run to one effective event.

        ``field_level=True`` applies the reference's FULL ``_mergeEvents``
        semantics (errorqueue.py:187-417) instead of the op truth table:
        the payload schema must carry the four map columns
        (attrs, added, modified, removed), and ``prior`` (key → cached
        flat attrs map) finalizes removed+added runs into modified-diff
        events exactly like the reference reads its cache.  Keys with a
        partially-processed event pass through uncompacted
        (errorqueue.py:437-460), and the newest error text + step
        survive the fold (errorqueue.py:463-501)."""
        fields = self._fields
        failed = self._conform(failed)
        fkeys = failed.select(*self.key).distinct()
        affected = self.read().join(fkeys, self.key, "left_semi")

        if not autoremediate:
            self.table.merge(
                failed.withColumn("_qop", F.lit("put")).repartition(1),
                batch_id=batch_id, op_col="_qop",
            )
            self._empty_hint = False
            return

        merged = affected.unionByName(failed)
        if field_level:
            from hermes_spark.operators.eventmerge import compact_events_map

            pp = F.coalesce(F.col("partially_processed"), F.lit(False))
            pp_keys = merged.where(pp).select(*self.key).distinct()
            passthrough = merged.join(pp_keys, self.key, "left_semi")
            foldable = merged.join(pp_keys, self.key, "left_anti")
            # accept CDC op vocabulary too (insert/update/delete)
            tr = foldable.withColumn(
                "op",
                F.when(F.col("op") == "insert", F.lit("added"))
                .when(F.col("op") == "update", F.lit("modified"))
                .when(F.col("op") == "delete", F.lit("removed"))
                .otherwise(F.col("op")),
            )
            folded = compact_events_map(
                tr, self.key, offset_col="offset", prior=prior
            )
            # newest NON-NULL error text + step survive the fold
            # (gated events carry err=NULL, step=NULL — they must not
            # wipe the retry metadata; reference errorqueue.py:463-501)
            meta = foldable.groupBy(*self.key).agg(
                F.max_by(
                    "err",
                    F.when(F.col("err").isNotNull(), F.col("offset")),
                ).alias("err"),
                F.max_by(
                    "step",
                    F.when(F.col("step").isNotNull(), F.col("offset")),
                ).alias("step"),
            )
            new_rows = (
                folded.join(meta, self.key, "left")
                .withColumn("partially_processed", F.lit(False))
                .select(*fields)
                .unionByName(passthrough.select(*fields))
            )
        else:
            payload_cols = [
                c for c in fields if c not in (*self.key, "offset", "op")
            ]
            compacted = compact_events(
                merged,
                self.key,
                op_col="op",
                offset_col="offset",
                payload_cols=payload_cols,
                partially_processed_col="partially_processed",
            )
            # the newest NON-NULL error text + step survive the fold
            # (reference errorqueue.py:463-501 keeps and updates them
            # per retry) — compact_events's plain max_by would take the
            # literally-last event's values, and gated events enqueue
            # with err=NULL, wiping the message.  Keys holding a
            # partially-processed event pass through compact_events
            # row-by-row and keep their per-row err/step.
            meta = merged.groupBy(*self.key).agg(
                F.max_by(
                    "err", F.when(F.col("err").isNotNull(), F.col("offset"))
                ).alias("_m_err"),
                F.max_by(
                    "step", F.when(F.col("step").isNotNull(), F.col("offset"))
                ).alias("_m_step"),
                F.max(
                    F.coalesce(F.col("partially_processed"), F.lit(False))
                ).alias("_m_pp"),
            )
            new_rows = (
                compacted.join(meta, self.key, "left")
                .withColumn(
                    "err",
                    F.when(F.col("_m_pp"), F.col("err")).otherwise(F.col("_m_err")),
                )
                .withColumn(
                    "step",
                    F.when(F.col("_m_pp"), F.col("step")).otherwise(F.col("_m_step")),
                )
                .select(*fields)
            )

        # MERGE delta: upsert the surviving rows, tombstone the affected
        # queue rows whose (key, offset) did not survive the compaction
        dead = affected.join(
            new_rows.select(*self.key, "offset"),
            [*self.key, "offset"],
            "left_anti",
        )
        changes = new_rows.withColumn("_qop", F.lit("put")).unionByName(
            self._deletes_for(dead)
        )
        # one file per queue delta: the queue is O(#failing keys) by the
        # compaction contract above, but an un-repartitioned write emits
        # one file per PLAN partition — a tiny-file explosion that makes
        # queue disk usage grow with shuffle width, not queue size.
        # repartition (not coalesce) keeps the fold itself parallel.
        self.table.merge(
            changes.repartition(1), batch_id=batch_id, op_col="_qop"
        )
        self._empty_hint = False

    def retry_candidates(self) -> DataFrame:
        return unblocked_retry_candidates(
            self.read(), self.key, parent_key_of=self.fk_map or None,
            order_col="offset",
        )

    def resolve(
        self, succeeded_keys: DataFrame, batch_id: int | str | None = None
    ) -> None:
        """Remove events whose key succeeded — one MERGE delta of
        tombstones, O(affected)."""
        gone = self.read().join(succeeded_keys, self.key, "left_semi")
        self.table.merge(
            self._deletes_for(gone).repartition(1),
            batch_id=batch_id, op_col="_qop",
        )
        self._empty_hint = None  # only removed rows — may now be empty

    def drain(
        self,
        apply_fn: Callable[[DataFrame], DataFrame],
        max_passes: int = 10,
    ) -> int:
        """Multi-pass dependency-ordered drain: each pass retries the
        unblocked head of every key; ``apply_fn`` returns the key rows
        that succeeded.  Stops when a pass makes no progress (which
        also covers the empty queue) — ONE action per pass.  Returns
        rows remaining."""
        for _ in range(max_passes):
            cands = self.retry_candidates()
            ok = apply_fn(cands).select(*self.key).distinct()
            if ok.count() == 0:
                break
            self.resolve(ok)
        left = self.read().count()
        self._empty_hint = left == 0
        return left
