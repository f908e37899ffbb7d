"""DLQ growth under PERSISTENT failure — the adversarial shape the
operations soak (transient failures that heal) does not cover.

The reference's autoremediation contract (errorqueue truth table,
/root/reference/clients/errorqueue.py:184-501) implies two bounds for
a key that keeps failing forever:

  1. queue size stays O(#failing keys) — every new event for a queued
     key is compacted with the queued run at enqueue time, so retries
     and fresh events must NOT accumulate rows;
  2. disk stays bounded — queue deltas fold away under ``maintain()``
     regardless of how many enqueue/drain cycles have happened.

Both are properties over arbitrary interleavings, so they get a
hypothesis layer (random per-key op sequences, drain passes that always
fail, maintenance at random points) plus one end-to-end pipeline run
with a persistently poisoned key under ``retry_every``/``maintain_every``.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hermes_spark.streaming.errorqueue import DeadLetterQueue
from hermes_spark.tables import scratch_dir

PAYLOAD = T.StructType(
    [
        T.StructField("k", T.IntegerType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)

# one batch of failed events: ≤3 keys, one event per key (MERGE contract)
fail_batch = st.lists(
    st.tuples(st.integers(0, 3), st.sampled_from(["insert", "update", "delete"])),
    min_size=1,
    max_size=3,
    unique_by=lambda kv: kv[0],
)
action = st.one_of(
    st.tuples(st.just("enqueue"), fail_batch),
    st.tuples(st.just("drain_fail"), st.just(None)),
    st.tuples(st.just("maintain"), st.just(None)),
)


def _queue_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(actions=st.lists(action, min_size=4, max_size=10))
def test_persistent_failure_queue_and_disk_bounded(spark, actions):
    work = scratch_dir("dlqgrowth")
    dlq = DeadLetterQueue(spark, work, key=["k"], payload_schema=PAYLOAD)

    total_enqueued = 0
    failing_keys: set[int] = set()
    offset = 0
    drains = 0
    # delta commits since the last maintain: vacuum(retain_superseded=1)
    # keeps the whole PREVIOUS generation (its base + these deltas) for
    # concurrently-planned readers, so the honest disk bound after a
    # maintain is  new base (1 file) + old base (1) + deltas_since —
    # constant in TOTAL history, linear only in traffic since the last
    # maintenance cycle
    deltas_since = 0

    for kind, arg in actions:
        if kind == "enqueue":
            rows = []
            for k, op in arg:
                rows.append((k, f"v{offset}", offset, op, f"boom @{offset}", 1, False))
                failing_keys.add(k)
                offset += 1
            df = spark.createDataFrame(
                rows, "k int, v string, offset long, op string, err string, "
                "step int, partially_processed boolean",
            )
            dlq.enqueue(df, autoremediate=True)
            total_enqueued += len(rows)
            deltas_since += 1
        elif kind == "drain_fail":
            drains += 1
            tag = drains
            if not dlq.read().isEmpty():
                deltas_since += 1  # the re-enqueue of the failed pass

            # the persistent failure: every candidate fails again; the
            # operational loop re-enqueues them with the fresh error
            # (the pipeline's retry_queue keeps failures with updated err)
            def all_fail(cands):
                failed = cands.withColumn("err", F.format_string("retry %d failed", F.lit(tag)))
                if not failed.isEmpty():
                    dlq.enqueue(failed.select(*[f.name for f in dlq.table.schema.fields]))
                return cands.limit(0)  # nothing succeeded

            dlq.drain(all_fail, max_passes=2)
        else:
            dlq.maintain()
            # disk bound: after maintenance the queue's physical file
            # count is a small constant plus the retained previous
            # generation (one base + the deltas since the previous
            # maintain) — independent of TOTAL history
            bound = 4 + deltas_since
            assert _queue_files(work) <= bound, (
                f"queue dir grew to {_queue_files(work)} files after "
                f"maintain (bound {bound})"
            )
            deltas_since = 0

        # growth bound: with no partially-processed rows, enqueue-time
        # compaction folds every key to AT MOST ONE queue row — queue
        # size is O(#failing keys), never O(#events) or O(#retries).
        # (insert→delete runs annihilate, so ≤ is the invariant.)
        rows_now = dlq.read().count()
        assert rows_now <= len(failing_keys), (
            f"queue holds {rows_now} rows for {len(failing_keys)} failing keys"
        )

    # compaction must actually have engaged whenever a key saw more
    # than one event (total enqueued strictly above final rows)
    if total_enqueued > len(failing_keys):
        assert dlq.read().count() < total_enqueued

    # the newest non-null error text survives every fold
    if drains and not dlq.read().isEmpty():
        errs = {r.err for r in dlq.read().select("err").collect()}
        assert all(e is not None for e in errs)

    # quiescence: two consecutive maintains with no traffic collapse the
    # footprint to the O(1) floor (new base + retained previous base),
    # whatever the interleaving history was
    dlq.maintain()
    dlq.maintain()
    assert _queue_files(work) <= 4, (
        f"quiescent queue still holds {_queue_files(work)} files"
    )


def test_pipeline_persistent_poison_key_stays_bounded(spark, tmp_work):
    """End-to-end: a conv that NEVER validates receives an update every
    batch for 6 batches under retry_every=1 + maintain_every=2.  The
    queue must hold exactly ONE compacted row for the poisoned conv at
    the end, the target must never contain a poisoned text, the stream
    stays green throughout, and the queue's on-disk footprint stays
    bounded."""
    from hermes_spark.schema import TRANSCRIPT_SCHEMA
    from hermes_spark.streaming.pipeline import CdcPipeline

    src = f"{tmp_work}/src"

    def write(rows):
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    t0 = dt.datetime(2026, 1, 1)
    for b in range(6):
        write(
            [
                ("poison", 0, "user", f"POISON v{b}", None, t0 + dt.timedelta(hours=b)),
                (f"ok{b}", 0, "user", f"fine {b}", None, t0 + dt.timedelta(hours=b, minutes=1)),
            ]
        )

    pipe = CdcPipeline(
        spark, src, f"{tmp_work}/run", max_files_per_trigger=1,
        validator=lambda df: ~F.col("text").contains("POISON"),
        retry_every=1, maintain_every=2,
    )
    pipe.run_available()

    queued = pipe.dlq.read().collect()
    assert len(queued) == 1 and queued[0].conv_id == "poison"
    # the compacted row carries the NEWEST event's payload
    assert queued[0].text == "POISON v5"

    target = {(r.conv_id, r.turn_idx): r.text for r in pipe.target_live().collect()}
    assert ("poison", 0) not in target
    assert all(target[(f"ok{b}", 0)] == f"fine {b}" for b in range(6))

    # disk bound on the queue table after in-stream maintenance
    qfiles = _queue_files(f"{tmp_work}/run/dlq")
    assert qfiles <= 12, f"queue dir holds {qfiles} parquet files"
