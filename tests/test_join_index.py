"""Join-mode CDC bucket-partitioned target: file-level pruning of the
per-batch state fold, hash-distributed delta writes (no tiny-file
explosion), and flat per-batch wall with out-of-band maintenance
(round-2 verdict items #1/#3)."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from hermes_spark.schema import TRANSCRIPT_SCHEMA
from hermes_spark.streaming.cdc_join import (
    JOIN_TARGET_SCHEMA,
    KEY,
    JoinCdcSink,
    bucket_of,
)
from hermes_spark.tables import ParquetMergeTable

N_BUCKETS = 8


def _mk(spark, tmp_work):
    target = ParquetMergeTable(
        spark, f"{tmp_work}/target", key=KEY, schema=JOIN_TARGET_SCHEMA,
        tombstone_mode="retain", compact_every=None, partition_by=["_bucket"],
    )
    return target, JoinCdcSink(target, N_BUCKETS)


def _batch(spark, rows):
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def _rows(conv, n, tag, t0="2026-01-01 00:00:00"):
    import datetime as dt
    base = dt.datetime.fromisoformat(t0)
    return [
        (conv, i, "user", f"{tag}-{conv}-{i}", None,
         base + dt.timedelta(seconds=i))
        for i in range(n)
    ]


def test_state_fold_prunes_partitions_and_columns(spark, tmp_work):
    """The per-batch state read must carry a PartitionFilter on _bucket
    (file pruning) and never decode the wide payload columns."""
    target, sink = _mk(spark, tmp_work)
    sink(_batch(spark, _rows("conv-a", 5, "v1") + _rows("conv-b", 5, "v1")), 0)
    pruned = target.read(
        columns=["conv_id", "turn_idx", "op", "ts", "cks64"],
        partition_filter=F.col("_bucket").isin([0, 1]),
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    part_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part_lines, plan
    assert any("_bucket" in ln for ln in part_lines), plan
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            assert "text" not in ln and "role" not in ln, ln


def test_hash_distributed_writes_bound_file_count(spark, tmp_work):
    """Each delta snapshot must hold ~1 parquet file per touched bucket
    (Iceberg write.distribution-mode=hash), not one per task — tiny
    files are the merge-on-read footer-parsing killer."""
    target, sink = _mk(spark, tmp_work)
    rows = []
    for c in range(24):
        rows += _rows(f"conv-{c}", 4, "v1")
    sink(_batch(spark, rows).repartition(16), 0)  # many input tasks
    vdir = target._version_dir(1)
    n_files = sum(
        1
        for root, _d, files in os.walk(vdir)
        for f in files
        if f.endswith(".parquet")
    )
    assert n_files <= N_BUCKETS, n_files


def test_bucket_of_matches_written_partitions(spark, tmp_work):
    """The _bucket column the classifier computes must be the bucket
    the row is physically stored under (pruning correctness)."""
    target, sink = _mk(spark, tmp_work)
    sink(_batch(spark, _rows("x", 3, "v1") + _rows("y", 3, "v1")), 0)
    got = {
        (r.conv_id, r._bucket)
        for r in target.read().select("conv_id", "_bucket").collect()
    }
    want = {
        (r.conv_id, r.b)
        for r in spark.createDataFrame([("x",), ("y",)], "conv_id string")
        .select("conv_id", bucket_of(F.col("conv_id"), N_BUCKETS).alias("b"))
        .collect()
    }
    assert got == want


def test_join_mode_flat_wall_with_growing_table(spark, tmp_work):
    """Per-batch sink wall must stay flat as the table grows, with
    compaction strictly out-of-band (maintain()-style) — the round-2
    'full-table rewrite inside foreachBatch' regression."""
    target, sink = _mk(spark, tmp_work)

    def block(start, n):
        t0 = time.monotonic()
        for i in range(start, start + n):
            sink(_batch(spark, _rows(f"conv-{i}", 6, "v1")), i)
        return time.monotonic() - t0

    first = block(0, 8)
    target.compact()                         # out-of-band
    block(8, 8)
    target.compact()
    last = block(16, 8)

    assert target.read().count() == 24 * 6
    # no base commits carrying batch ids → compaction never ran in-band
    in_band = [
        c for c in target._read_commits()
        if c["kind"] == "base" and c.get("batch_id") is not None
    ]
    assert not in_band
    assert last < 3 * first + 1.0, (first, last)


def test_join_mode_resume_with_midstream_maintenance(spark, tmp_work):
    """Join-mode kill-and-resume with an out-of-band compaction run
    between the two halves must equal an uninterrupted run (the
    stateful mode's S10/S11 gate, for this mode + maintain())."""
    import os

    from hermes_spark.streaming.cdc_join import JoinCdcPipeline

    halves = [
        _rows("c1", 6, "v1") + _rows("c2", 6, "v1"),
        _rows("c1", 3, "v2", t0="2026-01-02 00:00:00")  # updates
        + _rows("c3", 6, "v1"),
    ]

    def write(src, rows):
        _batch(spark, rows).coalesce(1).write.mode("append").parquet(src)

    src_a = os.path.join(tmp_work, "src_a")
    for h in halves:
        write(src_a, h)
    full = JoinCdcPipeline(spark, src_a, os.path.join(tmp_work, "full"),
                           max_files_per_trigger=1)
    full.run_available()

    src_b = os.path.join(tmp_work, "src_b")
    write(src_b, halves[0])
    p1 = JoinCdcPipeline(spark, src_b, os.path.join(tmp_work, "res"),
                         max_files_per_trigger=1)
    p1.run_available()          # the "kill" after half 1
    p1.maintain()               # out-of-band compaction while down
    write(src_b, halves[1])
    p2 = JoinCdcPipeline(spark, src_b, os.path.join(tmp_work, "res"),
                         max_files_per_trigger=1)
    p2.run_available()          # same checkpoint → resumes

    cols = ["conv_id", "turn_idx", "op", "text", "cksum"]
    a = full.target_live().select(*cols)
    b = p2.target_live().select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert b.where("conv_id = 'c1' and op = 'update'").count() == 3


def test_adaptive_pruning_equivalence_and_switch(spark, tmp_work):
    """Dense batches must flip the sink into all-bucket (single-job)
    mode; sparse batches flip it back — and both regimes produce the
    identical target state."""
    # forced-prune sink vs adaptive sink over the same batches
    t_a = ParquetMergeTable(
        spark, f"{tmp_work}/ta", key=KEY, schema=JOIN_TARGET_SCHEMA,
        tombstone_mode="retain", compact_every=None, partition_by=["_bucket"],
    )
    t_b = ParquetMergeTable(
        spark, f"{tmp_work}/tb", key=KEY, schema=JOIN_TARGET_SCHEMA,
        tombstone_mode="retain", compact_every=None, partition_by=["_bucket"],
    )
    always_prune = JoinCdcSink(t_a, N_BUCKETS)
    always_prune.PRUNE_THRESHOLD = 2.0
    adaptive = JoinCdcSink(t_b, N_BUCKETS)
    assert adaptive.PRUNE_THRESHOLD == 0.5

    # batch 0: dense (many convs → touches ~all buckets)
    dense = []
    for c in range(24):
        dense += _rows(f"conv-{c}", 3, "v1")
    # batch 1: updates + a delete, still dense
    dense2 = []
    for c in range(24):
        dense2 += _rows(f"conv-{c}", 2, "v2", t0="2026-01-02 00:00:00")
    # batch 2: sparse (one conv)
    sparse = _rows("conv-3", 2, "v3", t0="2026-01-03 00:00:00")

    for i, rows in enumerate([dense, dense2, sparse]):
        always_prune(_batch(spark, rows), i)
        adaptive(_batch(spark, rows), i)

    # regime switching actually happened: after the dense batch the
    # adaptive sink knows ~all buckets were touched (skips the collect),
    # after the sparse batch it knows few were
    assert adaptive._last_touched is not None
    assert adaptive._last_touched < 0.5 * N_BUCKETS  # sparse batch last
    assert always_prune._last_touched == adaptive._last_touched

    a = sorted(
        (r.conv_id, r.turn_idx, r.op, r.text, r.cks64)
        for r in t_a.read().collect()
    )
    b = sorted(
        (r.conv_id, r.turn_idx, r.op, r.text, r.cks64)
        for r in t_b.read().collect()
    )
    assert a == b and len(a) > 0


def test_adaptive_pruning_property(spark, tmp_work):
    """Hypothesis: ANY batch sequence produces identical target state
    under forced pruning, adaptive pruning, and never-pruning — the
    density heuristic is a pure performance knob."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    counter = {"n": 0}

    @settings(
        max_examples=4, deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow, HealthCheck.function_scoped_fixture,
        ],
    )
    @given(
        batches=st.lists(
            st.lists(
                st.tuples(
                    st.integers(0, 9),        # conv
                    st.integers(0, 3),        # turn
                    st.sampled_from(["a", "b", None]),  # text (None=tombstone)
                    st.integers(0, 5),        # ts offset (seconds)
                ),
                min_size=1, max_size=5,
            ),
            min_size=1, max_size=3,
        )
    )
    def check(batches):
        import datetime as dt

        counter["n"] += 1
        base = dt.datetime(2026, 1, 1)
        sinks = {}
        for mode, thr in [("force", 2.0), ("adaptive", 0.5), ("never", 0.0)]:
            t = ParquetMergeTable(
                spark, f"{tmp_work}/p{counter['n']}_{mode}", key=KEY,
                schema=JOIN_TARGET_SCHEMA, tombstone_mode="retain",
                compact_every=None, partition_by=["_bucket"],
            )
            sink = JoinCdcSink(t, 4)
            sink.PRUNE_THRESHOLD = thr
            sinks[mode] = (t, sink)
        for i, rows in enumerate(batches):
            data = [
                (f"c{c}", ti, "u", tx, None, base + dt.timedelta(seconds=s))
                for c, ti, tx, s in rows
            ]
            df = _batch(spark, data)
            for _t, s in sinks.values():
                s(df, i)
        states = {
            mode: sorted(
                (r.conv_id, r.turn_idx, r.op, r.text, r.cks64)
                for r in t.read().collect()
            )
            for mode, (t, _s) in sinks.items()
        }
        assert states["force"] == states["adaptive"] == states["never"]

    check()


# -- operational parity: validator + scheduled drain on join mode --------


def test_join_mode_transient_failure_heals_via_drain(spark, tmp_work):
    """The reference client loop (validate → divert → scheduled retry)
    must behave identically on the JVM-only classifier: a poisoned row
    diverts, its later healing update gates into the queue (per-key
    FIFO), and the scheduled drain applies it — final state equals the
    stateful-mode pipeline under the same config."""
    import datetime as dt

    from pyspark.sql import functions as F

    from hermes_spark.schema import TRANSCRIPT_SCHEMA
    from hermes_spark.streaming.cdc_join import JoinCdcPipeline
    from hermes_spark.streaming.pipeline import CdcPipeline

    t0 = dt.datetime.fromisoformat("2026-01-01 00:00:00")

    def row(conv, idx, text, minutes):
        return (conv, idx, "user", text, None, t0 + dt.timedelta(minutes=minutes))

    b0 = [row("a", 0, "hello", 0), row("b", 0, "POISON v1", 1)]
    b1 = [row("b", 0, "fixed v2", 60), row("c", 0, "new conv", 61),
          row("a", 0, None, 62)]  # tombstone: NULL-verdict path too
    for src in ("sj", "ss"):
        for b in (b0, b1):
            spark.createDataFrame(b, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(f"{tmp_work}/{src}")
    VAL = lambda df: ~F.col("text").contains("POISON")  # noqa: E731
    jp = JoinCdcPipeline(
        spark, f"{tmp_work}/sj", f"{tmp_work}/jrun",
        max_files_per_trigger=1, n_buckets=8,
        validator=VAL, retry_every=1, maintain_every=2,
    )
    jp.run_available()
    sp = CdcPipeline(
        spark, f"{tmp_work}/ss", f"{tmp_work}/srun",
        max_files_per_trigger=1, validator=VAL, retry_every=1,
    )
    sp.run_available()
    got = {
        (r.conv_id, r.turn_idx): r.text for r in jp.target_live().collect()
    }
    want = {
        (r.conv_id, r.turn_idx): r.text for r in sp.target_live().collect()
    }
    assert got == want == {("b", 0): "fixed v2", ("c", 0): "new conv"}
    assert jp.dlq.read().count() == 0
    # drain merges carry lineage through the shared sink
    ops = {
        r.op
        for r in jp.sink.inner.metrics().select("op").distinct().collect()
    }
    assert "insert" in ops


def test_join_mode_replay_after_sink_is_still_noop(spark, tmp_work):
    """The inner exactly-once sink must preserve join-mode replay
    idempotency (two-ledger when a DLQ is attached)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from hermes_spark.schema import TRANSCRIPT_SCHEMA
    from hermes_spark.streaming.cdc_join import JoinCdcPipeline

    t0 = dt.datetime.fromisoformat("2026-01-01 00:00:00")
    rows = [("a", i, "user", f"t{i}", None, t0) for i in range(5)]
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(f"{tmp_work}/src")
    jp = JoinCdcPipeline(
        spark, f"{tmp_work}/src", f"{tmp_work}/run",
        validator=lambda df: F.lit(True), retry_every=None,
    )
    jp.run_available()
    before = jp.target_live().count()
    v_before = jp.target.current_version()
    # replay batch 0 manually through the sink
    jp.sink(spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), 0)
    assert jp.target.current_version() == v_before
    assert jp.target_live().count() == before


def test_join_mode_dlq_kill_resume_equals_uninterrupted(spark, tmp_work):
    """Kill/resume with the operational surface ON (validator + drain):
    the resumed join-mode run must equal an uninterrupted one — the
    two-ledger protocol through the inner sink survives the restart."""
    import datetime as dt

    from pyspark.sql import functions as F

    from hermes_spark.schema import TRANSCRIPT_SCHEMA
    from hermes_spark.streaming.cdc_join import JoinCdcPipeline

    t0 = dt.datetime.fromisoformat("2026-01-01 00:00:00")

    def row(conv, idx, text, minutes):
        return (conv, idx, "user", text, None, t0 + dt.timedelta(minutes=minutes))

    batches = [
        [row("a", 0, "a0", 0), row("b", 0, "POISON", 1)],
        [row("a", 1, "a1", 60), row("c", 0, "c0", 61)],
        [row("b", 0, "healed", 120), row("a", 0, None, 121)],  # heal + tombstone
        [row("d", 0, "d0", 180)],
    ]
    VAL = lambda df: ~F.col("text").contains("POISON")  # noqa: E731
    kw = dict(max_files_per_trigger=1, n_buckets=8, validator=VAL, retry_every=1)

    src_u = f"{tmp_work}/src_u"
    for b in batches:
        spark.createDataFrame(b, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src_u)
    ref = JoinCdcPipeline(spark, src_u, f"{tmp_work}/uninterrupted", **kw)
    ref.run_available()

    src_k = f"{tmp_work}/src_k"
    for b in batches[:2]:
        spark.createDataFrame(b, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src_k)
    p1 = JoinCdcPipeline(spark, src_k, f"{tmp_work}/resumed", **kw)
    p1.run_available()  # the "kill"
    p1.maintain()       # mid-downtime maintenance
    for b in batches[2:]:
        spark.createDataFrame(b, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src_k)
    p2 = JoinCdcPipeline(spark, src_k, f"{tmp_work}/resumed", **kw)
    p2.run_available()

    a = {(r.conv_id, r.turn_idx): r.text for r in ref.target_live().collect()}
    b = {(r.conv_id, r.turn_idx): r.text for r in p2.target_live().collect()}
    assert a == b
    assert ("a", 0) not in b            # tombstone applied
    assert b[("b", 0)] == "healed"      # drain healed across the kill
    assert p2.dlq.read().count() == 0 and ref.dlq.read().count() == 0


def test_join_mode_crash_between_ledgers_reenqueues_split(spark, tmp_work):
    """The t_done-without-q_done window on the JOIN classifier: a crash
    between the target commit and the queue commit must, on replay,
    re-enqueue the PERSISTED split (not skip it, not recompute it) —
    the fall-through path the fast replay return must never swallow."""
    import datetime as dt

    from pyspark.sql import functions as F

    from hermes_spark.schema import TRANSCRIPT_SCHEMA
    from hermes_spark.streaming.cdc_join import JoinCdcPipeline

    t0 = dt.datetime.fromisoformat("2026-01-01 00:00:00")
    rows = [
        ("a", 0, "user", "ok", None, t0),
        ("b", 0, "user", "POISON", None, t0),
    ]
    src = f"{tmp_work}/src"
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    jp = JoinCdcPipeline(
        spark, src, f"{tmp_work}/run",
        validator=lambda df: ~F.col("text").contains("POISON"),
        retry_every=None,
    )
    batch = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    real_enqueue = jp.dlq.enqueue
    jp.dlq.enqueue = lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash"))
    try:
        import pytest as _p

        with _p.raises(RuntimeError, match="crash"):
            jp.sink(batch, 0)
    finally:
        jp.dlq.enqueue = real_enqueue
    # target committed, queue did not
    assert 0 in jp.target.committed_batch_ids()
    assert "sink-0" not in jp.dlq.table.committed_batch_ids()
    # replay: falls through the fast path and re-enqueues the split
    jp.sink(batch, 0)
    assert "sink-0" in jp.dlq.table.committed_batch_ids()
    queued = {(r.conv_id, r.turn_idx) for r in jp.dlq.read().collect()}
    assert queued == {("b", 0)}
    # the valid row applied, the poisoned one did not
    live = {(r.conv_id, r.turn_idx) for r in jp.target_live().collect()}
    assert live == {("a", 0)}
