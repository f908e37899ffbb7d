"""Join-mode CDC bucket-partitioned target: column pruning of the
per-batch state fold, hash-distributed delta writes (no tiny-file
explosion), flat per-batch wall with out-of-band maintenance, and the
shared exactly-once sink's replay paths on this classifier."""

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


def test_state_fold_prunes_columns(spark, tmp_work):
    """The per-batch state read must never decode the wide payload
    columns."""
    target, sink = _mk(spark, tmp_work)
    sink(_batch(spark, _rows("conv-a", 5, "v1") + _rows("conv-b", 5, "v1")), 0)
    narrow = target.read(columns=["conv_id", "turn_idx", "op", "ts", "cks64"])
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan, plan
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


def test_join_sink_matches_last_writer_oracle(spark, tmp_work):
    """Hypothesis: ANY batch sequence through the join sink leaves the
    live target equal to the last-writer-per-key oracle (latest event
    time wins; a tombstone removes the key)."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    counter = {"n": 0}
    base = dt.datetime(2026, 1, 1)

    @settings(
        max_examples=6, deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow, HealthCheck.function_scoped_fixture,
        ],
    )
    @given(
        # one event per (key, ts): equal-time writers are tie-broken by
        # content hash, which the oracle does not model.  Few keys, so
        # later batches keep revisiting keys with older and newer events.
        rows=st.lists(
            st.tuples(
                st.integers(0, 2),                  # conv
                st.integers(0, 1),                  # turn
                st.sampled_from(["a", "b", None]),  # text (None=tombstone)
                st.integers(0, 20),                 # ts offset (seconds)
            ),
            min_size=1, max_size=12,
            unique_by=lambda r: (r[0], r[1], r[3]),
        ),
        cuts=st.lists(st.integers(1, 11), max_size=2),
    )
    def check(rows, cuts):
        counter["n"] += 1
        target = ParquetMergeTable(
            spark, f"{tmp_work}/p{counter['n']}", key=KEY,
            schema=JOIN_TARGET_SCHEMA, tombstone_mode="retain",
            compact_every=None, partition_by=["_bucket"],
        )
        sink = JoinCdcSink(target, 4)
        bounds = sorted({0, len(rows), *(c for c in cuts if c < len(rows))})
        batches = [rows[a:b] for a, b in zip(bounds, bounds[1:])]
        latest = {}
        for i, batch in enumerate(batches):
            data = [
                (f"c{c}", ti, "u", tx, None, base + dt.timedelta(seconds=s))
                for c, ti, tx, s in batch
            ]
            sink(_batch(spark, data), i)
            for conv, ti, _role, tx, _tool, ts in data:
                if (conv, ti) not in latest or ts > latest[(conv, ti)][0]:
                    latest[(conv, ti)] = (ts, tx)
        want = {k: tx for k, (_ts, tx) in latest.items() if tx is not None}
        got = {
            (r.conv_id, r.turn_idx): r.text
            for r in target.read().where(F.col("op") != "delete").collect()
        }
        assert got == want

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
        for r in jp.sink.metrics().select("op").distinct().collect()
    }
    assert "insert" in ops


def test_join_mode_replay_after_sink_is_still_noop(spark, tmp_work):
    """The shared exactly-once sink must preserve join-mode replay
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
    two-ledger protocol of the shared sink survives the restart."""
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
    """The t_done-without-q_done window on the JOIN classifier, empty
    queue: the batch takes the ``split: inline`` fast path, so a crash
    between the target commit and the queue commit must, on replay,
    RECOMPUTE the validator split — re-running the join transform
    against a target that already holds the batch's valid rows — and
    enqueue exactly the poisoned row."""
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
    assert jp.target.commit_info_of_batch(0)["split"] == "inline"
    # replay: recomputes the inline split and enqueues it
    jp.sink(batch, 0)
    assert "sink-0" in jp.dlq.table.committed_batch_ids()
    queued = {(r.conv_id, r.turn_idx) for r in jp.dlq.read().collect()}
    assert queued == {("b", 0)}
    # the valid row applied, the poisoned one did not
    live = {(r.conv_id, r.turn_idx) for r in jp.target_live().collect()}
    assert live == {("a", 0)}


def test_join_mode_crash_between_ledgers_reenqueues_sidecar(spark, tmp_work):
    """The same crash window with a NON-empty queue: the split is gated
    and persisted as the commit's sidecar, and the replay re-enqueues
    that persisted split without touching the target again."""
    import datetime as dt

    import pytest

    from hermes_spark.streaming.cdc_join import JoinCdcPipeline

    t0 = dt.datetime.fromisoformat("2026-01-01 00:00:00")
    jp = JoinCdcPipeline(
        spark, f"{tmp_work}/src", f"{tmp_work}/run",
        validator=lambda df: ~F.col("text").contains("POISON"),
        retry_every=None,
    )
    # an unrelated poisoned key makes the queue non-empty
    jp.sink(_batch(spark, [("z", 0, "user", "POISON", None, t0)]), 0)
    assert not jp.dlq.known_empty()
    rows = [
        ("a", 0, "user", "ok", None, t0),
        ("b", 0, "user", "POISON", None, t0),
    ]
    batch = _batch(spark, rows)
    real_enqueue = jp.dlq.enqueue
    jp.dlq.enqueue = lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash"))
    try:
        with pytest.raises(RuntimeError, match="crash"):
            jp.sink(batch, 1)
    finally:
        jp.dlq.enqueue = real_enqueue
    assert 1 in jp.target.committed_batch_ids()
    assert "sink-1" not in jp.dlq.table.committed_batch_ids()
    assert "split" not in jp.target.commit_info_of_batch(1)
    assert jp.target.read_sidecar_of_batch(1) is not None
    v_before = jp.target.current_version()
    live_before = sorted(
        (r.conv_id, r.turn_idx, r.text) for r in jp.target_live().collect()
    )
    jp.sink(batch, 1)
    assert "sink-1" in jp.dlq.table.committed_batch_ids()
    queued = {(r.conv_id, r.turn_idx) for r in jp.dlq.read().collect()}
    assert queued == {("z", 0), ("b", 0)}
    assert jp.target.current_version() == v_before
    assert live_before == [("a", 0, "ok")]
    assert sorted(
        (r.conv_id, r.turn_idx, r.text) for r in jp.target_live().collect()
    ) == live_before
