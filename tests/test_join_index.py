"""Join-mode CDC target: column pruning of the per-batch state fold,
a per-delta file count bounded by the shuffle partitions (no tiny-file
explosion), flat per-batch wall with out-of-band maintenance, resume
over the older bucket-partitioned layout, and the shared exactly-once
sink's replay paths on this classifier."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from hermes_spark.schema import TRANSCRIPT_SCHEMA
from hermes_spark.streaming.cdc_join import JOIN_STATE_SCHEMA, KEY, JoinCdcSink
from hermes_spark.tables import ParquetMergeTable


def _mk(spark, tmp_work):
    target = ParquetMergeTable(
        spark, f"{tmp_work}/target", key=KEY, schema=JOIN_STATE_SCHEMA,
        tombstone_mode="retain", compact_every=None,
    )
    return target, JoinCdcSink(target)


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
    """A delta snapshot holds at most one parquet file per shuffle
    partition of the classify join, however many tasks the input had —
    tiny files are the merge-on-read footer-parsing killer — and it is
    flat: no partition dirs."""
    target, sink = _mk(spark, tmp_work)
    rows = []
    for c in range(24):
        rows += _rows(f"conv-{c}", 4, "v1")
    sink(_batch(spark, rows).repartition(16), 0)  # many input tasks
    vdir = target._version_dir(1)
    entries = os.listdir(vdir)
    assert not [e for e in entries if os.path.isdir(os.path.join(vdir, e))]
    n_files = sum(1 for e in entries if e.endswith(".parquet"))
    assert 1 <= n_files <= int(spark.conf.get("spark.sql.shuffle.partitions"))


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


def test_join_resume_over_bucket_partitioned_layout(spark, tmp_work):
    """A work dir from before the target dropped its ``_bucket`` column
    — deltas under hive ``_bucket=N/`` dirs, ``_bucket`` in the
    ledger's create record — resumes: the next batch classifies against
    the old rows, and the live target equals the last-writer oracle
    before and after both maintenance modes fold the two layouts."""
    import datetime as dt
    import json
    import shutil

    from hermes_spark.streaming.cdc_join import JoinCdcPipeline

    t0 = dt.datetime(2026, 1, 1)

    def row(conv, idx, text, minutes):
        return (conv, idx, "user", text, None, t0 + dt.timedelta(minutes=minutes))

    b0 = [row(f"c{c}", i, f"v1-{c}-{i}", c) for c in range(6) for i in range(3)]
    b1 = [
        row("c0", 0, "v2", 60),       # newer: update
        row("c1", 0, "stale", -60),   # older than the stored row: dropped
        row("c2", 1, None, 60),       # tombstone
        row("c9", 0, "new", 60),      # insert
    ]
    src, work = f"{tmp_work}/src", f"{tmp_work}/run"
    _batch(spark, b0).coalesce(1).write.mode("append").parquet(src)
    JoinCdcPipeline(spark, src, work, max_files_per_trigger=1).run_available()

    # rewrite batch 0's commit the way the bucket-partitioned target
    # wrote it: the rows plus _bucket, hash-distributed into hive dirs
    target = f"{work}/target"
    with open(f"{target}/_commits.jsonl") as f:
        log = [json.loads(ln) for ln in f]
    (delta,) = [r for r in log if r.get("kind") == "delta"]
    vdir = f"{target}/versions/v{delta['version']:08d}"
    stored = spark.createDataFrame(
        spark.read.schema(JOIN_STATE_SCHEMA).parquet(vdir).collect(),
        JOIN_STATE_SCHEMA,
    )
    shutil.rmtree(vdir)
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int")
    stored.withColumn("_bucket", bucket).repartition("_bucket").write.partitionBy(
        "_bucket"
    ).parquet(vdir)
    assert any(n.startswith("_bucket=") for n in os.listdir(vdir))
    log[0]["info"]["schema"].append(["_bucket", "int"])
    with open(f"{target}/_commits.jsonl", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in log)

    _batch(spark, b1).coalesce(1).write.mode("append").parquet(src)
    pipe = JoinCdcPipeline(spark, src, work, max_files_per_trigger=1)
    pipe.run_available()

    latest = {}
    for conv, idx, _role, text, _tool, ts in b0 + b1:
        if (conv, idx) not in latest or ts > latest[(conv, idx)][0]:
            latest[(conv, idx)] = (ts, text)
    want = {k: text for k, (_ts, text) in latest.items() if text is not None}

    def live():
        got = pipe.target_live()
        assert "_bucket" not in got.columns
        return {(r.conv_id, r.turn_idx): r.text for r in got.collect()}

    assert live() == want
    pipe.maintain(mode="incremental")   # folds the hive and flat deltas
    assert live() == want
    pipe.maintain()                     # full rebase
    assert live() == want


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
            schema=JOIN_STATE_SCHEMA, tombstone_mode="retain",
            compact_every=None,
        )
        sink = JoinCdcSink(target)
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
        max_files_per_trigger=1,
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
    kw = dict(max_files_per_trigger=1, validator=VAL, retry_every=1)

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
