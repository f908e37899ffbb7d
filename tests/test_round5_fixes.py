"""Round-5 ADVICE regression tests: sidecar reads after vacuum return
None instead of PATH_NOT_FOUND, and the vacuum retention window
(``retain_superseded``) keeps concurrently-planned readers valid while
``purge_columns`` still forces full destruction."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from hermes_spark.tables import ParquetMergeTable


def _mk(spark, path, tombstone_mode="drop"):
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    return ParquetMergeTable(
        spark, path, key=["id"], schema=schema,
        compact_every=None, tombstone_mode=tombstone_mode,
    )


DDL = "id int, v string, op string"
SIDE_DDL = "id int, err string"


def test_read_sidecar_of_vacuumed_commit_returns_none(spark, tmp_work):
    """vacuum(keep_sidecars=N) deletes sidecar dirs but the ledger
    still records their schema — the read must degrade to None (the
    replay is older than the retention window), not raise
    PATH_NOT_FOUND at action time."""
    t = _mk(spark, f"{tmp_work}/t")
    for b in range(3):
        t.merge(
            spark.createDataFrame([(b, f"v{b}", "insert")], DDL),
            batch_id=b,
            sidecar=spark.createDataFrame([(b, "queued")], SIDE_DDL),
        )
    versions = {b: t.version_of_batch(b) for b in range(3)}
    t.compact()
    t.vacuum(keep_sidecars=1)
    # oldest two sidecars are gone: None, not an exception
    assert t.read_sidecar(versions[0]) is None
    assert t.read_sidecar_of_batch(0) is None
    assert t.read_sidecar(versions[1]) is None
    # the newest survives and still reads its rows
    kept = t.read_sidecar_of_batch(2)
    assert kept is not None and kept.collect()[0].err == "queued"


def test_vacuum_retain_superseded_keeps_planned_reader_valid(spark, tmp_work):
    """A DataFrame planned over the pre-compact generation still
    collects after maintain-style vacuum(retain_superseded=1) — the
    PRODUCTION value: retention is by GENERATION (the whole set of
    dirs one superseding commit replaced), because a reader's plan
    references all of them, not just the newest dir.  With the
    default retain_superseded=0 the superseded dirs are destroyed
    (the purge_columns contract)."""
    t = _mk(spark, f"{tmp_work}/t")
    for b in range(4):
        t.merge(spark.createDataFrame([(b, f"v{b}", "insert")], DDL), batch_id=b)
    planned = t.read()  # file listing references the 4 delta dirs
    pre_versions = [c["version"] for c in t._read_commits()]
    t.compact()
    t.vacuum(retain_superseded=1)
    # the ONE retained generation is all four pre-compact dirs → the
    # old plan still resolves
    assert sorted(r.id for r in planned.collect()) == [0, 1, 2, 3]
    for v in pre_versions:
        assert os.path.isdir(t._version_dir(v))
    # a second vacuum with the default destroys them all
    t.vacuum()
    for v in pre_versions:
        assert not os.path.isdir(t._version_dir(v))
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3]


def test_retain_superseded_keeps_only_newest_generation(spark, tmp_work):
    """Two maintenance cycles: retain_superseded=1 keeps the newest
    generation entirely and drops the older one entirely."""
    t = _mk(spark, f"{tmp_work}/t")
    for b in range(3):
        t.merge(spark.createDataFrame([(b, f"v{b}", "insert")], DDL), batch_id=b)
    t.compact()  # gen A = versions 1..3 (base becomes version 4)
    gen_a = [1, 2, 3]
    for b in range(3, 5):
        t.merge(spark.createDataFrame([(b, f"v{b}", "insert")], DDL), batch_id=b)
    planned = t.read()  # references base 4 + deltas 5,6
    t.compact()  # gen B = versions 4..6
    gen_b = [4, 5, 6]
    t.vacuum(retain_superseded=1)
    for v in gen_a:
        assert not os.path.isdir(t._version_dir(v)), v
    for v in gen_b:
        assert os.path.isdir(t._version_dir(v)), v
    # the reader planned just before the latest cycle still works
    assert len(planned.collect()) == 5


def test_purge_columns_still_destroys_with_retention_feature(spark, tmp_work):
    """purge_columns must not be weakened by the retention window: it
    vacuums with the destroy-everything defaults."""
    t = _mk(spark, f"{tmp_work}/t")
    t.merge(
        spark.createDataFrame([(1, "SECRETVALUE42", "insert")], DDL), batch_id=0
    )
    t.purge_columns(["v"])
    needle = b"SECRETVALUE42"
    for root, _dirs, files in os.walk(t.path):
        for fn in files:
            with open(os.path.join(root, fn), "rb") as f:
                assert needle not in f.read(), os.path.join(root, fn)


# -- incremental compaction (deltafold) ----------------------------------


def test_compact_deltas_preserves_state_with_extra_op_channel(spark, tmp_work):
    """compact_deltas folds the delta set only (O(churn)): state is
    identical before/after, deletes survive the fold as markers (the
    base's copy still drops at read), and vacuum removes the folded
    deltas so read amplification is base + 1 fold."""
    t = _mk(spark, f"{tmp_work}/t")
    # base generation: keys 0..4
    t.overwrite(spark.createDataFrame([(i, f"b{i}") for i in range(5)], "id int, v string"))
    # deltas: update 1, insert 5, delete 2, re-update 1
    t.merge(spark.createDataFrame([(1, "u1", "update")], DDL), batch_id=0)
    t.merge(spark.createDataFrame([(5, "n5", "insert")], DDL), batch_id=1)
    t.merge(spark.createDataFrame([(2, None, "delete")], DDL), batch_id=2)
    t.merge(spark.createDataFrame([(1, "u1b", "update")], DDL), batch_id=3)
    before = {(r.id, r.v) for r in t.read().collect()}
    assert before == {(0, "b0"), (1, "u1b"), (3, "b3"), (4, "b4"), (5, "n5")}

    v = t.compact_deltas()
    assert v is not None
    after = {(r.id, r.v) for r in t.read().collect()}
    assert after == before
    # ledger shape: one deltafold supersedes the four deltas
    base, deltas = t._live_commits()
    assert [d["kind"] for d in deltas] == ["deltafold"]
    # the fold is O(churn): it holds 3 keys (1, 2, 5), not the table
    import os

    t.vacuum()
    fold_df = spark.read.parquet(t._version_dir(v))
    assert fold_df.count() == 3
    # old delta dirs are gone, base + fold remain
    left = sorted(
        int(n[1:9]) for n in os.listdir(f"{t.path}/versions")
        if not n.endswith("-sidecar")
    )
    assert left == [1, v]
    # further deltas + a replay still behave
    assert t.merge(spark.createDataFrame([(1, "x", "update")], DDL), batch_id=0) is None
    t.merge(spark.createDataFrame([(6, "n6", "insert")], DDL), batch_id=4)
    assert {(r.id, r.v) for r in t.read().collect()} == after | {(6, "n6")}


def test_compact_deltas_keeps_rows_of_a_delta_without_channel(spark, tmp_work):
    """A fold that records a liveness channel decides liveness for ALL
    its rows: the rows of a folded delta that carried no op column
    (plain upserts) stay live."""
    t = _mk(spark, f"{tmp_work}/t")
    t.merge(spark.createDataFrame([(1, "a", "insert")], DDL), batch_id=0)
    t.merge(spark.createDataFrame([(2, "b")], "id int, v string"), batch_id=1)
    before = {(r.id, r.v) for r in t.read().collect()}
    assert before == {(1, "a"), (2, "b")}
    t.compact_deltas()
    assert {(r.id, r.v) for r in t.read().collect()} == before


def test_compact_deltas_in_schema_op_and_retain_mode(spark, tmp_work):
    from pyspark.sql import types as T

    # in-schema op (the CDC pipeline target shape)
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = ParquetMergeTable(
        spark, f"{tmp_work}/t1", key=["id"], schema=schema, compact_every=None
    )
    ddl = "id int, op string, v string"
    t.merge(spark.createDataFrame([(1, "insert", "a"), (2, "insert", "b")], ddl), batch_id=0)
    t.merge(spark.createDataFrame([(2, "delete", None), (3, "insert", "c")], ddl), batch_id=1)
    before = {(r.id, r.v) for r in t.read().collect()}
    t.compact_deltas()
    assert {(r.id, r.v) for r in t.read().collect()} == before == {(1, "a"), (3, "c")}

    # retain mode: tombstones are state memory and survive the fold
    t2 = ParquetMergeTable(
        spark, f"{tmp_work}/t2", key=["id"], schema=schema,
        compact_every=None, tombstone_mode="retain",
    )
    t2.merge(spark.createDataFrame([(1, "insert", "a")], ddl), batch_id=0)
    t2.merge(spark.createDataFrame([(1, "delete", None)], ddl), batch_id=1)
    t2.merge(spark.createDataFrame([(2, "insert", "b")], ddl), batch_id=2)
    before2 = {(r.id, r.op) for r in t2.read().collect()}
    assert before2 == {(1, "delete"), (2, "insert")}
    t2.compact_deltas()
    assert {(r.id, r.op) for r in t2.read().collect()} == before2


def test_compact_deltas_nothing_to_fold(spark, tmp_work):
    t = _mk(spark, f"{tmp_work}/t")
    assert t.compact_deltas() is None
    t.merge(spark.createDataFrame([(1, "a", "insert")], DDL), batch_id=0)
    assert t.compact_deltas() is None  # a single delta folds to itself


def test_pipeline_incremental_maintain_equals_full(spark, tmp_work):
    """A stream maintained in-stream with mode='incremental' ends in
    the same state as an unmaintained run, with bounded live commits."""
    import datetime as dt

    from hermes_spark.schema import TRANSCRIPT_SCHEMA
    from hermes_spark.streaming.pipeline import CdcPipeline

    t0 = dt.datetime.fromisoformat("2026-01-01 00:00:00")
    rows = lambda b: [  # noqa: E731
        (f"c{c}", b, "user", f"c{c}-t{b}", None, t0 + dt.timedelta(minutes=b))
        for c in range(20)
    ]
    src, src2 = f"{tmp_work}/src", f"{tmp_work}/src2"
    for b in range(6):
        for s in (src, src2):
            spark.createDataFrame(rows(b), TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(s)
    plain = CdcPipeline(spark, src, f"{tmp_work}/plain", max_files_per_trigger=1)
    plain.run_available()
    inc = CdcPipeline(
        spark, src2, f"{tmp_work}/inc", max_files_per_trigger=1, maintain_every=2
    )
    inc.run_available()
    a = {(r.conv_id, r.turn_idx, r.text) for r in plain.target_live().collect()}
    b = {(r.conv_id, r.turn_idx, r.text) for r in inc.target_live().collect()}
    assert a == b
    _, deltas = inc.target._live_commits()
    # folds bound the live delta chain to < the batch count
    assert len(deltas) <= 3, [d["kind"] for d in deltas]


def test_compact_deltas_leveling_folds_suffix_then_consolidates(spark, tmp_work):
    """Each cycle folds only the deltas since the previous fold
    (O(recent churn)); when the fold chain hits max_folds, one
    consolidating fold merges it — neither per-cycle cost nor read
    amplification grows without bound."""
    t = _mk(spark, f"{tmp_work}/t")
    state = {}

    def feed(b):
        k = b % 5
        state[k] = f"v{b}"
        t.merge(spark.createDataFrame([(k, f"v{b}", "insert")], DDL), batch_id=b)

    b = 0
    for cycle in range(3):
        for _ in range(2):
            feed(b); b += 1
        t.compact_deltas(max_folds=3)
    _, deltas = t._live_commits()
    kinds = [d.get("kind") for d in deltas]
    assert kinds == ["deltafold"] * 3  # a chain, not one refolded blob
    # each fold covered exactly the 2-deltas suffix — O(recent churn)
    for d in deltas:
        assert len(d["info"]["over"]) == 2
    # fourth cycle trips the consolidation
    for _ in range(2):
        feed(b); b += 1
    t.compact_deltas(max_folds=3)
    _, deltas = t._live_commits()
    assert [d.get("kind") for d in deltas] == ["deltafold"]
    assert len(deltas[0]["info"]["over"]) == 5  # 3 folds + 2 fresh deltas
    assert {(r.id, r.v) for r in t.read().collect()} == {
        (k, v) for k, v in state.items()
    }
    # vacuum with generation retention keeps the consolidated chain's
    # inputs as ONE generation
    t.vacuum(retain_superseded=1)
    for v in deltas[0]["info"]["over"]:
        assert os.path.isdir(t._version_dir(v))
    # a legacy fold line (written before folds recorded ``over``)
    # supersedes every earlier live delta, as one generation
    feed(b)
    before = [d["version"] for d in t._live_commits()[1]]
    legacy = t.current_version() + 1
    t._append_commit(legacy, None, kind="deltafold")
    _, deltas = t._live_commits()
    assert [d["version"] for d in deltas] == [legacy]
    assert t._walk()[2][-1] == set(before) and len(before) == 2


def _expired_sidecar_fixture(spark, tmp_work, name):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from hermes_spark.streaming.errorqueue import DeadLetterQueue
    from hermes_spark.streaming.sink import ExactlyOnceSink

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    t = ParquetMergeTable(
        spark, f"{tmp_work}/{name}-t", key=["conv_id", "turn_idx"],
        schema=schema, compact_every=None,
    )
    payload = T.StructType([f for f in schema.fields if f.name != "op"])
    dlq = DeadLetterQueue(
        spark, f"{tmp_work}/{name}-dlq", key=["conv_id", "turn_idx"],
        payload_schema=payload,
    )
    sink = ExactlyOnceSink(
        t, dlq=dlq, validator=lambda df: ~F.col("text").contains("POISON")
    )
    ddl = "conv_id string, turn_idx int, op string, ts string, text string"
    batch = spark.createDataFrame(
        [
            ("a", 0, "insert", "2026-01-01 10:00:00", "ok"),
            ("b", 0, "insert", "2026-01-01 10:00:01", "POISON"),
        ],
        ddl,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return t, dlq, sink, batch, ddl


def _crash_between_ledgers(t, dlq, sink, batch):
    import pytest as _p

    real_enqueue = dlq.enqueue
    dlq.enqueue = lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash"))
    try:
        with _p.raises(RuntimeError, match="crash"):
            sink(batch, batch_id=7)
    finally:
        dlq.enqueue = real_enqueue
    assert 7 in t.committed_batch_ids()
    assert "sink-7" not in dlq.table.committed_batch_ids()


def test_sink_inline_split_replay_recovers_failures(spark, tmp_work):
    """Crash between target-commit and queue-commit on the EMPTY-queue
    fast path (no sidecar written): the commit line's ``split:
    inline`` marker tells the replay the split was validator-only and
    deterministic, so it recomputes it and RECOVERS the failed row —
    even after downtime maintenance (which, on the sidecar path, would
    have expired the split)."""
    t, dlq, sink, batch, _ = _expired_sidecar_fixture(
        spark, tmp_work, "inline"
    )
    _crash_between_ledgers(t, dlq, sink, batch)
    # the fast path recorded its marker atomically with the commit
    assert t.commit_info_of_batch(7).get("split") == "inline"
    # downtime maintenance — nothing to expire, split is recomputable
    t.compact()
    t.vacuum(keep_sidecars=0)
    sink(batch, batch_id=7)
    assert "sink-7" in dlq.table.committed_batch_ids()
    rows = dlq.read().collect()
    assert [(r.conv_id, r.err) for r in rows] == [("b", "validation failed")]


def test_sink_replay_with_expired_sidecar_closes_queue_ledger(spark, tmp_work):
    """Crash between target-commit and queue-commit on the SIDECAR
    path (queue non-empty at commit time, so the split depended on
    queue state and is NOT recomputable), then the sidecar expires
    (vacuum) during the downtime: the replay must latch the queue
    ledger closed instead of silently re-entering the replay branch
    forever — and must NOT re-enqueue a recomputed (possibly wrong)
    split."""
    from pyspark.sql import functions as F

    t, dlq, sink, batch, ddl = _expired_sidecar_fixture(
        spark, tmp_work, "sidecar"
    )
    # a pre-existing queued row (unrelated key) forces the sidecar
    # path: the split must consider per-key FIFO gating
    prior = spark.createDataFrame(
        [("z", 0, "insert", None, "old failure")], ddl
    ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "offset", F.lit(1).cast("long")
    ).withColumn("err", F.lit("boom"))
    dlq.enqueue(prior)
    assert not dlq.known_empty()
    _crash_between_ledgers(t, dlq, sink, batch)
    assert (t.commit_info_of_batch(7) or {}).get("split") != "inline"
    # downtime maintenance expires the sidecar
    t.compact()
    t.vacuum(keep_sidecars=0)
    # replay: must close the queue ledger, not spin
    sink(batch, batch_id=7)
    assert "sink-7" in dlq.table.committed_batch_ids()
    # and the queue did not get a recomputed split — only the prior row
    assert [r.conv_id for r in dlq.read().collect()] == ["z"]


def test_validator_null_verdict_does_not_lose_deletes(spark, tmp_work):
    """A content validator over a NULL column returns a NULL verdict —
    every delete tombstone (text IS NULL) does.  NULL is neither true
    nor ~true, so before the exhaustive-split fix those rows fell
    through BOTH branches of the DLQ gate and silently vanished:
    neither applied nor enqueued.  The validated pipeline must now
    produce the exact same target as the plain one."""
    import datetime as dt

    from pyspark.sql import functions as F

    from hermes_spark.schema import TRANSCRIPT_SCHEMA
    from hermes_spark.streaming.pipeline import CdcPipeline

    t0 = dt.datetime.fromisoformat("2026-01-01 00:00:00")

    def row(conv, idx, text, minutes):
        return (conv, idx, "user", text, None, t0 + dt.timedelta(minutes=minutes))

    b0 = [row("a", i, f"a-{i}", i) for i in range(6)]
    # tombstones: text IS NULL (the reference's removed-event shape)
    b1 = [row("a", 1, None, 100), row("a", 3, None, 101), row("b", 0, "b-0", 102)]
    for src in ("src_p", "src_v"):
        for b in (b0, b1):
            spark.createDataFrame(b, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(f"{tmp_work}/{src}")
    plain = CdcPipeline(
        spark, f"{tmp_work}/src_p", f"{tmp_work}/plain", max_files_per_trigger=1
    )
    plain.run_available()
    val = CdcPipeline(
        spark, f"{tmp_work}/src_v", f"{tmp_work}/val", max_files_per_trigger=1,
        validator=lambda df: ~F.col("text").contains("POISON"),
        retry_every=1,
    )
    val.run_available()
    a = {(r.conv_id, r.turn_idx) for r in plain.target_live().collect()}
    b = {(r.conv_id, r.turn_idx) for r in val.target_live().collect()}
    assert ("a", 1) not in b and ("a", 3) not in b  # deletes applied
    assert a == b
    assert val.dlq.read().count() == 0
