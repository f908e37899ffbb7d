"""Regression tests for the round-3 ADVICE findings: empty deltas
bricking the table, snapshot GC (vacuum) + real secret
destruction in purge_columns, replay-stable DLQ split, and
newest-non-null err/step in the set-based queue compaction."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hermes_spark.schema import CHANGE_EVENT_SCHEMA
from hermes_spark.streaming.errorqueue import DeadLetterQueue
from hermes_spark.streaming.sink import ExactlyOnceSink
from hermes_spark.tables import ParquetMergeTable


# -- empty delta (ADVICE high) -------------------------------------------


def test_empty_partitioned_delta_keeps_table_readable(spark, tmp_work):
    """A micro-batch where every row is stale/duplicate produces an
    EMPTY delta.  A hive-partitioned write of zero rows leaves a
    snapshot dir with only _SUCCESS, and schema inference over it
    raised UNABLE_TO_INFER_SCHEMA on every later read — one quiet
    batch bricked the table.  Snapshots are flat now, but work dirs
    written with the partitioned layout still hold such dirs."""
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = ParquetMergeTable(
        spark, f"{tmp_work}/bt", key=["id"], schema=schema, compact_every=None,
    )
    ddl = "id int, v string, op string"
    t.merge(spark.createDataFrame([(1, "a", "insert"), (2, "b", "insert")], ddl),
            batch_id=0)
    # the empty delta commits (batch-id idempotency must be preserved)…
    t.merge(spark.createDataFrame([], ddl), batch_id=1)
    assert 1 in t.committed_batch_ids()
    # the delta dir as a partitioned write of zero rows left it
    # (only _SUCCESS) must read as empty too
    vdir = t._version_dir(t.version_of_batch(1))
    for n in os.listdir(vdir):
        if n.endswith(".parquet"):
            os.remove(os.path.join(vdir, n))
    assert "_SUCCESS" in os.listdir(vdir)
    # …and every read shape still works
    assert sorted(r.id for r in t.read().collect()) == [1, 2]
    assert sorted(
        (r.id, r.v) for r in t.read(columns=["id", "v"]).collect()
    ) == [(1, "a"), (2, "b")]
    # and the table still accepts subsequent batches
    t.merge(spark.createDataFrame([(3, "c", "insert")], ddl), batch_id=2)
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]


def test_join_cdc_all_stale_batch_then_readable(spark, tmp_work):
    """End-to-end shape of the same bug: JoinCdcSink commits
    unconditionally, and a fully re-delivered batch yields zero fresh
    rows — the target must stay readable."""
    from hermes_spark.streaming.cdc_join import (
        JOIN_STATE_SCHEMA, KEY, JoinCdcSink,
    )

    target = ParquetMergeTable(
        spark, f"{tmp_work}/jt", key=KEY, schema=JOIN_STATE_SCHEMA,
        tombstone_mode="retain", compact_every=None,
    )
    sink = JoinCdcSink(target)
    ddl = "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    rows = [("c1", 0, "user", "hi", None, "2026-01-01 00:00:00"),
            ("c2", 0, "user", "yo", None, "2026-01-01 00:00:01")]
    batch = spark.createDataFrame(rows, ddl).withColumn("ts", F.col("ts").cast("timestamp"))
    sink(batch, 0)
    sink(batch, 1)  # identical re-delivery → all stale → empty delta
    live = target.read().where(F.col("op") != "delete")
    assert sorted(r.conv_id for r in live.collect()) == ["c1", "c2"]
    later = spark.createDataFrame(
        [("c1", 1, "asst", "reply", None, "2026-01-01 00:01:00")], ddl
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sink(later, 2)
    assert target.read().where(F.col("op") != "delete").count() == 3


# -- vacuum / purge_columns (verdict #1) ---------------------------------


def _all_files(path):
    for root, _dirs, files in os.walk(path):
        for f in files:
            yield os.path.join(root, f)


def test_purge_columns_destroys_values_on_disk(spark, tmp_work):
    """After purge_columns, the purged values must be GONE from every
    remaining file under the table path — not merely absent from the
    live view while old version dirs keep them readable."""
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("secret", T.StringType(), True),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = ParquetMergeTable(spark, f"{tmp_work}/sec", key=["id"], schema=schema)
    ddl = "id int, secret string, v string, op string"
    t.merge(
        spark.createDataFrame(
            [(i, f"hunter2-{i}", f"v{i}", "insert") for i in range(10)], ddl
        ),
        batch_id=0,
    )
    t.merge(
        spark.createDataFrame([(3, "hunter2-upd", "v3b", "update")], ddl),
        batch_id=1,
    )
    t.purge_columns(["secret"])

    assert "secret" not in [f.name for f in t.schema.fields]
    assert sorted(r.v for r in t.read().collect())[:2] == ["v0", "v1"]
    import pyarrow.parquet as pq

    for path in _all_files(f"{tmp_work}/sec"):
        with open(path, "rb") as fh:
            assert b"hunter2" not in fh.read(), f"secret bytes survive in {path}"
        if path.endswith(".parquet"):
            assert "secret" not in pq.read_schema(path).names
    # the ledger records the purge + vacuum for audit
    kinds = [r.get("kind") for r in t._read_log()]
    assert "purge" in kinds and "vacuum" in kinds


def test_vacuum_bounds_version_dirs(spark, tmp_work):
    """compact()+vacuum() keeps on-disk versions O(live): only the
    latest base plus deltas after it survive a maintenance pass."""
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = ParquetMergeTable(
        spark, f"{tmp_work}/gc", key=["id"], schema=schema, compact_every=None
    )
    ddl = "id int, v string, op string"
    for b in range(9):
        t.merge(spark.createDataFrame([(b, f"v{b}", "insert")], ddl), batch_id=b)
        if b % 3 == 2:
            t.compact()
            t.vacuum()
    vdirs = [d for d in os.listdir(f"{tmp_work}/gc/versions") if d.startswith("v")]
    # after the final maintenance pass only the fresh base remains
    assert len(vdirs) == 1
    assert sorted(r.id for r in t.read().collect()) == list(range(9))
    # replay of any historical batch is still a no-op (ledger intact)
    assert t.merge(spark.createDataFrame([(0, "x", "insert")], ddl), batch_id=0) is None


# -- replay-stable DLQ split (ADVICE medium) -----------------------------

PAYLOAD = T.StructType([f for f in CHANGE_EVENT_SCHEMA.fields if f.name != "op"])


def _batch(spark, rows):
    ddl = ("conv_id string, turn_idx int, op string, role string, "
           "text string, tool string, ts string, cksum string")
    return spark.createDataFrame(rows, ddl).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def test_crash_replay_after_queue_mutation_keeps_original_split(spark, tmp_work):
    """Crash between target-commit and queue-commit, then the queue is
    mutated (resolve/drain are user-invokable at any time).  The replay
    must re-enqueue the ORIGINAL split — recomputing it against the
    mutated queue would classify the once-gated row as 'process' and,
    with the target merge already skipped, silently lose it."""
    target = ParquetMergeTable(
        spark, f"{tmp_work}/target", key=["conv_id", "turn_idx"],
        schema=CHANGE_EVENT_SCHEMA, compact_every=None,
    )
    dlq = DeadLetterQueue(
        spark, f"{tmp_work}/dlq", key=["conv_id", "turn_idx"],
        payload_schema=PAYLOAD,
    )
    sink = ExactlyOnceSink(
        target, dlq=dlq,
        validator=lambda df: ~F.col("text").contains("POISON"),
    )
    b0 = [("b", 0, "insert", "user", "POISON pill", None,
           "2026-01-01 00:00:00", "c1")]
    b1 = [("a", 0, "insert", "user", "ok", None, "2026-01-01 01:00:00", "c2"),
          # valid row whose key is queued → gated at split time
          ("b", 0, "update", "user", "fixed text", None,
           "2026-01-01 01:00:01", "c3")]
    sink(_batch(spark, b0), 0)

    real_enqueue = dlq.enqueue
    dlq.enqueue = lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError):
        sink(_batch(spark, b1), 1)
    dlq.enqueue = real_enqueue
    assert 1 in target.committed_batch_ids()
    assert "sink-1" not in dlq.table.committed_batch_ids()

    # between crash and restart: the queued key is resolved
    dlq.resolve(spark.createDataFrame([("b", 0)], "conv_id string, turn_idx int"))
    assert dlq.read().count() == 0

    sink(_batch(spark, b1), 1)  # replay
    # the gated update is in the queue (original split) — not lost
    q = {(r.conv_id, r.turn_idx): r for r in dlq.read().collect()}
    assert set(q) == {("b", 0)}
    assert q[("b", 0)].text == "fixed text" and q[("b", 0)].err is None
    # and the target was not double-applied: only batch-1's clean row
    assert {(r.conv_id, r.turn_idx) for r in target.read().collect()} == {("a", 0)}


def test_sidecar_survives_maintenance_between_crash_and_replay(spark, tmp_work):
    """vacuum() keeps the newest commit sidecars even after compaction
    supersedes their data versions — a replayed batch must still find
    its persisted split after a mid-downtime maintain()."""
    target = ParquetMergeTable(
        spark, f"{tmp_work}/target", key=["conv_id", "turn_idx"],
        schema=CHANGE_EVENT_SCHEMA, compact_every=None,
    )
    dlq = DeadLetterQueue(
        spark, f"{tmp_work}/dlq", key=["conv_id", "turn_idx"],
        payload_schema=PAYLOAD,
    )
    sink = ExactlyOnceSink(
        target, dlq=dlq,
        validator=lambda df: ~F.col("text").contains("POISON"),
    )
    b0 = [("a", 0, "insert", "user", "ok", None, "2026-01-01 00:00:00", "c1"),
          ("b", 0, "insert", "user", "POISON", None, "2026-01-01 00:00:01", "c2")]
    real_enqueue = dlq.enqueue
    dlq.enqueue = lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError):
        sink(_batch(spark, b0), 0)
    dlq.enqueue = real_enqueue

    target.compact()
    target.vacuum()  # mid-downtime maintenance

    sink(_batch(spark, b0), 0)  # replay
    assert [r.conv_id for r in dlq.read().collect()] == ["b"]


# -- set-based err/step survival (ADVICE low) ----------------------------


def test_set_based_compaction_keeps_newest_nonnull_err_step(spark, tmp_work):
    """A gated event (err=NULL) arriving after a failed one must not
    wipe the key's error message/step in the set-based (op truth table)
    compaction path — the reference keeps and updates them per retry
    (errorqueue.py:463-501)."""
    payload = T.StructType(
        [
            T.StructField("k", T.IntegerType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    dlq = DeadLetterQueue(spark, f"{tmp_work}/q", key=["k"], payload_schema=payload)
    ddl = "k int, v string, offset long, op string, err string, step int"
    dlq.enqueue(spark.createDataFrame(
        [(1, "a", 10, "insert", "boom", 2)], ddl), batch_id="e0")
    # gated event: no err, no step
    dlq.enqueue(spark.createDataFrame(
        [(1, "b", 11, "update", None, None)], ddl), batch_id="e1")
    rows = dlq.read().collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.op == "insert" and r.v == "b"        # compacted payload = newest
    assert r.err == "boom" and r.step == 2        # meta = newest NON-NULL


# -- sidecar plumbing ----------------------------------------------------


def test_sidecar_roundtrip_and_vacuum_retention(spark, tmp_work):
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = ParquetMergeTable(
        spark, f"{tmp_work}/sc", key=["id"], schema=schema, compact_every=None
    )
    ddl = "id int, v string, op string"
    side = spark.createDataFrame([(9, "gated")], "id int, reason string")
    v = t.merge(
        spark.createDataFrame([(1, "a", "insert")], ddl),
        batch_id=0, sidecar=side,
    )
    assert t.version_of_batch(0) == v
    got = t.read_sidecar(v)
    assert [(r.id, r.reason) for r in got.collect()] == [(9, "gated")]
    # commits without a sidecar answer None
    v2 = t.merge(spark.createDataFrame([(2, "b", "insert")], ddl), batch_id=1)
    assert t.read_sidecar(v2) is None
    # an EMPTY sidecar still reads back (explicit schema from the ledger)
    v3 = t.merge(
        spark.createDataFrame([(3, "c", "insert")], ddl),
        batch_id=2, sidecar=side.limit(0),
    )
    assert t.read_sidecar(v3).count() == 0
    # ledger carries only the schema, never sidecar data
    with open(t._commits_path) as fh:
        for line in fh:
            assert "gated" not in json.loads(line).get("info", {}).get(
                "sidecar_schema", ""
            )


# -- second review pass regressions --------------------------------------


def test_partition_lineage_survives_vacuum(spark, tmp_work):
    """Maintenance physically deletes superseded delta dirs; the
    per-partition lineage view must skip them (aggregate counts live on
    in the ledger) instead of raising PATH_NOT_FOUND."""
    target = ParquetMergeTable(
        spark, f"{tmp_work}/t", key=["conv_id", "turn_idx"],
        schema=CHANGE_EVENT_SCHEMA, compact_every=None,
    )
    sink = ExactlyOnceSink(target)
    sink(_batch(spark, [("a", 0, "insert", "user", "x", None,
                         "2026-01-01 00:00:00", "c1")]), 0)
    sink(_batch(spark, [("b", 0, "insert", "user", "y", None,
                         "2026-01-01 00:00:01", "c2")]), 1)
    target.compact()
    target.vacuum()
    assert sink.partition_lineage().count() == 0  # vacuumed → no detail
    # aggregate metrics still present from the ledger
    assert sink.metrics().count() > 0
    # new commits after maintenance show up again
    sink(_batch(spark, [("c", 0, "insert", "user", "z", None,
                         "2026-01-01 00:00:02", "c3")]), 2)
    assert sink.partition_lineage().where("batch_id = '2'").count() == 1


def test_mark_batch_latches_without_data(spark, tmp_work):
    schema = T.StructType([
        T.StructField("id", T.IntegerType(), False),
        T.StructField("v", T.StringType(), True),
    ])
    t = ParquetMergeTable(spark, f"{tmp_work}/mb", key=["id"], schema=schema)
    t.mark_batch("sink-7")
    assert "sink-7" in t.committed_batch_ids()
    assert t.current_version() is None          # no data commit happened
    t.mark_batch("sink-7")                      # idempotent
    assert t.read().count() == 0


def test_clean_batch_skips_enqueue_plan(spark, tmp_work):
    """A batch with zero failures closes the queue ledger via the
    zero-job latch — no empty deltas pile up in the queue table."""
    target = ParquetMergeTable(
        spark, f"{tmp_work}/t", key=["conv_id", "turn_idx"],
        schema=CHANGE_EVENT_SCHEMA, compact_every=None,
    )
    dlq = DeadLetterQueue(
        spark, f"{tmp_work}/q", key=["conv_id", "turn_idx"],
        payload_schema=PAYLOAD,
    )
    sink = ExactlyOnceSink(
        target, dlq=dlq,
        validator=lambda df: ~F.col("text").contains("POISON"),
    )
    for b in range(3):
        sink(_batch(spark, [("a", b, "insert", "user", f"clean {b}", None,
                             f"2026-01-01 00:00:0{b}", f"c{b}")]), b)
    assert {f"sink-{b}" for b in range(3)} <= dlq.table.committed_batch_ids()
    # the queue table took ZERO data commits for clean batches
    assert dlq.table.current_version() is None
    # and a dirty batch still enqueues normally
    sink(_batch(spark, [("p", 0, "insert", "user", "POISON", None,
                         "2026-01-01 00:01:00", "cp")]), 3)
    assert [r.conv_id for r in dlq.read().collect()] == ["p"]


def test_cached_fanout_keeps_unknown_ops_with_content(spark):
    """The cached path must not drop events whose op is outside the
    CDC vocabulary when the plain path keeps them."""
    from hermes_spark.plans.mapping import LocalTypeSpec, fanout_events

    ev = spark.createDataFrame(
        [(1, "upsert", "x"), (2, "upsert", None)], "k int, op string, r1 string"
    )
    cache = spark.createDataFrame([(1, "old")], "k int, r1 string")
    plain = fanout_events(ev, [LocalTypeSpec("t", {"a": "r1"})], ["k"],
                          passthrough=())
    cached = fanout_events(ev, [LocalTypeSpec("t", {"a": "r1"})], ["k"],
                           passthrough=(), cache=cache)
    assert {r.k for r in plain["t"].collect()} == {1}
    assert {r.k for r in cached["t"].collect()} == {1}


def test_sink_replay_detection_with_string_ledger_ids(spark, tmp_work):
    """Iceberg snapshot summaries stamp batch ids as STRINGS; the sink
    must detect a replay even when the ledger holds '3' for streaming
    batch 3 (int-only membership re-ran the whole split path on every
    replay on the cluster twin)."""
    target = ParquetMergeTable(
        spark, f"{tmp_work}/t", key=["conv_id", "turn_idx"],
        schema=CHANGE_EVENT_SCHEMA, compact_every=None,
    )
    sink = ExactlyOnceSink(target)
    b = _batch(spark, [("a", 0, "insert", "user", "x", None,
                        "2026-01-01 00:00:00", "c1")])
    # simulate the cluster twin's string-typed ledger entry
    target._append_commit(version=1, batch_id="3", kind="delta")
    v = target.current_version()
    sink(b, 3)  # replay of batch 3 — must no-op
    assert target.current_version() == v
    # JoinCdcSink takes the same contract
    from hermes_spark.streaming.cdc_join import (
        JOIN_STATE_SCHEMA, KEY, JoinCdcSink,
    )

    jt = ParquetMergeTable(
        spark, f"{tmp_work}/jt", key=KEY, schema=JOIN_STATE_SCHEMA,
        tombstone_mode="retain", compact_every=None,
    )
    jt._append_commit(version=1, batch_id="5", kind="delta")
    jsink = JoinCdcSink(jt)
    ddl = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts string")
    turns = spark.createDataFrame(
        [("c", 0, "user", "t", None, "2026-01-01 00:00:00")], ddl
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    jsink(turns, 5)  # replay
    assert jt.current_version() == 1
