"""Attribute-mapping projection, column scoping, dead-letter drain,
and physical-plan assertions (pushdown / broadcast / pruning)."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from hermes_spark.plans.mapping import (
    ColumnScopes,
    LocalTypeSpec,
    apply_mapping,
    fanout_events,
    required_columns,
)
from hermes_spark.streaming.errorqueue import DeadLetterQueue
from hermes_spark.tables import scratch_dir


@pytest.fixture(scope="module")
def remote(spark):
    return spark.createDataFrame(
        [("u1", "Ann", "X", None, "a@x", "s3cr3t"),
         ("u2", "Bob", None, "Y", "b@x", "hunter2")],
        "id string, name string, job1 string, job2 string, mail string, pw string",
    )


def test_mapping_forms(spark, remote):
    out = apply_mapping(
        remote,
        {
            "uid": "id",
            "jobs": ["job1", "job2"],
            "display": {"expr": "concat(name, ' <', mail, '>')"},
        },
    )
    rows = {r.uid: r for r in out.collect()}
    assert rows["u1"].jobs == ["X"]         # nulls dropped (P3)
    assert rows["u2"].jobs == ["Y"]
    assert rows["u1"].display == "Ann <a@x>"


def test_required_columns(spark, remote):
    req = required_columns(
        remote,
        {"uid": "id", "jobs": ["job1", "job2"], "d": {"expr": "upper(name)"}},
    )
    assert req == {"id", "job1", "job2", "name"}


def test_column_scopes(spark, remote):
    scopes = ColumnScopes(secrets=("pw",), local_only=("mail",), key=("id",))
    assert "pw" in scopes.event_columns(remote)       # secrets DO go to events
    assert "mail" not in scopes.event_columns(remote)
    assert "pw" not in scopes.cache_columns(remote)   # never cached
    assert "pw" not in scopes.diff_columns(remote)
    masked = scopes.masked_for_log(remote).collect()[0]
    assert masked.pw == "<secret>" and masked.name == "Ann"


def test_dead_letter_drain_with_dependencies(spark):
    """Parent key blocked while a child error references it; drain
    resolves children first, then parents (reference multi-pass
    dependency-order drain)."""
    payload = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("v", T.StringType()),
         T.StructField("fk", T.StringType())]
    )
    dlq = DeadLetterQueue(
        spark, scratch_dir("dlq"), key=["key"], payload_schema=payload,
        fk_map=[("key", "fk")],
    )
    failed = spark.createDataFrame(
        [("p1", "x", None, 1, "update", "boom"),
         ("c1", "y", "p1", 2, "update", "boom"),
         ("p2", "z", None, 3, "insert", "boom")],
        "key string, v string, fk string, offset long, op string, err string",
    )
    dlq.enqueue(failed, autoremediate=False)

    # pass 1 candidates: c1 (child) and p2; p1 is blocked by c1
    c = {r.key for r in dlq.retry_candidates().collect()}
    assert c == {"c1", "p2"}

    applied = []

    def apply_fn(df):
        rows = df.collect()
        applied.append({r.key for r in rows})
        return spark.createDataFrame([(r.key,) for r in rows], "key string")

    remaining = dlq.drain(apply_fn)
    assert remaining == 0
    assert applied[0] == {"c1", "p2"}
    assert applied[1] == {"p1"}  # unblocked after child resolved


def test_enqueue_compaction(spark):
    payload = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("v", T.StringType())]
    )
    dlq = DeadLetterQueue(spark, scratch_dir("dlq2"), key=["key"], payload_schema=payload)
    dlq.enqueue(spark.createDataFrame(
        [("k", "v1", 1, "insert", "e1")],
        "key string, v string, offset long, op string, err string"), autoremediate=False)
    # a later delete for the same key annihilates the queued insert
    dlq.enqueue(spark.createDataFrame(
        [("k", None, 2, "delete", "e2")],
        "key string, v string, offset long, op string, err string"))
    assert dlq.read().count() == 0


# --- plan assertions --------------------------------------------------------

def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _on_disk(spark, df, name):
    """Round-trip through parquet so the planner sees real file sizes
    (in-memory frames carry no size statistics)."""
    path = f"{scratch_dir('mapplan')}/{name}"
    df.write.parquet(path)
    return spark.read.parquet(path)


def test_filter_pushdown_and_pruning(spark, remote):
    """The attribute mapping is a pure projection: a predicate on a
    mapped attribute pushes through it to the remote scan, and remote
    columns no mapping reads (the secret ``pw``) are never decoded."""
    src = _on_disk(spark, remote, "remote")
    q = apply_mapping(
        src,
        {
            "uid": "id",
            "jobs": ["job1", "job2"],
            "display": {"expr": "concat(name, ' <', mail, '>')"},
        },
    ).where(F.col("uid") == "u1")
    plan = _physical(q)
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len(scans) == 1, plan
    assert "EqualTo(id,u1)" in scans[0], scans[0]
    schema = scans[0].split("ReadSchema: ")[1]
    assert "pw" not in schema and "id:" in schema, schema
    assert [r.uid for r in q.collect()] == ["u1"]


def test_star_join_broadcasts_dims(spark):
    """Cached fan-out joins each local type's events to the client's
    remote-object cache on the key; a small cache is a broadcast
    dimension, so the event side never shuffles."""
    cache = _on_disk(spark, spark.createDataFrame(
        [(1, "alice", "a@x", "B1"), (2, "bob", "b@x", None)],
        "uid int, login string, mail string, building string",
    ), "cache")
    ev = _on_disk(spark, spark.createDataFrame(
        [(1, "update", 10, None, None, "B9"),
         (2, "insert", 11, "bob", "b@y", "B2")],
        "uid int, op string, ts int, login string, mail string, building string",
    ), "events")
    types = [
        LocalTypeSpec("account", {"username": "login", "email": "mail"}),
        LocalTypeSpec("badge", {"tag": {"expr": "concat(building, ':', login)"}}),
    ]
    out = fanout_events(ev, types, key_cols=["uid"], cache=cache)
    assert sorted(out) == ["account", "badge"]
    for name, df in out.items():
        plan = _physical(df)
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)
