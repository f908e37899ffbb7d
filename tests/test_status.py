"""Status surface: the reference's CLI status verb / notification
counters (hermesserver.py:584-616, clients/__init__.py:1852-1983) as a
StreamingQueryListener + ledger fold."""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from hermes_spark.schema import TRANSCRIPT_SCHEMA
from hermes_spark.streaming.pipeline import CdcPipeline
from hermes_spark.streaming.status import attach_status


def _rows(conv, n, t0="2026-01-01 00:00:00"):
    base = dt.datetime.fromisoformat(t0)
    return [
        (conv, i, "user", f"{conv}-{i}", None, base + dt.timedelta(seconds=i))
        for i in range(n)
    ]


def _write_one_row_files(rows, src):
    """One parquet file per row, written with pyarrow (no Spark job)."""
    os.makedirs(src)
    arrow_schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    # naive datetimes land as UTC, as the session reads them
    table = pa.Table.from_pylist(
        [dict(zip(arrow_schema.names, row)) for row in rows], schema=arrow_schema
    )
    for i in range(len(rows)):
        pq.write_table(table.slice(i, 1), f"{src}/part-{i:03d}.parquet")


def _stage_task_counts(spark, run_id):
    """Task count of every stage of the jobs a streaming run started."""
    tracker = spark.sparkContext.statusTracker()
    counts = []
    for job_id in tracker.getJobIdsForGroup(run_id):
        job = tracker.getJobInfo(job_id)
        for stage_id in job.stageIds if job else ():
            stage = tracker.getStageInfo(stage_id)
            if stage:
                counts.append(stage.numTasks)
    return counts


def test_status_listener_and_ledger_fold(spark, tmp_work):
    # 40 one-row files in one trigger: more than the 32 paths above
    # which Spark's default lists the trigger's files with a job of one
    # task per file
    src = f"{tmp_work}/src"
    _write_one_row_files(_rows("a", 25) + _rows("b", 15), src)
    pipe = CdcPipeline(spark, src, f"{tmp_work}/run")
    st = attach_status(pipe, path=f"{tmp_work}/status.jsonl")
    try:
        q = pipe.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)
        counts = _stage_task_counts(spark, str(q.runId))
        assert counts and 40 not in counts, counts
        # the listener bus is async — progress events land shortly
        # after processAllAvailable returns
        import time

        # wait for the DATA batch's progress event specifically: under
        # load an extra trailing empty trigger (0 input rows) can land
        # after it and legitimately become "last_trigger"
        def _data_progress():
            evts = [
                json.loads(l) for l in open(f"{tmp_work}/status.jsonl")
            ]
            hits = [
                e
                for e in evts
                if e["event"] == "progress" and e["num_input_rows"] == 40
            ]
            return hits[-1] if hits else None

        for _ in range(50):
            if _data_progress():
                break
            time.sleep(0.2)
        s = st.status()
        assert s["applied"]["inserts"] == 40
        assert s["applied"]["commits"] >= 1
        lp = s["last_trigger"]
        assert lp is not None
        dp = _data_progress()
        assert dp is not None and dp["num_input_rows"] == 40
        assert dp["duration_ms"].get("triggerExecution", 0) > 0
        # state size, summed over the state operators: 40 rows of two
        # conversations land in at most two buckets, which the trigger
        # wrote to the RocksDB store
        assert 1 <= dp["state_rows_total"] <= 2
        assert dp["state_memory_bytes"] > 0
        assert dp["state_bytes_written"] > 0
        assert dp["state_sst_bytes"] >= 0
        assert s["sustained_rows_per_sec"] is None or s["sustained_rows_per_sec"] > 0
        # the JSONL audit file parses line-by-line and carries the
        # started + progress lifecycle
        events = [json.loads(l) for l in open(f"{tmp_work}/status.jsonl")]
        kinds = {e["event"] for e in events}
        assert "started" in kinds and "progress" in kinds
    finally:
        spark.streams.removeListener(st.listener)


def test_per_objtype_counters_in_sink_and_status(spark, tmp_work):
    """The reference status verb reports counters PER TYPE
    (hermesserver.py:584-616): a sink built with type_col/type_names
    records a by_type breakdown inside the same commit annotation
    (same Observation, zero extra jobs), and status() folds it."""
    from types import SimpleNamespace

    from pyspark.sql import types as T

    from hermes_spark.streaming.sink import ExactlyOnceSink
    from hermes_spark.streaming.status import (
        PipelineStatus,
        PipelineStatusListener,
    )
    from hermes_spark.tables import ParquetMergeTable

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = ParquetMergeTable(
        spark, f"{tmp_work}/t", key=["id"], schema=schema, compact_every=None
    )
    sink = ExactlyOnceSink(
        t, type_col="_objtype", type_names=("user", "group")
    )
    ddl = "id int, op string, v string, _objtype string"
    sink(
        spark.createDataFrame(
            [
                (1, "insert", "a", "user"),
                (2, "insert", "b", "user"),
                (3, "insert", "c", "group"),
                (1, "update", "a2", "user"),
                (4, "insert", "d", "stranger"),
            ],
            ddl,
        ),
        batch_id=0,
    )
    sink(
        spark.createDataFrame([(3, "delete", None, "group")], ddl),
        batch_id=1,
    )
    # the type column never reaches the target schema
    assert "_objtype" not in [f.name for f in t.schema.fields]
    infos = [
        c["info"] for c in t._read_commits() if c.get("batch_id") is not None
    ]
    assert infos[0]["by_type"]["user"] == {
        "inserts": 2, "updates": 1, "deletes": 0
    }
    assert infos[0]["by_type"]["group"] == {
        "inserts": 1, "updates": 0, "deletes": 0
    }
    # undeclared types land in the derived "other" bucket
    assert infos[0]["by_type"]["other"] == {
        "inserts": 1, "updates": 0, "deletes": 0
    }
    assert infos[1]["by_type"]["group"]["deletes"] == 1

    st = PipelineStatus(
        SimpleNamespace(target=t, dlq=None), PipelineStatusListener()
    )
    s = st.status(include_queue_depth=False)
    assert s["applied_by_type"]["user"] == {
        "inserts": 2, "updates": 1, "deletes": 0
    }
    assert s["applied_by_type"]["group"] == {
        "inserts": 1, "updates": 0, "deletes": 1
    }
    assert s["applied"]["inserts"] == 4  # global counters unchanged


def test_union_fanout_feeds_per_objtype_counters(spark):
    """union_fanout tags and unions fanout_events' per-type frames into
    the one-stream shape the sink's type_col counters consume, aligning
    differing payload columns by name."""
    from pyspark.sql import functions as F

    from hermes_spark.plans.mapping import union_fanout

    users = spark.createDataFrame(
        [(1, "insert", "alice")], "id int, op string, name string"
    )
    groups = spark.createDataFrame(
        [(7, "delete", "eng")], "id int, op string, team string"
    )
    u = union_fanout({"user": users, "group": groups})
    rows = {r._objtype: r for r in u.collect()}
    assert set(rows) == {"user", "group"}
    assert rows["user"].name == "alice" and rows["user"].team is None
    assert rows["group"].team == "eng" and rows["group"].name is None
    counts = {
        (r._objtype, r.op): r["count"]
        for r in u.groupBy("_objtype", "op").count().collect()
    }
    assert counts == {("user", "insert"): 1, ("group", "delete"): 1}

    import pytest

    with pytest.raises(ValueError, match="at least one"):
        union_fanout({})
