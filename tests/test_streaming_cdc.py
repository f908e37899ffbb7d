"""Streaming CDC: stateful classification, batch equivalence,
exactly-once resume from checkpoint.

These are the engine's acceptance gates per BASELINE.md — the analogs
of the reference's functional scenario tests
(/root/reference/tests/functional/test_scenario_01_single_datasource.py:
initial sync counts, incremental add/modify/remove, exact dataset
equality between producer and consumer sides).
"""

import datetime as dt
import json
import os

import pyspark.sql.functions as F
import pytest

from hermes_spark.fixtures import (
    TranscriptConfig,
    generate_change_batches,
    generate_transcripts,
)
from hermes_spark.operators.checksum import conversation_merkle
from hermes_spark.schema import TRANSCRIPT_SCHEMA
from hermes_spark.streaming.pipeline import CdcPipeline


def _write_batches(spark, pdf_batches, src_dir):
    os.makedirs(src_dir, exist_ok=True)
    for i, b in enumerate(pdf_batches):
        spark.createDataFrame(b, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)


@pytest.fixture(scope="module")
def batches():
    base = generate_transcripts(TranscriptConfig(n_convs=40, mega_len=300))
    return base, generate_change_batches(base, n_batches=3)


def _expected_final_state(spark, batches_pdf):
    """Batch oracle: replay all deliveries in (ts, turn_idx) order per
    key — last writer wins; tombstone removes the key."""
    import pandas as pd

    allb = pd.concat(batches_pdf, ignore_index=True)
    allb = allb.sort_values(["ts", "turn_idx"], kind="stable")
    final = allb.drop_duplicates(subset=["conv_id", "turn_idx"], keep="last")
    final = final[final["text"].notna()]
    return spark.createDataFrame(final.reset_index(drop=True), TRANSCRIPT_SCHEMA)


@pytest.mark.parametrize(
    "n_buckets",
    # 1 = every conversation collides in one state row: the dict-encoded
    # conversation table carries the whole stream
    [pytest.param(1, id="all_collide"), pytest.param(None, id="default")],
)
def test_stream_matches_batch_oracle(spark, tmp_work, batches, n_buckets):
    _, pdfs = batches
    src = os.path.join(tmp_work, "src")
    _write_batches(spark, pdfs, src)

    kw = {} if n_buckets is None else {"n_buckets": n_buckets}
    pipe = CdcPipeline(spark, src, os.path.join(tmp_work, "run1"), **kw)
    pipe.run_available()
    # unset: 32 buckets per shuffle partition (the suite runs 4),
    # recorded next to the checkpoint
    assert pipe.n_buckets == (n_buckets or 128)
    with open(os.path.join(pipe.checkpoint, "n_buckets.json")) as f:
        assert json.load(f) == {"n_buckets": pipe.n_buckets}
    got = pipe.target_live().select("conv_id", "turn_idx", "text")

    exp = _expected_final_state(spark, pdfs).select("conv_id", "turn_idx", "text")
    # per-turn text equality under stable turn ordering (input_hint)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_stream_merkle_matches_batch_merkle(spark, tmp_work, batches):
    _, pdfs = batches
    src = os.path.join(tmp_work, "src")
    _write_batches(spark, pdfs, src)
    pipe = CdcPipeline(spark, src, os.path.join(tmp_work, "run"))
    pipe.run_available()

    got = conversation_merkle(pipe.target_live())
    exp = conversation_merkle(_expected_final_state(spark, pdfs))
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_resume_from_checkpoint_equals_uninterrupted(spark, tmp_work, batches):
    """Kill mid-stream, restart from checkpoint ⇒ identical target
    (S10/S11 exactly-once gate)."""
    _, pdfs = batches
    src_a = os.path.join(tmp_work, "src_a")
    _write_batches(spark, pdfs, src_a)
    uninterrupted = CdcPipeline(spark, src_a, os.path.join(tmp_work, "uninterrupted"))
    uninterrupted.run_available()

    # interrupted run: feed first two batches, stop, feed the rest, resume
    src_b = os.path.join(tmp_work, "src_b")
    _write_batches(spark, pdfs[:2], src_b)
    pipe = CdcPipeline(spark, src_b, os.path.join(tmp_work, "resumed"))
    pipe.run_available()  # processes b0,b1 then stops (the "kill")
    _write_batches(spark, pdfs[2:], src_b)
    pipe2 = CdcPipeline(spark, src_b, os.path.join(tmp_work, "resumed"))
    pipe2.run_available()  # same checkpoint → resumes offsets

    a = uninterrupted.target_live().select("conv_id", "turn_idx", "text", "cksum")
    b = pipe2.target_live().select("conv_id", "turn_idx", "text", "cksum")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_resume_keeps_the_recorded_bucket_count(spark, tmp_work):
    """The classifier state is keyed by bucket: a checkpoint resumed with
    another ``n_buckets`` would look most conversations up in a bucket
    with no state, and an older delivery arriving after the restart
    would overwrite the newer text.  The count is recorded at the first
    start; a conflicting one is refused before any batch runs."""
    t1 = dt.datetime(2026, 1, 1, 0, 1)
    t0 = t1 - dt.timedelta(minutes=1)  # older, but inside the watermark
    src = os.path.join(tmp_work, "src")
    work = os.path.join(tmp_work, "run")

    def deliver(text, ts):
        rows = [(f"c{i:02d}", 0, "user", f"{text}-{i}", None, ts) for i in range(20)]
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def texts(pipe):
        return sorted(r.text for r in pipe.target_live().select("text").collect())

    newer = sorted(f"new-{i}" for i in range(20))
    deliver("new", t1)
    CdcPipeline(spark, src, work, n_buckets=4).run_available()
    deliver("old", t0)  # stale re-delivery of every key, after the stop

    pipe = CdcPipeline(spark, src, work, n_buckets=8)
    version = pipe.target.current_version()
    with pytest.raises(ValueError, match="n_buckets=8 conflicts with n_buckets=4"):
        pipe.start()
    assert pipe.target.current_version() == version and texts(pipe) == newer

    pipe = CdcPipeline(spark, src, work)
    pipe.run_available()
    assert pipe.n_buckets == 4 and texts(pipe) == newer

    # a checkpoint from before the record: only an explicit count resumes
    record = os.path.join(pipe.checkpoint, "n_buckets.json")
    os.remove(record)
    with pytest.raises(ValueError, match="no n_buckets record"):
        CdcPipeline(spark, src, work).start()
    CdcPipeline(spark, src, work, n_buckets=4).run_available()
    with open(record) as f:
        assert json.load(f) == {"n_buckets": 4}


def test_replayed_batch_is_noop(spark, tmp_work, batches):
    """Idempotent MERGE: re-invoking the sink with an already-committed
    batch_id must not change the target (S6 producer-retry analog)."""
    _, pdfs = batches
    src = os.path.join(tmp_work, "src")
    _write_batches(spark, pdfs[:1], src)
    pipe = CdcPipeline(spark, src, os.path.join(tmp_work, "run"))
    pipe.run_available()
    before = pipe.target_live().count()
    v_before = pipe.target.current_version()

    # replay batch 0 manually through the sink
    from hermes_spark.streaming.cdc import with_content_cksum

    fake = with_content_cksum(
        spark.createDataFrame(pdfs[0], TRANSCRIPT_SCHEMA)
    ).withColumn("op", F.lit("insert"))
    pipe.sink(fake.select(*[f.name for f in pipe.target.schema.fields]), batch_id=0)
    assert pipe.target.current_version() == v_before
    assert pipe.target_live().count() == before


def test_lineage_metrics_written(spark, tmp_work, batches):
    _, pdfs = batches
    src = os.path.join(tmp_work, "src")
    _write_batches(spark, pdfs, src)
    pipe = CdcPipeline(spark, src, os.path.join(tmp_work, "run"))
    pipe.run_available()
    m = pipe.sink.metrics()
    assert m is not None
    ops = {r.op for r in m.select("op").distinct().collect()}
    assert "insert" in ops
    assert m.where(F.col("rows") < 0).count() == 0


def test_delivery_order_independence(spark, tmp_work, batches):
    """Final target state must not depend on micro-batch grouping or
    cross-batch delivery order (last-writer-by-event-time semantics);
    regression: file-listing order used to leak into the target."""
    _, pdfs = batches
    fwd = os.path.join(tmp_work, "fwd")
    rev = os.path.join(tmp_work, "rev")
    _write_batches(spark, pdfs, fwd)
    _write_batches(spark, list(reversed(pdfs)), rev)

    a = CdcPipeline(spark, fwd, os.path.join(tmp_work, "runf"))
    a.run_available()
    b = CdcPipeline(spark, rev, os.path.join(tmp_work, "runr"))
    b.run_available()
    ta = a.target_live().select("conv_id", "turn_idx", "text")
    tb = b.target_live().select("conv_id", "turn_idx", "text")
    assert ta.exceptAll(tb).count() == 0 and tb.exceptAll(ta).count() == 0


def test_join_mode_equals_stateful_mode(spark, tmp_work, batches):
    """JVM-only join classification (target-as-state) must produce the
    same live state as the applyInPandasWithState classifier, including
    under reversed delivery order."""
    from hermes_spark.streaming.cdc_join import JoinCdcPipeline

    _, pdfs = batches
    src = os.path.join(tmp_work, "src")
    rev = os.path.join(tmp_work, "rev")
    _write_batches(spark, pdfs, src)
    _write_batches(spark, list(reversed(pdfs)), rev)

    a = CdcPipeline(spark, src, os.path.join(tmp_work, "stateful"))
    a.run_available()
    b = JoinCdcPipeline(spark, src, os.path.join(tmp_work, "joinmode"))
    b.run_available()
    c = JoinCdcPipeline(spark, rev, os.path.join(tmp_work, "joinrev"))
    c.run_available()

    ta = a.target_live().select("conv_id", "turn_idx", "text", "cksum")
    tb = b.target_live().select("conv_id", "turn_idx", "text", "cksum")
    tc = c.target_live().select("conv_id", "turn_idx", "text", "cksum")
    assert ta.exceptAll(tb).count() == 0 and tb.exceptAll(ta).count() == 0
    assert tb.exceptAll(tc).count() == 0 and tc.exceptAll(tb).count() == 0
