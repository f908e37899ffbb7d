"""Regression tests for the round-2 ADVICE findings: torn-tail
commit-log repair, rolling-hash memory tiering, conv-table encoding
safety, and null-ts handling in the stateful classifier."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


# -- commit log crash recovery ------------------------------------------


def test_commit_log_torn_tail_repair(spark, tmp_work):
    """A crash mid-append leaves a torn (newline-less) tail; a restarted
    writer must truncate it so the ledger stays parseable end-to-end —
    otherwise replayed batches re-commit and versions are reused."""
    from hermes_spark.tables import ParquetMergeTable

    schema = spark.createDataFrame([(1, "a")], "id int, v string").schema
    t = ParquetMergeTable(spark, f"{tmp_work}/torn", key=["id"], schema=schema)
    t.merge(spark.createDataFrame([(1, "a", "insert")], "id int, v string, op string"),
            batch_id=0)
    t.merge(spark.createDataFrame([(2, "b", "insert")], "id int, v string, op string"),
            batch_id=1)
    v_before = t.current_version()

    # simulate the crash: a partial record with no trailing newline
    with open(t._commits_path, "a") as f:
        f.write('{"version": 999, "batch_')

    # fresh process
    t2 = ParquetMergeTable(spark, f"{tmp_work}/torn", key=["id"], schema=schema)
    # replay of batch 1 must still be a no-op…
    assert t2.merge(
        spark.createDataFrame([(2, "b", "insert")], "id int, v string, op string"),
        batch_id=1,
    ) is None
    # …and a new batch gets a fresh, non-colliding version
    v3 = t2.merge(
        spark.createDataFrame([(3, "c", "insert")], "id int, v string, op string"),
        batch_id=2,
    )
    assert v3 == v_before + 1
    assert t2.committed_batch_ids() == {0, 1, 2}
    assert sorted((r.id, r.v) for r in t2.read().collect()) == [
        (1, "a"), (2, "b"), (3, "c")
    ]
    # the log itself is clean: every line parses
    import json
    with open(t2._commits_path) as f:
        for line in f:
            json.loads(line)


# -- rolling hash: value model + skewed-length memory tiering ------------

_M61 = (1 << 61) - 1


def _model_hash(s):
    if s is None:
        return 0
    h = 0
    for b in s.encode("utf-8"):
        h = (h * 1_000_003 + b) % _M61
    return h


def test_rolling_hash_skewed_lengths(spark):
    """One huge document among thousands of short rows must not force a
    rows × max_len dense allocation (ADVICE: 1 MB doc in a 10k-row
    batch ≈ 10 GB).  Values must still match the per-row model."""
    from hermes_spark.functions.text import rolling_hash

    big = "x" * 300_000 + "tail varies"
    texts = [big] + [f"short doc {i}" for i in range(2000)] + ["", None, "émoji ✓"]
    pdf = pd.DataFrame({"i": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    got = {r.i: r.h for r in
           df.select("i", rolling_hash(F.col("text")).alias("h")).collect()}
    # signed int64 view of the model value
    for i, s in enumerate(texts):
        expect = np.int64(np.uint64(_model_hash(s)))
        assert got[i] == expect, f"row {i}"


# -- conv-table encoding safety ------------------------------------------


def test_conv_table_roundtrip_any_chars():
    from hermes_spark.streaming.cdc import _pack_convs, _unpack_convs

    ids = ["plain", "has\x1fsep", "", "unicode-✓-\x00-\n", "\x1f\x1f"]
    assert _unpack_convs(_pack_convs(ids)) == ids
    assert _unpack_convs(None) == []
    assert _unpack_convs(b"") == []


class _FakeState:
    """Minimal GroupState stand-in for driving the classify functions
    directly (batch N state feeds batch N+1)."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _mk_pdf(rows):
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts", "cks64"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int64")
    pdf["cks64"] = pdf["cks64"].astype("int64")
    return pdf


def test_bucket_classifier_separator_conv_ids():
    """Conv ids containing U+001F must not re-key other conversations
    across a state reload (the old join-encoding silently did)."""
    from hermes_spark.streaming.cdc import _classify_bucket

    st = _FakeState()
    b1 = _mk_pdf([
        ("a\x1fb", 0, "user", "hello", None, "2026-01-01 00:00:00", 11),
        ("a", 0, "user", "hi", None, "2026-01-01 00:00:01", 22),
        ("b", 0, "user", "yo", None, "2026-01-01 00:00:02", 33),
    ])
    out1 = pd.concat(list(_classify_bucket(("k",), iter([b1]), st)))
    assert set(out1["op"]) == {"insert"} and len(out1) == 3

    # batch 2 reloads the packed state: update exactly one conv
    b2 = _mk_pdf([
        ("a", 0, "user", "hi2", None, "2026-01-01 00:01:00", 44),
        ("b", 0, "user", "yo", None, "2026-01-01 00:01:00", 33),  # same cks → noop
    ])
    out2 = pd.concat(list(_classify_bucket(("k",), iter([b2]), st)))
    assert [(r.conv_id, r.op) for r in out2.itertuples()] == [("a", "update")]


def test_bucket_classifier_turn_idx_bounds():
    from hermes_spark.streaming.cdc import _classify_bucket

    st = _FakeState()
    bad = _mk_pdf([("c", 1 << 32, "user", "x", None, "2026-01-01 00:00:00", 1)])
    with pytest.raises(ValueError, match="turn_idx"):
        list(_classify_bucket(("k",), iter([bad]), st))


def test_null_ts_rows_dropped_explicitly():
    """A null event time has no last-writer rank: the row is dropped
    up-front (not silently swallowed by sentinel ordering), and valid
    rows in the same batch are unaffected."""
    from hermes_spark.streaming.cdc import _classify_bucket

    st = _FakeState()
    pdf = _mk_pdf([
        ("c", 0, "user", "ok", None, "2026-01-01 00:00:00", 5),
        ("c", 1, "user", "no-ts", None, None, 6),
    ])
    out = pd.concat(list(_classify_bucket(("k",), iter([pdf]), st)))
    assert [(r.turn_idx, r.op) for r in out.itertuples()] == [(0, "insert")]
    # the null-ts key was not inserted into state: delivering it later
    # with a real ts still classifies as a fresh insert
    pdf2 = _mk_pdf([("c", 1, "user", "no-ts", None, "2026-01-01 00:01:00", 6)])
    out2 = pd.concat(list(_classify_bucket(("k",), iter([pdf2]), st)))
    assert [(r.turn_idx, r.op) for r in out2.itertuples()] == [(1, "insert")]
