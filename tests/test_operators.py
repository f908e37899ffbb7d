"""Operator-semantics unit tests.

Ports the *semantics* (not the code) of the reference unit suites:
merge constraints (/root/reference/tests/unit/
test_lib_datamodel_dataobjectlist.py), the autoremediation truth table
(tests/unit/test_clients_errorqueue.py), ordering and trashbin
behavior (clients/__init__.py scenarios).
"""

import pyspark.sql.functions as F
import pytest

from hermes_spark.operators.compaction import compact_events
from hermes_spark.operators.merge import (
    MUST_ALREADY_EXIST,
    MUST_EXIST_IN_BOTH,
    MUST_NOT_EXIST,
    NO_CONSTRAINT,
    merge_sources,
)
from hermes_spark.operators.ordering import (
    oldest_event_per_key,
    unblocked_retry_candidates,
)
from hermes_spark.operators.quarantine import dedup_quarantine
from hermes_spark.operators.trashbin import (
    apply_soft_deletes,
    live_view,
    purge_expired,
    trashbin_view,
)


@pytest.fixture(scope="module")
def ab(spark):
    a = spark.createDataFrame(
        [(1, "a1", 10), (2, "a2", 20), (3, None, 30)],
        "k int, name string, x int",
    )
    b = spark.createDataFrame(
        [(2, "b2", 99), (3, "b3", 88), (4, "b4", 77)],
        "k int, name string, y int",
    )
    return a, b


def test_merge_no_constraint_full_outer(spark, ab):
    a, b = ab
    r = merge_sources(a, b, ["k"], NO_CONSTRAINT)
    rows = {r2.k: (r2.name, r2.x, r2.y) for r2 in r.merged.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1] == ("a1", 10, None)
    assert rows[2] == ("a2", 20, 99)       # A's value wins (keep_first)
    assert rows[3] == ("b3", 30, 88)       # A null → B fills
    assert rows[4] == ("b4", None, 77)


def test_merge_must_not_exist(spark, ab):
    a, b = ab
    r = merge_sources(a, b, ["k"], MUST_NOT_EXIST)
    rows = {r2.k: r2.name for r2 in r.merged.collect()}
    assert rows == {1: "a1", 2: "a2", 3: None, 4: "b4"}  # 2,3 keep A wholesale


def test_merge_must_already_exist(spark, ab):
    a, b = ab
    r = merge_sources(a, b, ["k"], MUST_ALREADY_EXIST)
    assert {r2.k for r2 in r.merged.collect()} == {1, 2, 3}


def test_merge_must_exist_in_both_and_conflicts(spark, ab):
    a, b = ab
    r = merge_sources(a, b, ["k"], MUST_EXIST_IN_BOTH, conflict_policy="quarantine")
    assert {r2.k for r2 in r.merged.collect()} == {3}  # k=2 conflicts on name
    assert {r2.k for r2 in r.conflicts.collect()} == {2}


def test_quarantine_drops_both_copies(spark):
    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z")], "k int, v string"
    )
    r = dedup_quarantine(df, ["k"])
    assert [row.k for row in r.clean.collect()] == [2]
    q = r.quarantined.collect()
    assert len(q) == 1 and q[0].k == 1 and q[0].dup_count == 2


# --- compaction truth table (reference errorqueue.py:187-417) -------------

CASES = [
    # (ops in offset order, expected_op or None)
    (["insert", "update"], "insert"),
    (["insert", "update", "update"], "insert"),
    (["insert", "delete"], None),                  # added+removed → drop both
    (["update", "update"], "update"),              # modified+modified merge
    (["update", "delete"], "delete"),              # modified+removed → removed
    (["delete", "insert"], "update"),              # removed+added → modified
    (["insert"], "insert"),
    (["delete"], "delete"),
    (["delete", "insert", "delete"], "delete"),
    (["insert", "delete", "insert"], "insert"),
]


@pytest.mark.parametrize("ops,expected", CASES)
def test_compaction_truth_table(spark, ops, expected):
    rows = [("k1", i, op) for i, op in enumerate(ops)]
    df = spark.createDataFrame(rows, "key string, offset long, op string")
    out = compact_events(df, ["key"], offset_col="offset").collect()
    if expected is None:
        assert out == []
    else:
        assert len(out) == 1
        assert out[0].op == expected
        assert out[0].offset == len(ops) - 1


def test_compaction_partially_processed_passthrough(spark):
    df = spark.createDataFrame(
        [("k", 0, "insert", False), ("k", 1, "update", True)],
        "key string, offset long, op string, pp boolean",
    )
    out = compact_events(
        df, ["key"], offset_col="offset", partially_processed_col="pp"
    )
    assert out.count() == 2  # uncompacted: pp keys pass through


# --- ordering / error queue ------------------------------------------------

def test_oldest_event_per_key(spark):
    df = spark.createDataFrame(
        [("a", 5, "x"), ("a", 2, "y"), ("b", 9, "z")],
        "key string, offset long, payload string",
    )
    out = {r.key: r.offset for r in oldest_event_per_key(df, ["key"]).collect()}
    assert out == {"a": 2, "b": 9}


def test_fk_dependency_blocking(spark):
    """An errored parent blocks retry of itself? No — it blocks retry of
    events whose key is the FK-parent of another errored key
    (errorqueue.py:700-711): parent must NOT retry while a child error
    references it... inverted: reference skips events that are parents
    of other errored objects."""
    q = spark.createDataFrame(
        [
            ("p1", 1, None),      # parent event, referenced by c1
            ("c1", 2, "p1"),      # child error referencing p1
            ("p2", 3, None),      # parent with no child errors
        ],
        "key string, offset long, fk string",
    )
    out = unblocked_retry_candidates(
        q, ["key"], parent_key_of=[("key", "fk")]
    )
    assert {r.key for r in out.collect()} == {"c1", "p2"}


# --- trashbin ---------------------------------------------------------------

def test_soft_delete_recycle_purge(spark):
    target = spark.createDataFrame(
        [("a", "v1"), ("b", "v2")], "k string, v string"
    )
    changes = spark.createDataFrame(
        [("a", "delete", None, "2026-01-10 00:00:00"),
         ("c", "insert", "v3", "2026-01-10 00:00:00")],
        "k string, op string, v string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t1 = apply_soft_deletes(target, changes, ["k"])
    assert {r.k for r in live_view(t1).collect()} == {"b", "c"}
    assert {r.k for r in trashbin_view(t1).collect()} == {"a"}

    # recycle: re-insert 'a'
    re_add = spark.createDataFrame(
        [("a", "insert", "v1b", "2026-01-11 00:00:00")],
        "k string, op string, v string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t2 = apply_soft_deletes(t1, re_add, ["k"])
    assert {r.k for r in live_view(t2).collect()} == {"a", "b", "c"}
    assert trashbin_view(t2).count() == 0

    # purge: delete again then expire
    t3 = apply_soft_deletes(t2, changes.where(F.col("op") == "delete"), ["k"])
    kept = purge_expired(t3, F.lit("2026-02-01").cast("timestamp"))
    assert {r.k for r in kept.collect()} == {"b", "c"}  # a's tombstone expired


def test_tombstone_retention_purge_on_compaction(spark, tmp_work):
    """Retained tombstones expire on compaction past the event-time
    retention horizon (W4 streaming analog)."""
    from pyspark.sql import functions as F

    from hermes_spark.streaming.cdc_join import JOIN_STATE_SCHEMA
    from hermes_spark.tables import ParquetMergeTable

    t = ParquetMergeTable(
        spark, f"{tmp_work}/tt", key=["conv_id", "turn_idx"],
        schema=JOIN_STATE_SCHEMA, tombstone_mode="retain",
        tombstone_retention="1 days",
    )
    rows = spark.createDataFrame(
        [
            ("c", 0, "insert", "user", "x", None, "2026-01-10 00:00:00", "s", 1),
            ("c", 1, "delete", None, None, None, "2026-01-01 00:00:00", None, 2),  # old tombstone
            ("c", 2, "delete", None, None, None, "2026-01-09 23:00:00", None, 3),  # recent tombstone
        ],
        "conv_id string, turn_idx int, op string, role string, text string,"
        " tool string, ts string, cksum string, cks64 long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t.merge(rows, batch_id=0)
    assert t.read().count() == 3  # all retained pre-compaction
    t.compact()
    kept = {(r.turn_idx, r.op) for r in t.read().collect()}
    assert kept == {(0, "insert"), (2, "delete")}  # old tombstone purged


def test_merge_deletes_without_op_in_schema(spark, tmp_work):
    """A target whose schema lacks 'op' must still honor deletes in the
    change feed (regression: op column was dropped from deltas, turning
    deletes into upserts)."""
    from hermes_spark.tables import ParquetMergeTable

    schema = spark.createDataFrame([(1, "a")], "id int, v string").schema
    t = ParquetMergeTable(spark, f"{tmp_work}/nop", key=["id"], schema=schema)
    t.merge(
        spark.createDataFrame([(1, "a", "insert"), (2, "b", "insert")],
                              "id int, v string, op string"),
        batch_id=0,
    )
    assert t.read().count() == 2
    t.merge(
        spark.createDataFrame([(1, None, "delete")], "id int, v string, op string"),
        batch_id=1,
    )
    rows = t.read().collect()
    assert [(r.id, r.v) for r in rows] == [(2, "b")]
    t.compact()
    assert [(r.id, r.v) for r in t.read().collect()] == [(2, "b")]


# --- integrity, merkle and sessionization against plain-Python models ------

def test_fk_cascade_and_orphans_match_model(spark):
    """cascade_fk_filter prunes each child against its already-pruned
    parent (customers → orders → lineitems), and fk_filter with
    keep_if_exists=False returns exactly the orphans; FK equality is
    null-safe."""
    from hermes_spark.operators.integrity import cascade_fk_filter, fk_filter

    # the NULL parent key matches the NULL-FK order (o_orderkey 7)
    cust = [(c,) for c in range(1, 21) if c % 10 != 0] + [(None,)]
    orders = [(o, None if o == 7 else o % 23) for o in range(1, 41)]
    items = [(o, ln) for o in range(1, 41) for ln in range(o % 3 + 1)]
    tables = {
        "customer": spark.createDataFrame(cust, "c_custkey int"),
        "orders": spark.createDataFrame(orders, "o_orderkey int, o_custkey int"),
        "lineitem": spark.createDataFrame(items, "l_orderkey int, l_line int"),
    }
    out = cascade_fk_filter(
        tables,
        [
            ("orders", "customer", [("o_custkey", "c_custkey")]),
            ("lineitem", "orders", [("l_orderkey", "o_orderkey")]),
        ],
    )
    cust_keys = {c for (c,) in cust}
    kept_orders = {o for o, c in orders if c in cust_keys}
    assert {r.o_orderkey for r in out["orders"].collect()} == kept_orders
    assert sorted(tuple(r) for r in out["lineitem"].collect()) == sorted(
        (o, ln) for o, ln in items if o in kept_orders
    )

    orphans = fk_filter(
        tables["orders"], tables["customer"], [("o_custkey", "c_custkey")],
        keep_if_exists=False,
    )
    assert sorted(tuple(r) for r in orphans.collect()) == sorted(
        (o, c) for o, c in orders if c not in cust_keys
    )


def test_salted_merkle_equals_single_phase_digest(spark):
    """The two-phase salted rollup is bit-identical to sha256 over the
    sorted, separator-joined leaves of each key — including a hot key
    whose leaves spread over every salt."""
    import hashlib

    from hermes_spark.operators.checksum import salted_merkle

    rows = [("hot", e, f"type{e % 5}") for e in range(300)]
    rows += [(f"u{u}", 1000 + u * 10 + e, "click") for u in range(6) for e in range(u + 1)]
    ev = spark.createDataFrame(rows, "user_id string, event_id long, event_type string")
    leaf = F.concat_ws(
        ":", F.format_string("%010d", F.col("event_id")), F.sha2(F.col("event_type"), 256)
    )
    got = {
        r.user_id: (r.merkle, r.n_leaves)
        for r in salted_merkle(ev, "user_id", leaf, n_salts=16).collect()
    }

    leaves: dict[str, list[str]] = {}
    for user, eid, etype in rows:
        leaves.setdefault(user, []).append(
            f"{eid:010d}:{hashlib.sha256(etype.encode()).hexdigest()}"
        )
    want = {
        u: (hashlib.sha256("\x1f".join(sorted(ls)).encode()).hexdigest(), len(ls))
        for u, ls in leaves.items()
    }
    assert got == want


def test_sessionize_batch_matches_model(spark):
    """A new session starts at a key's first event and whenever the gap
    to the previous event (ts, then event_id order) exceeds the
    threshold; a gap of exactly the threshold stays in the session."""
    from hermes_spark.operators.windows import sessionize_batch

    gap = 1800
    times = {
        "a": [0, 100, 1900, 1900 + gap + 1, 5000, 5000],
        "b": [50],
        "c": [10, 10 + gap, 10 + 2 * gap + 5, 20000],
    }
    rows = [(u, i, t) for u, ts in times.items() for i, t in enumerate(ts)]
    ev = spark.createDataFrame(rows, "user_id string, event_id long, t long").withColumn(
        "ts", F.timestamp_seconds("t")
    )
    got = sorted(
        (r.user_id, r.session_id, r.n_events, r.start_s, r.end_s)
        for r in sessionize_batch(ev, key="user_id", ts_col="ts", gap_seconds=gap)
        .select(
            "user_id", "session_id", "n_events",
            F.unix_seconds("session_start").alias("start_s"),
            F.unix_seconds("session_end").alias("end_s"),
        )
        .collect()
    )

    want = []
    for u, ts in times.items():
        sessions: list[list[int]] = []
        for t in sorted(ts):
            if not sessions or t - sessions[-1][-1] > gap:
                sessions.append([])
            sessions[-1].append(t)
        want += [
            (u, sid, len(s), s[0], s[-1]) for sid, s in enumerate(sessions, start=1)
        ]
    assert got == sorted(want)
