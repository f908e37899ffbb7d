"""Property-based test of the merge-on-read fold under leveled
incremental compaction.

``compact_deltas`` is new core table machinery (round 5): random merge
sequences with interleaved maintenance actions (suffix folds with a
tiny ``max_folds`` so consolidation triggers often, full compacts,
generation-windowed vacuums) must leave ``read()`` equal to a
sequential python dict model — state independent of WHERE the fold
boundaries landed.  Runs on two table shapes, both on the trickier
out-of-schema liveness path:

* the extra-op-channel shape: no ``op`` in the schema, merges carry
  ``op`` as the channel;
* the error-queue shape: the schema carries an EVENT ``op`` column
  (a queued ``delete`` event is a live row), and merges name ``_qop``
  as the channel.  The final ``read()`` passes no channel: the
  recorded one must win over the in-schema ``op``."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from hermes_spark.tables import ParquetMergeTable, scratch_dir

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)
DDL = "id int, v string, op string"
QUEUE_SCHEMA = T.StructType(
    SCHEMA.fields + [T.StructField("op", T.StringType(), True)]
)
QUEUE_DDL = "id int, v string, op string, _qop string"
EVENT_OPS = ("insert", "update", "delete")

merge_batch = st.lists(
    st.tuples(st.integers(0, 5), st.sampled_from(["insert", "update", "delete"])),
    min_size=1,
    max_size=3,
    unique_by=lambda kv: kv[0],  # MERGE contract: one row per key
)
action = st.one_of(
    st.tuples(st.just("merge"), merge_batch),
    st.tuples(st.just("fold"), st.just(None)),
    st.tuples(st.just("compact"), st.just(None)),
    st.tuples(st.just("vacuum"), st.sampled_from([0, 1])),
)
fold_property = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _check_fold_model(spark, actions, queue: bool) -> None:
    work = scratch_dir("foldprop")
    t = ParquetMergeTable(
        spark, work + "/t", key=["id"],
        schema=QUEUE_SCHEMA if queue else SCHEMA, compact_every=None,
    )
    model: dict[int, tuple] = {}
    seq = 0
    for kind, arg in actions:
        if kind == "merge":
            if queue:
                # the event op is payload, independent of liveness
                rows = [
                    (k, f"v{seq}-{k}", EVENT_OPS[(k + seq) % 3],
                     "delete" if op == "delete" else "put")
                    for k, op in arg
                ]
                t.merge(
                    spark.createDataFrame(rows, QUEUE_DDL),
                    batch_id=seq, op_col="_qop",
                )
            else:
                rows = [(k, f"v{seq}-{k}", op) for k, op in arg]
                t.merge(spark.createDataFrame(rows, DDL), batch_id=seq)
            for k, *payload, live in rows:
                if live == "delete":
                    model.pop(k, None)
                else:
                    model[k] = tuple(payload)
            seq += 1
        elif kind == "fold":
            t.compact_deltas(max_folds=2)  # tiny cap: consolidations trigger
        elif kind == "compact":
            t.compact()
        else:
            t.vacuum(retain_superseded=arg)
    got = {
        r.id: (r.v, r.op) if queue else (r.v,) for r in t.read().collect()
    }
    assert got == model, (got, model, actions)
    t.drop()


@fold_property
@given(actions=st.lists(action, min_size=3, max_size=10))
def test_leveled_fold_state_equals_model(spark, actions):
    _check_fold_model(spark, actions, queue=False)


@fold_property
@given(actions=st.lists(action, min_size=3, max_size=10))
def test_leveled_fold_state_equals_model_queue_layout(spark, actions):
    _check_fold_model(spark, actions, queue=True)
