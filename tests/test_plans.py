"""Physical-plan shape regressions: the plans we iterated to must not
silently degrade.  Each assertion encodes a scale property from the
round briefs: column pruning and key filters reach the scan, small
parents broadcast, the Python-free operators stay Python-free, and the
sharded/narrow operators keep their exchange shape.  Every plan is
built by a direct operator call on a small frame."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hermes_spark.tables import ParquetMergeTable, scratch_dir

WIDE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("cksum", T.StringType(), True),
        T.StructField("cks64", T.LongType(), True),
    ]
)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "mail a@b.io or call 555-123-4567 from 10.0.0.1"),
            (4, "dup\ndup\nalpha beta gamma"),
        ],
        "doc_id long, text string",
    )


def test_pruned_state_read_never_scans_text(spark):
    """Join-mode CDC reads state as (key, op, ts, cks64): the parquet
    ReadSchema must not contain text/role/tool — at 10^12 turns the
    wide payload is ~95% of the bytes."""
    work = scratch_dir("planprune")
    t = ParquetMergeTable(
        spark, work + "/t", key=["conv_id", "turn_idx"], schema=WIDE_SCHEMA,
        tombstone_mode="retain",
    )
    rows = [("c1", 0, "insert", "user", "BIGTEXT", None, None, "x", 1)]
    t.merge(spark.createDataFrame(rows, WIDE_SCHEMA), batch_id=0)
    t.merge(
        spark.createDataFrame(
            [("c1", 1, "insert", "user", "MORE", None, None, "y", 2)], WIDE_SCHEMA
        ),
        batch_id=1,
    )
    pruned = t.read(columns=["conv_id", "turn_idx", "op", "ts", "cks64"])
    plan = _physical(pruned)
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    for ln in scan_lines:
        assert "text" not in ln and "role" not in ln and "tool" not in ln, ln
    t.drop()


def test_filter_pushdown_reaches_scan(spark):
    """A key predicate on the merge-on-read state (base ⊎ deltas,
    latest-per-key fold) is pushed below the fold into every version's
    parquet scan: a point lookup never decodes the other keys."""
    work = scratch_dir("planpush")
    t = ParquetMergeTable(
        spark, work + "/t", key=["conv_id", "turn_idx"], schema=WIDE_SCHEMA
    )
    t.merge(
        spark.createDataFrame(
            [("c1", 0, "insert", "user", "a", None, None, "x", 1),
             ("c2", 0, "insert", "user", "b", None, None, "y", 2)],
            WIDE_SCHEMA,
        ),
        batch_id=0,
    )
    t.merge(
        spark.createDataFrame(
            [("c1", 1, "insert", "user", "c", None, None, "z", 3)], WIDE_SCHEMA
        ),
        batch_id=1,
    )
    df = t.read().where(F.col("conv_id") == "c1").select("conv_id", "turn_idx")
    plan = _physical(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert len(pushed) == 2, plan  # one scan per committed version
    for ln in pushed:
        assert "EqualTo(conv_id,c1)" in ln, ln
    assert sorted(tuple(r) for r in df.collect()) == [("c1", 0), ("c1", 1)]
    t.drop()


def test_small_dim_join_broadcasts(spark, sf_dir):
    """FK constraints over small parents pick BroadcastHashJoin, not a
    shuffled join: the customer → orders → lineitem cascade prunes the
    fact table with map-side semi-joins (integrity.py's scale note)."""
    from hermes_spark.operators.integrity import cascade_fk_filter

    def t(name, *cols):
        return spark.read.parquet(f"{sf_dir}/{name}.parquet").select(*cols)

    out = cascade_fk_filter(
        {
            "customer": t("customer", "c_custkey"),
            "orders": t("orders", "o_orderkey", "o_custkey"),
            "lineitem": t("lineitem", "l_orderkey", "l_linenumber"),
        },
        [
            ("orders", "customer", [("o_custkey", "c_custkey")]),
            ("lineitem", "orders", [("l_orderkey", "o_orderkey")]),
        ],
    )
    plan = _physical(out["lineitem"])
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


# --- operator plans ---------------------------------------------------------
# Each builder returns the operator's output frame(s); all of them must
# plan without a Python UDF (BatchEvalPython / ArrowEvalPython), which
# would be a 10-100x regression at scale.


def _snapshot_diff(spark, tdf):
    from hermes_spark.operators.diff import snapshot_diff

    new = tdf.select("conv_id", "turn_idx", "text", "role")
    old = new.where(F.col("turn_idx") % 3 != 0).withColumn(
        "text", F.when(F.col("turn_idx") % 5 == 0, F.lit("old")).otherwise(F.col("text"))
    )
    return [snapshot_diff(new, old, key=["conv_id", "turn_idx"],
                          compare_cols=["text", "role"], emit_attr_diff=True)]


def _checksum(spark, tdf):
    from hermes_spark.operators.checksum import (
        conversation_merkle,
        salted_merkle,
        turn_leaf,
    )

    return [conversation_merkle(tdf), salted_merkle(tdf, "conv_id", turn_leaf())]


def _compact_events(spark, tdf):
    from hermes_spark.operators.compaction import compact_events

    ev = spark.createDataFrame(
        [("k1", 0, "insert", "a"), ("k1", 1, "update", "b"), ("k2", 2, "delete", None)],
        "key string, offset long, op string, v string",
    )
    return [compact_events(ev, ["key"], payload_cols=["v"])]


def _compact_events_map(spark, tdf):
    from hermes_spark.operators.eventmerge import compact_events_map

    m = "map<string,string>"
    ev = spark.createDataFrame(
        [
            ("k1", 0, "added", {"a": "1"}, None, None, None),
            ("k1", 1, "modified", None, {"b": "2"}, {"a": "3"}, None),
            ("k2", 2, "removed", None, None, None, None),
        ],
        f"k string, offset long, op string, attrs {m}, added {m}, "
        f"modified {m}, removed {m}",
    )
    prior = spark.createDataFrame([("k2", {"a": "0"})], f"k string, attrs {m}")
    return [compact_events_map(ev, key=["k"], prior=prior)]


def _fanout_rig(spark):
    cache = spark.createDataFrame(
        [(1, "alice", "a@x", "B1"), (2, "bob", "b@x", None)],
        "uid int, login string, mail string, building string",
    )
    ev = spark.createDataFrame(
        [(1, "update", 10, None, None, "B9"), (2, "insert", 11, "bob", "b@y", "B2")],
        "uid int, op string, ts int, login string, mail string, building string",
    )
    return cache, ev


def _fanout_specs():
    from hermes_spark.plans.mapping import LocalTypeSpec

    return [
        LocalTypeSpec("account", {"username": "login", "email": "mail"}),
        LocalTypeSpec("badge", {"tag": {"expr": "concat(building, ':', login)"}}),
    ]


def _fanout(spark, tdf):
    from hermes_spark.plans.mapping import fanout_events

    _cache, ev = _fanout_rig(spark)
    return list(fanout_events(ev, _fanout_specs(), key_cols=["uid"]).values())


def _fanout_cache(spark, tdf):
    from hermes_spark.plans.mapping import fanout_events

    cache, ev = _fanout_rig(spark)
    out = fanout_events(ev, _fanout_specs(), key_cols=["uid"], cache=cache)
    return list(out.values())


def _merge_substitute_cache(spark, tdf):
    from hermes_spark.operators.merge import (
        MUST_EXIST_IN_BOTH,
        merge_sources,
        substitute_cached,
    )

    a = spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string")
    b = spark.createDataFrame([(1, "x"), (2, "CONFLICT")], "id int, v string")
    cache = spark.createDataFrame([(2, "cached")], "id int, v string")
    res = merge_sources(a, b, ["id"], MUST_EXIST_IN_BOTH, conflict_policy="quarantine")
    return [substitute_cached(res.merged, res.conflicts, cache, ["id"])]


def _sessionize(spark, tdf):
    from hermes_spark.operators.windows import sessionize_batch

    return [sessionize_batch(tdf, key="conv_id", ts_col="ts", gap_seconds=1800)]


def _exact_dedup(spark, tdf):
    from hermes_spark.functions.dedup import exact_dedup

    return [exact_dedup(_docs(spark))]


def _ngram_jaccard(spark, tdf):
    from hermes_spark.functions.dedup import ngram_jaccard_pairs

    return [ngram_jaccard_pairs(_docs(spark), threshold=0.8, max_doc_freq=64)]


def _token_count(spark, tdf):
    from hermes_spark.functions.text import token_count

    return [_docs(spark).select("doc_id", token_count("text").alias("n"))]


def _fingerprint(spark, tdf):
    from hermes_spark.functions.text import normalized_fingerprint

    return [_docs(spark).select("doc_id", normalized_fingerprint("text").alias("fp"))]


def _pii_scrub(spark, tdf):
    from hermes_spark.functions.curation import pii_scrub

    return [pii_scrub(_docs(spark))]


def _hash_sample(spark, tdf):
    from hermes_spark.functions.curation import hash_sample

    return [hash_sample(_docs(spark), ["doc_id"], 0.5, salt="s")]


def _chunk_documents(spark, tdf):
    from hermes_spark.functions.curation import chunk_documents

    return [chunk_documents(_docs(spark), ["doc_id"], size=4, overlap=1)]


def _pack_sequences(spark, tdf):
    from hermes_spark.functions.curation import chunk_documents, pack_sequences

    chunks = chunk_documents(_docs(spark), ["doc_id"], size=4, overlap=1)
    return [pack_sequences(chunks, ["doc_id", "chunk_idx"], capacity=8, n_shards=4)]


def _decontamination_report(spark, tdf):
    from hermes_spark.functions.curation import decontamination_report

    ev = spark.createDataFrame(
        [(100, "quick brown fox jumps")], "doc_id long, text string"
    )
    return [decontamination_report(_docs(spark), ev, n=3)]


def _repetition_stats(spark, tdf):
    from hermes_spark.functions.curation import repetition_stats

    return [repetition_stats(_docs(spark))]


# the CDC / event-model / dedup operators of the engine
HEADLINE_OPERATORS = {
    "snapshot_diff": _snapshot_diff,
    "checksum_merkle": _checksum,
    "compact_events": _compact_events,
    "compact_events_map": _compact_events_map,
    "fanout_events": _fanout,
    "fanout_events_cache": _fanout_cache,
    "merge_substitute_cache": _merge_substitute_cache,
    "sessionize_batch": _sessionize,
    "exact_dedup": _exact_dedup,
    "ngram_jaccard_pairs": _ngram_jaccard,
    "token_count": _token_count,
    "normalized_fingerprint": _fingerprint,
}

# the curation / packing operators
CURATION_OPERATORS = {
    "pii_scrub": _pii_scrub,
    "hash_sample": _hash_sample,
    "chunk_documents": _chunk_documents,
    "pack_sequences": _pack_sequences,
    "decontamination_report": _decontamination_report,
    "repetition_stats": _repetition_stats,
}


def _assert_no_python_udfs(spark, tdf, builders):
    for name, build in sorted(builders.items()):
        for df in build(spark, tdf):
            plan = _physical(df)
            assert "EvalPython" not in plan, (name, plan[:2000])


def test_headline_queries_have_no_python_udfs(spark, transcripts_df):
    """The CDC/engine operators are JVM-only — a Python UDF
    (BatchEvalPython / ArrowEvalPython) sneaking into these plans is a
    10-100x regression at scale."""
    _assert_no_python_udfs(spark, transcripts_df, HEADLINE_OPERATORS)


def test_round6_queries_have_no_python_udfs(spark, transcripts_df):
    """The curation/packing operators stay JVM-only too."""
    _assert_no_python_udfs(spark, transcripts_df, CURATION_OPERATORS)


def test_decontaminate_probe_join_broadcasts(spark):
    """The eval-shingle side of the contamination probe is broadcast —
    the corpus side must NOT shuffle for candidate generation (the
    100 TB property: probing is a map-side join)."""
    (df,) = _decontamination_report(spark, None)
    assert "BroadcastHashJoin" in _physical(df)


def test_exact_dedup_aggregates_map_side(spark):
    """exact_dedup is one hash aggregate pair (partial + final) over
    the fingerprint — no join, no window, no sort."""
    (df,) = _exact_dedup(spark, None)
    plan = _physical(df)
    assert "HashAggregate" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_pack_sequences_single_exchange_per_window(spark):
    """Packing is sharded: the plan partitions by shard (hash
    exchange), never a single-partition global window (which would
    serialize the cumsum)."""
    (df,) = _pack_sequences(spark, None)
    plan = _physical(df)
    assert "SinglePartition" not in plan, plan[:2000]
    assert "Window" in plan


def test_quantize_and_chunk_are_narrow(spark):
    """Chunking is a pure per-row transform — the operator adds zero
    exchanges on top of its input, so it parallelizes with the scan.
    The input is pre-widened by one deliberate round-robin
    repartition, which must stay the plan's only exchange.  (The
    quantization half of this pin went with ``functions/similarity``.)"""
    from hermes_spark.functions.curation import chunk_documents

    docs = _docs(spark).repartition(4)
    plan = _physical(chunk_documents(docs, ["doc_id"]))
    assert plan.count("Exchange") == 1, plan[:2000]
    assert "hashpartitioning" not in plan, plan[:2000]
