"""The declarative YAML config layer (SURVEY §2.10's promised analog
of the reference's user surface: hermes-server-config-example.yml +
lib/config/__init__.py:88-447).  One functional test drives a full
stream — source → stateful classify → fan-out → validated exactly-once
sink → status — from a config file alone; the rest pin the validation
errors (dotted config paths, the cerberus-style UX)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from hermes_spark.config import (
    ConfigError,
    build_pipeline,
    load_config,
    register_validator,
)

CFG_YAML = """
hermes-spark:
  pipeline:
    source: {src}
    work_dir: {work}
    watermark: "10 minutes"
    max_files_per_trigger: 1
    validator: {{expr: "coalesce(length(login) < 100000, true)"}}
    retry_every: 2
    maintain_every: 2
  datamodel:
    passthrough: [ts]
    types:
      user_turns:
        attrsmapping:
          login: text
          mood: {{expr: "upper(tool)"}}
      tool_calls:
        attrsmapping:
          tool_name: tool
          evidence: [text, tool]
  status:
    path: {work}/status.jsonl
"""


def _feed(spark, src_dir, n_batches=3):
    from hermes_spark.fixtures import (
        TranscriptConfig,
        generate_change_batches,
        generate_transcripts,
    )
    from hermes_spark.schema import TRANSCRIPT_SCHEMA

    base = generate_transcripts(TranscriptConfig(n_convs=25, mega_len=150))
    for b in generate_change_batches(base, n_batches=n_batches):
        spark.createDataFrame(b, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)


def test_config_file_drives_full_stream(spark, tmp_work):
    """source → fanout → validated sink → status, from YAML alone; the
    fanned target must agree per type with an uninterrupted PLAIN
    pipeline over the same source (the no-config ground truth)."""
    from hermes_spark.streaming.pipeline import CdcPipeline

    src = os.path.join(tmp_work, "src")
    _feed(spark, src)

    cfg_path = os.path.join(tmp_work, "job.yml")
    with open(cfg_path, "w") as f:
        f.write(CFG_YAML.format(src=src, work=os.path.join(tmp_work, "run")))

    pipe = build_pipeline(spark, cfg_path)
    assert pipe.target.key == ["_objtype", "conv_id", "turn_idx"]
    pipe.run_available()

    # ground truth: a plain pipeline (no fanout/validator) on the
    # same source, fanned out AFTER the fact over its final state
    plain = CdcPipeline(
        spark, src, os.path.join(tmp_work, "plain"), watermark="10 minutes",
        max_files_per_trigger=1,
    )
    plain.run_available()
    truth = plain.target_live().select(
        "conv_id", "turn_idx", F.col("text").alias("login"),
        F.upper("tool").alias("mood"),
    )

    fanned = pipe.target_live()
    users = fanned.where(F.col("_objtype") == "user_turns").select(
        "conv_id", "turn_idx", "login", "mood"
    )
    assert users.exceptAll(truth).count() == 0
    assert truth.exceptAll(users).count() == 0

    # tool_calls kept only rows with payload content (tool or text)
    tools = fanned.where(F.col("_objtype") == "tool_calls")
    assert tools.where(
        F.col("tool_name").isNull() & F.col("evidence").isNull()
    ).count() == 0

    # per-objtype counters folded into status; queue drained; JSONL live
    st = pipe.status_api.status()
    assert st["applied_by_type"]["user_turns"]["inserts"] > 0
    assert st["applied_by_type"]["tool_calls"]["inserts"] > 0
    assert st.get("error_queue_depth", 0) == 0
    status_path = os.path.join(tmp_work, "run", "status.jsonl")
    lines = [json.loads(x) for x in open(status_path)]
    assert any(e.get("event") == "started" for e in lines)


def test_build_pipeline_overrides_and_join_mode(spark, tmp_work):
    cfg = {
        "hermes-spark": {
            "pipeline": {
                "source": "/nonexistent",
                "work_dir": "/nonexistent",
                "mode": "join",
            }
        }
    }
    pipe = build_pipeline(
        spark, cfg,
        source=os.path.join(tmp_work, "s"),
        work_dir=os.path.join(tmp_work, "w"),
    )
    from hermes_spark.streaming.cdc_join import JoinCdcPipeline

    assert isinstance(pipe, JoinCdcPipeline)
    with pytest.raises(ConfigError, match="override.bogus"):
        build_pipeline(spark, cfg, bogus=1)


# -- validation errors: the dotted-path UX ----------------------------------


def _minimal(**pipeline_extra):
    p = {"source": "/s", "work_dir": "/w"}
    p.update(pipeline_extra)
    return {"hermes-spark": {"pipeline": p}}


def test_unknown_key_names_path_and_valid_keys():
    with pytest.raises(ConfigError, match=r"hermes-spark\.pipeline.*watermark_"):
        load_config(_minimal(watermark_="5 minutes"))


def test_missing_required_key():
    with pytest.raises(ConfigError, match=r"hermes-spark\.pipeline.*source"):
        load_config({"hermes-spark": {"pipeline": {"work_dir": "/w"}}})


def test_bad_enum_value():
    with pytest.raises(ConfigError, match=r"pipeline\.mode.*stateful"):
        load_config(_minimal(mode="sideways"))


def test_bad_mapping_spec_names_attr_path():
    cfg = _minimal()
    cfg["hermes-spark"]["datamodel"] = {
        "types": {"u": {"attrsmapping": {"login": 42}}}
    }
    with pytest.raises(
        ConfigError, match=r"datamodel\.types\.u\.attrsmapping\.login"
    ):
        load_config(cfg)


def test_reserved_attr_collision():
    cfg = _minimal()
    cfg["hermes-spark"]["datamodel"] = {
        "types": {"u": {"attrsmapping": {"ts": "text"}}}
    }
    with pytest.raises(ConfigError, match="reserved"):
        load_config(cfg)


def test_datamodel_requires_stateful_mode():
    cfg = _minimal(mode="join")
    cfg["hermes-spark"]["datamodel"] = {
        "types": {"u": {"attrsmapping": {"login": "text"}}}
    }
    with pytest.raises(ConfigError, match="mode: stateful"):
        load_config(cfg)


def test_validator_exactly_one_of_expr_name():
    with pytest.raises(ConfigError, match="exactly one"):
        load_config(_minimal(validator={"expr": "true", "name": "x"}))
    with pytest.raises(ConfigError, match="unknown validator"):
        load_config(_minimal(validator={"name": "never_registered"}))


def test_registered_validator_accepted(spark, tmp_work):
    register_validator("len_ok", lambda df: F.length("text") < 10)
    cfg = _minimal(validator={"name": "len_ok"})
    load_config(cfg)
    pipe = build_pipeline(
        spark, cfg,
        source=os.path.join(tmp_work, "s"),
        work_dir=os.path.join(tmp_work, "w"),
    )
    assert pipe.validator is not None


@pytest.mark.parametrize("mode", ["stateful", "join"])
@pytest.mark.parametrize("n", [0, -4])
def test_non_positive_n_buckets_rejected_at_load(mode, n):
    """n_buckets is a hash modulus: 0 would kill the first trigger with
    REMAINDER_BY_ZERO, so the load must reject it, naming the key."""
    with pytest.raises(ConfigError, match=r"pipeline\.n_buckets.*>= 1"):
        load_config(_minimal(mode=mode, n_buckets=n))
    assert load_config(_minimal(mode=mode, n_buckets=1))["pipeline"]["n_buckets"] == 1


def test_n_buckets_checked_below_the_config_layer(spark):
    """Direct callers get the same guard: the classifier and the join
    sink refuse a non-positive or missing bucket count up-front."""
    from hermes_spark.streaming.cdc import classify_changes
    from hermes_spark.streaming.cdc_join import JoinCdcSink

    turns = spark.createDataFrame([], "conv_id string")
    for n in (0, -1, None):
        with pytest.raises(ValueError, match="n_buckets"):
            classify_changes(turns, n_buckets=n)
        with pytest.raises(ValueError, match="n_buckets"):
            JoinCdcSink(target=None, n_buckets=n)


def test_fk_policy_needs_edges():
    with pytest.raises(ConfigError, match="foreignkeys"):
        load_config(_minimal(foreignkeys_policy="on_remove_event"))
    cfg = load_config(
        _minimal(
            validator={"expr": "true"},
            foreignkeys_policy="on_remove_event",
            foreignkeys=[{"parent": "conv_id", "child": "conv_id"}],
        )
    )
    assert cfg["pipeline"]["fk_map"] == [("conv_id", "conv_id")]


def test_error_queue_knobs_need_validator():
    """retry/FK settings without a validator would be silently inert
    (no DeadLetterQueue is ever constructed) — the load must reject
    the combination, naming the knob (review finding, round 6)."""
    for knob in (
        {"retry_every": 4},
        {
            "foreignkeys_policy": "on_remove_event",
            "foreignkeys": [{"parent": "conv_id", "child": "conv_id"}],
        },
    ):
        with pytest.raises(ConfigError, match="validator"):
            load_config(_minimal(**knob))
    # the explicit off-value stays accepted without a validator
    # (retry_every has no off-value: omit the key)
    load_config(_minimal(foreignkeys_policy="disabled"))


def test_rebuild_same_workdir_does_not_stack_listeners(spark, tmp_work):
    """build_pipeline over the SAME work_dir again (the declarative
    re-declare workflow) must evict the previous status listener —
    listeners are session-global and would otherwise multiply every
    event into the JSONL (review finding, round 6)."""
    from hermes_spark.config import _STATUS_LISTENERS

    cfg = {
        "hermes-spark": {
            "pipeline": {
                "source": os.path.join(tmp_work, "s"),
                "work_dir": os.path.join(tmp_work, "w"),
            },
            "status": {"path": os.path.join(tmp_work, "w", "st.jsonl")},
        }
    }
    p1 = build_pipeline(spark, cfg)
    l1 = p1.status_api.listener
    p2 = build_pipeline(spark, cfg)
    l2 = p2.status_api.listener
    assert l1 is not l2
    # the session registry may hold other tests' work_dirs — assert
    # THIS work_dir maps to exactly the newest listener and the old
    # one is fully evicted
    reg = _STATUS_LISTENERS[spark]
    assert reg[os.path.join(tmp_work, "w")] is l2
    assert l1 not in reg.values()


def test_invalid_yaml_text():
    with pytest.raises(ConfigError, match="invalid YAML"):
        load_config("hermes-spark: [unclosed")


def test_unanalyzable_expr_fails_at_build_with_path(spark):
    cfg = _minimal(validator={"expr": "length(no_such_col) < 5"})
    with pytest.raises(
        ConfigError, match=r"pipeline\.validator\.expr.*does not analyze"
    ):
        build_pipeline(spark, cfg)
    cfg2 = _minimal()
    cfg2["hermes-spark"]["datamodel"] = {
        "types": {"u": {"attrsmapping": {"m": {"expr": "upper(nope)"}}}}
    }
    with pytest.raises(
        ConfigError, match=r"types\.u\.attrsmapping\.m\.expr.*does not analyze"
    ):
        build_pipeline(spark, cfg2)
    cfg3 = _minimal()
    cfg3["hermes-spark"]["datamodel"] = {
        "types": {"u": {"attrsmapping": {"m": "no_such_remote_col"}}}
    }
    with pytest.raises(ConfigError, match="unknown change-event column"):
        build_pipeline(spark, cfg3)
