"""Declarative batch curation jobs (config.py curation section +
jobs.py builder + the `curate` CLI verb): the training-data half of
the engine driven from one YAML document, the same no-code surface the
reference gives its operators (hermes-server-config-example.yml)."""

from __future__ import annotations

import json
import os

import pytest

from hermes_spark.config import ConfigError, load_config
from hermes_spark.jobs import build_curation, run_curation


def _cfg(steps: str, extra: str = "") -> str:
    return f"""
hermes-spark:
  curation:
    input: /tmp/nonexistent-in-parse-only
    {extra}
    steps:
{steps}
"""


def _load(steps: str, extra: str = "") -> dict:
    return load_config(_cfg(steps, extra))


# -- load-time validation ---------------------------------------------------

def test_curation_config_paths_in_errors():
    with pytest.raises(ConfigError) as e:
        _load("      - op: nope")
    assert "steps[0].op" in e.value.path

    with pytest.raises(ConfigError) as e:
        _load("      - op: sample")  # missing fraction
    assert "steps[0]" in e.value.path

    with pytest.raises(ConfigError) as e:
        _load("      - op: sample\n        fraction: 1.5")
    assert "fraction" in e.value.path

    with pytest.raises(ConfigError) as e:
        _load("      - op: quality_filter")
    assert "filters nothing" in e.value.message

    with pytest.raises(ConfigError) as e:
        _load(
            "      - op: near_dedup\n        method: simhash\n"
            "        threshold: 0.8"
        )
    assert "max_hamming" in e.value.message

    with pytest.raises(ConfigError) as e:
        _load(
            "      - op: near_dedup\n        max_hamming: 3"
        )
    assert "simhash" in e.value.message

    # chunk may only be followed by pack
    with pytest.raises(ConfigError) as e:
        _load(
            "      - op: chunk\n      - op: exact_dedup"
        )
    assert "only pack may follow" in e.value.message

    # a curation-only config cannot declare status (hangs off pipeline)
    with pytest.raises(ConfigError) as e:
        load_config("""
hermes-spark:
  status: {path: /tmp/x}
  curation:
    input: /tmp/x
    steps:
      - op: exact_dedup
""")
    assert e.value.path == "hermes-spark.status"


def test_curation_config_defaults_and_normalization():
    cfg = _load(
        "      - op: near_dedup\n"
        "      - op: decontaminate\n"
        "        eval: /tmp/eval.parquet\n"
        "      - op: chunk",
    )
    steps = cfg["curation"]["steps"]
    assert cfg["pipeline"] is None
    assert steps[0] == {
        "op": "near_dedup", "method": "minhash", "n": 3,
        "max_doc_freq": None, "threshold": 0.8, "store": None,
    }
    assert steps[1]["min_overlap_frac"] == 0.5 and steps[1]["n"] == 3
    assert steps[2] == {"op": "chunk", "size": 128, "overlap": 32}
    assert cfg["curation"]["id"] == "doc_id"
    assert cfg["curation"]["text"] == "text"


def test_pipeline_verbs_reject_curation_only_config(tmp_work):
    from hermes_spark.config import build_pipeline

    with pytest.raises(ConfigError) as e:
        build_pipeline(None, _cfg("      - op: exact_dedup"))
    assert "curation" in e.value.message


# -- end-to-end -------------------------------------------------------------

@pytest.fixture()
def corpus(spark, tmp_work):
    rows = [
        # two exact copies (1 survives exact_dedup), one unique
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "one two three four five six seven eight nine ten"),
        # leaks the eval doc verbatim
        (4, "the quick brown fox jumps over the lazy dog today"),
        # low quality: dominated by one token
        (5, "spam spam spam spam spam spam spam spam spam spam"),
        # short (fails min_tokens)
        (6, "tiny doc"),
    ]
    p = os.path.join(tmp_work, "corpus")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(p)
    ev = os.path.join(tmp_work, "eval")
    spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(ev)
    return p, ev


def test_build_curation_composed_job(spark, tmp_work, corpus):
    corpus_path, eval_path = corpus
    cfg = load_config(f"""
hermes-spark:
  curation:
    input: {corpus_path}
    steps:
      - op: exact_dedup
      - op: decontaminate
        eval: {eval_path}
        min_overlap_frac: 0.5
      - op: quality_filter
        min_tokens: 5
        max_top_token_frac: 0.5
""")
    got = build_curation(spark, cfg)
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    # 2 dropped (exact copy of 1), 4 dropped (contaminated),
    # 5 dropped (top_token_frac 1.0), 6 dropped (2 tokens < 5)
    assert ids == [1, 3]


def test_quality_filter_blank_documents(spark, tmp_work):
    """Blank text has zero tokens: ``min_tokens: 1`` drops it, and the
    distinct-ratio bound (undefined at zero tokens) keeps it rather
    than raising DIVIDE_BY_ZERO under ANSI SQL."""
    p = os.path.join(tmp_work, "blank")
    spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a b c"), (4, "a a a a")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(p)

    def kept(bound):
        cfg = load_config(f"""
hermes-spark:
  curation:
    input: {p}
    steps:
      - op: quality_filter
        {bound}
""")
        return sorted(r.doc_id for r in build_curation(spark, cfg).collect())

    assert kept("min_distinct_ratio: 0.5") == [1, 2, 3]
    assert kept("min_tokens: 1") == [3, 4]


def test_run_curation_writes_and_reports(spark, tmp_work, corpus):
    corpus_path, _ = corpus
    out = os.path.join(tmp_work, "clean")
    report = run_curation(spark, load_config(f"""
hermes-spark:
  curation:
    input: {corpus_path}
    output: {out}
    steps:
      - op: exact_dedup
      - op: chunk
        size: 4
        overlap: 1
"""))
    assert report["rows_out"] > 0
    assert report["steps"] == ["exact_dedup", "chunk"]
    back = spark.read.parquet(out)
    assert {"doc_id", "chunk_idx", "chunk_text"} <= set(back.columns)
    assert back.count() == report["rows_out"]
    # doc 3 has 10 tokens, stride 3 -> ceil(9/3) = 3 chunks
    assert back.where("doc_id = 3").count() == 3


def test_curation_near_dedup_methods(spark, corpus):
    corpus_path, _ = corpus
    for method, knob in (
        ("minhash", "threshold: 0.8"),
        ("ngram", "threshold: 0.8"),
        ("simhash", "max_hamming: 3"),
    ):
        got = build_curation(spark, load_config(f"""
hermes-spark:
  curation:
    input: {corpus_path}
    steps:
      - op: near_dedup
        method: {method}
        {knob}
"""))
        ids = {r.doc_id for r in got.select("doc_id").collect()}
        # the exact copy pair (1,2): 2 must be dropped, 1 kept
        assert 1 in ids and 2 not in ids, method


def test_cli_curate_verb(spark, tmp_work, corpus):
    from hermes_spark.__main__ import main

    corpus_path, _ = corpus
    cfg_path = os.path.join(tmp_work, "curate.yml")
    out = os.path.join(tmp_work, "cli_out")
    with open(cfg_path, "w") as f:
        f.write(f"""
hermes-spark:
  curation:
    input: {corpus_path}
    steps:
      - op: exact_dedup
      - op: sample
        fraction: 1.0
""")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["curate", cfg_path, "--output", out], spark=spark)
    assert rc == 0
    rep = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rep["rows_out"] == 5 and rep["output"] == out
    assert spark.read.parquet(out).count() == 5

    # pipeline verbs on a curation-only config fail loudly
    import contextlib

    err = io.StringIO()
    with contextlib.redirect_stderr(err):
        rc2 = main(["status", cfg_path], spark=spark)
    assert rc2 == 2 and "pipeline" in err.getvalue()


def test_near_dedup_max_doc_freq_zero_rejected():
    with pytest.raises(ConfigError) as e:
        _load("      - op: near_dedup\n        max_doc_freq: 0")
    assert "max_doc_freq" in e.value.path


def test_curate_unreadable_input_is_config_error(spark, tmp_work):
    cfg = load_config(f"""
hermes-spark:
  curation:
    input: {tmp_work}/does-not-exist
    steps:
      - op: exact_dedup
""")
    with pytest.raises(ConfigError) as e:
        build_curation(spark, cfg).count()
    assert e.value.path == "hermes-spark.curation.input"
    assert "cannot read corpus" in e.value.message


def test_near_dedup_store_is_minhash_only():
    with pytest.raises(ConfigError) as e:
        _load(
            "      - op: near_dedup\n        method: simhash\n"
            "        store: /tmp/sigs"
        )
    assert "minhash-only" in e.value.message


def test_declarative_incremental_near_dedup(spark, tmp_work, corpus):
    """Two curate runs over different batches share one signature
    store: the second batch's copy of a first-batch doc is dropped."""
    corpus_path, _ = corpus
    store = os.path.join(tmp_work, "sigs")

    def cfg_for(path):
        return load_config(f"""
hermes-spark:
  curation:
    input: {path}
    steps:
      - op: near_dedup
        store: {store}
        threshold: 0.8
""")

    got1 = build_curation(spark, cfg_for(corpus_path))
    ids1 = sorted(r.doc_id for r in got1.select("doc_id").collect())
    assert 1 in ids1 and 2 not in ids1  # in-batch exact pair deduped

    # second batch: re-sends doc 1's text under a new id + a fresh doc
    b2 = os.path.join(tmp_work, "batch2")
    spark.createDataFrame(
        [(20, "alpha beta gamma delta epsilon zeta"),
         (21, "genuinely new content that matches nothing before")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(b2)
    got2 = build_curation(spark, cfg_for(b2))
    ids2 = sorted(r.doc_id for r in got2.select("doc_id").collect())
    assert ids2 == [21]


def test_pack_step_validation_and_composition(spark, corpus):
    # chunk followed by pack is allowed; anything else after chunk isn't
    cfg = _load(
        "      - op: chunk\n        size: 4\n        overlap: 1\n"
        "      - op: pack\n        capacity: 8\n        shards: 4"
    )
    assert cfg["curation"]["steps"][-1] == {
        "op": "pack", "capacity": 8, "shards": 4,
    }
    with pytest.raises(ConfigError) as e:
        _load("      - op: chunk\n      - op: sample\n        fraction: 0.5")
    assert "only pack may follow" in e.value.message
    with pytest.raises(ConfigError) as e:
        _load("      - op: pack\n      - op: exact_dedup")
    assert "last step" in e.value.message

    corpus_path, _ = corpus
    got = build_curation(spark, load_config(f"""
hermes-spark:
  curation:
    input: {corpus_path}
    steps:
      - op: chunk
        size: 4
        overlap: 1
      - op: pack
        capacity: 8
        shards: 4
"""))
    rows = got.collect()
    assert {"shard", "pack_id", "pack_pos", "n_tokens"} <= set(got.columns)
    # every chunk placed exactly once
    assert len({(r.shard, r.pack_id, r.pack_pos) for r in rows}) == len(rows)


def test_store_dedup_must_follow_droppers():
    with pytest.raises(ConfigError) as e:
        _load(
            "      - op: near_dedup\n        store: /tmp/sigs\n"
            "      - op: sample\n        fraction: 0.5"
        )
    assert "permanently records" in e.value.message
    # droppers BEFORE the store step are fine
    cfg = _load(
        "      - op: sample\n        fraction: 0.5\n"
        "      - op: near_dedup\n        store: /tmp/sigs\n"
        "      - op: chunk"
    )
    assert [s["op"] for s in cfg["curation"]["steps"]] == [
        "sample", "near_dedup", "chunk",
    ]


def test_jsonl_corpus_input(spark, tmp_work):
    """input: json:<path> + schema: DDL reads a jsonl corpus through
    the sources registry — the training-data lingua franca needs no
    parquet conversion step."""
    import json as _json

    src = os.path.join(tmp_work, "docs.jsonl")
    with open(src, "w") as f:
        for i, t in enumerate(["alpha beta gamma", "alpha beta gamma",
                               "delta epsilon zeta"]):
            f.write(_json.dumps({"doc_id": i, "text": t}) + "\n")
    got = build_curation(spark, load_config(f"""
hermes-spark:
  curation:
    input: json:{src}
    schema: "doc_id long, text string"
    steps:
      - op: exact_dedup
"""))
    assert sorted(r.doc_id for r in got.select("doc_id").collect()) == [0, 2]

    # json input without a declared schema fails with the config path
    with pytest.raises(ConfigError) as e:
        build_curation(spark, load_config(f"""
hermes-spark:
  curation:
    input: json:{src}
    steps:
      - op: exact_dedup
""")).count()
    assert "hermes-spark.curation.input" in e.value.path

    # a bad DDL fails naming the schema path
    with pytest.raises(ConfigError) as e:
        build_curation(spark, load_config(f"""
hermes-spark:
  curation:
    input: json:{src}
    schema: "doc_id wat"
    steps:
      - op: exact_dedup
"""))
    assert "schema" in e.value.path


def test_registry_scheme_routing():
    from hermes_spark.jobs import registry_scheme

    assert registry_scheme("json:/data/x.jsonl") == "json"
    assert registry_scheme("sqlite:/db.sqlite?table=t") == "sqlite"
    assert registry_scheme("parquet:/data/x") == "parquet"
    # filesystem URIs and odd paths stay on the parquet reader
    for p in ("s3://bucket/docs", "hdfs://nn/corpus", "s3a://b/x",
              "file:/data/docs", "/data/run:2024/docs", "/plain/path"):
        assert registry_scheme(p) is None, p


def test_sqlite_corpus_error_is_config_error(spark, tmp_work):
    cfg = load_config(f"""
hermes-spark:
  curation:
    input: sqlite:{tmp_work}/missing.db?table=docs
    steps:
      - op: exact_dedup
""")
    with pytest.raises(ConfigError) as e:
        build_curation(spark, cfg).count()
    assert e.value.path == "hermes-spark.curation.input"
