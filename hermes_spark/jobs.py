"""Declarative batch curation jobs: one YAML document → a composed
corpus-curation plan.

The streaming half of the engine is config-driven (config.py →
CdcPipeline); this gives the TRAINING-DATA half the same user surface
(the reference's whole operator model is "declare it in YAML, never
write code" — hermes-server-config-example.yml:100-310).  A curation
job names an input corpus and an ordered list of steps, each mapping
onto one already-tested operator from ``functions/curation.py`` /
``functions/dedup.py`` / ``functions/text.py``:

    hermes-spark:
      curation:
        input: /data/docs.parquet
        id: doc_id            # default
        text: text            # default
        output: /data/clean   # optional (CLI --output overrides)
        steps:
          - op: pii_scrub
          - op: exact_dedup
          - op: near_dedup      # minhash (default) | simhash | ngram
            threshold: 0.8
          - op: decontaminate
            eval: /data/benchmarks.parquet
            min_overlap_frac: 0.5
          - op: quality_filter
            min_tokens: 10
            max_dup_line_frac: 0.3
          - op: sample
            fraction: 0.5
            salt: run1
          - op: chunk           # must be last (rewrites row shape)
            size: 128
            overlap: 32

Batch runs with a store-backed dedup step process ONE batch per
invocation and `output:` is overwritten per run — write per-batch
output dirs (`--output`), or use `curate --stream`, whose curated
table accumulates batches exactly-once.

Everything stays one lazy DataFrame plan until the caller writes or
counts — Catalyst sees the WHOLE job, so filters compose and the scan
is pruned across steps.  Dedup survivor policy (documented, not
configurable): a doc is dropped iff it near-matches a doc with a
smaller id — one deterministic pass, no iterative connected
components; at 100 TB the pair frames are the bucketed/banded joins
the dedup family already sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hermes_spark.config import ConfigError, load_config


def parse_ddl_schema(ddl: str | None, cfg_path: str):
    """Parse a config-declared DDL column list ("doc_id long, text
    string") into a StructType at BUILD time (load_config stays
    Spark-free), with the error named by its config path."""
    if ddl is None:
        return None
    from pyspark.sql import types as T

    try:
        return T.StructType.fromDDL(ddl)
    except Exception as e:
        raise ConfigError(
            cfg_path, f"invalid DDL schema {ddl!r}: {str(e).splitlines()[0]}"
        ) from e


# schemes the engine's OWN source registry serves; anything else with
# a colon (s3://, hdfs://, s3a://, file:/, a ':' in a dir name) is a
# filesystem URI and reads as parquet — cloud paths are the norm at
# the 100 TB target, they must not be hijacked by the registry
_REGISTRY_SCHEMES = {
    "parquet", "json", "csv", "sqlite", "postgresql", "oracle", "ldap",
}


def registry_scheme(path: str) -> str | None:
    """The sources-registry scheme of ``path``, or None when the path
    should go straight to the filesystem parquet reader."""
    if ":" not in path:
        return None
    scheme = path.split(":", 1)[0].lower()
    return scheme if scheme in _REGISTRY_SCHEMES else None


def _read_corpus(
    spark: SparkSession, path: str, cfg_path: str, schema_ddl: str | None = None
) -> DataFrame:
    """Read a declared corpus input, mapping an unreadable/missing
    path onto the surface's standard dotted-path ConfigError (the CLI
    only catches ConfigError — a raw traceback is not the contract).

    A bare path or a filesystem URI (s3://, hdfs://, file:/) reads as
    parquet; a registry URL (``json:/data/docs.jsonl`` with
    ``schema:``, ``csv:``, ``sqlite:`` …) goes through the sources
    registry — jsonl corpora are the training-data lingua franca and
    need no conversion step."""
    schema = parse_ddl_schema(schema_ddl, "hermes-spark.curation.schema")
    try:
        if registry_scheme(path):
            from hermes_spark import sources

            return sources.snapshot(spark, path, schema=schema)
        r = spark.read.schema(schema) if schema is not None else spark.read
        return r.parquet(path)
    except Exception as e:
        import sqlite3

        from pyspark.errors.exceptions.base import AnalysisException

        if isinstance(e, (AnalysisException, ValueError, sqlite3.Error)):
            raise ConfigError(
                cfg_path, f"cannot read corpus at {path!r}: "
                f"{str(e).splitlines()[0]}"
            ) from e
        raise


def _drop_pair_losers(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Keep-smallest greedy dedup: drop every doc that appears as the
    LARGER member of a near-dup pair (pair frames emit doc_a < doc_b)."""
    losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def build_curation(
    spark: SparkSession, config, input_df: DataFrame | None = None
) -> DataFrame:
    """Compile the curation section into one lazy DataFrame plan.

    ``config``: path / YAML text / mapping (same forms as
    :func:`hermes_spark.config.load_config`), or an
    already-normalized ``load_config`` result.  ``input_df`` overrides
    the declared input path (tests, or chaining from another frame)."""
    cfg = config if isinstance(config, dict) and "curation" in config \
        else load_config(config)
    cur = cfg.get("curation")
    if cur is None:
        raise ConfigError(
            "hermes-spark.curation", "this config declares no curation job"
        )
    id_col, text_col = cur["id"], cur["text"]
    df = input_df if input_df is not None else _read_corpus(
        spark, cur["input"], "hermes-spark.curation.input",
        schema_ddl=cur.get("schema"),
    )
    for col in (id_col, text_col):
        if col not in df.columns:
            raise ConfigError(
                "hermes-spark.curation",
                f"input has no column {col!r} (columns: {df.columns})",
            )

    for i, step in enumerate(cur["steps"]):
        sp = f"hermes-spark.curation.steps[{i}]"
        op = step["op"]
        if op == "pii_scrub":
            from hermes_spark.functions.curation import pii_scrub

            df = pii_scrub(df, text_col=text_col)
        elif op == "exact_dedup":
            from hermes_spark.functions.dedup import exact_dedup

            survivors = exact_dedup(df, id_col, text_col).select(id_col)
            df = df.join(survivors, id_col, "left_semi")
        elif op == "near_dedup":
            method = step["method"]
            if step.get("store"):
                # incremental path: dedup this corpus against the
                # persisted signature store AND within itself, then
                # append survivors' signatures.  A materialization
                # barrier (the store commit needs the drop decision),
                # unlike every other step — documented in incremental.py
                from hermes_spark.functions.incremental import (
                    incremental_minhash_dedup,
                )

                df = incremental_minhash_dedup(
                    spark, df, step["store"], id_col=id_col,
                    text_col=text_col, n=step["n"],
                    threshold=step["threshold"],
                    max_doc_freq=step["max_doc_freq"],
                )
                continue
            if method == "minhash":
                from hermes_spark.functions.dedup import minhash_dedup_pairs

                pairs = minhash_dedup_pairs(
                    df, id_col, text_col, n=step["n"],
                    verify_threshold=step["threshold"],
                    max_doc_freq=step["max_doc_freq"],
                )
            elif method == "ngram":
                from hermes_spark.functions.dedup import ngram_jaccard_pairs

                pairs = ngram_jaccard_pairs(
                    df, id_col, text_col, n=step["n"],
                    threshold=step["threshold"],
                    max_doc_freq=step["max_doc_freq"],
                )
            else:  # simhash
                from hermes_spark.functions.dedup import (
                    simhash,
                    simhash_near_pairs,
                )

                sig = simhash(
                    df, id_col, text_col, width=128,
                    max_token_doc_freq=step["max_doc_freq"],
                )
                pairs = simhash_near_pairs(
                    sig, id_col, max_hamming=step["max_hamming"]
                )
            df = _drop_pair_losers(df, pairs, id_col)
        elif op == "decontaminate":
            from hermes_spark.functions.curation import (
                decontamination_report,
                drop_contaminated,
            )

            eval_df = _read_corpus(spark, step["eval"], f"{sp}.eval")
            if text_col not in eval_df.columns:
                raise ConfigError(
                    f"{sp}.eval",
                    f"eval corpus has no column {text_col!r}",
                )
            # eval ids only scope the report; reuse or synthesize
            ev = eval_df if id_col in eval_df.columns else \
                eval_df.withColumn(
                    id_col, F.monotonically_increasing_id()
                )
            report = decontamination_report(
                df, ev, id_col=id_col, text_col=text_col,
                n=step["n"], min_overlap_frac=step["min_overlap_frac"],
            )
            df = drop_contaminated(df, report, id_col)
        elif op == "sample":
            from hermes_spark.functions.curation import hash_sample

            df = hash_sample(
                df, [id_col], step["fraction"], salt=step["salt"]
            )
        elif op == "quality_filter":
            from hermes_spark.functions.curation import repetition_stats
            from hermes_spark.functions.text import (
                distinct_token_count,
                token_count,
            )

            b = step["bounds"]
            need_rep = (
                "max_dup_line_frac" in b or "max_top_token_frac" in b
            )
            conds = []
            # token/distinct bounds are pure per-row expressions
            # (functions/text.py) — no join, no shuffle
            n_tok = token_count(text_col)
            if "min_tokens" in b:
                conds.append(n_tok >= b["min_tokens"])
            if "max_tokens" in b:
                conds.append(n_tok <= b["max_tokens"])
            if "min_distinct_ratio" in b:
                conds.append(
                    distinct_token_count(text_col).cast("double")
                    / n_tok.cast("double")
                    >= b["min_distinct_ratio"]
                )
            if need_rep:
                r = repetition_stats(
                    df.select(id_col, text_col), id_col, text_col
                ).select(
                    F.col(id_col),
                    F.col("dup_line_frac").alias("_rd"),
                    F.col("top_token_frac").alias("_rt"),
                )
                df = df.join(r, id_col, "left")
                if "max_dup_line_frac" in b:
                    conds.append(F.col("_rd") <= b["max_dup_line_frac"])
                if "max_top_token_frac" in b:
                    # NULL top_token_frac = zero tokens: keep (the
                    # token bounds own emptiness decisions)
                    conds.append(
                        F.coalesce(
                            F.col("_rt") <= b["max_top_token_frac"],
                            F.lit(True),
                        )
                    )
            cond = conds[0]
            for c in conds[1:]:
                cond = cond & c
            df = df.where(cond).drop("_rd", "_rt")
        elif op == "chunk":
            from hermes_spark.functions.curation import chunk_documents

            keep = [c for c in df.columns if c != text_col]
            df = chunk_documents(
                df.withColumn(
                    text_col,
                    F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")),
                ),
                keep, text_col,
                size=step["size"], overlap=step["overlap"],
            )
        elif op == "pack":
            from hermes_spark.functions.curation import pack_sequences

            chunked = i > 0 and cur["steps"][i - 1]["op"] == "chunk"
            df = pack_sequences(
                df,
                [id_col, "chunk_idx"] if chunked else [id_col],
                text_col="chunk_text" if chunked else text_col,
                capacity=step["capacity"],
                n_shards=step["shards"],
            )
        else:  # pragma: no cover — load_config enums the ops
            raise ConfigError(sp, f"unhandled op {op!r}")
    return df


def run_curation(
    spark: SparkSession,
    config,
    output: str | None = None,
    input_df: DataFrame | None = None,
) -> dict:
    """Execute the job: build the plan, write parquet if an output is
    declared (or passed), and return a small report.  Counting rides
    the write via ``Observation`` when writing — one job total."""
    cfg = config if isinstance(config, dict) and "curation" in config \
        else load_config(config)
    df = build_curation(spark, cfg, input_df=input_df)
    out_path = output or cfg["curation"]["output"]
    if out_path:
        from pyspark.sql import Observation

        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(out_path)
        rows = obs.get["rows"]
    else:
        rows = df.count()
    return {
        "rows_out": int(rows),
        "output": out_path,
        "steps": [s["op"] for s in cfg["curation"]["steps"]],
    }
