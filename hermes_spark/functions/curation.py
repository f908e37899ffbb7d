"""Training-data curation operators: PII scrubbing, deterministic
sampling, decontamination, repetition statistics, document chunking
and sequence packing.

These are the batch-curation operations a large-scale training-data
pipeline runs alongside dedup/quality (task brief §extras) — all pure
Column expressions (JVM-side, whole-stage codegen; zero Python in the
hot path) and all deterministic functions of row CONTENT, never of
partitioning, task order, or RNG state:

- ``pii_scrub``: ordered regexp_replace chain (email / SSN / credit
  card / phone / IPv4 → typed tags) + per-category match counts.  The
  patterns use only constructs with identical semantics in Java regex
  (Spark) and RE2 (DuckDB) — char classes, bounded quantifiers,
  alternation, ``\\b`` — so an RE2 engine replays them exactly.
- ``hash_sample``: content-addressed Bernoulli sampling — keep a row
  iff a sha256 hex prefix of (key, salt) sorts below the fraction
  threshold.  Unlike ``df.sample()`` this is reproducible across
  engines, runs, repartitions and appends (a re-run over 100 TB
  selects the SAME rows), and composable: disjoint salts give
  independent samples, the same salt at a larger fraction gives a
  SUPERSET (progressive sampling).
- ``chunk_documents``: whitespace-token windows of ``size`` with
  ``overlap`` via sequence+slice+explode — a narrow plan (no shuffle),
  which is what makes it viable at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Ordered: specific → general.  Credit card MUST precede phone (a
# 16-digit run also matches loose phone shapes); SSN precedes phone for
# the same reason.  Each pattern is Java-regex ∩ RE2 compatible.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("credit_card", r"\b[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{4}\b"),
    ("phone", r"\b\+?[0-9]{3}[ .-][0-9]{3}[ .-][0-9]{4}\b"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
)


def pii_scrub(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Redact PII in ``text_col`` → ``out_col`` (default: in place),
    adding one ``n_<category>`` count column per pattern.

    Counts are taken on the PRE-redaction text in pattern order against
    the progressively-scrubbed string (each category counts what it
    will itself redact — an email's digits can no longer count as a
    phone), so counts always sum to the number of replacements made."""
    out_col = out_col or text_col
    scrubbed = F.col(text_col)
    counts: list[Column] = []
    for name, pat in PII_PATTERNS:
        counts.append(
            F.coalesce(
                F.regexp_count(scrubbed, F.lit(pat)), F.lit(0)
            ).alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return df.select(
        *[c for c in df.columns if c != out_col],
        scrubbed.alias(out_col),
        *counts,
    )


def sample_hash(key: Sequence[str | Column], salt: str = "") -> Column:
    """The 8-hex-char content hash ``hash_sample`` thresholds on —
    exposed so callers (or another engine) can recompute it:
    ``substr(sha256(concat_ws('|', salt, key...)), 1, 8)``."""
    return F.substring(
        F.sha2(F.concat_ws("|", F.lit(salt), *key), 256), 1, 8
    )


def sample_threshold(fraction: float) -> str:
    """Hex threshold such that P[hash < t] == fraction (granularity
    1/16^8 ≈ 2.3e-10 — the quantization bias at 100 TB is ~25 rows).

    The comparison is LEXICOGRAPHIC over the 8-char lowercase hex
    prefix, so fraction 1.0 cannot be ``format(16**8, 'x')`` — that is
    9 chars and sorts BEFORE almost every hash ('1…' < 'f…').  Full
    fraction returns ``"g"``, which sorts after every hex digit."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    n = int(fraction * 16**8)
    return "g" if n >= 16**8 else format(n, "08x")


def hash_sample(
    df: DataFrame,
    key: Sequence[str | Column],
    fraction: float,
    salt: str = "",
) -> DataFrame:
    """Deterministic Bernoulli sample: keep a row iff its content hash
    sorts below the fraction threshold.  Pure filter — pushed to the
    scan, no shuffle, no RNG; stable under re-runs, repartitioning and
    incremental appends, which is the reproducibility contract a
    training-data pipeline needs (``df.sample`` gives none of that).
    Same salt, larger fraction ⇒ superset; different salts ⇒
    independent."""
    return df.where(sample_hash(key, salt) < F.lit(sample_threshold(fraction)))


def chunk_documents(
    df: DataFrame,
    id_cols: Sequence[str],
    text_col: str = "text",
    size: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Split each document into whitespace-token windows of ``size``
    tokens with ``overlap`` tokens of left context (stride = size −
    overlap).  One narrow stage — split/sequence/explode/slice — so it
    parallelizes with the scan and never shuffles; output carries
    ``chunk_idx`` (0-based) and ``chunk_text``.

    Every token lands in at least one chunk; the final chunk may be
    shorter than ``size``.  Empty/NULL documents produce zero chunks
    (a curation filter upstream owns that decision)."""
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap < size, got {overlap}/{size}")
    stride = size - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    # number of chunks = ceil(max(n - overlap, 1) / stride) for n>0
    n_chunks = F.ceil((F.greatest(n - F.lit(overlap), F.lit(1))) / F.lit(stride))
    return (
        df.where(F.coalesce(F.trim(F.col(text_col)), F.lit("")) != "")
        .withColumn("_toks", toks)
        .withColumn(
            "chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks.cast("int") - 1))
        )
        .select(
            *id_cols,
            "chunk_idx",
            F.array_join(
                F.slice(
                    F.col("_toks"),
                    F.col("chunk_idx") * stride + 1,
                    size,
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


# -- benchmark decontamination ---------------------------------------------

def decontamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap_frac: float = 0.0,
) -> DataFrame:
    """Train↔eval benchmark-contamination report: one row per
    (train doc, eval doc) pair sharing at least one distinct word
    ``n``-gram, with the overlap measured AGAINST THE EVAL DOC
    (``overlap_frac = n_overlap / eval_sz``) — the decontamination
    convention (GPT-3 appendix C / Gopher): an eval item is leaked when
    a large fraction of ITS n-grams appear in a training document,
    regardless of how large that training document is.

    Scale design: the eval set is tiny next to a 100 TB corpus, so its
    distinct-shingle frame (shingle, eval_id, eval_sz) is
    ``broadcast()`` — the train side streams through a map-side hash
    join keyed on its own shingles with NO shuffle of the corpus; the
    only shuffle is the per-(train,eval) overlap count, whose input is
    already collapsed to matching shingles.  Output columns:
    (``id_col``, ``eval_id_col``, n_overlap, eval_sz, overlap_frac).

    ``min_overlap_frac`` filters the report; pair it with
    ``drop_contaminated`` to scrub the corpus.  Shingles are distinct
    per doc and lowercased (``word_shingles`` semantics — the same
    unit the dedup family uses)."""
    from pyspark.sql.functions import broadcast

    from hermes_spark.functions.dedup import _distinct_shingles

    ev = _distinct_shingles(eval_df, id_col, text_col, n, unit="word")
    ev_sz = ev.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("eval_sz")
    )
    ev = (
        ev.join(ev_sz, id_col)
        .select(
            F.col(id_col).alias(eval_id_col), "sh", "eval_sz"
        )
    )
    tr = _distinct_shingles(train, id_col, text_col, n, unit="word")
    hits = (
        tr.join(broadcast(ev), "sh")
        .groupBy(id_col, eval_id_col, "eval_sz")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return (
        hits.withColumn(
            "overlap_frac",
            F.col("n_overlap").cast("double") / F.col("eval_sz").cast("double"),
        )
        .where(F.col("overlap_frac") >= F.lit(float(min_overlap_frac)))
        .select(id_col, eval_id_col, "n_overlap", "eval_sz", "overlap_frac")
    )


def drop_contaminated(
    train: DataFrame,
    report: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove every training doc named by a decontamination report
    (left-anti join on ``id_col`` — the report is small, so Spark
    broadcasts it and the corpus again never shuffles)."""
    from pyspark.sql.functions import broadcast

    return train.join(
        broadcast(report.select(id_col).distinct()), id_col, "left_anti"
    )


# -- repetition / Gopher-style quality signals ------------------------------

def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition signals (the Gopher / MassiveText
    repetition filters, Rae et al. 2021 §A1.1): documents dominated by
    duplicate lines or a single token are boilerplate/spam and get
    dropped before training.

    Output per doc:
      - ``n_lines``            lines after splitting on ``\\n``
      - ``dup_line_frac``      fraction of lines whose text occurs more
                               than once in the doc (all occurrences of
                               a repeated line count)
      - ``dup_line_char_frac`` same, weighted by line length in chars
      - ``n_tokens``           whitespace tokens (lowercased, trimmed;
                               empty tokens dropped)
      - ``top_token_frac``     occurrences of the most frequent token /
                               n_tokens (NULL when n_tokens = 0)

    Scale design: two partial-aggregated shuffles — (doc, line) and
    (doc, token) — then a per-doc fold; keys carry the doc id so hot
    lines/tokens across docs cannot skew a single reducer.  No Python
    anywhere."""
    lines = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "\n")).alias("_l")
    )
    per_line = lines.groupBy(id_col, "_l").agg(
        F.count(F.lit(1)).cast("long").alias("_c"),
        F.length(F.col("_l")).cast("long").alias("_len"),
    )
    line_agg = per_line.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_lines"),
        (
            F.coalesce(
                F.sum(F.when(F.col("_c") > 1, F.col("_c"))), F.lit(0)
            ).cast("double")
            / F.sum("_c").cast("double")
        ).alias("dup_line_frac"),
        F.when(
            F.sum(F.col("_c") * F.col("_len")) > 0,
            F.coalesce(
                F.sum(
                    F.when(F.col("_c") > 1, F.col("_c") * F.col("_len"))
                ),
                F.lit(0),
            ).cast("double")
            / F.sum(F.col("_c") * F.col("_len")).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_line_char_frac"),
    )
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("_t"),
    ).where(F.col("_t") != "")
    per_tok = toks.groupBy(id_col, "_t").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    tok_agg = per_tok.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        (
            F.max("_c").cast("double") / F.sum("_c").cast("double")
        ).alias("top_token_frac"),
    )
    return line_agg.join(tok_agg, id_col, "left").select(
        id_col,
        "n_lines",
        "dup_line_frac",
        "dup_line_char_frac",
        F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
        "top_token_frac",
    )


def pack_sequences(
    df: DataFrame,
    order_cols: Sequence[str],
    text_col: str = "chunk_text",
    capacity: int = 1024,
    n_shards: int = 64,
    shard_col: Column | None = None,
) -> DataFrame:
    """Assign rows (chunks) to fixed-capacity training sequences
    ("packs") — the sequence-packing step between chunking and
    batching: consecutive chunks fill a pack until the next one would
    START past ``capacity`` tokens.

    Determinism + scale: a global greedy first-fit is inherently
    sequential, so packing is SHARDED — rows land in ``n_shards``
    buckets (default ``pmod(first order col, n_shards)``, replayable
    cross-engine; override with ``shard_col``) and packs never cross
    shards.  Within a shard the window cumsum over ``order_cols``
    (which must be a unique ordering) places each row at a start
    offset; ``pack_id = floor(start / capacity)``.  Start-offset
    semantics: a row straddling the boundary stays WHOLE in its pack,
    so a pack may exceed ``capacity`` by less than its last row's
    length — the standard no-split packing trade-off, documented
    rather than hidden.  Output adds (shard, pack_id, pack_pos,
    n_tokens); one shuffle, keyed by shard."""
    from pyspark.sql import Window

    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    if not order_cols:
        raise ValueError("order_cols must name a unique ordering")
    from hermes_spark.functions.text import token_count

    if shard_col is not None:
        shard = shard_col
    else:
        first = next(
            f for f in df.schema.fields if f.name == order_cols[0]
        )
        numeric = first.dataType.typeName() in (
            "byte", "short", "integer", "long",
        )
        # numeric ids shard by value (replayable in any engine);
        # anything else hashes — a cast of a string id to long would
        # be NULL for every row and collapse the corpus into one
        # unsharded window partition
        key = (
            F.col(order_cols[0]).cast("long")
            if numeric
            else F.xxhash64(F.col(order_cols[0]).cast("string"))
        )
        shard = F.pmod(key, F.lit(n_shards))
    w = (
        Window.partitionBy("shard")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        df.withColumn("shard", shard.cast("int"))
        .withColumn("n_tokens", token_count(text_col))
        .withColumn(
            "_start", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
        .withColumn(
            "pack_id", F.floor(F.col("_start") / capacity).cast("long")
        )
    )
    wp = Window.partitionBy("shard", "pack_id").orderBy(*order_cols)
    return (
        out.withColumn("pack_pos", F.row_number().over(wp) - 1)
        .drop("_start")
    )
