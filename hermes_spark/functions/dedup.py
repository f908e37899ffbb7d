"""Deduplication family: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design: every variant avoids the O(n²) all-pairs comparison —
exact dedup is a hash groupBy; n-gram Jaccard joins only docs sharing a
shingle; MinHash+LSH joins only docs sharing a band bucket; SimHash
joins only docs sharing a band of the 64-bit signature.  All signature
math is JVM-side (`xxhash64`), so the hot path has no Python at all;
at 100 TB the shuffles are keyed on shingle/band hashes, which are
near-uniform (no skew salting needed — hot shingles can be frequency-
capped via the `max_doc_freq` guard).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hermes_spark.functions.text import normalized_fingerprint


# -- exact ------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the smallest id per identical (normalized) text; returns
    survivors with their duplicate count."""
    # _spread: the sha256 fingerprint runs scan-side; a tiny compressed
    # corpus otherwise hashes on 1-2 tasks (guide §6)
    fp = _spread(df).select(
        F.col(id_col), normalized_fingerprint(text_col).alias("_fp")
    )
    return (
        fp.groupBy("_fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .drop("_fp")
    )


# -- character shingles -----------------------------------------------------

def _spread(df: DataFrame) -> DataFrame:
    """Input-split parallelism guard (guide §6): a few MB of compressed
    text scans as 1-4 tasks (Spark sizes splits by input bytes, and a
    single-row-group parquet file cannot split at all) yet explodes
    into tens of millions of shingle/token rows — the whole signing
    stage then runs on a fraction of the cluster.  Round-robin
    repartition to the default parallelism before the explode; the
    shuffle moves only the raw text (MBs), and the guard is a no-op
    whenever the scan already has enough partitions (at real scale it
    always does).  Safe for every consumer here: all downstream
    aggregates are order-insensitive (min/count/doc-frequency) or
    explicitly sorted (sort_array prefix ranking)."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    return df.repartition(n) if df.rdd.getNumPartitions() < n else df


def char_shingles(col: str | Column, n: int = 5) -> Column:
    """All length-n character substrings (with duplicates).

    Texts shorter than ``n`` yield an EMPTY array — the ``when`` guard
    matters because ``sequence(1, 0)`` is the DESCENDING [1, 0], whose
    0 then crashes substring/slice (found by the curation job's short
    docs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(c) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (n - 1)),
            lambda i: c.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(col: str | Column, n: int = 3) -> Column:
    """All n-token word shingles (space-joined), lowercased.

    Word shingles are the standard document-dedup unit: their space is
    |vocab|^n, so document frequency per shingle stays low even on
    low-diversity corpora where every char-5-gram is shared by most
    docs (the stopword-shingle join blowup)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    # when-guard: sequence(1, 0) is the DESCENDING [1, 0] and its 0
    # crashes slice — docs shorter than n tokens shingle to empty
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _distinct_shingles_with_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    unit: str = "char",
) -> DataFrame:
    """(id, sh, _df) — hashed distinct shingles with each shingle's
    document frequency attached via a window count over the single
    exploded stream.  One explode + one exchange: the aggregate-then-
    join alternative (groupBy("sh").count() ⋈ sh) evaluates the whole
    shingling pipeline twice because the explode feeds both join sides
    (measured ~80 s CPU per extra pass at sf1.0)."""
    from pyspark.sql import Window

    sh = _distinct_shingles(df, id_col, text_col, n, unit, hashed=True)
    return sh.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
    )


def _distinct_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    unit: str = "char",
    hashed: bool = False,
) -> DataFrame:
    """One (id, shingle) row per distinct shingle per doc.

    ``hashed=True`` replaces each shingle string with an xxhash64-
    family hash BEFORE the explode: the downstream shuffles
    (doc-frequency counts, self-joins, signature mins) then carry
    8-byte longs instead of ~25-byte strings — measured 19% wall on the
    sf0.1 ngram cell, and the shuffle-byte ratio is what matters at
    100 TB.  Counting/joining on hashes is exact up to collisions
    (P ≈ m²/2⁶⁵ for m distinct shingles — at 10¹² shingles that is
    ~0.01, i.e. at most one merged shingle pair corpus-wide, far below
    the estimator noise of the consumers).  Callers whose ORACLE
    recomputes shingle strings (decontamination) keep the default.

    Evaluation shape (round 7, guide §1.2 "per-task work"): the token
    split is PROJECTED as a column before the shingle transform — left
    inline, codegen re-evaluates the whole ``split`` per shingle
    element, which measured 2× the entire map stage at 10× scale
    (4.07 → 2.08 s).  For ``hashed`` word shingles the per-token hash
    is projected the same way and each shingle hash combines the n
    consecutive token hashes (``xxhash64(th_i..th_{i+n-1})``) instead
    of building the joined string and hashing it — no per-shingle
    string allocation at all (2.08 → 0.59 s).  Tokens contain no
    whitespace (split on \\s+), so the string form was injective on
    token tuples and the hash-tuple form is injective up to the same
    xxhash64 collision budget — every downstream SET operation
    (distinct, doc-frequency, intersection counts, Jaccard) is
    value-identical; only the opaque hash VALUES differ, which is why
    the incremental store's SIG_FAMILY marker names the shingle hash
    family."""
    if unit == "word":
        toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        if hashed:
            base = _spread(df).select(
                F.col(id_col),
                F.transform(toks, lambda x: F.xxhash64(x)).alias("_th"),
            )
            th = F.col("_th")
            # when-guard: sequence(1, 0) is DESCENDING and crashes the
            # transform on docs shorter than n tokens (same guard as
            # word_shingles)
            arr = F.when(
                F.size(th) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(th) - (n - 1)),
                    lambda i: F.xxhash64(
                        *[F.element_at(th, i + j) for j in range(n)]
                    ),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        else:
            base = _spread(df).select(F.col(id_col), toks.alias("_tk"))
            tk = F.col("_tk")
            arr = F.when(
                F.size(tk) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        return base.select(
            F.col(id_col), F.explode(F.array_distinct(arr)).alias("sh")
        )
    arr = char_shingles(text_col, n)
    if hashed:
        arr = F.transform(arr, lambda s: F.xxhash64(s))
    return (
        _spread(df).select(
            F.col(id_col),
            F.explode(F.array_distinct(arr)).alias("sh"),
        )
    )


# -- n-gram Jaccard ---------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    unit: str = "word",
) -> DataFrame:
    """Exact Jaccard ≥ threshold pairs over distinct n-gram shingles.
    Output: (doc_a, doc_b, jaccard), doc_a < doc_b.

    Candidate generation uses LOSSLESS prefix filtering (the SSJoin /
    PPJoin bound): under a global shingle order, two docs with
    J(A,B) ≥ t must share a shingle within each one's first
    |x| − ⌈t·|x|⌉ + 1 shingles, so the equijoin runs only on those
    prefixes — ordered rarest-first, the prefix shingles have the
    LOWEST doc-frequency, which collapses the join quadratically
    (measured 12M → ~100k join rows on a low-diversity 10k-doc corpus)
    while the verified output pair set is IDENTICAL to the naive
    all-sharing-pairs join.  ``max_doc_freq`` additionally drops
    shingles in more than that many docs outright (boilerplate guard;
    changes semantics)."""
    # ONE windowed doc-frequency pass serves both the hot-shingle
    # guard and the rarest-first prefix ranking (previously two
    # separate 20M-row shuffles computing the same counts, each
    # re-evaluating the shingling explode), and the per-doc
    # row_number window over every (doc, shingle) row is replaced
    # by a groupBy collect + in-row sort_array: same (_df, sh)
    # ascending order, same prefix — but sorting ~100-element
    # arrays per doc instead of one global 20M-row sort.
    sh2 = _distinct_shingles_with_df(df, id_col, text_col, n, unit)
    if max_doc_freq is not None:
        sh2 = sh2.where(F.col("_df") <= max_doc_freq)
    docs = sh2.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("_df", "sh"))).alias("_ranked")
    ).select(
        F.col(id_col),
        F.transform("_ranked", lambda s: s["sh"]).alias("_arr"),
        F.size("_ranked").cast("long").alias("sz"),
    )
    # prefix length |x| - ceil(t|x|) + 1; the epsilon biases ceil
    # DOWN so float error can only LENGTHEN the prefix (lossless)
    plen = (
        F.col("sz") - F.ceil(F.col("sz") * threshold - 1e-9) + 1
    ).cast("int")
    pref = docs.select(
        F.col(id_col), F.explode(F.slice("_arr", F.lit(1), plen)).alias("sh")
    )
    pa = pref.select(F.col(id_col).alias("doc_a"), "sh")
    pb = pref.select(F.col(id_col).alias("doc_b"), "sh")
    cands = (
        pa.join(pb, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verify with per-doc shingle ARRAYS (array_intersect) instead
    # of re-exploding both sides through a candidates×shingles join
    # (which materialized ~|cands|·|shingles/doc| rows); every
    # candidate pair shares ≥1 prefix shingle so no zero-common
    # pair is introduced or lost
    a = docs.select(
        F.col(id_col).alias("doc_a"),
        F.col("_arr").alias("_arr_a"),
        F.col("sz").alias("sz_a"),
    )
    b = docs.select(
        F.col(id_col).alias("doc_b"),
        F.col("_arr").alias("_arr_b"),
        F.col("sz").alias("sz_b"),
    )
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "common",
            F.size(F.array_intersect("_arr_a", "_arr_b")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# -- MinHash + LSH ----------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    unit: str = "word",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """num_hashes-wide MinHash signature per doc, entirely JVM-side:
    hash_i(shingle) = xxhash64(i, shingle); signature_i = min over the
    doc's distinct shingles.  One explode + one groupBy — the shuffle
    carries (id, shingle) pairs once, with all num_hashes mins computed
    as parallel aggregates (map-side partial min).  ``max_doc_freq``
    drops shingles present in more than that many docs before hashing
    (the boilerplate guard) — this is THE signing kernel: every
    consumer (batch pairs, incremental store) must hash identically or
    persisted signatures stop being comparable."""
    sh = _distinct_shingles(df, id_col, text_col, n, unit, hashed=True)
    if max_doc_freq is not None:
        hot = sh.groupBy("sh").count().where(F.col("count") > max_doc_freq)
        sh = sh.join(hot.select("sh"), "sh", "left_anti")
    return sh.groupBy(id_col).agg(*_minhash_aggs(num_hashes))


def _minhash_aggs(num_hashes: int) -> list[Column]:
    """THE signing aggregate: ``mh_i = min(xxhash64(i, sh))`` — shared
    by every signer (batch one-shot, fused dedup pipeline, incremental
    store) so persisted signatures stay comparable."""
    return [
        F.min(F.xxhash64(F.lit(i), F.col("sh"))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Band the signature (rows = num_hashes/bands) and emit pairs
    sharing any band bucket.  Join is keyed (band_id, band_hash) —
    uniform, broadcast-free, scales linearly in candidates."""
    rows = num_hashes // bands
    band_cols = [
        F.xxhash64(*[F.col(f"mh_{b * rows + r}") for r in range(rows)]).alias("bh")
        for b in range(bands)
    ]
    banded = signatures.select(
        F.col(id_col),
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_hash"),
    )
    l = banded.select(F.col(id_col).alias("doc_a"), "band_id", "band_hash")
    r = banded.select(F.col(id_col).alias("doc_b"), "band_id", "band_hash")
    return (
        l.join(r, ["band_id", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 8,
    verify_threshold: float | None = 0.8,
    max_doc_freq: int | None = None,
    unit: str = "word",
) -> DataFrame:
    """LSH candidates, optionally verified with exact Jaccard on the
    candidate set only (the standard two-phase near-dup pipeline).

    ``max_doc_freq`` drops shingles present in more than that many docs
    before hashing — without it, low-diversity corpora (shared
    boilerplate) make every pair moderately similar and band buckets
    explode quadratically; with it, signatures represent the
    *distinctive* content.  Band count trades recall for candidate
    volume: 8 bands × 8 rows keeps P(candidate) = sim^8 per band —
    ~0.999 recall at sim 0.9, ~0.4% at sim 0.5."""
    if verify_threshold is None:
        sigs = minhash_signatures(
            df, id_col, text_col, n=n, num_hashes=num_hashes, unit=unit,
            max_doc_freq=max_doc_freq,
        )
        return lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    # Fused plan: ONE explode + hot-filter + ONE per-doc aggregation
    # (collect_list + count) serves every consumer; the MinHash
    # signature is then a PROJECTION over the per-doc array —
    # ``mh_i = array_min(transform(arr, s -> xxhash64(i, s)))`` — which
    # is value-identical to the ``_minhash_aggs`` groupBy kernel (min
    # over the same hashed set, so persisted signatures stay
    # comparable).  Keeping the signature out of the AGGREGATE matters:
    # with ``agg(mins…, collect_list)`` Catalyst's column pruning split
    # the aggregate into two (a min-only one for the band join, an
    # array-only one for verification) and the whole explode+hot-filter
    # pipeline ran twice (measured: two ~75 s-CPU stages at sf1.0).
    # The previous shape additionally counted common shingles through a
    # candidates×shingles explode-join; array_intersect over the
    # per-doc arrays does the same count without materializing
    # |cands|·|shingles/doc| rows.
    if max_doc_freq is not None:
        sh = _distinct_shingles_with_df(df, id_col, text_col, n, unit).where(
            F.col("_df") <= max_doc_freq
        )
    else:
        sh = _distinct_shingles(df, id_col, text_col, n, unit, hashed=True)
    # the aggregate carries ONLY the array: even a count() column here
    # re-splits the aggregate (the signature branch prunes it away and
    # Catalyst plans a second aggregate); sz is size(_arr) downstream
    per_doc = sh.groupBy(id_col).agg(F.collect_list("sh").alias("_arr"))
    def _mh(i: int) -> Column:
        # single-arg lambda is load-bearing: a two-arg lambda would
        # receive the ELEMENT INDEX as its second argument
        return F.array_min(
            F.transform("_arr", lambda s: F.xxhash64(F.lit(i), s))
        ).alias(f"mh_{i}")

    sigs = per_doc.select(F.col(id_col), *[_mh(i) for i in range(num_hashes)])
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    a = per_doc.select(
        F.col(id_col).alias("doc_a"),
        F.col("_arr").alias("_arr_a"),
        F.size("_arr").cast("long").alias("sz_a"),
    )
    b = per_doc.select(
        F.col(id_col).alias("doc_b"),
        F.col("_arr").alias("_arr_b"),
        F.size("_arr").cast("long").alias("sz_b"),
    )
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "common",
            F.size(F.array_intersect("_arr_a", "_arr_b")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")).cast("double"),
        )
        .where(F.col("jaccard") >= verify_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# -- SimHash ----------------------------------------------------------------

def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 64,
    max_token_doc_freq: int | None = None,
) -> DataFrame:
    """SimHash over whitespace tokens, fully JVM-side: explode tokens →
    per-token xxhash64 → per-bit ±1 vote via bit tests → sign per bit →
    reassemble.  The per-bit votes are ``width`` conditional sums in
    one aggregate stage.

    ``width``: 64 (columns ``(id, simhash)``) or 128 (columns
    ``(id, sig_hi, sig_lo)`` — two independently-seeded xxhash64 words
    per token).  **128 is the scale default**: the band join's
    candidate volume grows ∝ n²/2^band_width, and the measured growth
    at 64 bits (4×16-bit bands) was 93× at 10× docs vs 27.6× fewer
    candidates at 128 bits on the same corpus — at ≥10⁸ docs use 128.

    ``max_token_doc_freq``: drop tokens present in more than that many
    documents BEFORE voting (one extra doc-freq aggregation + an
    anti-join on the token).  On boilerplate-dominated corpora the
    ubiquitous tokens swamp every vote, signatures converge, and band
    buckets blow up quadratically; with the prefilter, signatures
    represent the *distinctive* content (the same semantics knob as
    ``minhash``'s ``max_doc_freq``).  A doc whose every token is hot
    drops out of the signature set entirely — mirror the choice in
    whatever verifies the candidates."""
    if width not in (64, 128):
        raise ValueError(f"simhash width must be 64 or 128, got {width}")
    tok = _spread(df).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("t"),
    )
    if max_token_doc_freq is not None:
        hot = (
            tok.distinct()
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_token_doc_freq)
        )
        tok = tok.join(hot.select("t"), "t", "left_anti")
    words = width // 64
    for w in range(words):
        seed = [F.lit(w)] if w else []  # word 0 keeps the unseeded hash
        tok = tok.withColumn(f"h{w}", F.xxhash64(*seed, F.col("t")))
    # NOTE (round 7): a packed-lane variant (two per-bit one-counters
    # per 64-bit sum, vote recovered as 2·ones−n) was measured: faster
    # in isolation (1.7 s vs 2.2 s at sf1.0) but catastrophically
    # slower composed into a downstream near-pair query (final
    # aggregates went from seconds to 6+ MINUTES when AQE fuses the
    # reused final aggregate with downstream consumers).  The plain
    # per-bit vote form is kept.
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.expr(f"(h{w} >> {b}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"v{w}_{b}")
            for w in range(words)
            for b in range(64)
        ]
    )

    def word(w: int) -> Column:
        sig = F.lit(0).cast("long")
        for b in range(64):
            sig = sig + F.when(
                F.col(f"v{w}_{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        return sig

    if width == 64:
        return votes.select(F.col(id_col), word(0).alias("simhash"))
    return votes.select(
        F.col(id_col), word(0).alias("sig_hi"), word(1).alias("sig_lo")
    )


def simhash_near_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    id_offset: int | None = None,
) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ max_hamming, using the
    pigeonhole band trick (any pair within distance d < bands shares at
    least one exact band) — join on band equality, then exact popcount
    filter.  ONE entry point for both signature widths: the width is
    detected from the frame's columns (``simhash`` = 64-bit,
    ``sig_hi``/``sig_lo`` = 128-bit from ``simhash(width=128)``).

    Scale sizing (measured, BENCH_r04 candidate telemetry): band-join
    candidate volume grows ∝ n²/2^band_width — 93× at 10× docs with
    64-bit signatures (4×16-bit bands) vs 27.6× fewer candidates at
    128 bits (4×32-bit bands) on the same corpus.  16-bit bands are
    already the WIDEST lossless choice for d ≤ 3 at 64 bits
    (pigeonhole needs d < bands), so at ≥10⁸-doc scale sign with
    ``width=128``, and/or prefilter hot tokens with
    ``max_token_doc_freq`` before signing; the per-band join itself
    stays uniform and broadcast-free either way.

    ``id_offset``: restrict the output to pairs with
    ``doc_b = doc_a + id_offset`` — the SAME rows as filtering the
    unrestricted result by ``doc_b - doc_a == id_offset`` (pinned
    row-exact by ``tests/test_round7_opts.py``), but the restriction is
    pushed INTO the band join as an extra equi-key (guide §8: Catalyst
    cannot normalize the cross-side arithmetic predicate into a join
    key, so without this the join enumerates every band collision —
    ∝ n²/2^band_width rows — only to discard all but the offset pairs).
    The band-value equality stays part of the join: a pair is emitted
    only if some band of the real signatures matches."""
    if "sig_hi" in sig.columns and "sig_lo" in sig.columns:
        return _simhash_near_pairs_2w(
            sig, id_col, max_hamming, bands, sig_cols=("sig_hi", "sig_lo"),
            id_offset=id_offset,
        )
    width = 64 // bands
    mask = (1 << width) - 1
    band_cols = [
        F.expr(f"(simhash >> {i * width}) & {mask}").alias(f"b{i}")
        for i in range(bands)
    ]
    banded = sig.select(F.col(id_col), F.col("simhash"), *band_cols)
    banded = banded.select(
        id_col,
        "simhash",
        F.posexplode(F.array(*[F.col(f"b{i}") for i in range(bands)])).alias(
            "band_id", "band_val"
        ),
    )
    l = banded.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"),
        "band_id", "band_val",
    )
    r = banded.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"),
        "band_id", "band_val",
    )
    if id_offset is not None:
        # doc_b = doc_a + id_offset as a JOIN KEY: the hash join now
        # probes on (band_id, band_val, doc_a+offset) and output rows
        # collapse from every band collision to just the offset pairs
        l = l.withColumn("_pair_b", F.col("doc_a") + F.lit(id_offset))
        r = r.withColumn("_pair_b", F.col("doc_b"))
    on = ["band_id", "band_val"] + (["_pair_b"] if id_offset is not None else [])
    # popcount filter BEFORE the cross-band distinct: hamming is a
    # function of the pair (one signature per doc), so filter-then-
    # distinct yields the identical pair set while the distinct's
    # shuffle input shrinks from every band collision (∝ n²/2^width)
    # to just the near pairs — the filter runs pipelined on the join
    # output without materializing it
    return (
        l.join(r, on)
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.expr("sig_a ^ sig_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def _simhash_near_pairs_2w(
    sig: DataFrame,
    id_col: str,
    max_hamming: int,
    bands: int,
    sig_cols: tuple[str, str],
    id_offset: int | None = None,
) -> DataFrame:
    """128-bit band join: 4×32-bit pigeonhole bands — lossless for
    d < bands exactly like the 64-bit variant, but band collisions fall
    from ∝ n²/2¹⁶ to ∝ n²/2³²."""
    if bands != 4:
        # a real error, not an assert: under `python -O` an assert
        # vanishes and the caller's wider-band request would silently
        # run with 4 bands, breaking the d < bands losslessness bound
        raise ValueError(
            f"128-bit signatures use a fixed 4×32-bit band layout; got bands={bands}"
        )
    hi, lo = sig_cols
    mask = (1 << 32) - 1
    band_cols = [
        F.expr(f"({hi} >> {i * 32}) & {mask}") for i in (0, 1)
    ] + [F.expr(f"({lo} >> {i * 32}) & {mask}") for i in (0, 1)]
    banded = sig.select(
        id_col, hi, lo,
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_val"),
    )
    l = banded.select(
        F.col(id_col).alias("doc_a"),
        F.col(hi).alias("a_hi"), F.col(lo).alias("a_lo"),
        "band_id", "band_val",
    )
    r = banded.select(
        F.col(id_col).alias("doc_b"),
        F.col(hi).alias("b_hi"), F.col(lo).alias("b_lo"),
        "band_id", "band_val",
    )
    if id_offset is not None:
        # same offset-as-join-key pushdown as the 64-bit variant
        l = l.withColumn("_pair_b", F.col("doc_a") + F.lit(id_offset))
        r = r.withColumn("_pair_b", F.col("doc_b"))
    on = ["band_id", "band_val"] + (["_pair_b"] if id_offset is not None else [])
    # filter-then-distinct, same rationale as the 64-bit variant
    return (
        l.join(r, on)
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.expr("a_hi ^ b_hi"))
            + F.bit_count(F.expr("a_lo ^ b_lo")),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )
