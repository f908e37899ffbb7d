"""Incremental MinHash near-dedup against a persisted signature store.

The batch dedup family recomputes pairs over the whole corpus; at
100 TB nobody re-curates the corpus per arriving batch.  The standard
production shape (the one this module implements) keeps the compact
MinHash SIGNATURES of every previously-kept document in a store and,
per new batch:

1. signs the new docs (same `minhash_signatures` kernel — one
   explode + groupBy, JVM-side xxhash64),
2. band-joins new signatures against (store ∪ new) — candidates only,
   never all-pairs,
3. estimates Jaccard as the fraction of agreeing signature
   components (the unbiased MinHash estimator, σ ≈ 1/√num_hashes —
   exact text verification is impossible and unnecessary here: the
   store keeps ~64 longs/doc, not the text),
4. drops new docs matching a stored doc (FIRST ARRIVAL WINS) or a
   smaller-id doc in the same batch (keep-smallest, same policy as
   the batch family).  Note the asymmetry, shared with the batch
   family's greedy: WITHIN a batch a doc is dropped on a match with
   any smaller-id batch-mate (even one that is itself dropped — chain
   resolution is sequential and does not parallelize), while ACROSS
   batches only matches against KEPT docs drop (dropped docs leave no
   signature).  The property test pins exactly this model,
5. appends the SURVIVORS' signatures to the store.

The store is a :class:`hermes_spark.tables.ParquetMergeTable` —
atomic versioned commits, batch-id idempotence — under a
CONTENT-STABLE batch id (xxhash of the sorted new-doc ids, the
``ClientLoop.retry_queue`` pattern), so a crash-replay of the same
input batch re-merges as a no-op and returns the same survivors: the whole step
is effectively-once.  The store is SINGLE-WRITER (the ledger is an
append-only file, same assumption as every ParquetMergeTable target):
run one dedup job per store at a time.  Store size is O(kept docs) × num_hashes longs —
at 10⁹ kept docs and 64 hashes, ~0.5 TB of parquet, itself
partition-prunable and far below the text it stands for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hermes_spark.functions.dedup import minhash_signatures
from hermes_spark.tables import ParquetMergeTable


# the signature hash family: bump whenever the signing math changes
# (shingle construction, shingle hashing, per-index hashing).  A store
# written by a DIFFERENT family is useless — its signatures never
# match newly-computed ones, so cross-batch dedup would silently
# degrade to batch-scoped.  v2 = int64-hashed shingles; v3 = shingle
# hash combines per-token hashes (xxhash64 of n consecutive token
# hashes) instead of hashing the joined string — same shingle SETS,
# different opaque values (round-7 map-stage optimization).
SIG_FAMILY = "minhash-xxh64-tokenhash64-v3"


def _check_sig_family(path: str) -> None:
    """Latch the family marker on first use; refuse a mismatched
    store LOUDLY (single-writer dir, plain marker file)."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    marker = os.path.join(path, "_sig_family.json")
    if os.path.exists(marker):
        with open(marker) as f:
            found = json.load(f).get("family")
        if found != SIG_FAMILY:
            raise ValueError(
                f"signature store at {path} was written by hash family "
                f"{found!r}; this build signs with {SIG_FAMILY!r} — its "
                f"signatures would never match the stored ones (silent "
                f"dedup loss).  Rebuild the store or pin the old build."
            )
        return
    with open(marker, "w") as f:
        json.dump({"family": SIG_FAMILY}, f)


def signature_store(
    spark: SparkSession,
    path: str,
    id_field: T.StructField,
    num_hashes: int = 64,
) -> ParquetMergeTable:
    """The persisted signature table: (id, mh_0..mh_{H-1})."""
    _check_sig_family(path)
    schema = T.StructType(
        [id_field]
        + [T.StructField(f"mh_{i}", T.LongType(), True)
           for i in range(num_hashes)]
    )
    return ParquetMergeTable(
        spark, path, key=[id_field.name], schema=schema,
        # signatures never update or delete, but every batch READS the
        # store — without periodic compaction the read would fold one
        # delta per past batch (read amplification ∝ stream age)
        compact_every=16,
    )


def _banded(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int, out_id: str
) -> DataFrame:
    rows = num_hashes // bands
    band_cols = [
        F.xxhash64(*[F.col(f"mh_{b * rows + r}") for r in range(rows)])
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col).alias(out_id),
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_hash"),
    )


def estimated_jaccard(num_hashes: int) -> F.Column:
    """Fraction of agreeing components between two aliased signature
    frames ``a`` and ``b`` — the unbiased MinHash Jaccard estimator."""
    agree = sum(
        F.when(F.col(f"a.mh_{i}") == F.col(f"b.mh_{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return agree.cast("double") / F.lit(float(num_hashes))


def incremental_minhash_dedup(
    spark: SparkSession,
    new_docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Dedup ``new_docs`` against the store AND within the batch;
    append survivors' signatures; return the surviving rows.

    This is a MATERIALIZATION BARRIER (the drop decision must be
    computed before the store commit), unlike the lazy batch steps.
    Run it AFTER any filtering (quality/sampling/decontamination): a
    committed signature claims its content forever, so a doc filtered
    out downstream would still block future near-copies — the
    declarative layer enforces this ordering at load time.
    ``threshold`` applies to the ESTIMATED Jaccard — with the default
    64 hashes the estimator's σ is ~0.06 at J≈0.8; widen num_hashes
    for tighter cuts.  ``bands`` defaults to the batch family's 8 so
    toggling the store on a declarative step keeps the same band
    recall curve.  ``max_doc_freq`` drops boilerplate shingles before
    signing (same knob and caveat as the batch family)."""
    if num_hashes % bands != 0:
        raise ValueError(f"bands {bands} must divide num_hashes {num_hashes}")
    id_field = next(f for f in new_docs.schema.fields if f.name == id_col)
    store = signature_store(spark, store_path, id_field, num_hashes)

    src = new_docs
    sig_new = minhash_signatures(
        src, id_col, text_col, n=n, num_hashes=num_hashes,
        max_doc_freq=max_doc_freq,
    ).cache()
    try:
        # replay safety: rows for ids already stored (a re-delivered
        # batch) must not self-match — the store side excludes them
        new_ids = sig_new.select(id_col)
        prior = (
            store.read(op_col=None)
            .join(new_ids, id_col, "left_anti")
            if store.current_version()
            else None
        )

        nb = _banded(sig_new, id_col, num_hashes, bands, "cand")
        pairs = None
        if prior is not None:
            pb = _banded(prior, id_col, num_hashes, bands, "keeper")
            vs_prior = (
                pb.join(nb, ["band_id", "band_hash"])
                .select("keeper", "cand").distinct()
            )
            pairs = vs_prior
        kb = _banded(sig_new, id_col, num_hashes, bands, "keeper")
        vs_new = (
            kb.join(nb, ["band_id", "band_hash"])
            .where(F.col("keeper") < F.col("cand"))
            .select("keeper", "cand").distinct()
        )
        pairs = vs_new if pairs is None else pairs.unionByName(vs_new)

        all_sigs = (
            sig_new if prior is None else prior.unionByName(sig_new)
        )
        est = estimated_jaccard(num_hashes)
        # drops stays CACHED past return: the returned lazy survivors
        # frame anti-joins against it, and without the cache a consumer
        # would re-run the whole signing + band join.  It holds bare
        # ids of dropped docs — O(dups in batch) — and is freed with
        # the session
        drops = (
            pairs
            .join(all_sigs.alias("a"),
                  F.col("keeper") == F.col(f"a.{id_col}"))
            .join(sig_new.alias("b"),
                  F.col("cand") == F.col(f"b.{id_col}"))
            .where(est >= F.lit(threshold))
            .select(F.col("cand").alias(id_col))
            .distinct()
        ).cache()
        drops.count()
        survivors = src.join(drops, id_col, "left_anti")
        surv_sigs = sig_new.join(drops, id_col, "left_anti")

        # content-stable batch id: order-independent xor of per-row
        # hashes over (id, full signature) — a distributed partial
        # aggregate (no single-task collect_list array), and sensitive
        # to CONTENT: a re-delivered batch with the same ids but
        # changed text hashes differently and correctly re-commits
        # (MERGE then upserts the fresh signatures)
        row_h = F.xxhash64(
            F.col(id_col).cast("string"),
            *[F.col(f"mh_{i}") for i in range(num_hashes)],
        )
        h = sig_new.agg(F.bit_xor(row_h).alias("h")).first().h
        store.merge(
            surv_sigs.withColumn("op", F.lit("insert")),
            batch_id=f"inc-dedup-{h}",
        )
        return survivors
    finally:
        sig_new.unpersist()
