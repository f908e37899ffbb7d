"""Round-7 optimization pins: the rewritten operator internals must be
value-identical to the naive round-6 forms they replaced.

Each test re-states the OLD plan shape inline (the simplest correct
form) and asserts exact row-set equality with the optimized operator —
the optimization contract is "same results, fewer shuffles / no
interpreted all-pairs folds", so any divergence here is a bug, not a
tolerance question.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    noisy = d.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail")).alias("text"),
    )
    return d.unionByName(noisy)


def test_minhash_projection_signature_equals_groupby_kernel(spark, docs):
    """The fused pipeline signs via array_min(transform(arr)) — it must
    produce byte-identical signatures to the shared groupBy kernel
    (minhash_signatures), or persisted incremental-store signatures
    stop being comparable."""
    from hermes_spark.functions.dedup import (
        _distinct_shingles_with_df,
        minhash_signatures,
    )

    kernel = minhash_signatures(docs, num_hashes=8, max_doc_freq=64)
    sh = _distinct_shingles_with_df(docs, "doc_id", "text", 3, "word").where(
        F.col("_df") <= 64
    )
    per_doc = sh.groupBy("doc_id").agg(F.collect_list("sh").alias("_arr"))

    def mh(i: int):
        # single-arg transform lambda with i closed over — a two-arg
        # lambda would receive the element INDEX as its second argument
        return F.array_min(
            F.transform("_arr", lambda s: F.xxhash64(F.lit(i), s))
        ).alias(f"mh_{i}")

    proj = per_doc.select("doc_id", *[mh(i) for i in range(8)])
    assert _rows(proj) == _rows(kernel)


def test_simhash_near_pairs_filter_before_distinct(spark, docs):
    """Filter-then-distinct ≡ distinct-then-filter for the band join
    (hamming is a function of the pair), across both widths."""
    from hermes_spark.functions.dedup import simhash, simhash_near_pairs

    sigs = simhash(docs)
    new = simhash_near_pairs(sigs, max_hamming=6, bands=8)
    # old shape: dedup the raw band collisions first, then popcount
    width = 64 // 8
    mask = (1 << width) - 1
    band_cols = [
        F.expr(f"(simhash >> {i * width}) & {mask}").alias(f"b{i}")
        for i in range(8)
    ]
    banded = sigs.select("doc_id", "simhash", *band_cols).select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[F.col(f"b{i}") for i in range(8)])).alias(
            "band_id", "band_val"
        ),
    )
    l = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"),
        "band_id", "band_val",
    )
    r = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"),
        "band_id", "band_val",
    )
    old = (
        l.join(r, ["band_id", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("sig_a ^ sig_b")))
        .where(F.col("hamming") <= 6)
        .select("doc_a", "doc_b", "hamming")
    )
    assert _rows(new) == _rows(old)


def test_simhash_near_pairs_id_offset_pushdown_row_exact(spark, docs):
    """id_offset pushes doc_b = doc_a + offset into the band join as an
    equi-key — must yield EXACTLY the unrestricted pair set filtered by
    doc_b - doc_a == offset, both signature widths."""
    from hermes_spark.functions.dedup import (
        simhash,
        simhash_near_pairs,
    )

    for width, mh, bands in ((64, 6, 8), (128, 3, 4)):
        sigs = simhash(docs, width=width)
        fast = simhash_near_pairs(
            sigs, max_hamming=mh, bands=bands, id_offset=10000
        )
        slow = simhash_near_pairs(sigs, max_hamming=mh, bands=bands).where(
            F.col("doc_b") - F.col("doc_a") == 10000
        )
        assert _rows(fast) == _rows(slow), f"width={width}"
        assert fast.columns == slow.columns, f"width={width}"


def test_q_simhash_verdict_assembly_row_exact(spark, sf_dir, docs):
    """The SimHash verdict row of the DuckDB oracle (constant booleans:
    signature values are a function of Spark's xxhash64), assembled on
    direct operator calls over documents + noisy copies, is exactly
    ``(n_docs, True, True)``: the banded retrieval with the (a, a+10000)
    restriction pushed into the join finds EXACTLY the directly
    computed Hamming-near true pairs (≤6 of 64 bits, 8×8-bit bands),
    and ≥90% of the noisy copies are that near to their source."""
    from hermes_spark.functions.dedup import simhash, simhash_near_pairs

    sigs = simhash(docs).persist()
    found = simhash_near_pairs(
        sigs, max_hamming=6, bands=8, id_offset=10000
    ).select("doc_a")
    a = sigs.select(F.col("doc_id").alias("doc_a"),
                    F.col("simhash").alias("sig_a"))
    b = sigs.select((F.col("doc_id") - 10000).alias("doc_a"),
                    F.col("simhash").alias("sig_b"))
    exact_true = (
        a.join(b, "doc_a")
        .where(F.bit_count(F.expr("sig_a ^ sig_b")) <= 6)
        .select("doc_a")
    )
    sym_diff = exact_true.join(found, "doc_a", "left_anti").unionByName(
        found.join(exact_true, "doc_a", "left_anti")
    )
    docs_t = spark.read.parquet(f"{sf_dir}/documents.parquet")
    verdict = (
        docs_t.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .crossJoin(sym_diff.agg(F.count(F.lit(1)).alias("_diff")))
        .crossJoin(exact_true.agg(F.count(F.lit(1)).alias("_near")))
        .select(
            "n_docs",
            (F.col("_diff") == 0).alias("banded_lossless_on_true_pairs"),
            (F.col("_near") * 10 >= F.col("n_docs") * 9).alias(
                "noisy_copies_near_ge_90pct"
            ),
        )
    )
    n_docs = docs_t.count()
    assert n_docs > 0
    assert _rows(verdict) == [(n_docs, True, True)]
    sigs.unpersist()


def test_ngram_prefix_via_sorted_array_matches_window_ranking(spark, docs):
    """The groupBy collect + sort_array prefix must select exactly the
    rows the row_number window ranking selected (same (_df, sh) order,
    same lossless prefix bound)."""
    from hermes_spark.functions.dedup import _distinct_shingles_with_df

    threshold = 0.8
    sh2 = _distinct_shingles_with_df(docs, "doc_id", "text", 3, "word").where(
        F.col("_df") <= 64
    )
    # new: in-row sorted prefix
    docs_arr = sh2.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("_df", "sh"))).alias("_ranked")
    ).select(
        "doc_id",
        F.transform("_ranked", lambda s: s["sh"]).alias("_arr"),
        F.size("_ranked").cast("long").alias("sz"),
    )
    plen = (F.col("sz") - F.ceil(F.col("sz") * threshold - 1e-9) + 1).cast("int")
    pref_new = docs_arr.select(
        "doc_id", F.explode(F.slice("_arr", F.lit(1), plen)).alias("sh")
    )
    # old: global row_number window
    sizes = sh2.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    ranked = sh2.join(sizes, "doc_id").withColumn(
        "_r",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("_df", "sh")),
    )
    pref_old = ranked.where(
        F.col("_r") <= F.col("sz") - F.ceil(F.col("sz") * threshold - 1e-9) + 1
    ).select("doc_id", "sh")
    assert _rows(pref_new) == _rows(pref_old)
