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


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_brute_force_topk_matches_naive_all_pairs(spark, emb):
    """Two-phase (numpy preselect + exact re-rank) ≡ the naive
    all-pairs window plan, including the cosine doubles."""
    from hermes_spark.functions.similarity import _dot, _norm, brute_force_topk

    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    v = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    q = queries.select(
        "query_id", F.col("embedding").cast("array<double>").alias("q")
    )
    scored = v.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).withColumn(
        "cosine",
        _dot(F.col("q"), F.col("v")) / (_norm(F.col("q")) * _norm(F.col("v"))),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    naive = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
    assert _rows(brute_force_topk(emb, queries, k=5)) == _rows(naive)


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


def test_lsh_probe_pairs_are_unique_by_construction(spark, emb):
    """The dropDuplicates removed from lsh_topk/cosine_neardup_pairs
    was a no-op: one bucket per vector + pairwise-distinct probe values
    ⇒ each pair matches at most once.  Pin that invariant."""
    from hermes_spark.functions.similarity import hyperplane_buckets

    n_planes = 12
    b = hyperplane_buckets(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("_v")),
        64, n_planes, vec_col="_v",
    )
    probes = F.array(
        F.col("bucket"),
        *[F.expr(f"bucket ^ {1 << p}").cast("long") for p in range(n_planes)],
    )
    l = b.select(
        F.col("vec_id").alias("vec_a"), F.explode(probes).alias("bucket")
    )
    r = b.select(F.col("vec_id").alias("vec_b"), "bucket")
    pairs = l.join(r, "bucket").where(F.col("vec_a") < F.col("vec_b"))
    dup = (
        pairs.groupBy("vec_a", "vec_b").count().where(F.col("count") > 1).count()
    )
    assert dup == 0


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


def test_ivf_topk_two_phase_matches_naive_probed_join(spark, emb):
    """ivf_topk's two-phase (masked matmul preselect + exact re-rank)
    must equal the old shape: per-row UDF list assignment, probed-list
    broadcast join, fold scoring, window top-k — including doubles."""
    import pandas as pd
    from pyspark.sql import types as T

    from hermes_spark.functions.similarity import (
        _dot,
        _kmeans_centroids,
        _norm,
        ivf_topk,
    )

    n_lists, n_probe, k = 4, 2, 3
    queries = emb.where(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    import numpy as np

    sample = np.vstack(
        [np.asarray(r[0], dtype=np.float64)
         for r in emb.select("embedding").limit(4096).collect()]
    )
    cents = _kmeans_centroids(sample, n_lists, seed=42)
    cents_n = cents / np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
    )

    @F.pandas_udf(T.IntegerType())
    def assign_list(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ cents_n.T, axis=1).astype(np.int32))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_lists(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cents_n.T
        return pd.Series(list(np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)))

    v = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("v"),
        assign_list(F.col("embedding")).alias("list_id"),
    ).withColumn("_nv", _norm(F.col("v")))
    q = queries.select(
        "query_id",
        F.col("embedding").cast("array<double>").alias("q"),
        _norm(F.col("embedding").cast("array<double>")).alias("_nq"),
        F.explode(probe_lists(F.col("embedding"))).alias("list_id"),
    )
    scored = (
        v.join(F.broadcast(q), ["list_id"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            _dot(F.col("q"), F.col("v")) / (F.col("_nq") * F.col("_nv")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    old = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
    new = ivf_topk(emb, queries, dim=64, k=k, n_lists=n_lists,
                   n_probe=n_probe)
    assert _rows(new) == _rows(old)


def test_q_simhash_verdict_assembly_row_exact(spark, sf_dir):
    """The full-outer sym-diff assembly in q_simhash must produce the
    IDENTICAL output row to the old two-anti-join + per-leg-aggregate
    shape (restated here)."""
    import __spark_entry__ as em
    from hermes_spark.functions.dedup import simhash, simhash_near_pairs

    both = em._docs_plus_noisy(spark, sf_dir)
    sigs = simhash(both)
    found = (
        simhash_near_pairs(sigs, max_hamming=6, bands=8)
        .where(F.col("doc_b") - F.col("doc_a") == 10000)
        .select("doc_a")
    )
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
    docs_t = em._t(spark, sf_dir, "documents")
    old = (
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
    new = em.q_simhash(spark, sf_dir)
    assert new.columns == old.columns
    assert _rows(new) == _rows(old)


def test_q_simhash128_verdict_assembly_row_exact(spark, sf_dir):
    """Same pin for the 128-bit verdict query."""
    import __spark_entry__ as em
    from hermes_spark.functions.dedup import (
        simhash,
        simhash128,
        simhash128_near_pairs,
        simhash_near_pairs,
    )

    both = em._docs_plus_noisy(spark, sf_dir)
    sigs = simhash128(both)
    found = (
        simhash128_near_pairs(sigs, max_hamming=3)
        .where(F.col("doc_b") - F.col("doc_a") == 10000)
        .select("doc_a")
    )
    a = sigs.select(F.col("doc_id").alias("doc_a"),
                    F.col("sig_hi").alias("a_hi"), F.col("sig_lo").alias("a_lo"))
    b = sigs.select((F.col("doc_id") - 10000).alias("doc_a"),
                    F.col("sig_hi").alias("b_hi"), F.col("sig_lo").alias("b_lo"))
    ham = (
        F.bit_count(F.expr("a_hi ^ b_hi")) + F.bit_count(F.expr("a_lo ^ b_lo"))
    )
    joined = a.join(b, "doc_a").withColumn("_h", ham)
    exact_true = joined.where(F.col("_h") <= 3).select("doc_a")
    near6 = joined.where(F.col("_h") <= 12).select("doc_a")
    sym_diff = exact_true.join(found, "doc_a", "left_anti").unionByName(
        found.join(exact_true, "doc_a", "left_anti")
    )
    c64 = simhash_near_pairs(simhash(both), max_hamming=64, bands=4)
    c128 = simhash128_near_pairs(sigs, max_hamming=128)
    docs_t = em._t(spark, sf_dir, "documents")
    old = (
        docs_t.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .crossJoin(sym_diff.agg(F.count(F.lit(1)).alias("_diff")))
        .crossJoin(near6.agg(F.count(F.lit(1)).alias("_near")))
        .crossJoin(c64.agg(F.count(F.lit(1)).alias("_c64")))
        .crossJoin(c128.agg(F.count(F.lit(1)).alias("_c128")))
        .select(
            "n_docs",
            (F.col("_diff") == 0).alias("banded_lossless_on_true_pairs"),
            (F.col("_near") * 10 >= F.col("n_docs") * 9).alias(
                "noisy_copies_near_ge_90pct"
            ),
            (F.col("_c128") < F.col("_c64")).alias("band_candidates_reduced"),
        )
    )
    new = em.q_simhash128(spark, sf_dir)
    assert new.columns == old.columns
    assert _rows(new) == _rows(old)


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


@pytest.mark.parametrize("op", ["brute_force", "ivf"])
def test_topk_preselect_keeps_tied_duplicates(spark, op):
    """More duplicates of the nearest vector than the k+20 preselect
    depth: the duplicates score a few ulps apart in the batch matmul,
    and the true top-k are the duplicates with the SMALLEST ids
    (cosine DESC, neighbor_id ASC).  An arbitrary cut among the
    near-ties drops them; the result must equal the all-pairs plan."""
    import numpy as np
    from pyspark.sql import types as T

    from hermes_spark.functions.similarity import (
        _dot,
        _norm,
        brute_force_topk,
        ivf_topk,
    )

    rng = np.random.default_rng(7)
    dim, n_dup, k = 64, 400, 5
    dup = rng.normal(size=dim)
    noise = rng.normal(size=(300, dim))
    # duplicates get the LARGEST-first arrival order, so a positional
    # cut keeps the wrong ones
    rows = [(int(5000 - i), dup.tolist()) for i in range(n_dup)]
    rows += [(int(10000 + i), noise[i].tolist()) for i in range(len(noise))]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    emb = spark.createDataFrame(rows, schema).repartition(2)
    qvec = (dup + 1e-3 * rng.normal(size=dim)).tolist()
    queries = spark.createDataFrame(
        [(1, qvec), (2, dup.tolist())], "query_id long, embedding array<double>"
    )

    v = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v")
    )
    q = queries.select("query_id", F.col("embedding").alias("q"))
    scored = v.crossJoin(q).withColumn(
        "cosine",
        _dot(F.col("q"), F.col("v")) / (_norm(F.col("q")) * _norm(F.col("v"))),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    naive = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
    if op == "brute_force":
        got = brute_force_topk(emb, queries, k=k)
    else:
        # one list, probed by every query: the IVF candidate set is the
        # whole corpus, so the all-pairs plan is its oracle
        got = ivf_topk(emb, queries, dim=dim, k=k, n_lists=1, n_probe=1)
    exp = _rows(naive)
    assert [r[2] for r in exp] == [4601, 4602, 4603, 4604, 4605] * 2
    assert _rows(got) == exp
