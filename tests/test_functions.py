"""Training-pipeline function library: dedup recall and exactness,
text fingerprints and token counts."""

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    noisy = d.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail")).alias("text"),
    )
    return d.unionByName(noisy).cache()


def test_exact_dedup_finds_all_copies(spark, sf_dir):
    from hermes_spark.functions.dedup import exact_dedup

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    both = d.unionByName(d.select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
    out = exact_dedup(both)
    n = d.count()
    assert out.count() == n
    assert out.agg(F.sum("n_copies")).collect()[0][0] == 2 * n
    assert out.agg(F.max("doc_id")).collect()[0][0] < 10000  # min-id survives


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """LSH+verify must find (essentially) every true near-dup pair that
    exact Jaccard finds at the same threshold."""
    from hermes_spark.functions.dedup import minhash_dedup_pairs, ngram_jaccard_pairs

    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b) for r in minhash_dedup_pairs(docs, verify_threshold=0.8).collect()
    }
    assert lsh <= exact  # verify phase makes candidates exact-checked
    recall = len(lsh & exact) / max(1, len(exact))
    assert recall >= 0.95, f"LSH recall {recall}"


def test_simhash_near_pairs(spark, docs):
    from hermes_spark.functions.dedup import simhash, simhash_near_pairs

    sigs = simhash(docs)
    pairs = simhash_near_pairs(sigs, max_hamming=6, bands=8)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    # each noisy copy should be hamming-close to its source
    n_true = docs.count() // 2
    hits = sum(1 for (a, b) in got if b - a == 10000)
    assert hits >= n_true * 0.9


def test_simhash128_lossless_and_fewer_candidates(spark):
    """128-bit SimHash: pigeonhole retrieval at d≤3 over 4×32-bit bands
    equals direct Hamming, and the band-join candidate volume is below
    the 64-bit operator's on the same corpus (the measured n²/2¹⁶ →
    n²/2³² fix)."""
    from hermes_spark.functions.dedup import simhash, simhash_near_pairs

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = []
    for i in range(60):
        base = " ".join(words[(i + j) % len(words)] for j in range(24))
        rows.append((i, base))
        rows.append((i + 10000, base + " tail"))  # noisy copy
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = simhash(df, width=128).persist()
    assert sigs.columns == ["doc_id", "sig_hi", "sig_lo"]

    found = simhash_near_pairs(sigs, max_hamming=3)
    a = sigs.select(F.col("doc_id").alias("doc_a"),
                    F.col("sig_hi").alias("a_hi"), F.col("sig_lo").alias("a_lo"))
    b = sigs.select(F.col("doc_id").alias("doc_b"),
                    F.col("sig_hi").alias("b_hi"), F.col("sig_lo").alias("b_lo"))
    direct = (
        a.join(b, a.doc_a < b.doc_b)
        .withColumn(
            "h",
            F.bit_count(F.expr("a_hi ^ b_hi")) + F.bit_count(F.expr("a_lo ^ b_lo")),
        )
        .where(F.col("h") <= 3)
        .select("doc_a", "doc_b")
    )
    got = {(r.doc_a, r.doc_b) for r in found.collect()}
    want = {(r.doc_a, r.doc_b) for r in direct.collect()}
    assert got == want and len(want) > 0  # lossless, non-trivial

    # band-join candidate volume: every pair sharing a band survives
    # the full-width Hamming bound, so the counts are the candidates
    c64 = simhash_near_pairs(simhash(df), max_hamming=64, bands=4).count()
    c128 = simhash_near_pairs(sigs, max_hamming=128).count()
    assert c128 <= c64
    sigs.unpersist()


def test_simhash_unified_width_surface(spark):
    """One entry point: simhash(width=) picks the signature layout and
    simhash_near_pairs auto-detects it from the columns; both widths
    are lossless."""
    from hermes_spark.functions.dedup import simhash, simhash_near_pairs

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = []
    for i in range(40):
        base = " ".join(words[(i + j) % len(words)] for j in range(24))
        rows.append((i, base))
        rows.append((i + 10000, base + " tail"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    s64 = simhash(df, width=64)
    assert s64.columns == ["doc_id", "simhash"]
    s128 = simhash(df, width=128)
    assert s128.columns == ["doc_id", "sig_hi", "sig_lo"]
    # near_pairs dispatches on the columns: both widths are lossless at
    # the pigeonhole-guaranteed d ≤ 3 vs direct Hamming
    def direct_pairs(sig_rows, ham):
        out = set()
        ids = sorted(sig_rows)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                va, vb = sig_rows[a], sig_rows[b]
                d = sum(bin((p ^ q) & (2**64 - 1)).count("1")
                        for p, q in zip(va, vb))
                if d <= ham:
                    out.add((a, b))
        return out

    rows64 = {r.doc_id: (r.simhash,) for r in s64.collect()}
    got64 = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_pairs(s64, max_hamming=3).collect()
    }
    assert got64 == direct_pairs(rows64, 3) and got64

    rows128 = {r.doc_id: (r.sig_hi, r.sig_lo) for r in s128.collect()}
    got128 = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_pairs(s128, max_hamming=3).collect()
    }
    assert got128 == direct_pairs(rows128, 3) and got128

    with pytest.raises(ValueError, match="width"):
        simhash(df, width=32)


def test_simhash_token_doc_freq_prefilter(spark):
    """max_token_doc_freq drops boilerplate tokens before voting: the
    signatures equal those of the corpus with the hot tokens stripped,
    so near-constant documents stop converging to one signature."""
    from hermes_spark.functions.dedup import simhash

    boiler = " ".join(f"boiler{j}" for j in range(30))
    rows, stripped = [], []
    for i in range(12):
        distinct = " ".join(f"only{i}w{j}" for j in range(8))
        rows.append((i, f"{boiler} {distinct}"))
        stripped.append((i, distinct))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bare = spark.createDataFrame(stripped, "doc_id long, text string")

    # boiler tokens are in all 12 docs; distinctive tokens in exactly 1
    filtered = {
        r.doc_id: r.simhash
        for r in simhash(df, max_token_doc_freq=11).collect()
    }
    want = {r.doc_id: r.simhash for r in simhash(bare).collect()}
    assert filtered == want
    # without the prefilter the boilerplate swamps the votes: raw
    # signatures sit much closer together (the band-blowup condition);
    # stripping hot tokens pushes the population apart
    def avg_ham(vals):
        vals = list(vals)
        ds = [
            bin((a ^ b) & (2**64 - 1)).count("1")
            for i, a in enumerate(vals)
            for b in vals[i + 1:]
        ]
        return sum(ds) / len(ds)

    raw = [r.simhash for r in simhash(df).collect()]
    # measured on this corpus: raw ≈ 15.3 bits apart, filtered ≈ 28.8
    assert avg_ham(raw) < avg_ham(filtered.values()) * 0.6


def test_fingerprint_and_token_count_match_python(spark):
    """normalized_fingerprint is sha256 of the lowercased, space-trimmed
    text with whitespace runs collapsed to one space; token_count counts
    the whitespace-split tokens of the same normalization."""
    import hashlib
    import re

    from hermes_spark.functions.text import normalized_fingerprint, token_count

    texts = {
        1: "Hello   World",
        2: "  hello world  ",
        3: "tab\tand\nnewline runs",
        4: "MiXeD Case text, with punctuation!",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r.doc_id: (r.fp, r.n)
        for r in df.select(
            "doc_id",
            normalized_fingerprint("text").alias("fp"),
            token_count("text").alias("n"),
        ).collect()
    }
    want = {}
    for d, t in texts.items():
        norm = t.lower().strip(" ")
        want[d] = (
            hashlib.sha256(re.sub(r"\s+", " ", norm).encode()).hexdigest(),
            len(re.split(r"\s+", norm)),
        )
    assert got == want
    assert got[1][0] == got[2][0]  # same text up to case and spacing


def test_ngram_jaccard_pairs_match_python_model(spark):
    """Exact word-3-gram Jaccard with the doc-frequency guard against a
    plain-Python recomputation: the prefix-filtered candidate join
    loses no pair above the threshold and invents none."""
    from hermes_spark.functions.dedup import ngram_jaccard_pairs

    rows = []
    for i in range(10):
        base = " ".join(f"t{(i * 5 + j) % 60}" for j in range(10))
        rows.append((i, base))
        # a shared boilerplate tail: its 3-gram sits in all ten copies
        rows.append((i + 100, base + " boiler plate text"))
    rows.append((500, "too short"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def model(max_doc_freq, threshold):
        sh = {}
        for d, t in rows:
            toks = t.lower().split(" ")
            sh[d] = {" ".join(toks[k:k + 3]) for k in range(len(toks) - 2)}
        freq: dict[str, int] = {}
        for s in sh.values():
            for g in s:
                freq[g] = freq.get(g, 0) + 1
        sh = {d: {g for g in s if freq[g] <= max_doc_freq} for d, s in sh.items()}
        out = {}
        for a in sh:
            for b in sh:
                common = len(sh[a] & sh[b])
                if a < b and common:
                    j = common / (len(sh[a]) + len(sh[b]) - common)
                    if j >= threshold:
                        out[(a, b)] = j
        return out

    for max_doc_freq, threshold in ((5, 0.8), (64, 0.2)):
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(
                df, threshold=threshold, max_doc_freq=max_doc_freq
            ).collect()
        }
        want = model(max_doc_freq, threshold)
        assert got == want and want, (max_doc_freq, threshold)
