"""Curation operators: PII scrubbing, deterministic hash sampling,
decontamination, repetition statistics, chunking and packing."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from hermes_spark.functions.curation import (
    chunk_documents,
    hash_sample,
    pii_scrub,
    sample_threshold,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_pii_scrub_categories_and_order(spark):
    df = _docs(
        spark,
        [
            (1, "mail a.b+c@x-corp.io now"),
            (2, "ssn 123-45-6789 and card 4111 1111 1111 1111"),
            (3, "call +1 555-123-4567 or 555.123.4567"),
            (4, "host 10.0.0.1 peer 192.168.1.254"),
            (5, "clean text with numbers 12345"),
            (6, None),
        ],
    )
    out = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert out[1].text == "mail <EMAIL> now" and out[1].n_email == 1
    assert out[2].text == "ssn <SSN> and card <CREDIT_CARD>"
    assert (out[2].n_ssn, out[2].n_credit_card, out[2].n_phone) == (1, 1, 0)
    # a credit card never double-counts as a phone; both phone shapes hit
    assert out[3].n_phone == 2 and "<PHONE>" in out[3].text
    assert out[4].n_ipv4 == 2 and out[4].text == "host <IPV4> peer <IPV4>"
    assert out[5].text == "clean text with numbers 12345"
    assert sum([out[5].n_email, out[5].n_ssn, out[5].n_phone, out[5].n_ipv4]) == 0
    assert out[6].text is None and out[6].n_email == 0  # NULL-safe counts


def test_pii_scrub_email_digits_not_phone(spark):
    """Progressive scrubbing: once the email is redacted, its digit run
    cannot also count/redact as a phone number."""
    df = _docs(spark, [(1, "x 555-123-4567@corp.example y")])
    r = pii_scrub(df).collect()[0]
    assert r.n_email == 1 and r.n_phone == 0
    assert r.text == "x <EMAIL> y"


def test_hash_sample_deterministic_superset_independent(spark):
    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    a1 = {r.doc_id for r in hash_sample(df, ["doc_id"], 0.3, salt="s").collect()}
    a2 = {r.doc_id for r in hash_sample(df, ["doc_id"], 0.3, salt="s").collect()}
    assert a1 == a2  # reproducible
    # matches a driver-side sha256 model exactly (content-addressed,
    # engine-independent)
    thr = sample_threshold(0.3)
    model = {
        i
        for i in range(2000)
        if hashlib.sha256(f"s|{i}".encode()).hexdigest()[:8] < thr
    }
    assert a1 == model
    # rate lands near the target
    assert 0.25 < len(a1) / 2000 < 0.35
    # same salt, larger fraction → strict superset
    b = {r.doc_id for r in hash_sample(df, ["doc_id"], 0.6, salt="s").collect()}
    assert a1 < b
    # different salt → an independent draw, not the same head
    c = {r.doc_id for r in hash_sample(df, ["doc_id"], 0.3, salt="t").collect()}
    assert 0 < len(a1 & c) < len(a1)
    # repartitioning cannot change membership (pure content filter)
    d = {
        r.doc_id
        for r in hash_sample(df.repartition(7), ["doc_id"], 0.3, salt="s").collect()
    }
    assert d == a1


def test_hash_sample_fraction_bounds():
    with pytest.raises(ValueError):
        sample_threshold(1.5)
    assert sample_threshold(0.0) == "00000000"


def test_chunk_documents_windows(spark):
    text = " ".join(f"t{i}" for i in range(10))
    df = _docs(spark, [(1, text), (2, "a b"), (3, ""), (4, None)])
    out = chunk_documents(df, ["doc_id"], size=4, overlap=1)
    chunks = {}
    for r in out.collect():
        chunks.setdefault(r.doc_id, {})[r.chunk_idx] = r.chunk_text
    # stride 3: windows [0:4) [3:7) [6:10) — every token covered,
    # 1-token overlap between neighbours
    assert chunks[1] == {
        0: "t0 t1 t2 t3",
        1: "t3 t4 t5 t6",
        2: "t6 t7 t8 t9",
    }
    assert chunks[2] == {0: "a b"}  # short doc → one short chunk
    assert 3 not in chunks and 4 not in chunks  # empty/NULL → no chunks
    with pytest.raises(ValueError):
        chunk_documents(df, ["doc_id"], size=4, overlap=4)


def test_chunk_documents_full_coverage_property(spark):
    """Every token appears in ≥1 chunk and consecutive chunks overlap
    by exactly `overlap` tokens (except possibly the last)."""
    n_tokens = 157
    text = " ".join(str(i) for i in range(n_tokens))
    df = _docs(spark, [(1, text)])
    rows = sorted(
        chunk_documents(df, ["doc_id"], size=32, overlap=8).collect(),
        key=lambda r: r.chunk_idx,
    )
    seen = []
    for r in rows:
        toks = r.chunk_text.split(" ")
        assert len(toks) <= 32
        seen.extend(int(t) for t in toks)
    assert set(seen) == set(range(n_tokens))
    for a, b in zip(rows, rows[1:]):
        at, bt = a.chunk_text.split(" "), b.chunk_text.split(" ")
        assert at[-8:] == bt[:8] or len(at) < 32


# -- decontamination --------------------------------------------------------

def test_decontamination_report_and_drop(spark):
    from hermes_spark.functions.curation import (
        decontamination_report,
        drop_contaminated,
    )

    ev = _docs(spark, [(100, "the quick brown fox jumps high")])
    tr = _docs(
        spark,
        [
            # full copy of the eval doc: overlap_frac must be 1.0
            (1, "the quick brown fox jumps high"),
            # shares exactly one 3-gram ("quick brown fox")
            (2, "a quick brown fox sat"),
            # no shared 3-gram
            (3, "completely different words here entirely"),
            # case-insensitivity: shingles are lowercased
            (4, "THE QUICK BROWN fox unrelated tail words"),
        ],
    )
    rep = {
        r.doc_id: r
        for r in decontamination_report(tr, ev, n=3).collect()
    }
    assert set(rep) == {1, 2, 4}
    # eval doc has 4 distinct 3-grams
    assert rep[1].eval_sz == 4 and rep[1].n_overlap == 4
    assert rep[1].overlap_frac == 1.0
    assert rep[2].n_overlap == 1 and rep[2].overlap_frac == 0.25
    assert rep[4].n_overlap == 2  # "the quick brown", "quick brown fox"

    # threshold filters the report
    strict = decontamination_report(tr, ev, n=3, min_overlap_frac=0.5).collect()
    assert {r.doc_id for r in strict} == {1, 4}

    survivors = drop_contaminated(
        tr, decontamination_report(tr, ev, n=3, min_overlap_frac=0.5)
    )
    assert {r.doc_id for r in survivors.collect()} == {2, 3}


def test_decontamination_broadcasts_eval_side(spark):
    """The 100 TB property: the eval-shingle side of the probe join is
    broadcast, so the corpus never shuffles for candidate generation."""
    from hermes_spark.functions.curation import decontamination_report

    ev = _docs(spark, [(100, "one two three four")])
    tr = _docs(spark, [(1, "one two three five")])
    plan = decontamination_report(tr, ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# -- repetition stats -------------------------------------------------------

def test_repetition_stats_known_fractions(spark):
    from hermes_spark.functions.curation import repetition_stats

    df = _docs(
        spark,
        [
            # 4 lines, "dup" twice: dup_line_frac = 2/4;
            # chars: dup=3*2=6 of 3+3+5+4=15
            (1, "dup\ndup\nalpha\nbeta"),
            (2, "no\nrepeats\nat all"),
            # one line only
            (3, "single line of text"),
            # token repetition: 'x' 3 of 5 tokens
            (4, "x x x y z"),
        ],
    )
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert out[1].n_lines == 4 and out[1].dup_line_frac == 0.5
    assert out[1].dup_line_char_frac == 6 / 15
    assert out[2].dup_line_frac == 0.0 and out[2].dup_line_char_frac == 0.0
    assert out[3].n_lines == 1 and out[3].dup_line_frac == 0.0
    assert out[4].n_tokens == 5 and out[4].top_token_frac == 3 / 5


def test_repetition_stats_empty_and_whitespace(spark):
    from hermes_spark.functions.curation import repetition_stats

    df = _docs(spark, [(1, ""), (2, "   ")])
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    # empty text is one empty line, zero tokens, NULL top_token_frac
    assert out[1].n_lines == 1 and out[1].n_tokens == 0
    assert out[1].top_token_frac is None
    assert out[1].dup_line_char_frac == 0.0
    assert out[2].n_tokens == 0


# -- sequence packing -------------------------------------------------------

def test_pack_sequences_semantics(spark):
    from hermes_spark.functions.curation import pack_sequences

    rows = [
        # one shard (ids ≡ 0 mod 4): lengths 3,3,3 with capacity 6
        (0, 0, "a b c"),
        (4, 0, "d e f"),
        (8, 0, "g h i"),
        # another shard: a row longer than capacity gets its own pack
        (1, 0, "x " * 8),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, chunk_idx int, chunk_text string"
    )
    out = {
        (r.doc_id, r.chunk_idx): r
        for r in pack_sequences(
            df, ["doc_id", "chunk_idx"], capacity=6, n_shards=4
        ).collect()
    }
    # starts 0,3 fit pack 0; start 6 opens pack 1
    assert out[(0, 0)].pack_id == 0 and out[(0, 0)].pack_pos == 0
    assert out[(4, 0)].pack_id == 0 and out[(4, 0)].pack_pos == 1
    assert out[(8, 0)].pack_id == 1 and out[(8, 0)].pack_pos == 0
    # oversized row: whole, alone, in its shard's pack 0
    assert out[(1, 0)].pack_id == 0 and out[(1, 0)].n_tokens == 8
    # shards are disjoint
    assert out[(0, 0)].shard != out[(1, 0)].shard


def test_pack_sequences_every_row_packed_once(spark):
    from hermes_spark.functions.curation import chunk_documents, pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(30))) for i in range(40)],
        "doc_id long, text string",
    )
    chunks = chunk_documents(docs, ["doc_id"], size=8, overlap=2)
    packed = pack_sequences(chunks, ["doc_id", "chunk_idx"], capacity=16)
    assert packed.count() == chunks.count()
    # (shard, pack_id, pack_pos) is a unique placement
    assert (
        packed.select("shard", "pack_id", "pack_pos").distinct().count()
        == chunks.count()
    )
    # pack totals: every pack reaches capacity before the next opens —
    # total >= capacity for all but the last pack per shard
    import pyspark.sql.functions as F

    agg = packed.groupBy("shard", "pack_id").agg(
        F.sum("n_tokens").alias("tot"), F.max("pack_id").alias("_")
    )
    last = packed.groupBy("shard").agg(F.max("pack_id").alias("last_pack"))
    nonlast = agg.join(last, "shard").where(F.col("pack_id") < F.col("last_pack"))
    assert nonlast.where(F.col("tot") < 16).count() == 0


def test_pack_sequences_rejects_bad_args(spark):
    from hermes_spark.functions.curation import pack_sequences

    df = spark.createDataFrame([(1, "a")], "doc_id long, chunk_text string")
    with pytest.raises(ValueError):
        pack_sequences(df, [], capacity=8)
    with pytest.raises(ValueError):
        pack_sequences(df, ["doc_id"], capacity=0)
