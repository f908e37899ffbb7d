"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant (random hyperplanes, deterministic seed) is the scale path —
candidates only within matching hyperplane-sign buckets, the standard
trade of recall for a shuffle keyed on bucket id instead of a cross
join.  Dot products run JVM-side via zip_with/aggregate (no Python in
the hot loop); at real scale the query side is broadcast.
"""

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


# Near-tie width of the two-phase top-k preselect.  The batch matmul
# sums in a different order than the JVM fold (and BLAS scores even
# IDENTICAL rows a few ulps apart, ~1e-15 at dim 64), so every score
# within this width of the cut is kept: a true top-k row is then never
# cut, however many near-duplicates tie with it.
_TIE_TOL = 1e-9


def _preselect(sims: np.ndarray, m: int):
    """(row, column) indices of each column's top-``m`` scores, widened
    to every score within ``_TIE_TOL`` of the m-th largest; masked
    (-inf) pairs are never selected."""
    thr = np.partition(sims, -m, axis=0)[-m]
    return np.nonzero((sims >= thr - _TIE_TOL) & (sims > -np.inf))


def _preselect_cut(stage1: DataFrame, query_id_col: str, m: int) -> DataFrame:
    """The global cut over the batch-local candidates: per query, every
    candidate within ``_TIE_TOL`` of the m-th best ``approx``."""
    w = (
        Window.partitionBy(query_id_col)
        .orderBy(F.col("approx").desc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    thr = F.nth_value("approx", m).over(w)
    return (
        stage1.withColumn("_thr", thr)
        .where(
            F.col("_thr").isNull()
            | (F.col("approx") >= F.col("_thr") - _TIE_TOL)
        )
        .select(query_id_col, "neighbor_id")
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    preselect: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query among all vectors
    (self-matches excluded).

    Two-phase exact plan (optimization guide §4.2: hand bulk numeric
    work to vectorized native code, keep the decision arithmetic in the
    engine).  The naive plan scored every (query, vector) pair with the
    zip_with/aggregate fold — |V|·|Q| interpreted 64-step folds, which
    at 20k vectors × 400 queries was ~100 s of pure expression
    evaluation.  Phase 1 preselects ``preselect`` (default k+20)
    candidates per query with ONE numpy matmul per Arrow batch: each
    task scores its whole batch against the broadcast query matrix and
    emits only its batch-local top-``preselect`` per query.  Phase 2
    recomputes the cosine of the few surviving candidates with the SAME
    JVM fold expressions the naive plan used and ranks with the same
    (cosine DESC, neighbor_id ASC) window — so the output is identical
    to the naive plan.  The matmul's summation order differs from the
    fold only in last-ulp rounding, so at most k-1 rows can score more
    than ``_TIE_TOL`` above a true top-k row; both cuts keep every row
    within ``_TIE_TOL`` of the k+20-th score, which therefore keeps
    the true top-k even when more than 20 near-duplicates tie.

    NaN cosines (zero-norm vectors) are mapped to +inf in phase 1 so
    they are always preselected; phase 2 then reproduces the naive
    plan's NaN-first-descending Spark ordering exactly.

    The query side is collected to the driver and broadcast — the same
    every-executor-holds-all-queries contract as the naive plan's
    ``F.broadcast(q)``, bounded by |Q| (brute force is inherently
    O(|V|·|Q|); this is the correctness-baseline operator, not the
    scale path — see ``lsh_topk``/``ivf_topk``)."""
    import pandas as pd
    from pyspark.sql import types as T

    m_sel = max(k, preselect if preselect is not None else k + 20)
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("q"),
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    qrows = q.collect()
    qid_arr = np.asarray([r[0] for r in qrows])
    qmat = (
        np.vstack([np.asarray(r[1], dtype=np.float64) for r in qrows])
        if qrows
        else np.zeros((0, 1))
    )
    qnorm = np.linalg.norm(qmat, axis=1)
    sc = vectors.sparkSession.sparkContext
    bq = sc.broadcast((qid_arr, qmat, qnorm))

    out_schema = T.StructType(
        [
            T.StructField(query_id_col, q.schema[query_id_col].dataType),
            T.StructField("neighbor_id", v.schema["neighbor_id"].dataType),
            T.StructField("approx", T.DoubleType()),
        ]
    )

    def select_candidates(batches):
        qids, qm, qn = bq.value
        nq = len(qids)
        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
            vn = np.linalg.norm(mat, axis=1)
            vid = pdf["neighbor_id"].to_numpy()
            # chunk the query axis so the sims matrix stays bounded
            for s in range(0, nq, 512):
                e = min(s + 512, nq)
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = (mat @ qm[s:e].T) / np.outer(vn, qn[s:e])
                sims[np.isnan(sims)] = np.inf  # Spark sorts NaN first on DESC
                sims[vid[:, None] == qids[None, s:e]] = -np.inf  # self-match
                r, c = _preselect(sims, min(m_sel, n))
                yield pd.DataFrame(
                    {
                        query_id_col: qids[s:e][c],
                        "neighbor_id": vid[r],
                        "approx": sims[r, c],
                    }
                )

    nparts = sc.defaultParallelism
    v1 = v.repartition(nparts) if v.rdd.getNumPartitions() < nparts else v
    cands = _preselect_cut(
        v1.mapInPandas(select_candidates, out_schema), query_id_col, m_sel
    )
    # phase 2: exact re-score of the candidates with the SAME fold
    # expressions and window ordering the naive plan used
    scored = (
        v.join(F.broadcast(cands), "neighbor_id")
        .join(F.broadcast(q), query_id_col)
        .withColumn(
            "cosine",
            _dot(F.col("q"), F.col("v")) / (_norm(F.col("q")) * _norm(F.col("v"))),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "cosine")
    )


def hyperplane_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    out: str = "bucket",
) -> DataFrame:
    """Sign-of-dot-product LSH bucket id (deterministic planes).

    Computed as one Arrow-vectorized pandas UDF doing a single numpy
    matmul per batch — unrolling n_planes × dim as Column expressions
    is correct but explodes codegen compile time."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes))
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    import pandas as pd
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def bucket_of(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())          # (batch, dim)
        bits = (m.astype(np.float64) @ planes) > 0
        return pd.Series(bits @ weights)

    return df.withColumn(out, bucket_of(F.col(vec_col)))


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's bucket.
    Recall < 1 by construction; multi-probe (flipping one bit) keeps it
    high while the join stays keyed on bucket — linear scale path."""
    # norms computed ONCE per vector/query before the join (identical
    # expression → identical doubles; the naive form re-evaluated both
    # 64-step norm folds per candidate PAIR), and duplicate candidates
    # from overlapping probes are dropped BEFORE the scoring fold runs
    # input-split parallelism guard (guide §6, same as brute_force's
    # stage-1 spread): a single-row-group embeddings file scans as ONE
    # task, and without this the bucket UDF + probe join + scoring fold
    # all run serially on it (measured: the whole operator on 1 task)
    from hermes_spark.functions.dedup import _spread

    v = hyperplane_buckets(_spread(vectors), dim, n_planes, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        "bucket",
    ).withColumn("_nv", _norm(F.col("v")))
    q0 = hyperplane_buckets(queries, dim, n_planes, vec_col=vec_col)
    # multi-probe: own bucket + all 1-bit flips
    probes = F.array(
        F.col("bucket"),
        *[F.expr(f"bucket ^ {1 << p}").cast("long") for p in range(n_planes)],
    )
    q = q0.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("q"),
        _norm(F.col(vec_col).cast("array<double>")).alias("_nq"),
        F.explode(probes).alias("bucket"),
    )
    # No dedup needed: every vector carries exactly ONE bucket value and
    # a query's probe values (bucket, bucket^2^0 … bucket^2^{p-1}) are
    # pairwise distinct, so each (query, neighbor) pair can match at
    # most one probe — the defensive dropDuplicates the naive form ran
    # was a no-op that shuffled the full embedding arrays
    scored = (
        v.join(F.broadcast(q), ["bucket"])
        .where(F.col("neighbor_id") != F.col(query_id_col))
        .withColumn(
            "cosine",
            _dot(F.col("q"), F.col("v")) / (F.col("_nq") * F.col("_nv")),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "cosine")
    )


def _kmeans_centroids(
    sample: np.ndarray, k: int, iters: int = 8, seed: int = 42
) -> np.ndarray:
    """Tiny deterministic Lloyd's k-means on a driver-side sample — the
    coarse quantizer training step of IVF (sample fits easily in driver
    memory; at cluster scale this is the standard 'train on a sample'
    pattern)."""
    rng = np.random.default_rng(seed)
    cents = sample[rng.choice(len(sample), size=k, replace=False)].astype(np.float64)
    for _ in range(iters):
        d = sample @ cents.T
        norms = np.linalg.norm(sample, axis=1, keepdims=True) * np.linalg.norm(
            cents.T, axis=0, keepdims=True
        )
        assign = np.argmax(d / np.maximum(norms, 1e-12), axis=1)
        for c in range(k):
            m = assign == c
            if m.any():
                cents[c] = sample[m].mean(axis=0)
    return cents


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer → assign every
    vector to its nearest centroid list → probe the query's ``n_probe``
    closest lists only.  Unlike hyperplane LSH, the quantizer adapts to
    the data's actual geometry, so recall holds even on near-isotropic
    embeddings; candidates scanned ≈ n_probe/n_lists of the corpus.
    Assignment is one numpy matmul per Arrow batch; the probe
    restriction is applied as a mask inside the same matmul."""
    from pyspark.sql import types as T

    sample = np.vstack(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in vectors.select(vec_col).limit(train_sample).collect()
        ]
    )
    cents = _kmeans_centroids(sample, n_lists, seed=seed)
    cents_n = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    # Two-phase exact-within-candidates plan (same pattern and near-tie
    # argument as brute_force_topk, guide §4.2): the old shape
    # scored every (probed-list vector × query) candidate with the
    # interpreted 64-step fold — millions of folds once lists are
    # dense.  Phase 1 scores each Arrow batch against the broadcast
    # query matrix with ONE numpy matmul, masks pairs whose vector's
    # list the query does not probe to -inf (list assignment and probe
    # selection use the numerically identical float64 formulas the old
    # per-row UDFs used, so the candidate SET is identical), and emits
    # the batch-local top-m (plus near-ties) per query.  Phase 2
    # re-scores survivors with the SAME fold expressions and (cosine
    # DESC, neighbor_id ASC) window the old plan used — identical
    # output rows and doubles (pinned row-exact by test_round7_opts).
    from hermes_spark.functions.dedup import _spread

    m_sel = k + 20
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("q")
    )
    v = _spread(vectors).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    qrows = q.collect()
    qid_arr = np.asarray([r[0] for r in qrows])
    qmat = (
        np.vstack([np.asarray(r[1], dtype=np.float64) for r in qrows])
        if qrows
        else np.zeros((0, dim))
    )
    qnorm = np.linalg.norm(qmat, axis=1)
    qn_unit = qmat / np.maximum(
        np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12
    )
    # per-query probed lists — same argsort-prefix formula as the old
    # probe_lists UDF; boolean (nq, n_lists) membership mask
    probe_mask = np.zeros((len(qid_arr), n_lists), dtype=bool)
    if len(qid_arr):
        top = np.argsort(-(qn_unit @ cents_n.T), axis=1)[:, :n_probe]
        probe_mask[np.arange(len(qid_arr))[:, None], top] = True
    sc = vectors.sparkSession.sparkContext
    bq = sc.broadcast((qid_arr, qmat, qnorm, probe_mask))

    out_schema = T.StructType(
        [
            T.StructField(query_id_col, q.schema[query_id_col].dataType),
            T.StructField("neighbor_id", v.schema["neighbor_id"].dataType),
            T.StructField("approx", T.DoubleType()),
        ]
    )

    def select_candidates(batches):
        qids, qm, qn, pmask = bq.value
        nq = len(qids)
        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
            vn = np.linalg.norm(mat, axis=1)
            vid = pdf["neighbor_id"].to_numpy()
            # list assignment, identical math to the old assign_list UDF
            mn = mat / np.maximum(vn[:, None], 1e-12)
            al = np.argmax(mn @ cents_n.T, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (mat @ qm.T) / np.outer(vn, qn)
            sims[np.isnan(sims)] = np.inf    # Spark sorts NaN first on DESC
            sims[~pmask[:, al].T] = -np.inf  # non-probed (query, list) pairs
            sims[vid[:, None] == qids[None, :]] = -np.inf  # self-match
            r, c = _preselect(sims, min(m_sel, n))
            import pandas as _pd

            yield _pd.DataFrame(
                {
                    query_id_col: qids[c],
                    "neighbor_id": vid[r],
                    "approx": sims[r, c],
                }
            )

    cands = _preselect_cut(
        v.mapInPandas(select_candidates, out_schema), query_id_col, m_sel
    )
    qn_df = q.withColumn("_nq", _norm(F.col("q")))
    vn_df = v.withColumn("_nv", _norm(F.col("v")))
    scored = (
        vn_df.join(F.broadcast(cands), "neighbor_id")
        .join(F.broadcast(qn_df), query_id_col)
        .withColumn(
            "cosine",
            _dot(F.col("q"), F.col("v")) / (F.col("_nq") * F.col("_nv")),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "cosine")
    )


def auto_n_planes(n_vectors: int, target_bucket_occupancy: float = 2.0) -> int:
    """The sizing formula the round-4 candidate telemetry grounds:
    per-bucket candidate volume is ~occupancy²/2 per bucket with
    occupancy = n/2^planes, so holding occupancy constant keeps total
    candidates LINEAR in n — planes = ⌈log₂(n / occupancy)⌉, clamped
    to [4, 62] (bucket ids are a signed 64-bit word)."""
    import math

    if n_vectors <= 1:
        return 4
    return max(4, min(62, math.ceil(math.log2(n_vectors / target_bucket_occupancy))))


def cosine_neardup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.99,
    n_planes: int | None = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket_occupancy: float = 2.0,
) -> DataFrame:
    """Embedding-cosine near-dup pairs — the embedding member of the
    dedup family: hyperplane-LSH buckets generate candidates (own
    bucket + 1-bit multi-probe on one side), exact cosine ≥ threshold
    verifies.  Zero false positives by construction (the verify stage
    computes the true cosine); recall follows the sign-agreement bound
    (P(plane splits a pair) = θ/π, tiny at near-dup angles, and the
    1-bit probes cover single-plane disagreements).  The join is keyed
    on bucket id — candidate volume ~n²/2^planes per bucket, linear
    scale path, no cross join anywhere.

    Scale sizing (measured, BENCH_r04 candidate telemetry): candidates
    grew 13.9× at 4× vectors with n_planes=12, i.e. ∝ n² as the
    formula predicts — hold per-bucket density constant by growing
    n_planes with log₂(n): 12 planes ↔ ~4k vectors, ~30 planes ↔ 10⁹
    (recall per pair decays only linearly in planes via the θ/π bound,
    recovered by the 1-bit probes).  Pass ``n_planes=None`` to apply
    that formula automatically (``auto_n_planes``; costs one count()
    of the input — a batch operator's driver action, not per-row)."""
    if n_planes is None:
        n_planes = auto_n_planes(df.count(), target_bucket_occupancy)
    # same input-split parallelism guard as lsh_topk (guide §6)
    from hermes_spark.functions.dedup import _spread

    b = hyperplane_buckets(
        _spread(df).select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        ),
        dim, n_planes, seed=seed, vec_col="_v",
    )
    probes = F.array(
        F.col("bucket"),
        *[F.expr(f"bucket ^ {1 << p}").cast("long") for p in range(n_planes)],
    )
    # per-row norm computed once before the self-join (identical
    # expression → identical doubles; previously re-folded per pair)
    b = b.withColumn("_n", _norm(F.col("_v")))
    l = b.select(
        F.col(id_col).alias("vec_a"), F.col("_v").alias("va"),
        F.col("_n").alias("_na"),
        F.explode(probes).alias("bucket"),
    )
    r = b.select(
        F.col(id_col).alias("vec_b"), F.col("_v").alias("vb"),
        F.col("_n").alias("_nb"), "bucket",
    )
    # No dedup needed: the right side carries each vector's single
    # bucket value and the left side's probe values are pairwise
    # distinct, so an ordered pair (vec_a < vec_b) matches at most one
    # probe — the defensive dropDuplicates was a no-op that shuffled
    # both embedding arrays per candidate
    cands = l.join(r, "bucket").where(F.col("vec_a") < F.col("vec_b"))
    return (
        cands.withColumn(
            "cosine",
            _dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")),
        )
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


# -- embedding quantization -------------------------------------------------

def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale =
    max(|v|)/127``, ``q_i = floor(v_i/scale + 0.5)`` — 4× smaller
    embedding storage with ≤ scale/2 absolute error per component,
    the standard serving/storage trade at 10⁹-vector scale.

    The rounding is written as ``floor(x + 0.5)`` (not ``round``)
    because that formula is bit-deterministic and identical across
    engines — Spark and DuckDB disagree on round-half behavior, and a
    quantizer whose output depends on the engine is not a storage
    format.  All-zero vectors quantize to zeros with scale 0.  Adds
    ``scale`` (double) and ``out_col`` (array<int>); pure Column
    expressions, narrow plan."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = (
        F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    )
    q = F.when(
        scale == 0.0,
        F.transform(v, lambda x: F.lit(0).cast("byte")),
    ).otherwise(
        F.transform(
            v,
            # values provably in [-127, 127] — byte (int8) is the
            # point: array<byte> is what delivers the 4x storage claim
            lambda x: F.floor(x / scale + F.lit(0.5)).cast("byte"),
        )
    )
    return df.withColumn("scale", scale).withColumn(out_col, q)


def dequantize_embeddings(
    df: DataFrame, q_col: str = "q", scale_col: str = "scale",
    out_col: str = "embedding_deq",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings` (up to ≤ scale/2 per
    component): ``v_i ≈ q_i × scale`` as array<double>."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col),
            lambda x: x.cast("double") * F.col(scale_col),
        ),
    )
