"""Int8 embedding quantization — the storage/bandwidth compressor a
100 TB embedding store runs before anything else touches the vectors.

Scheme: symmetric per-vector linear quantization (the standard int8
recipe in public vector-database and inference literature):

    scale = max_i |v_i| / 127
    q_i   = clamp(round(v_i / scale), -127, 127)    (int8)
    v'_i  = q_i * scale                              (dequantize)

4x smaller than float32 (plus a double scale per vector), with worst-
case per-element error scale/2. Per-VECTOR scaling (not per-corpus)
makes the error relative to each vector's own magnitude and needs no
global pass — each row quantizes independently inside the scan stage.

NULL/degenerate contract (round-9/10 reviews): a vector that is NULL,
EMPTY, or contains a NULL/NaN/Inf element quantizes to NULL (qvec and scale
both NULL; report stats NULL) — quantizing around a missing element
would silently write a full-scale code for it (greatest/least skip
NULLs: clamp(round(NULL)) evaluates to 127 — verified, exactly the
corruption this guard exists to stop). A non-empty ALL-ZERO vector is
well-defined: scale 0, all-zero codes, zero error.

Spark-first shape: everything is built-in higher-order functions over
``array<double>`` — one fold for the max-abs, one ``transform`` for
the codes — no UDF, no shuffle, no driver round-trip. The computed
``__scale`` alias is MULTI-use (codes transform + output column), so
CollapseProject does not inline the max-abs fold into the per-element
lambda (the r7 single-use-alias trap; see SCALE.md HOF audit).

Engine parity: round() is half-away-from-zero in both Spark
(HALF_UP) and DuckDB, divisions and the fold are IEEE double ops in
deterministic order, so the q187/q188 oracles reproduce the codes
exactly (including the NULL/empty guards).

Complements the PQ family (operators/pq.py): PQ is the ANN-probe
compressor (codebook lookups, lossy by design); int8 is the
keep-the-vectors compressor (4x, ~0.4% worst-case error) that still
supports exact-ish rescoring.

No reference-repo counterpart — part of the beyond-reference
large-scale pipeline surface (SURVEY §2.11 family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _quantizable(v: Column) -> Column:
    """True iff ``v`` is non-NULL, non-empty, and every element is a
    finite non-NULL double — the only rows the int8 scheme is defined
    on (module docstring). Non-finite elements are as corrupting as
    NULLs (round-10 review): a NaN element makes scale NaN and forces
    EVERY code to the clamp bound 127 (greatest/least skip NaN the way
    clamp(round(NULL)) resolves to the bound), an Inf element makes
    scale Inf and every finite code 0 — so NaN/Inf vectors quantize to
    NULL like the other degenerate cases instead of writing full-scale
    garbage codes."""
    return (
        v.isNotNull()
        & (F.size(v) > 0)
        & ~F.exists(
            v,
            lambda x: x.isNull()
            | F.isnan(x)
            | (F.abs(x) == F.lit(float("inf"))),
        )
    )


def _scale_expr(v: Column) -> Column:
    """``max_i |v_i| / 127`` (NULL when not quantizable) — ONE shared
    builder so the quantizer, the fidelity report, and their oracles
    cannot drift apart (round-9 review: the expression lived in two
    hand-written copies)."""
    max_abs = F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    return F.when(_quantizable(v), max_abs / F.lit(127.0))


def _code_expr(x: Column, scale: Column) -> Column:
    """clamp(round(x / scale), -127, 127) as double (exact integers)."""
    return F.greatest(
        F.lit(-127.0), F.least(F.lit(127.0), F.round(x / scale, 0))
    )


def _qvec_expr(v_col: str, scale_col: str) -> Column:
    """The tinyint code array for a staged (vector, scale) pair —
    shared by the flat quantizer and the IVF composite so the code
    derivation cannot drift between them."""
    return F.when(
        F.col(scale_col) == 0.0,
        F.transform(v_col, lambda x: F.lit(0).cast("tinyint")),
    ).otherwise(
        # NULL scale (un-quantizable row) propagates: round(x/NULL)
        # is NULL and the when-chain yields NULL for the whole array
        F.when(
            F.col(scale_col).isNotNull(),
            F.transform(
                v_col, lambda x: _code_expr(x, F.col(scale_col)).cast("tinyint")
            ),
        )
    )


def _quantize_staged(
    df: DataFrame,
    id_col: str,
    embedding_col: str,
    *,
    out_id: str,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """ONE copy of the staging pipeline (cast -> scale fold -> code
    transform) shared by the flat quantizer and the IVF composite, so
    the two cannot drift. Returns ``(out_id, *keep, qvec, scale)``."""
    v = F.col(embedding_col).cast("array<double>")
    staged = df.select(
        F.col(id_col).alias(out_id), *keep, v.alias("__v")
    )
    staged = staged.withColumn("__scale", _scale_expr(F.col("__v")))
    return staged.select(
        out_id,
        *keep,
        _qvec_expr("__v", "__scale").alias("qvec"),
        F.col("__scale").alias("scale"),
    )


def quantize_embeddings_int8(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """(id, qvec array<tinyint>, scale double) — one row per input
    vector. A non-empty all-zero vector gets scale 0 and all-zero
    codes; a NULL/empty/NULL-element vector yields NULL qvec and scale
    (see module docstring). Dequantize with ``dequantize_int8``."""
    return _quantize_staged(df, id_col, embedding_col, out_id=id_col)


def dequantize_int8(df: DataFrame, *, qvec_col: str = "qvec", scale_col: str = "scale"):
    """array<double> reconstruction ``q_i * scale`` as a Column."""
    return F.transform(
        F.col(qvec_col), lambda q: q.cast("double") * F.col(scale_col)
    )


def quantization_error_report(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """Quantize + reconstruct in one pass and report per-vector
    fidelity: (id, scale, max_abs_err, mse) — the acceptance gate a
    pipeline runs before switching its store to int8. Un-quantizable
    rows (NULL/empty/NULL-element) report NULL across all three stats
    — never a fake zero that would green-light corruption.
    max_abs_err is bounded by scale/2 + float noise (asserted in
    tests); everything is rounded for cross-engine hash stability
    (the q92 float-sum contract).

    One lineage, one scan, zero shuffles: the codes are re-derived
    inline through the SAME `_code_expr` builder the quantizer uses
    (integer codes round-trip tinyint exactly, so inline-double and
    stored-tinyint reconstructions are identical) instead of joining
    the quantized frame back on id."""
    v = F.col(embedding_col).cast("array<double>")
    staged = df.select(F.col(id_col), v.alias("__v"))
    staged = staged.withColumn("scale", _scale_expr(F.col("__v")))
    err = F.when(
        F.col("scale") == 0.0, F.transform("__v", lambda x: F.abs(x))
    ).otherwise(
        F.when(
            F.col("scale").isNotNull(),
            F.transform(
                "__v",
                lambda x: F.abs(x - _code_expr(x, F.col("scale")) * F.col("scale")),
            ),
        )
    )
    # __err is a multi-use alias (max fold + mse fold) -> not inlined
    staged = staged.withColumn("__err", err)
    mx = F.aggregate("__err", F.lit(0.0), lambda a, e: F.greatest(a, e))
    sse = F.aggregate("__err", F.lit(0.0), lambda a, e: a + e * e)
    return staged.select(
        F.col(id_col),
        F.round(F.col("scale"), 8).alias("scale"),
        F.round(F.when(F.col("__err").isNotNull(), mx), 8).alias("max_abs_err"),
        F.round(F.try_divide(sse, F.size("__err")), 12).alias("mse"),
    )


# ---------------------------------------------------------------------------
# Persisted quantized store — the build-once/probe-many contract the other
# dedup/ANN families already have (neardup.minhash_write, pq.pq_write,
# similarity.ivf_write): a 100 TB embedding corpus is quantized ONCE and every
# probe reads only the compact (id, qvec, scale) table — 4x less IO than the
# float corpus and no per-query re-quantization (the round-9 q188 shape, which
# re-derived the codes from the float table on every probe, inverted exactly
# this story). Same store discipline the reference applies to its derived
# artifacts (docker-compose.prod.yml:89-96 — persist, don't recompute).
# ---------------------------------------------------------------------------


def quantize_write(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> None:
    """Persist the int8 store as a build-once artifact: columns
    ``(id, qvec array<tinyint>, scale double)`` — one row per input
    vector, NULL qvec/scale for degenerate inputs (module docstring),
    so a gated pipeline can count them in the store itself."""
    quantize_embeddings_int8(df, id_col=id_col, embedding_col=embedding_col).select(
        F.col(id_col).alias("id"), "qvec", "scale"
    ).write.mode("overwrite").parquet(path)


def quantize_load(spark, path: str) -> DataFrame:
    """Load an int8 store persisted by ``quantize_write`` (columns: id,
    qvec, scale)."""
    return spark.read.parquet(path)


def _check_probe_args(
    query_vec: list[float], k: int, shortlist: int | None, *, require_nonzero: bool
) -> None:
    """Shared probe validation. A degenerate query (empty / NaN / Inf —
    and for cosine, all-zero) would NULL or zero every score and
    silently return wrong/no neighbors — the corpus side rejects such
    vectors up front (_quantizable); the query side gets the same cheap
    driver-side check (round-10 review)."""
    import math

    if shortlist is not None and shortlist < k:
        raise ValueError(f"shortlist ({shortlist}) must be >= k ({k})")
    if not query_vec:
        raise ValueError("query_vec must be non-empty")
    if not all(math.isfinite(x) for x in query_vec):
        raise ValueError("query_vec must contain only finite values")
    if require_nonzero and not any(x != 0.0 for x in query_vec):
        raise ValueError("query_vec must have a non-zero norm (cosine undefined)")


def quantized_topk_cosine(
    store: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    shortlist: int | None = None,
    round_digits: int = 4,
) -> DataFrame:
    """Asymmetric top-k over the persisted store: the query stays
    FLOAT (full precision — never quantized), the corpus side is int8
    codes. Returns ``(id, sim)``, ties broken (sim desc, id asc) like
    ``similarity.topk_cosine``.

    Key property of the symmetric per-vector scheme: cosine is
    SCALE-INVARIANT — cos(codes * scale, q) == cos(codes, q) for
    scale > 0 — so the ranking pass reads only the tinyint codes and
    never touches scale or materializes a dequantized double array.
    Zero vectors (scale 0) and degenerate NULL rows score NULL
    (``try_divide``) and are excluded, matching float-side behavior.

    ``shortlist=m`` (m >= k) adds a reconstruction pass: stage 1
    shortlists m rows on code-cosine, stage 2 dequantizes ONLY those m
    rows (``codes * scale``) and emits the reconstruction-space cosine
    — the exact score a float-side consumer of the dequantized vectors
    would see, at dequantization cost O(m), never O(corpus). To be
    clear about what it is NOT: any score computed from (codes, scale)
    — cosine, dot, L2 over the reconstruction — is a pure function of
    what stage 1 already ranked and can never re-ORDER beyond float
    rounding noise; a rescore that genuinely re-orders goes against
    the ORIGINAL float corpus (``quantized_topk_dot(rescore_with=)``).

    One scan, no join, no shuffle: plans as scan -> project ->
    TakeOrderedAndProject (both stages)."""
    _check_probe_args(query_vec, k, shortlist, require_nonzero=True)
    from usajobs_etl_service_spark.functions.vectors import cosine

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    code_sim = F.round(cosine(F.col("qvec").cast("array<double>"), q), round_digits)
    # barrier_filter: a plain .filter(sim.isNotNull()) over the sim
    # projection gets the cosine fold SUBSTITUTED into the Filter by
    # PushDownPredicates, so every row pays the fold twice (filter +
    # project) — plans/barrier.py's landmine, measured on q194's probe
    from usajobs_etl_service_spark.plans.barrier import barrier_filter

    stage1 = (
        barrier_filter(
            store.select("id", "qvec", "scale", code_sim.alias("sim")),
            F.col("sim").isNotNull(),
        )
        .orderBy(F.col("sim").desc(), F.col("id").asc())
        .limit(shortlist if shortlist is not None else k)
    )
    if shortlist is None:
        return stage1.select("id", "sim")
    deq = F.transform(F.col("qvec"), lambda c: c.cast("double") * F.col("scale"))
    resim = F.round(cosine(deq, q), round_digits)
    return (
        stage1.select("id", resim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("id").asc())
        .limit(k)
    )


def quantized_topk_dot(
    store: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    shortlist: int | None = None,
    rescore_with: DataFrame | None = None,
    rescore_id_col: str = "vec_id",
    rescore_embedding_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Asymmetric MIPS probe over the persisted store: top-k by
    ``scale * dot(codes, query)`` — dot product for unnormalized
    embeddings (recommendation / retrieval scores where magnitude
    carries signal). Returns ``(id, score)``, ties (score desc, id
    asc). Unlike cosine, the per-vector scale does NOT cancel out of a
    dot product, so the scale column is genuinely consumed (one
    multiply after the integer code fold — no double array is ever
    materialized).

    A rescore over the RECONSTRUCTION would be pointless:
    ``dot(codes * scale, q)`` distributes to ``scale * dot(codes, q)``
    — any score computed from (codes, scale) is a pure function of
    what stage 1 already read and can never re-order the ranking
    (true for cosine and L2 over the reconstruction too). The
    meaningful second stage re-scores the shortlist against the
    ORIGINAL FLOAT corpus (``rescore_with=`` — the table the store was
    quantized from): stage 1 ranks ``shortlist`` candidates from the
    compact codes, stage 2 joins those ids back to the float table
    (shortlist ids broadcast — an id-keyed lookup at deployment) and
    ranks the exact float dot. Quantization error then affects only
    CANDIDATE SELECTION, never the final scores — the classic
    compressed-candidates / exact-rerank ANN shape, at float-read cost
    O(shortlist), not O(corpus).

    A zero query legitimately scores 0 (dot is defined there), so only
    empty/NaN/Inf queries are rejected. Without ``rescore_with`` the
    probe is one scan -> project -> TakeOrderedAndProject (no join,
    no shuffle); ``shortlist`` requires ``rescore_with``."""
    _check_probe_args(query_vec, k, shortlist, require_nonzero=False)
    if (shortlist is None) != (rescore_with is None):
        raise ValueError(
            "shortlist and rescore_with go together: the only meaningful "
            "re-score is against the original float corpus (a reconstruction "
            "re-score is a pure function of the codes stage 1 already ranked)"
        )
    from usajobs_etl_service_spark.functions.vectors import dot

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    code_score = F.round(
        F.col("scale") * dot(F.col("qvec").cast("array<double>"), q), round_digits
    )
    stage1 = (
        store.select("id", code_score.alias("score"))
        .filter(F.col("score").isNotNull())
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(shortlist if shortlist is not None else k)
    )
    if rescore_with is None:
        return stage1
    floats = rescore_with.select(
        F.col(rescore_id_col).alias("id"),
        F.col(rescore_embedding_col).cast("array<double>").alias("__fv"),
    )
    exact = F.round(dot(F.col("__fv"), q), round_digits)
    return (
        floats.join(F.broadcast(stage1.select("id")), "id")
        .select("id", exact.alias("score"))
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF x int8 composite (the FAISS IVF+SQ8 shape): centroid buckets prune the
# SCAN (probe nprobe/C of the data — planning-time partition pruning once the
# index is written partitioned by centroid_id), int8 codes shrink what the
# probed buckets READ 4x, and cosine ranks on raw codes (scale-invariant).
# The two compressions compose multiplicatively: a probe touches
# ~(nprobe/C) * 0.25 of the float corpus bytes.
# ---------------------------------------------------------------------------


def quantized_ivf_build(
    df: DataFrame,
    *,
    n_centroids: int = 256,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    seed: int = 42,
    refine_kmeans: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Build an int8-resident IVF index: nearest-centroid assignment
    (similarity.ivf_build's literal-argmax projection — no join, no
    shuffle beyond the final repartition) with each vector stored as
    its int8 codes. Returns ``(index, centroids)`` where index columns
    are ``(id, centroid_id, qvec array<tinyint>, scale)``. Persist with
    ``index.write.partitionBy("centroid_id")`` (the ivf_write
    contract) so probes prune partitions at planning time.
    Un-quantizable rows (NULL/empty/non-finite element) keep their
    bucket assignment but carry NULL qvec/scale — probes skip them via
    the NULL-score filter, and the build can be gated on a
    ``quantization_error_report`` pass like the flat store."""
    from usajobs_etl_service_spark.operators.similarity import ivf_build

    index, cent = ivf_build(
        df,
        n_centroids=n_centroids,
        embedding_col=embedding_col,
        id_col=id_col,
        seed=seed,
        refine_kmeans=refine_kmeans,
    )
    return (
        _quantize_staged(
            index, id_col, embedding_col, out_id="id", keep=("centroid_id",)
        ),
        cent,
    )


def quantized_ivf_topk_cosine(
    index: DataFrame,
    centroids: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    nprobe: int = 8,
    round_digits: int = 4,
) -> DataFrame:
    """Probe the ``nprobe`` nearest centroids' buckets and rank their
    int8 codes by cosine against the FLOAT query (asymmetric — the
    query is never quantized; cosine is scale-invariant under the
    per-vector scheme so the codes rank without touching scale).
    Returns ``(id, sim)``, ties (sim desc, id asc). Centroid ranking
    is the O(C) driver pass ``ivf_topk_cosine`` uses; the bucket
    filter prunes partitions of a persisted index at planning time.
    Recall < 1.0 by construction at nprobe < C (the IVF trade);
    nprobe == C is exact over the codes and equals
    ``quantized_topk_cosine`` on the flat store (tested)."""
    _check_probe_args(query_vec, k, None, require_nonzero=True)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from usajobs_etl_service_spark.functions.vectors import cosine
    from usajobs_etl_service_spark.operators.similarity import probe_centroid_ids

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    pruned = index.filter(
        F.col("centroid_id").isin(probe_centroid_ids(centroids, query_vec, nprobe))
    )
    sim = F.round(cosine(F.col("qvec").cast("array<double>"), q), round_digits)
    # barrier_filter: keeps the cosine fold OUT of the Filter condition
    # (PushDownPredicates would make every row pay it twice) and, being
    # a nondeterministic projection, also blocks CollapseProject from
    # inlining the index's quantization transform into downstream
    # references — q194 fullprobe measured 2.3 s -> 0.7 s at sf0.1
    # combined with cosine()'s lambda-var binding
    from usajobs_etl_service_spark.plans.barrier import barrier_filter

    return (
        barrier_filter(pruned.select("id", sim.alias("sim")), F.col("sim").isNotNull())
        .orderBy(F.col("sim").desc(), F.col("id").asc())
        .limit(k)
    )
