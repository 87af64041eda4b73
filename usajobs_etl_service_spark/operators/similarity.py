"""Similarity search over an embedding column (SURVEY.md §2.11).

Two tiers:
- ``topk_cosine`` — exact brute-force top-k: one codegen'd projection
  computing the dot product against a literal query vector, then
  ``TakeOrderedAndProject`` (per-partition k-heaps, no global sort). At
  100 TB this is a single scan; it is the correctness baseline and often
  the right answer for one-off queries.
- ``ivf_build`` / ``ivf_topk_cosine`` — IVF-style bucketed ANN: assign
  each vector to its nearest of C centroids (one pass), partition the
  index by centroid id, probe only ``nprobe`` buckets at query time ->
  the scan prunes to ~nprobe/C of the data. Centroids here are sampled
  rows (k-means init-style); a production pipeline would refine them
  with ``pyspark.ml`` KMeans on a sample.

All vector math is built-in higher-order functions (JVM, codegen) — no
Python in the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from usajobs_etl_service_spark.functions.vectors import cosine, dot, l2_normalize, norm


def _as_double_array(col: Column) -> Column:
    return col.cast("array<double>")


def query_vector_literal(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def topk_cosine(
    df: DataFrame,
    vec: list[float],
    *,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact top-k by cosine similarity to ``vec``. Deterministic ties:
    (similarity desc, id asc). Plans as scan -> project -> TakeOrdered."""
    q = query_vector_literal(vec)
    sim = cosine(_as_double_array(F.col(embedding_col)), q)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        df.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def brute_force_knn_join(
    left: DataFrame,
    right: DataFrame,
    *,
    k: int,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """All-pairs k-NN via cross join + per-left-id window top-k. O(n*m) —
    correctness oracle / small-dim tool only; the scale path is IVF/LSH
    bucketing which turns the cross join into a bucket-equi-join."""
    from pyspark.sql import Window

    l = left.select(F.col(left_id).alias("query_id"), _as_double_array(F.col(embedding_col)).alias("qv"))
    r = right.select(F.col(right_id).alias("match_id"), _as_double_array(F.col(embedding_col)).alias("mv"))
    pairs = l.crossJoin(F.broadcast(r)).filter(F.col("query_id") != F.col("match_id"))
    scored = pairs.select("query_id", "match_id", F.round(cosine(F.col("qv"), F.col("mv")), 6).alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("match_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def ivf_build(
    df: DataFrame,
    *,
    n_centroids: int = 256,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    refine_kmeans: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF index: pick C deterministic sample rows as centroids
    (or k-means-refined centroids with ``refine_kmeans=True``), assign
    every vector to its nearest centroid (centroids inlined as a literal
    array -> one codegen'd argmax projection, no join/shuffle), and
    hash-partition the index by centroid.

    Returns (index_df, centroids_df); persist ``index_df`` partitioned by
    ``centroid_id`` so probes prune partitions.
    """
    if refine_kmeans:
        cent = _kmeans_centroids(df, n_centroids, embedding_col, seed)
    else:
        # deterministic "sample": stable hash order, C rows
        cent = (
            df.select(F.col(id_col), l2_normalize(_as_double_array(F.col(embedding_col))).alias("cv"))
            .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
            .limit(n_centroids)
            .select(F.monotonically_increasing_id().alias("centroid_id"), "cv")
        )
    cent = cent.cache()  # C rows; feeds assignment (collect) and probe ranking
    # O(C) driver collect (an IVF codebook is small by definition); the
    # assignment then compiles to a pure projection — scan -> argmax over a
    # literal centroid array -> repartition(centroid_id). No n x C row
    # blowup, no per-vector shuffle (the old crossJoin + row_number window
    # shuffled n x C scored rows by vec_id).
    cent_rows = sorted(
        ((r["centroid_id"], [float(x) for x in r["cv"]]) for r in cent.collect()),
        key=lambda t: t[0],
    )
    # centroids are unit-norm, so argmax_c cos(v, c) == argmax_c dot(v, c):
    # the vector's own norm is a positive per-row constant and never needs
    # computing — the assignment is C dot products + one argmax per row.
    index = (
        df.withColumn(
            "centroid_id",
            nearest_centroid_expr(_as_double_array(F.col(embedding_col)), cent_rows),
        )
        .repartition("centroid_id")
    )
    # an IVF index is a build-once artifact: at scale, write it as a
    # parquet table partitioned by centroid_id (probes then prune
    # partitions) rather than caching — for a single in-session probe,
    # lazy evaluation beats paying cache materialization up front.
    return index, cent


def nearest_centroid_expr(
    vn: Column, cent_rows: list[tuple[int, list[float]]]
) -> Column:
    """Nearest-centroid assignment as a single codegen'd expression: score
    the vector against a literal array of unit-norm centroid vectors (raw
    dot products — cosine argmax is invariant to the vector's own norm),
    take the argmax position, and map it to the centroid id.
    Ties break to the lowest centroid id (``array_position`` returns the
    first occurrence; ``cent_rows`` must be sorted by id).

    This is the 100 TB shape for IVF assignment: a pure projection inside
    the scan stage — no join, no shuffle, no row blowup. The literal
    arrays cross py4j as one parsed SQL string (not k x dim Column
    calls — the q82/q89 driver-time lesson)."""
    cents_lit = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{float(x)!r}D" for x in cv) + ")" for _, cv in cent_rows
        )
        + ")"
    )
    ids_lit = F.expr("array(" + ", ".join(f"{int(cid)}L" for cid, _ in cent_rows) + ")")
    scores = F.transform(cents_lit, lambda c: dot(vn, c))
    pos = F.array_position(scores, F.array_max(scores)).cast("int")
    return F.element_at(ids_lit, pos)


def _kmeans_centroids(df: DataFrame, k: int, embedding_col: str, seed: int) -> DataFrame:
    """k-means centroids over l2-normalized vectors via pyspark.ml
    (spherical-kmeans approximation: normalize -> euclidean k-means).
    Runs on the index build path only — never per query."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = df.sparkSession
    feats = df.select(
        array_to_vector(l2_normalize(_as_double_array(F.col(embedding_col)))).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=10).fit(feats)
    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    cent = spark.createDataFrame(centers, "centroid_id long, cv array<double>")
    # re-normalize (mean of unit vectors is not unit)
    return cent.select("centroid_id", l2_normalize(F.col("cv")).alias("cv"))


def ivf_write(index: DataFrame, centroids: DataFrame, path: str) -> None:
    """Persist an IVF index as its build-once artifact: the postings
    table parquet-partitioned by ``centroid_id`` (every probe then
    prunes to ``nprobe`` directories at PLANNING time — the non-probed
    ~(C - nprobe)/C of the index is never opened, let alone scanned)
    plus the O(C) codebook alongside. This is the 100 TB contract:
    assignment cost is paid once at build; per-query cost is
    ``nprobe/C`` of the data."""
    index.write.partitionBy("centroid_id").mode("overwrite").parquet(f"{path}/index")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_load(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a persisted IVF index; probes via ``ivf_topk_cosine`` get
    partition pruning on ``centroid_id`` for free (the ``isin`` filter
    is a partition filter on the partitioned read)."""
    return spark.read.parquet(f"{path}/index"), spark.read.parquet(f"{path}/centroids")


def _srp_planes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in {-1,+1}^dim — the
    single source for both the Column and SQL-string code builders, so
    their bucket ids are bit-identical."""
    import random

    if not 1 <= n_planes <= 62:
        raise ValueError(f"n_planes must be in [1, 62] for a long code, got {n_planes}")
    rng = random.Random(seed)
    return [[rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(n_planes)]


def srp_code(embedding: Column, *, n_planes: int = 16, dim: int = 64, seed: int = 42) -> Column:
    """Sign-random-projection LSH code (LONG bucket id — auto-scaled
    widths at corpus scale exceed 31 planes, where an int would
    overflow): bit j = sign of dot(v, r_j) for deterministic
    pseudo-random hyperplanes r_j in {-1,+1}^dim derived from a seeded
    PRNG and inlined as literals — identical on every executor/run.
    Cosine-similar vectors collide with probability
    (1 - theta/pi)^n_planes.

    Column-API form for composition with arbitrary input expressions;
    hot callers that band MANY codes should use ``srp_code_sql`` —
    this builder costs ~dim py4j calls PER PLANE in driver time."""
    planes = _srp_planes(n_planes, dim, seed)
    v = _as_double_array(embedding)
    code = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        d = dot(v, F.array(*[F.lit(c) for c in plane]))
        code = code + F.when(d > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return code


def srp_code_sql(vec_sql: str, *, n_planes: int = 16, dim: int = 64, seed: int = 42) -> str:
    """``srp_code`` as a generated SQL string over a SQL fragment that
    must already evaluate to ``array<double>``. Parses to the same
    expression tree (same planes, same fold order, same CASE/bit
    weights) as the Column form, but the whole n_planes x dim literal
    block crosses py4j ONCE as text instead of ~n_planes*dim Column
    calls — the measured difference between ~11 s and sub-second plan
    construction for q82's 8-band auto-width banding."""
    planes = _srp_planes(n_planes, dim, seed)
    terms = ["cast(0 as long)"]
    for j, plane in enumerate(planes):
        lits = ", ".join(f"{c!r}D" for c in plane)
        d = (
            f"aggregate(zip_with({vec_sql}, array({lits}), (x, y) -> x * y), "
            f"0.0D, (acc, v) -> acc + v)"
        )
        terms.append(f"(case when {d} > 0.0D then {1 << j}L else 0L end)")
    return " + ".join(terms)


def ivf_topk_cosine(
    index: DataFrame,
    centroids: DataFrame,
    vec: list[float],
    *,
    k: int = 10,
    nprobe: int = 8,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the ``nprobe`` nearest centroids' buckets only, then exact
    top-k within them. Recall < 1.0 by construction; raise nprobe to
    trade scan cost for recall."""
    pruned = index.filter(
        F.col("centroid_id").isin(probe_centroid_ids(centroids, vec, nprobe))
    )
    return topk_cosine(pruned, vec, embedding_col=embedding_col, id_col=id_col, k=k)


def probe_centroid_ids(
    centroids: DataFrame, vec: list[float], nprobe: int
) -> list:
    """The O(C) driver pass every IVF probe shares (float and
    quantized — one copy so NULL/tie handling cannot drift): rank the
    codebook by dot with the normalized query and return the top
    ``nprobe`` centroid ids. Ties break on centroid_id asc, so the
    probed bucket SET is deterministic (an unordered tie at the
    nprobe cutoff would make recall run-dependent)."""
    if nprobe < 1:
        # limit(0) would silently probe nothing and return an empty
        # top-k — "no neighbors" instead of a loud misconfiguration
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    q = query_vector_literal(vec)
    qn = l2_normalize(q)
    return [
        r["centroid_id"]
        for r in centroids.select("centroid_id", dot(F.col("cv"), qn).alias("s"))
        .orderBy(F.col("s").desc(), F.col("centroid_id").asc())
        .limit(nprobe)
        .collect()
    ]


def mmr_rerank(
    df: DataFrame,
    vec: list[float],
    *,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    k_candidates: int = 30,
    k_select: int = 10,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``k_select`` results from the exact top-
    ``k_candidates`` cosine shortlist, each step maximizing

        score(i) = lam * rel(i) - (1 - lam) * max_{s in S} sim(i, s)

    (max over the empty selected set S is 0, so the first pick is the
    plain relevance argmax) — the standard diversity-aware closer over
    a retrieval/ANN shortlist, killing the near-duplicate pile-up at
    the top that pure relevance ranking produces.

    Distribution of labor — the 100 TB shape: the RELEVANCE pass is
    the full distributed scan (:func:`topk_cosine`'s codegen dot +
    TakeOrderedAndProject; or an IVF/PQ probe), and the candidate
    pairwise-similarity matrix is a bounded self-join of the
    k_candidates shortlist rows (k^2 <= 900 pairs here) computed
    engine-side; ONLY that k-bounded matrix and the k relevance scores
    reach the driver, where the inherently-sequential greedy argmax
    runs (the same bounded-collect posture as IVF's centroid pull and
    PQ's ADC tables — never corpus-proportional). Determinism: rel and
    pairwise sims round to 4 BEFORE the greedy, score is one float
    expression over rounded inputs, ties break (score desc, id asc) —
    so a round-for-round SQL oracle replays the identical selection.

    Returns (id_col, selection_rank, rel, mmr_score) for the selected
    rows, mmr_score rounded to 6.
    """
    if k_select > k_candidates:
        raise ValueError("k_select must be <= k_candidates")
    spark = df.sparkSession
    shortlist = topk_cosine(
        df, vec, embedding_col=embedding_col, id_col=id_col, k=k_candidates, round_digits=4
    ).withColumnRenamed(id_col, "id")
    cand_vecs = df.select(
        F.col(id_col).alias("id"), _as_double_array(F.col(embedding_col)).alias("v")
    ).join(shortlist.select("id"), "id", "left_semi")
    a = cand_vecs.select(F.col("id").alias("a"), F.col("v").alias("va"))
    b = cand_vecs.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    pair_rows = (
        a.join(b, F.col("a") != F.col("b"))
        .select("a", "b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("s"))
        .collect()
    )
    rel = {r["id"]: r["sim"] for r in shortlist.collect()}
    sim = {(r["a"], r["b"]): r["s"] for r in pair_rows}

    selected: list[tuple] = []  # (id, rank, rel, score)
    chosen: list = []
    remaining = sorted(rel)
    for rank in range(1, k_select + 1):
        best = None
        for i in remaining:
            pen = max((sim[(i, s)] for s in chosen), default=0.0)
            score = lam * rel[i] - (1.0 - lam) * pen
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, score)
        _, pick, score = best
        selected.append((pick, rank, rel[pick], score))
        chosen.append(pick)
        remaining.remove(pick)
    # display-round engine-side: Python round() is half-EVEN where
    # Spark/DuckDB round half-away-from-zero — the cross-engine contract
    # rounds with the engines, never with Python
    # derive the id field's type from the input schema — a hardcoded
    # `long` would fail (or silently coerce) for string/UUID id columns
    id_ddl = df.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        selected, f"{id_col} {id_ddl}, selection_rank int, rel double, mmr_score double"
    ).select(
        id_col, "selection_rank", "rel", F.round("mmr_score", 6).alias("mmr_score")
    )


def hard_negatives(
    df: DataFrame,
    anchor_ids: list[int],
    *,
    k: int = 5,
    id_col: str = "vec_id",
    label_col: str = "label",
    embedding_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive/metric training (the
    in-batch-negatives upgrade used by DPR/SimCSE-style pipelines): for
    each anchor vector, the k most-similar corpus vectors whose LABEL
    DIFFERS from the anchor's — maximally confusable negatives, the
    pairs a contrastive loss learns the most from.

    Shape: the anchor rows (bounded: |anchor_ids|) broadcast against
    ONE corpus scan — a per-anchor ANN probe fused into a single pass,
    with the label-inequality filter applied before scoring. The
    per-anchor top-k runs SALTED (salting.salted_topk_per_key): with a
    handful of anchors a plain window would sort the whole scored scan
    in |anchors| tasks — the hottest possible key skew — so phase 1
    takes per-(anchor, salt) top-k and phase 2 re-ranks <= k * buckets
    survivors. Determinism: sims round to 6, ties (sim desc, match_id
    asc); ``rank`` (1..k per anchor) rides out for training-weight use.
    At 100 TB the corpus scan is the cost and is embarrassingly
    parallel; swap it for an IVF/PQ probe per anchor when k_anchors
    grows past scan amortization."""
    from usajobs_etl_service_spark.operators.salting import salted_topk_per_key

    if not anchor_ids:
        raise ValueError("anchor_ids must be non-empty")
    anchors = df.filter(F.col(id_col).isin([int(a) for a in anchor_ids])).select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        _as_double_array(F.col(embedding_col)).alias("av"),
    )
    cand = df.select(
        F.col(id_col).alias("match_id"),
        F.col(label_col).alias("match_label"),
        _as_double_array(F.col(embedding_col)).alias("mv"),
    )
    scored = (
        cand.crossJoin(F.broadcast(anchors))
        .filter(F.col("match_label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "match_id",
            "match_label",
            F.round(cosine(F.col("av"), F.col("mv")), 6).alias("sim"),
        )
    )
    return salted_topk_per_key(
        scored,
        ["anchor_id"],
        [F.col("sim").desc(), F.col("match_id").asc()],
        k,
    )
