"""Semantic deduplication (SemDeDup-style) over an embedding column.

Public recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication"): cluster the corpus's
embeddings with k-means, compute pairwise cosine similarity only WITHIN
each cluster, and drop all but one representative of every group of
semantic duplicates (cosine >= threshold). Clustering turns the O(n^2)
all-pairs problem into C independent O((n/C)^2) problems — the same
blocking idea as LSH, but driven by the embedding geometry itself, so
it also catches paraphrase-level duplicates that share no n-grams.

Spark-first shape (everything JVM-side, no Python in the scan):
- Cluster assignment follows the IVF machinery
  (operators/similarity.ivf_build): centroids are inlined as a literal
  array and assignment is one codegen'd argmax projection inside the
  scan stage — no join, no shuffle, no n x C row blowup. Assignment
  scores the L2-normalized vector and snaps to 6 decimals before the
  argmax, so vectors with the same DIRECTION (cosine 1.0) provably
  land in the same cluster even against a codebook containing
  near-identical centroids (see assign_clusters) — the recall-1.0
  anchor the q89 oracle construction relies on.
- Within-cluster pairs come from a self-equi-join on ``cluster_id``
  (one hash shuffle per side, AQE-safe); exact cosine is computed on
  the joined rows (built-in higher-order functions), so precision
  needs no argument — the verify IS exact cosine.
- The per-cluster pair expansion is quadratic in cluster size, so the
  same hot-bucket discipline as the LSH family applies: clusters
  larger than ``max_cluster`` are dropped BEFORE the join, and the
  drop is never silent — ``observe`` counters record dropped rows and
  clusters (mirrors neardup._cap_buckets; at production scale you
  raise ``n_clusters`` instead of the cap, keeping expected occupancy
  ~n/C bounded).
- Drop policy is deterministic and SQL-expressible: a row is dropped
  iff some SMALLER id in its cluster is a semantic duplicate of it
  ("keep the minimum id of every duplicate group"). The paper keeps
  the member with the lowest centroid similarity; min-id is the same
  cardinality on exact-duplicate groups and makes the output an
  engine-independent set an oracle can recompute.

Reference parity note: the reference engine (etl/etl.py) has no
embedding surface at all — this operator is part of the §2.11
LLM-training-data family layered on top of its capabilities.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from usajobs_etl_service_spark.functions.vectors import cosine, dot, l2_normalize, norm


def _dlit(x) -> str:
    """Render one double as a VALID SQL literal for a driver-built
    literal block: NaN/Inf components (one poisoned embedding poisons
    a cluster mean or a seed vector) must become cast literals, never
    the unresolvable identifier ``nanD`` that `repr()+'D'` would emit
    and that kills the whole job at analysis time (round-9 review
    finding); None renders as a NULL double (the value an in-plan
    aggregate over the same data would have produced)."""
    import math

    if x is None:
        return "CAST(NULL AS DOUBLE)"
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def _cap_metrics(id_col: str, max_cluster: int) -> tuple[Column, Column]:
    """observe() aggregates for the RESIDUAL oversized-cluster guard
    (post-collapse): representative rows whose collapsed cluster still
    exceeds ``max_cluster`` + that cluster count (1/n weighting, exact
    for n < 2^52 — same trick as neardup._cap_drop_metrics). Collapsed
    non-representative members are never dropped (they always emit as
    chains), so they carry no drop weight."""
    dropped = (F.col(id_col) == F.col("__gmin")) & (F.col("__rsize") > max_cluster)
    return (
        F.sum(dropped.cast("long")).alias("dropped_rows"),
        F.round(F.sum(F.when(dropped, 1.0 / F.col("__rsize")).otherwise(0.0)))
        .cast("long")
        .alias("dropped_clusters"),
    )


def _recovery_metrics(id_col: str) -> tuple[Column, Column]:
    """observe() aggregates for the identical-direction collapse:
    non-representative rows absorbed into chains + the number of
    multi-member direction groups (1/(n-1) weighting over the n-1
    non-reps of each group)."""
    member = F.col(id_col) > F.col("__gmin")
    return (
        F.sum(member.cast("long")).alias("recovered_rows"),
        F.round(F.sum(F.when(member, 1.0 / (F.col("__gsize") - 1)).otherwise(0.0)))
        .cast("long")
        .alias("recovered_groups"),
    )


def auto_n_clusters(n_rows: int, *, target_cluster: int = 200, floor: int = 16) -> int:
    """Cluster count that keeps EXPECTED cluster occupancy constant
    (~``target_cluster``) as the corpus grows — the same rule as
    neardup.srp_auto_planes, for the same reason: the within-cluster
    pair expansion is quadratic in cluster SIZE, so a fixed cluster
    COUNT turns super-linear the moment the corpus outgrows it
    (measured on the SRP family at the 10x smoke, r5). Constant
    occupancy makes total pair work ~linear: C * (n/C)^2 = n *
    target_cluster."""
    import math

    return max(floor, math.ceil(n_rows / max(target_cluster, 1)))


# above this codebook size the literal-argmax expression stops being a
# codegen win (q82's measured compile-cost territory: 128 x 64 dims =
# 8k literals) and assignment switches to the Arrow-batched Lloyd path
LITERAL_CODEBOOK_MAX = 128


def _lloyd_blocking(
    df: DataFrame,
    *,
    id_col: str,
    embedding_col: str,
    n_clusters: int,
    seed: int,
    iters: int = 4,
) -> DataFrame:
    """Large-codebook cluster assignment: spherical k-means (the
    SemDeDup paper's own clustering) as vectorized Arrow-batched Lloyd
    passes — ``mapInPandas`` + one numpy GEMM per batch — instead of
    ``pyspark.ml.KMeans``, which measured a ~110 s FIXED driver/RDD
    overhead at the 100x smoke (fit 349 s at k=2000 even with a
    sampled input and random init; the whole Lloyd math is ~5 s of
    BLAS). The sanctioned-Python rules hold: Arrow batches, one matrix
    multiply per batch, never a per-row Python loop.

    Per iteration: ONE pass over the corpus; each task folds its
    batches into a single (k x dim) partial-sum matrix + count vector
    (so a task emits ≤ k rows no matter how many rows it scanned —
    the map-side-combine bound, by hand), partials reduce via
    posexplode + groupBy (≤ k*dim tiny rows through the exchange), and
    the driver pulls k*dim scalars to rebuild the codebook (the
    ivf/pq k-row centroid-pull posture; independent of executor
    count). Iterating over the FULL corpus costs the same as the old
    sampled fit's final pass and removes the sample-quality knob.

    Determinism: init is the deterministic hash-ordered sample (same
    rule as the literal path / ivf_build); assignment snaps normalized
    scores to 6 decimals before the argmax, so identical-DIRECTION
    vectors get identical cluster ids — the same tie argument as the
    literal path (a flip needs two centroid cosines within float-eps
    of a 1e-6 rounding boundary). Run-to-run center wobble from
    float-sum reduce order is below that same boundary argument.
    Blocking quality only affects near-miss recall; precision is the
    downstream exact-cosine verify's job either way.

    The staged normalized frame is persisted for the duration: the
    iteration loop and the final assignment pass all read it, and the
    caller's within-cluster self-join reads the assignment twice.
    """
    import numpy as np
    import pandas as pd
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    nv = l2_normalize(F.col(embedding_col).cast("array<double>"))
    staged = df.withColumn("__nv", nv).persist(StorageLevel.MEMORY_AND_DISK)

    cent = (
        staged.select(
            "__nv", F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)).alias("__o")
        )
        .orderBy("__o")
        .limit(n_clusters)
        .select("__nv")
        .collect()
    )
    if not cent:
        raise ValueError("assign_clusters: empty input (no rows to seed centroids)")
    centers = np.array([r["__nv"] for r in cent], dtype=np.float64)
    k, dim = centers.shape

    def _argmax(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
        # snap BEFORE argmax: identical-direction rows see identical
        # snapped score vectors, first-max breaks ties the same way
        return np.round(X @ C.T, 6).argmax(axis=1)

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(centers)

        def _partials(batches):
            C = bc.value
            sums = np.zeros((k, dim))
            cnts = np.zeros(k, dtype=np.int64)
            seen = False
            for pdf in batches:
                if not len(pdf):
                    continue
                seen = True
                X = np.stack(pdf["__nv"].to_numpy())
                a = _argmax(X, C)
                cnts += np.bincount(a, minlength=k)
                for j in range(dim):
                    sums[:, j] += np.bincount(a, weights=X[:, j], minlength=k)
            if seen:
                yield pd.DataFrame(
                    {"cid": np.arange(k), "cnt": cnts, "sums": list(sums)}
                )

        parts = staged.select("__nv").mapInPandas(
            _partials, "cid long, cnt long, sums array<double>"
        )
        red = (
            parts.select("cid", "cnt", F.posexplode("sums").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.sum("v").alias("v"), F.sum("cnt").alias("c"))
            .collect()
        )
        new_sums = np.zeros((k, dim))
        new_cnts = np.zeros(k, dtype=np.int64)
        for r in red:
            new_sums[r["cid"], r["pos"]] = r["v"]
            if r["pos"] == 0:
                # cnt rides every exploded row identically within one
                # partial; the (cid, pos=0) group sums one cnt per
                # partial, i.e. the true total for cid — read it there
                new_cnts[r["cid"]] = r["c"]
        nonzero = new_cnts > 0
        means = np.where(
            nonzero[:, None], new_sums / np.maximum(new_cnts, 1)[:, None], centers
        )
        norms = np.linalg.norm(means, axis=1, keepdims=True)
        centers = np.where(norms > 0, means / np.maximum(norms, 1e-300), centers)

    bc_final = spark.sparkContext.broadcast(centers)
    out_fields = [f for f in staged.schema.fields if f.name != "__nv"]
    out_schema = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields)
        + ", cluster_id long"
    )
    out_names = [f.name for f in out_fields]

    def _assign(batches):
        C = bc_final.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["__nv"].to_numpy())
            res = pdf[out_names].copy()
            res["cluster_id"] = _argmax(X, C)
            yield res

    return staged.mapInPandas(_assign, out_schema)


def assign_clusters(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    n_clusters: int | None = 64,
    seed: int = 42,
    refine_kmeans: bool = False,
    n_rows_hint: int | None = None,
    passthrough_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, embedding, cluster_id): nearest-centroid assignment as a
    pure projection (ivf_build's literal-argmax idea), with no
    repartition — the within-cluster self-join downstream shuffles on
    cluster_id anyway, and letting IT place the Exchange avoids
    shuffling the corpus twice.

    Unlike IVF probe assignment, dedup assignment must be IDENTICAL for
    equal-direction vectors even when the sampled codebook contains two
    near-identical centroids (a duplicate pair can itself be sampled —
    then a raw floating-point argmax faces a last-bit near-tie and can
    split the pair across clusters, which was measured, not
    hypothetical). So: score the L2-NORMALIZED vector (assignment
    becomes norm-invariant) and snap scores to 6 decimals before the
    argmax — equal-direction vectors then see EQUAL score arrays and
    ``array_position``'s first-max rule breaks the tie the same way for
    both. A real flip now needs two centroid cosines within ~1e-16 of a
    1e-6 rounding boundary (~1e-10 per row, vs ~1e0 for the raw tie).

    ``n_clusters=None`` derives the count from the corpus
    (auto_n_clusters — constant expected occupancy, the scale-correct
    production setting). Codebooks above LITERAL_CODEBOOK_MAX switch
    from the literal-argmax expression to the Arrow-batched numpy
    Lloyd path (_lloyd_blocking — spherical k-means, the SemDeDup
    paper's own clustering): broadcast centers and per-batch GEMM
    scale to thousands of clusters where an 8k+-literal expression
    would blow up codegen, and the same round-6 snap-before-argmax
    keeps the identical-direction tie guarantee. It is the production
    shape; oracle corpora stay under the literal threshold.

    ``n_rows_hint`` skips the auto-count's full pass when the caller
    already knows the cardinality (parquet footers, a prior count) —
    the same contract as neardup.srp_near_dup_pairs's hint; it is only
    a sizing input, so an approximate value merely moves expected
    cluster occupancy off ~200."""
    if n_clusters is None:
        n_clusters = auto_n_clusters(
            n_rows_hint if n_rows_hint is not None else df.count()
        )
    if n_clusters > LITERAL_CODEBOOK_MAX:
        return _lloyd_blocking(
            df,
            id_col=id_col,
            embedding_col=embedding_col,
            n_clusters=n_clusters,
            seed=seed,
        )
    if refine_kmeans:
        from usajobs_etl_service_spark.operators.similarity import _kmeans_centroids

        cent = _kmeans_centroids(df, n_clusters, embedding_col, seed)
    else:
        # deterministic hash-ordered sample, as ivf_build
        cent = (
            df.select(
                F.col(id_col),
                l2_normalize(F.col(embedding_col).cast("array<double>")).alias("cv"),
            )
            .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
            .limit(n_clusters)
            .select(F.monotonically_increasing_id().alias("centroid_id"), "cv")
        )
    cent_rows = sorted(
        ((r["centroid_id"], [float(x) for x in r["cv"]]) for r in cent.collect()),
        key=lambda t: t[0],
    )
    # Stage the normalized vector through a REAL column before the
    # scoring lambda: an expression referenced inside a HOF lambda
    # re-evaluates per element, so an inlined l2_normalize (itself a
    # 64-element fold) recomputes once per centroid per row — measured
    # 18.6 s -> 0.7 s warm at sf0.1 for the assignment job. (Unrolling
    # the dots into C x dim literal products — the q82 plane trade —
    # was measured here at 4 s warm: one giant scalar expression falls
    # off the codegen fast path, while transform/zip_with/aggregate
    # over a staged primitive-array column stays on it.)
    nv = l2_normalize(F.col(embedding_col).cast("array<double>"))
    staged = df.withColumn("__nv", nv)
    # literal blocks cross py4j as ONE parsed SQL string — building
    # them lit-by-lit cost ~n_clusters x dim driver round trips (~2 s
    # of q89's warm time); the parsed values are identical doubles
    cents_lit = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{float(x)!r}D" for x in cv) + ")" for _, cv in cent_rows
        )
        + ")"
    )
    ids_lit = F.expr("array(" + ", ".join(f"{int(cid)}L" for cid, _ in cent_rows) + ")")
    scores = F.transform(cents_lit, lambda c: F.round(dot(F.col("__nv"), c), 6))
    pos = F.array_position(scores, F.array_max(scores)).cast("int")
    # passthrough_cols survive assignment (the Lloyd path passes every
    # input column through already) — a LITERAL tag column here lets a
    # caller filter a union by branch and have Catalyst fold the
    # predicate to false in the other child, pruning its scan entirely
    # (semantic_contamination_report's side tags)
    return staged.select(
        F.col(id_col),
        F.col(embedding_col),
        F.element_at(ids_lit, pos).alias("cluster_id"),
        *[F.col(c) for c in passthrough_cols],
    )


def semantic_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int | None = None,
    seed: int = 42,
    refine_kmeans: bool = False,
    max_cluster: int = 10_000,
    round_digits: int = 4,
    observation=None,
    recovery_observation=None,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cos) with id_a < id_b, cosine >= threshold, both in
    the same k-means cluster. One shuffle on cluster_id per join side;
    exact-cosine verify on the pairs.

    Oversized clusters (> ``max_cluster``) are RECOVERED, not dropped
    — see ``_dup_pair_parts``. For a recovered identical-direction
    group the clique is emitted as a CHAIN through the group minimum
    (the transitive closure is the clique, exactly — same contract as
    neardup's sorted-neighborhood tier); ``semantic_dedup_drops``
    reconstructs the exact keep-min-id decision from the chain."""
    rep_pairs, chains = _dup_pair_parts(
        df,
        id_col=id_col,
        embedding_col=embedding_col,
        threshold=threshold,
        n_clusters=n_clusters,
        seed=seed,
        refine_kmeans=refine_kmeans,
        max_cluster=max_cluster,
        round_digits=round_digits,
        observation=observation,
        recovery_observation=recovery_observation,
        n_rows_hint=n_rows_hint,
    )
    return rep_pairs.unionByName(chains)


def _dup_pair_parts(
    df: DataFrame,
    *,
    id_col: str,
    embedding_col: str,
    threshold: float,
    n_clusters: int | None,
    seed: int,
    refine_kmeans: bool,
    max_cluster: int,
    round_digits: int,
    observation,
    recovery_observation,
    n_rows_hint: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(representative pairs, identical-direction chains), both
    ``(id_a, id_b, cos)`` with id_a < id_b.

    Oversized-cluster recovery (the SimHash lesson applied to the
    k-means blocking): a cluster can exceed ``max_cluster`` for two
    reasons, and only one of them is a real capacity problem. A
    DIVERSE hot cluster means the cluster count is too low —
    auto_n_clusters fixes that by construction (constant ~200 expected
    occupancy). A DUPLICATE FLOOD — thousands of copies of one
    document, exactly what a dedup pass exists to find — lands on one
    direction no cluster count can split, and the old guard dropped
    the flood wholesale: the worst possible input for the operator was
    the one input it silently ignored. The recovery collapses floods
    in O(n), branch-free (one lineage, no fit/oversized plan split):

    1. Rows of oversized clusters get a direction key: xxhash64 of the
       L2-normalized embedding snapped to 6 decimals (norm-invariant;
       snap-equal vectors have cosine >= 1 - ~4e-10, which rounds to
       1.0 at ``round_digits`` — fingerprint-equality posture as the
       q83/q90 hash contract). Rows of fit clusters key by their own
       id (each row its own group — bit-identical downstream behavior
       to the pre-recovery path; per-cluster saturation is constant,
       so the two key regimes never mix inside a window partition).
    2. Each multi-member direction group emits its n-1 non-minimum
       members as chain pairs ``(group_min, member, 1.0)`` — O(n), no
       quadratic work, recall 1.0 on the flood by construction.
    3. Group minima (representatives) re-enter the quadratic
       within-cluster join, which now sees one row per DISTINCT
       direction. Only if the collapsed cluster STILL exceeds
       ``max_cluster`` (> max_cluster distinct near-identical
       directions — a genuinely diverse hot cluster) do its reps drop,
       with ``observation`` counters; chain members are never dropped.
       ``recovery_observation`` reports collapsed rows/groups.

    The windows stack on ONE exchange: the cluster-size window hash-
    partitions on cluster_id, and the direction-group and rep-count
    windows cluster on (cluster_id, dkey) / (cluster_id) — both
    satisfied by that partitioning (subset rule), so they add sorts,
    not shuffles.

    The slim grouped frame is persisted (MEMORY_AND_DISK) before
    fanning out to the join sides and the chain branch: without it the
    assignment projection — a wide literal-argmax expression whose
    codegen compile is itself measurable — plus the sizing windows are
    planned and EXECUTED once per consumer (measured 6.8 s -> 3.6 s
    warm at sf0.1 for the pair query). Spilling the cached corpus to
    local disk at scale is the cheaper side of that trade — it
    replaces a second full scan + normalize + assign + cluster_id
    shuffle. The cache also makes the observe() metrics single-fire
    (they populate when the cache builds, not once per join side) and
    is released by the caller's ``spark.catalog.clearCache()`` after its
    action (same posture as distributed_order._ranged)."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    assigned = assign_clusters(
        df,
        id_col=id_col,
        embedding_col=embedding_col,
        n_clusters=n_clusters,
        seed=seed,
        refine_kmeans=refine_kmeans,
        n_rows_hint=n_rows_hint,
    )

    w_cluster = Window.partitionBy("cluster_id")
    sized = assigned.withColumn("__csize", F.count(F.lit(1)).over(w_cluster))
    # singleton clusters cannot form pairs either way
    multi = sized.filter(F.col("__csize") >= 2)

    saturated = F.col("__csize") > max_cluster
    snapped_dir = F.xxhash64(
        F.transform(
            l2_normalize(F.col(embedding_col).cast("array<double>")),
            lambda x: F.round(x, 6),
        )
    )
    dkeyed = multi.withColumn(
        "__dkey", F.when(saturated, snapped_dir).otherwise(F.col(id_col))
    )
    w_dir = Window.partitionBy("cluster_id", "__dkey")
    grouped = (
        dkeyed.withColumn("__gmin", F.min(id_col).over(w_dir))
        .withColumn("__gsize", F.count(F.lit(1)).over(w_dir))
        .withColumn(
            "__rsize",
            F.sum((F.col(id_col) == F.col("__gmin")).cast("long")).over(w_cluster),
        )
    )
    grouped = grouped.observe(
        observation if observation is not None else "semdedup_cluster_cap",
        *_cap_metrics(id_col, max_cluster),
    ).observe(
        recovery_observation
        if recovery_observation is not None
        else "semdedup_recovery",
        *_recovery_metrics(id_col),
    )
    grouped = grouped.select(
        "cluster_id", id_col, embedding_col, "__gmin", "__rsize"
    ).persist(StorageLevel.MEMORY_AND_DISK)

    chains = grouped.filter(F.col(id_col) > F.col("__gmin")).select(
        F.col("__gmin").alias("id_a"),
        F.col(id_col).alias("id_b"),
        F.lit(1.0).alias("cos"),
    )
    members = grouped.filter(
        (F.col(id_col) == F.col("__gmin"))
        & F.col("__rsize").between(2, max_cluster)
    ).select("cluster_id", id_col, embedding_col)

    a = members.select(
        F.col("cluster_id"),
        F.col(id_col).alias("id_a"),
        F.col(embedding_col).cast("array<double>").alias("va"),
    )
    b = members.select(
        F.col("cluster_id"),
        F.col(id_col).alias("id_b"),
        F.col(embedding_col).cast("array<double>").alias("vb"),
    )
    from usajobs_etl_service_spark.plans.barrier import barrier_filter

    rep_pairs = barrier_filter(
        # barrier: a plain filter on the projected cos gets the cosine
        # folds substituted into the Filter (PushDownPredicates) — the
        # per-pair verify would run twice per surviving pair
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), round_digits).alias("cos"),
        ),
        F.col("cos") >= F.lit(threshold),
    )
    return rep_pairs, chains


def semantic_dedup_drops(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int | None = None,
    seed: int = 42,
    refine_kmeans: bool = False,
    max_cluster: int = 10_000,
    observation=None,
    recovery_observation=None,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """The SemDeDup decision set: rows to REMOVE, one per dropped id —
    ``(dropped_id, kept_id, max_cos)`` where ``kept_id`` is the
    smallest same-cluster semantic duplicate and ``max_cos`` the
    strongest duplicate similarity seen. Keep-min-id policy: an id is
    dropped iff ANY smaller id in its cluster clears the threshold.
    ``df.join(drops, on=dropped_id, how="left_anti")`` is the cleaned
    corpus.

    Recovered-flood exactness: a chain member ``x`` of an identical-
    direction group (see ``_dup_pair_parts``) has the same cosine to
    every row as its representative ``g = group_min``, so x's smallest
    duplicate is ``min(g, kept_id(g))`` and its ``max_cos`` is 1.0 (a
    smaller identical member always exists). That one-hop lift — valid
    ONLY because group members are direction-identical; cosine is not
    transitive in general — is applied via a join of the chain rows
    against the representative-level drop aggregate, making the output
    EQUAL to the uncapped all-pairs answer whenever no residual drop
    occurred. The representative pairs are persisted first: the lift
    reads the aggregate twice (union + join), and without the pin the
    expensive within-cluster join would execute once per read."""
    from pyspark.storagelevel import StorageLevel

    rep_pairs, chains = _dup_pair_parts(
        df,
        id_col=id_col,
        embedding_col=embedding_col,
        threshold=threshold,
        n_clusters=n_clusters,
        seed=seed,
        refine_kmeans=refine_kmeans,
        max_cluster=max_cluster,
        round_digits=4,
        observation=observation,
        recovery_observation=recovery_observation,
        n_rows_hint=n_rows_hint,
    )
    rep_pairs = rep_pairs.persist(StorageLevel.MEMORY_AND_DISK)
    d_rep = rep_pairs.groupBy(F.col("id_b").alias("dropped_id")).agg(
        F.min("id_a").alias("kept_id"),
        F.max("cos").alias("max_cos"),
    )
    rep_kept = d_rep.select(
        F.col("dropped_id").alias("__g"), F.col("kept_id").alias("__gk")
    )
    d_chain = (
        chains.join(rep_kept, chains["id_a"] == rep_kept["__g"], "left")
        .select(
            F.col("id_b").alias("dropped_id"),
            F.least(F.col("id_a"), F.col("__gk")).alias("kept_id"),
            F.lit(1.0).alias("max_cos"),
        )
    )
    return d_rep.unionByName(d_chain)


def prototypicality_prune(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    n_clusters: int = 32,
    prune_frac: float = 0.25,
    seed_tag: str = "#proto",
) -> DataFrame:
    """Prototypicality-based data pruning (Sorscher et al. 2022,
    "Beyond neural scaling laws: beating power law scaling via data
    pruning"): score every example by cosine similarity to its
    cluster's mean direction, then mark the most PROTOTYPICAL
    ``prune_frac`` of each cluster for removal — the paper's
    abundant-data regime, where easy/redundant points near the
    prototype contribute least to the loss.

    Spark-first shape (three bounded exchanges, no row blowup):
    1. Cluster seeds are an md5-ordered deterministic sample (the
       engine-reproducible ordering device of operators/sampling.py —
       any engine with md5 picks the SAME seeds, which is what lets
       the DuckDB oracle replay the full pipeline, unlike
       assign_clusters's xxhash64 sample). Assignment is the same
       literal-codebook argmax projection as assign_clusters: score
       the L2-normalized vector, snap to 6 decimals, first-max
       tiebreak — a codegen'd expression in the scan stage.
    2. Cluster mean directions: ONE groupBy(cluster_id) aggregate of
       per-dimension avg() columns (dim avg expressions, no
       posexplode row blowup), collected to the driver — C x dim
       values, the sanctioned bounded collect — and re-shipped as a
       LITERAL per-cluster lookup (element_at on an array-of-arrays),
       so scoring needs no join at all.
    3. proto_cos = round(cos(nv, mean), 4); rank within cluster by
       (proto_cos DESC, id) — a per-cluster window bounded by cluster
       occupancy (~corpus/C; same discipline as semantic_dup_pairs) —
       and prune rank <= floor(prune_frac * cluster size).

    Ranking uses the ROUNDED score, so the cross-engine order is
    identical everywhere the 1e-15-scale float-sum divergence does not
    cross a 0.5e-4 rounding boundary (~1e-11/row — the q92 contract).

    Pass structure (round-9, retiring the r7/r8 residual overhead):
    seeds are a TakeOrdered over the RAW frame (the md5 order needs no
    vector math, so the corpus is NOT normalized just to pick k seed
    rows); the persisted frame stores (id, __nv, cluster_id) so the
    32-dot argmax fold runs exactly once (at cache materialization,
    inside the means aggregate job); the scoring pass is then one
    cache scan with a literal mean lookup — two passes over the data
    total, the structural minimum for a mean-relative score.

    Cache lifetime: the persisted frame backs the RETURNED corpus-
    sized result, so there is no safe in-function unpersist point; the
    caller releases it with ``spark.catalog.clearCache()`` after its
    action (operators/__init__ on the persist lifecycle).
    """
    if not 0.0 <= prune_frac <= 1.0:
        raise ValueError(f"prune_frac must be in [0, 1], got {prune_frac}")
    from pyspark.sql import Window

    from pyspark.storagelevel import StorageLevel

    # domain predicate (fuzz-sweep find): zero-norm and NULL embeddings
    # have no cosine direction — l2_normalize yields an all-NULL vector
    # whose scores poison seeds and means differently per engine. Out
    # of domain, excluded identically here and in the SQL oracle (the
    # q106 w>0 posture).
    df = df.filter(norm(F.col(embedding_col).cast("array<double>")) > 0)
    nv = l2_normalize(F.col(embedding_col).cast("array<double>"))
    # seeds: TakeOrderedAndProject on (md5(id), id) over the raw frame,
    # then normalize ONLY the n_clusters winners — ordering needs no
    # vector math, so no corpus-wide normalize pass is paid here
    seeds = (
        df.select(F.col(id_col), F.col(embedding_col))
        .orderBy(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(seed_tag))).asc(),
            F.col(id_col).asc(),
        )
        .limit(n_clusters)
        .select(nv.alias("__nv"))
        .collect()
    )
    # seeds whose normalized form is NULL (zero-norm / NULL embedding)
    # cannot anchor a cluster — drop them rather than crash; contract
    # corpora have none, so oracle seed selection is unaffected
    cent_rows = [list(r["__nv"]) for r in seeds if r["__nv"] is not None]
    if not cent_rows:
        raise ValueError("prototypicality_prune: no usable (non-null) seed vectors")
    dim = len(cent_rows[0])
    n_clusters = len(cent_rows)
    # literal block as ONE parsed SQL string (the assign_clusters
    # py4j-round-trip lesson); _dlit keeps NaN/Inf seed components as
    # valid cast literals
    cents_lit = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(_dlit(x) for x in cv) + ")" for cv in cent_rows
        )
        + ")"
    )
    scores = F.transform(cents_lit, lambda c: F.round(dot(F.col("__nv"), c), 6))
    # single-pass argmax: ONE fold over the scores array, carrying
    # (position, best position, best score). The obvious
    # array_position(scores, array_max(scores)) evaluates the whole
    # 32-dot transform twice (round-7 q157 defect); `aggregate`
    # evaluates its input array exactly once, and the strict `>` keeps
    # array_position's first-max tiebreak on the snapped scores.
    best = F.aggregate(
        scores,
        F.struct(
            F.lit(0).alias("i"),
            F.lit(0).alias("best_i"),
            F.lit(None).cast("double").alias("best_s"),
        ),
        lambda acc, s: F.struct(
            (acc["i"] + 1).alias("i"),
            F.when(acc["best_s"].isNull() | (s > acc["best_s"]), acc["i"] + 1)
            .otherwise(acc["best_i"])
            .alias("best_i"),
            F.when(acc["best_s"].isNull() | (s > acc["best_s"]), s)
            .otherwise(acc["best_s"])
            .alias("best_s"),
        ),
    )
    # all-NULL scores (zero-norm / NULL embedding -> NULL __nv) must
    # yield a NULL cluster_id so the row drops before scoring — the
    # array_position form's behavior; the bare fold would otherwise
    # leave best_i at its n_clusters walking position (a silent
    # arbitrary label). __nv is a MULTI-use alias (the fold's 32 dots
    # + the stored column), so CollapseProject does not inline the
    # normalize chain (the r7 single-use-alias trap); the persist
    # below makes the whole (normalize + fold) evaluate exactly once,
    # at cache materialization inside the means job.
    assigned = (
        df.select(F.col(id_col), nv.alias("__nv"))
        .withColumn(
            "cluster_id",
            F.when(best["best_s"].isNotNull(), best["best_i"]).cast("int"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    mean_rows = (
        assigned.filter(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(*[F.avg(F.element_at("__nv", i + 1)).alias(f"__m{i}") for i in range(dim)])
        .collect()
    )
    # driver-side mean norms in the SAME fold order as vectors.norm
    # (left-to-right acc + v*v from 0.0), so the literal reproduces
    # the broadcast-join form's doubles bit-for-bit. Degenerate mean
    # components must render to VALID SQL, matching what the join form
    # propagated (round-9 review finding): a NaN/Inf component (one
    # poisoned embedding poisons its cluster's avg) renders as a cast
    # literal, never `nanD` (an unresolvable identifier that would
    # kill the whole prune); a NULL component (ragged vector shorter
    # than the seed dim -> avg(element_at)=NULL) makes the fold NULL,
    # so norm is rendered NULL and proto_cos degrades to NULL for that
    # cluster instead of crashing float(None) on the driver.
    import math

    mean_by_cid = {
        r["cluster_id"]: [r[f"__m{i}"] for i in range(dim)] for r in mean_rows
    }
    means_dense = [
        mean_by_cid.get(cid, [0.0] * dim) for cid in range(1, n_clusters + 1)
    ]
    norms_dense: list[float | None] = []
    for m in means_dense:
        if any(v is None for v in m):
            norms_dense.append(None)  # the in-plan fold would be NULL
            continue
        acc = 0.0
        for v in m:
            acc += v * v
        norms_dense.append(math.sqrt(acc))
    means_lit = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(_dlit(x) for x in mv) + ")" for mv in means_dense
        )
        + ")"
    )
    norms_lit = F.expr(
        "array(" + ", ".join(_dlit(x) for x in norms_dense) + ")"
    )
    scored = assigned.filter(F.col("cluster_id").isNotNull()).select(
        F.col(id_col),
        "cluster_id",
        F.round(
            F.try_divide(
                dot(F.col("__nv"), F.element_at(means_lit, F.col("cluster_id"))),
                F.element_at(norms_lit, F.col("cluster_id")),
            ),
            4,
        ).alias("proto_cos"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("proto_cos").desc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy("cluster_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .withColumn("__nc", F.count(F.lit(1)).over(wc))
        .select(
            F.col(id_col),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "proto_cos",
            (F.col("__rn") <= F.floor(F.lit(float(prune_frac)) * F.col("__nc"))).cast("int").alias("pruned"),
        )
    )


def semantic_contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    bench_id_col: str = "bench_id",
    bench_embedding_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int | None = None,
    seed: int = 42,
    round_digits: int = 4,
    n_rows_hint: int | None = None,
    observation=None,
) -> DataFrame:
    """SEMANTIC decontamination (round-10 VERDICT #4): corpus
    documents whose embedding is cosine->=``threshold`` similar to ANY
    benchmark embedding — the paraphrase-leakage complement to
    operators/decontam.py's lexical 8-gram contract (q66/q163), which
    a reworded benchmark answer walks straight through.

    Composition of the two proven scale shapes:

    - **k-means blocking (this module)**: corpus and benchmark are
      assigned through ONE shared codebook by unioning them into a
      single :func:`assign_clusters` pass under disjoint string keys
      (``c|id`` / ``b|id`` — the embeddings never collide however the
      caller keys them). Assignment is norm-invariant with 6-decimal
      score snapping, so a benchmark item that is a scaled copy of a
      corpus document PROVABLY lands in its cluster — the q89 recall
      anchor, which is what makes an exact oracle possible.
    - **benchmark broadcast (decontam's contract)**: the benchmark is
      small by definition, so the within-cluster compare is a
      ``broadcast`` hash join on ``cluster_id`` — the corpus shuffles
      NOTHING (one scan + map-side join), and each corpus row computes
      exact cosine only against the benchmark members of ITS cluster
      (~|bench|/C of the benchmark) instead of all of it.

    Returns ``(id_col, n_bench_hits, bench_id, max_cos)`` — hit count,
    the MINIMUM hitting benchmark id, and the maximum cosine (rounded
    at ``round_digits``), one row per contaminated corpus id.

    ``observation`` (optional ``Observation``) records
    ``pairs_evaluated`` — the number of (corpus, bench) candidate
    pairs the blocking let through; tests assert it is well under
    |corpus| x |bench| (the blocking is real, not decorative).

    Like every family member: no caps are needed here because the
    pair expansion is corpus-row x same-cluster-bench — bounded by the
    broadcast side, never quadratic in a hot cluster.

    ``n_clusters=None`` sizes the codebook from the BENCHMARK (one
    cheap count of the small side; ~8 bench items per cluster,
    clamped to [16, 4096]) — NOT from the corpus like the dedup
    auto-count: corpus-proportional codebooks make flat assignment
    O(n*C) = O(n^2/occupancy) total, while a bench-sized codebook
    keeps per-row assignment cost CONSTANT for a fixed benchmark
    (linear in the corpus, the x10 smoke's measured shape) and still
    bounds the pair expansion at ~8 bench candidates per corpus row.
    The recall anchor is codebook-size-independent (direction-equal
    vectors co-cluster at any C).
    """
    if n_clusters is None:
        n_bench = benchmark.count()  # small by definition
        n_clusters = max(16, min(4096, n_bench // 8 + 1))
    # the LITERAL __side tag (not a parsable prefix of the key) is what
    # lets Catalyst prune: filtering the union output on __side folds
    # to `false` inside the other branch's child, so the corpus scan
    # never runs to build the broadcast side and vice versa — without
    # it the broadcast build re-scanned the full corpus parquet
    cs = corpus.select(
        F.concat(F.lit("c|"), F.col(id_col).cast("string")).alias("__k"),
        F.col(embedding_col).alias("__emb"),
        F.lit("c").alias("__side"),
    )
    bs = benchmark.select(
        F.concat(F.lit("b|"), F.col(bench_id_col).cast("string")).alias("__k"),
        F.col(bench_embedding_col).alias("__emb"),
        F.lit("b").alias("__side"),
    )
    assigned = assign_clusters(
        cs.unionByName(bs),
        id_col="__k",
        embedding_col="__emb",
        n_clusters=n_clusters,
        seed=seed,
        n_rows_hint=n_rows_hint,
        passthrough_cols=("__side",),
    ).withColumn("__nv", l2_normalize(F.col("__emb").cast("array<double>")))
    # ids are cast back to their NATIVE input types right here, before
    # any aggregate: min() over the string render would order '10'
    # before '9' and the output schema would silently widen to string
    corp_id_t = corpus.schema[id_col].dataType
    bench_id_t = benchmark.schema[bench_id_col].dataType
    corp = assigned.filter(F.col("__side") == "c").select(
        F.expr("substring(__k, 3)").cast(corp_id_t).alias("__cid"),
        F.col("cluster_id"),
        F.col("__nv").alias("__cnv"),
    )
    ben = assigned.filter(F.col("__side") == "b").select(
        F.expr("substring(__k, 3)").cast(bench_id_t).alias("__bid"),
        F.col("cluster_id"),
        F.col("__nv").alias("__bnv"),
    )
    pairs = corp.join(F.broadcast(ben), "cluster_id").withColumn(
        "__cos", F.round(dot(F.col("__cnv"), F.col("__bnv")), round_digits)
    )
    if observation is not None:
        pairs = pairs.observe(
            observation, F.count(F.lit(1)).alias("pairs_evaluated")
        )
    hits = pairs.filter(F.col("__cos") >= F.lit(float(threshold)))
    out = hits.groupBy("__cid").agg(
        F.count(F.lit(1)).alias("n_bench_hits"),
        F.min("__bid").alias("bench_id"),
        F.max("__cos").alias("max_cos"),
    )
    return out.select(
        F.col("__cid").alias(id_col),
        "n_bench_hits",
        "bench_id",
        "max_cos",
    )
