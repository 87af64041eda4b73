"""Product quantization (PQ) for compressed-vector ANN search
(Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", IEEE TPAMI 2011 — public paper).

Complements the IVF index (operators/similarity.py): IVF prunes WHICH
vectors a probe scans; PQ shrinks WHAT is scanned — each D-dim float
vector becomes ``m`` small codes (one per D/m-dim subspace, each the
id of the nearest codebook centroid), a 16-64x size reduction. A query
is answered with Asymmetric Distance Computation (ADC): a tiny m x k
lookup table of exact query-to-centroid subdistances is built ONCE
driver-side, and each stored vector's approximate distance is the sum
of m table lookups — no float vectors are read at probe time.

Spark-first shapes, mirroring the IVF decisions at similarity.py:80:
- Codebooks are small by definition (m * k * D/m floats) — they live
  driver-side and inline into expressions as literal arrays, exactly
  like IVF's literal-centroid argmax. Encoding is therefore a pure
  projection inside the scan stage: no join, no shuffle, no UDF.
- The ADC probe is a projection over the codes table (m element_at
  lookups + a sum) followed by TakeOrderedAndProject — per-partition
  k-heaps, only k rows cross the wire.
- The codes table is the persistable artifact: at 100 TB you store
  (id, codes array<int>) — 1/16th the bytes of the raw vectors — and
  re-rank an ADC shortlist against the full vectors fetched for
  shortlist ids only (``pq_search_rerank``).

Cost guard: encode unrolls m * k subspace dot products into one
codegen'd expression (the q82 trade: one-time compile for a 7x faster
steady state). ``m * k`` is capped so the expression stays within
what whole-stage codegen compiles comfortably.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# m * k ceiling for the unrolled encode expression (q82 compiled 96
# unrolled dots comfortably; 512 subspace-dots of D/m dims is the same
# order of generated code).
MAX_UNROLLED_CELLS = 1024

Codebooks = list[list[list[float]]]  # m subspaces x k centroids x (D/m) dims


def _slice_col(vec: Column, j: int, sub_dim: int) -> Column:
    """j-th subvector (0-based) of a D-dim array column."""
    return F.slice(vec, j * sub_dim + 1, sub_dim)


def _check_shape(codebooks: Codebooks) -> tuple[int, int, int]:
    m = len(codebooks)
    if m == 0 or any(len(cb) == 0 for cb in codebooks):
        raise ValueError("codebooks must be non-empty per subspace")
    k = max(len(cb) for cb in codebooks)
    sub_dim = len(codebooks[0][0])
    if m * k > MAX_UNROLLED_CELLS:
        raise ValueError(
            f"m*k = {m * k} exceeds MAX_UNROLLED_CELLS ({MAX_UNROLLED_CELLS}); "
            "use fewer/smaller codebooks or shard the encode"
        )
    return m, k, sub_dim


def pq_train_distinct(
    df: DataFrame,
    *,
    m: int,
    embedding_col: str = "embedding",
    max_codebook: int = 64,
) -> Codebooks:
    """Exact-regime codebooks: each subspace's codebook is the SORTED
    list of distinct subvectors occurring in the data. Encoding is then
    lossless (every subvector is its own centroid), so ADC distance
    equals the true squared L2 distance — the oracle-checkable regime
    (q98), and the degenerate end of the PQ accuracy spectrum. Errors
    loudly if any subspace has more than ``max_codebook`` distinct
    values (this path is for low-cardinality/planted data; production
    uses pq_train_kmeans)."""
    vec = F.col(embedding_col).cast("array<double>")
    dim = len(df.select(vec.alias("v")).first()["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    # ONE distributed pass for all m subspaces: explode each row into
    # its m (subspace, subvector) pairs, distinct, collect. The result
    # is bounded by m * max_codebook rows by precondition.
    pairs = df.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("j"), _slice_col(vec, j, sub).alias("sv"))
                for j in range(m)
            ])
        ).alias("p")
    ).select("p.j", "p.sv").distinct().collect()
    books: Codebooks = [[] for _ in range(m)]
    for r in pairs:
        books[r["j"]].append([float(x) for x in r["sv"]])
    for j, cb in enumerate(books):
        if len(cb) > max_codebook:
            raise ValueError(
                f"subspace {j} has {len(cb)} distinct subvectors > max_codebook "
                f"{max_codebook}; exact-regime PQ needs low-cardinality subvectors"
            )
        cb.sort()
    return books


def pq_train_kmeans(
    df: DataFrame,
    *,
    m: int,
    k: int = 16,
    embedding_col: str = "embedding",
    seed: int = 42,
    sample_cap: int = 100_000,
) -> Codebooks:
    """Production codebooks: per-subspace k-means (pyspark.ml) fit on a
    deterministic hash-ordered sample of at most ``sample_cap`` rows —
    codebook fitting needs a representative sample, not the corpus
    (the semdedup sample-fit argument; at 100 TB you never k-means the
    full table). Build-once path: m small ml fits, never per query."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vec = F.col(embedding_col).cast("array<double>")
    dim = len(df.select(vec.alias("v")).first()["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    sample = (
        df.select(vec.alias("v"), F.xxhash64(F.col(embedding_col).cast("string"), F.lit(seed)).alias("h"))
        .orderBy("h")
        .limit(sample_cap)
        .select("v")
        .cache()
    )
    books: Codebooks = []
    for j in range(m):
        feats = sample.select(array_to_vector(_slice_col(F.col("v"), j, sub)).alias("features"))
        model = KMeans(k=k, seed=seed + j, maxIter=10).fit(feats)
        books.append(sorted([float(x) for x in c] for c in model.clusterCenters()))
    sample.unpersist()
    return books


def pq_encode(
    df: DataFrame,
    codebooks: Codebooks,
    *,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): per subspace, the 0-based index of the
    nearest centroid by squared L2 — argmin ||x_j - c||^2 = argmin
    (|c|^2 - 2 x_j . c), with |c|^2 precomputed driver-side so the
    per-row work is k dot products of D/m dims per subspace. Ties break
    to the lowest code (array_position returns the first minimum;
    codebooks are sorted). Pure projection: no join, no shuffle."""
    m, _, sub = _check_shape(codebooks)

    # The m*k*sub literal tree is generated as ONE SQL string and
    # parsed JVM-side in a single call. Building it from Column ops
    # (lit/array/zip_with per centroid component) costs thousands of
    # py4j round trips — measured ~6 s of DRIVER time per invocation
    # at m=16, k=16, before any executor work (the bulk of q98's local
    # cost). The parsed expression tree, and therefore the generated
    # code and float-op order, is identical to the Column form.
    vec_sql = f"cast(`{embedding_col}` as array<double>)"

    def dlit(x: float) -> str:
        return f"{float(x)!r}D"

    def code_sql(j: int) -> str:
        xj = f"slice({vec_sql}, {j * sub + 1}, {sub})"
        scores = ", ".join(
            f"{dlit(sum(c * c for c in cent))} - (2.0D * aggregate("
            f"zip_with({xj}, array({', '.join(dlit(c) for c in cent)}), (a, b) -> a * b), "
            f"0.0D, (acc, x) -> acc + x))"
            for cent in codebooks[j]
        )
        return (
            f"cast(array_position(array({scores}), array_min(array({scores}))) - 1 as int)"
        )

    codes = f"array({', '.join(code_sql(j) for j in range(m))})"
    return df.select(F.col(id_col), F.expr(codes).alias("codes"))


def pq_adc_distances(
    codes_df: DataFrame,
    query: list[float],
    codebooks: Codebooks,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, adc_dist): Asymmetric Distance Computation — the exact
    squared L2 between each query subvector and every centroid is a
    driver-side m x k table (m * k * D/m float ops, microseconds);
    each row's distance is then m element_at lookups + a sum, inside
    whole-stage codegen. No vectors are read — only codes."""
    m, _, sub = _check_shape(codebooks)
    if len(query) != m * sub:
        raise ValueError(f"query dim {len(query)} != {m * sub}")
    tables = []
    for j in range(m):
        qj = query[j * sub : (j + 1) * sub]
        tables.append([
            sum((a - b) * (a - b) for a, b in zip(qj, cent)) for cent in codebooks[j]
        ])
    # single SQL string for the m LUT lookups — same py4j-round-trip
    # economy as pq_encode's generated expression
    terms = " + ".join(
        f"element_at(array({', '.join(f'{float(v)!r}D' for v in tables[j])}), "
        f"element_at(codes, {j + 1}) + 1)"
        for j in range(m)
    )
    return codes_df.select(F.col(id_col), F.expr(terms).alias("adc_dist"))


def pq_adc_topk(
    codes_df: DataFrame,
    query: list[float],
    codebooks: Codebooks,
    *,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by ADC distance (ascending), vec-id tiebreak → compiles to
    TakeOrderedAndProject: per-partition k-heaps, k rows to the driver."""
    return (
        pq_adc_distances(codes_df, query, codebooks, id_col=id_col)
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_search_rerank(
    codes_df: DataFrame,
    vectors_df: DataFrame,
    query: list[float],
    codebooks: Codebooks,
    *,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """The deployed PQ shape: ADC shortlist over the codes table, then
    EXACT squared-L2 re-rank of only the shortlist ids against the full
    vectors (a broadcast semi-join of ``shortlist`` ids — the only rows
    whose float vectors are ever read). Recall is set by ``shortlist``,
    cost by the codes scan."""
    short = pq_adc_topk(codes_df, query, codebooks, k=shortlist, id_col=id_col).select(id_col)
    vec = F.col(embedding_col).cast("array<double>")
    qlit = F.array(*[F.lit(float(x)) for x in query])
    exact = F.aggregate(
        F.zip_with(vec, qlit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        vectors_df.join(F.broadcast(short), id_col)
        .select(F.col(id_col), exact.alias("l2sq"))
        .orderBy(F.col("l2sq").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Persisted PQ artifact: the build-once / probe-many deployment shape
# (mirrors ivf_write / ivf_load and minhash_write / minhash_load). At
# 100 TB the codes table — (id, codes array<int>), ~1/16th the raw
# vector bytes — is what lives on disk; training and encoding are paid
# once at build time, and a probe touches ONLY the codes parquet plus
# the O(m*k) driver-side codebooks.
# ---------------------------------------------------------------------------

def _load_codebooks(spark, path: str) -> Codebooks:
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    if not rows:
        raise ValueError(f"no codebooks found under {path}/codebooks")
    books: Codebooks = [[] for _ in range(1 + max(r["j"] for r in rows))]
    for r in sorted(rows, key=lambda r: (r["j"], r["code"])):
        if r["code"] != len(books[r["j"]]):
            raise ValueError(
                f"codebook for subspace {r['j']} has a gap at code {r['code']}"
            )
        books[r["j"]].append([float(x) for x in r["centroid"]])
    _check_shape(books)
    return books


def pq_write(codes_df: DataFrame, codebooks: Codebooks, path: str) -> None:
    """Persist a PQ index: the codes table under ``path`` plus the
    O(m*k) codebooks alongside (one row per (subspace, code) —
    driver-sized by construction, same posture as IVF's centroids
    artifact)."""
    spark = codes_df.sparkSession
    m, _, _ = _check_shape(codebooks)
    rows = [
        (j, c, codebooks[j][c]) for j in range(m) for c in range(len(codebooks[j]))
    ]
    spark.createDataFrame(rows, "j int, code int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/codebooks")
    codes_df.write.mode("overwrite").parquet(f"{path}/codes")


def pq_load(spark, path: str) -> tuple[DataFrame, Codebooks]:
    """(codes DataFrame, codebooks) from a ``pq_write`` artifact. The
    codes table stays lazy; only the codebooks collect."""
    return spark.read.parquet(f"{path}/codes"), _load_codebooks(spark, path)
