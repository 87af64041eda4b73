"""Near-duplicate detection at scale (SURVEY.md §2.11): MinHash+LSH,
SimHash, n-gram Jaccard, and embedding-cosine near-dup.

All hot-path math is built-in higher-order functions over arrays (JVM,
codegen); Python only assembles expressions. Hash constants are
deterministic (seeded off indices), so every run — and every retry on a
1000-executor cluster — produces identical signatures.

Scale shapes:
- MinHash LSH: shingle -> 64-bit hash -> k min-hash lanes -> band keys.
  Candidate generation is a self-equi-join on (band_idx, band_hash) —
  a hash-partition shuffle, NOT an O(n^2) cross join. Bucket-size cap
  guards against degenerate keys (e.g. empty docs all hashing equal).
- SimHash: 64-bit signature, banded into 4x16-bit keys -> same
  equi-join trick for candidates with Hamming distance <= ~3/band miss.
- Embedding near-dup: blocked self-join on a coarse bucket (label, IVF
  centroid, or LSH sign-code) + exact cosine inside the block.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from usajobs_etl_service_spark.functions.text import shingles
from usajobs_etl_service_spark.functions.vectors import cosine
from usajobs_etl_service_spark.plans.barrier import barrier_filter


def _cap_drop_metrics(max_bucket: int) -> tuple[Column, Column]:
    """Aggregate expressions measuring what the hot-bucket cap discards,
    for ``Dataset.observe``. ``dropped_rows`` = banded rows in saturated
    buckets; ``dropped_buckets`` = saturated bucket count (each of a
    saturated bucket's n rows contributes weight 1/n, so the sum counts
    buckets exactly — double-exact for n < 2^52). Zero means the cap
    did not bind and candidate recall paid nothing for the guard."""
    dropped = F.col("n") > max_bucket
    return (
        F.sum(dropped.cast("long")).alias("dropped_rows"),
        F.round(F.sum(F.when(dropped, 1.0 / F.col("n")).otherwise(0.0)))
        .cast("long")
        .alias("dropped_buckets"),
    )


def _cap_buckets(banded: DataFrame, max_bucket: int, *, metric_name: str, observation=None) -> DataFrame:
    """Hot-key guard shared by every LSH candidate path: window-count
    the (band, key) bucket sizes (ONE shuffle, spill-safe), drop
    singleton buckets and buckets larger than ``max_bucket`` BEFORE
    anything quadratic can happen.

    The cap trades recall for boundedness, so the trade is never
    silent: drop counters (``_cap_drop_metrics``) are attached via
    ``observe`` — readable per-query from a passed
    ``pyspark.sql.Observation`` (tests, scale smokes) and visible to
    QueryExecutionListeners / the SQL UI under ``metric_name``.

    Known Spark caveat (measured on 4.1.2): if AQE's empty-relation
    propagation collapses the WHOLE query to an empty LocalRelation —
    only possible when every bucket is dropped and the final result is
    empty — the CollectMetrics node is elided with it and the
    Observation never populates (``.get`` raises). Any query with
    non-empty output carries the metrics; to diagnose a fully-emptied
    degenerate run, re-run it with ``spark.sql.adaptive.enabled=false``
    (tools/scale_smoke.py does this automatically)."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "key")
    counted = banded.withColumn("n", F.count(F.lit(1)).over(w))
    counted = counted.observe(
        observation if observation is not None else metric_name, *_cap_drop_metrics(max_bucket)
    )
    return counted.filter(F.col("n").between(2, max_bucket)).drop("n")


def minhash_signature(text_col: Column, num_hashes: int = 128, shingle_k: int = 5, seed: int = 42) -> Column:
    """MinHash signature (array<long>, length ``num_hashes``) over word
    k-gram shingles. One pass per row; no shuffle.

    Each lane uses an independently-seeded 64-bit hash
    (``xxhash64(shingle_hash, lane_seed)``) rather than an affine
    ``(a*h+b) mod p`` family: with ANSI-safe small multipliers the affine
    maps don't wrap the modulus, every lane's min collapses onto the
    globally-smallest shingle, and the Jaccard estimate is badly biased
    (observed 0.28 and 0.88 for a true J of 0.58). Seeded rehashing is
    min-wise independent and costs one extra codegen'd hash per lane.
    """
    # Lane i rehashes the shingle hash with an independent seed. Cheaper
    # families were tried and rejected for bias: an affine (a*h+b) mod p
    # with ANSI-safe small `a` never wraps the modulus, and the
    # 2-universal g_i = h1 + i*h2 keeps i*h2 tiny next to h1's spread —
    # in both, every lane's min collapses onto the same argmin shingle
    # and the Jaccard estimate is wildly off (0.28 / 0.88 for true 0.58).
    base = F.transform(shingles(text_col, shingle_k), lambda s: F.xxhash64(s))
    # single fold computing all lane minima at once: `base` is referenced
    # exactly once (64 per-lane array_min(transform(base,...)) expressions
    # would duplicate the whole shingle pipeline per lane — observed 40x
    # slowdown at sf0.1)
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_hashes)
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.xxhash64(h, F.lit(seed * 1_000_003 + i)) for i in range(num_hashes)]),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_signatures_df(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    num_hashes: int = 128,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Batch form of ``minhash_signature``: explode shingles, then one
    hash-aggregate with ``num_hashes`` codegen'd ``min()`` lanes.

    Identical signature values to the Column form, much faster in bulk:
    tokens materialize as a column before shingling (HOF lambdas
    re-evaluate referenced expressions per array element, so inlining
    the tokenizer re-runs regex+split once per shingle), and the lanes
    are plain partial+final min aggregates (map-side combine -> the
    shuffle carries num_hashes longs per doc). Returns
    (id, sig array<long>)."""
    from usajobs_etl_service_spark.functions.text import normalized_text, shingles_from_tokens

    toks = df.select(
        F.col(id_col).alias("id"), F.split(normalized_text(F.col(text_col)), r"\s+").alias("toks")
    )
    ex = toks.select("id", F.explode(shingles_from_tokens(F.col("toks"), shingle_k)).alias("s"))
    hashed = ex.select("id", F.xxhash64("s").alias("h"))
    # all lanes in ONE SQL expression parsed JVM-side: the per-lane
    # Column construction was ~500 py4j round trips of driver time per
    # call (construction is inside bench.py's timed region — the
    # simhash_signatures_df argument); an array of aggregates is the
    # identical partial+final min plan
    lanes = ", ".join(
        f"min(xxhash64(h, {seed * 1_000_003 + i}))" for i in range(num_hashes)
    )
    return hashed.groupBy("id").agg(F.expr(f"array({lanes})").alias("sig"))


def signature_similarity(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard = fraction of matching MinHash lanes."""
    matches = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return matches.cast("double") / F.size(sig_a)


def lsh_band_keys(sig_col: Column, bands: int, rows_per_band: int, *, band_offset: int = 0) -> Column:
    """array<struct<band:int, key:long>> — hash each band of the
    signature; equal band-key => candidate pair. ``band_offset`` shifts
    the band ids so several (bands, rows) resolutions can share one
    bucket join without cross-config collisions; callers pass the running
    sum of preceding configs' band counts (a fixed per-config stride
    would silently merge buckets once any config exceeded the stride)."""
    offset = band_offset
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            (b + offset).cast("int").alias("band"),
            F.xxhash64(F.concat_ws(",", F.slice(sig_col, b * rows_per_band + 1, rows_per_band)), b).alias(
                "key"
            ),
        ),
    )


def minhash_write(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    shingle_k: int = 5,
    seed: int = 42,
) -> None:
    """Persist the MinHash signature table as a build-once artifact
    (the IVF-index pattern, similarity.ivf_write): signatures are a
    pure function of the corpus and are reused across LSH band configs
    and thresholds — at 100 TB the signature scan is the expensive
    stage and should be paid once, not per near-dup query."""
    minhash_signatures_df(
        df, id_col=id_col, text_col=text_col, num_hashes=num_hashes, shingle_k=shingle_k, seed=seed
    ).write.mode("overwrite").parquet(path)


def minhash_load(spark, path: str) -> DataFrame:
    """Load a signature table persisted by ``minhash_write`` (columns:
    id, sig)."""
    return spark.read.parquet(path)


def minhash_pairs_from_sigs(
    sigs: DataFrame,
    *,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    extra_band_configs: list[tuple[int, int]] | None = None,
    observation=None,
) -> DataFrame:
    """Near-dup pairs from a PERSISTED signature table — the 100 TB
    query shape. The inline ``minhash_near_dup_pairs`` must carry the
    full signature through the banded shuffle (bands x sig bytes per
    doc: with 32 bands and 128 lanes, ~32 KB/doc — the dominant
    shuffle at corpus scale) because recomputing signatures for the
    verify stage would replan the whole signature aggregate (AQE does
    not reuse it across subtrees — measured, see SCALE.md). With
    signatures persisted, banded rows carry only (id, band, key)
    (~24 B per band-row) and the verify stage equi-joins the signature
    table per pair side: re-reading a columnar signature table is
    cheap sequential IO, so the bands-fold duplication disappears.
    Identical results to the inline path."""
    configs = [(bands, num_hashes // bands)] + list(extra_band_configs or [])
    from functools import reduce
    from itertools import accumulate

    offsets = [0] + list(accumulate(b_n for b_n, _ in configs[:-1]))
    banded = reduce(
        lambda x, y: x.unionByName(y),
        (
            sigs.select(
                "id", F.explode(lsh_band_keys(F.col("sig"), b_n, r_n, band_offset=off)).alias("bk")
            )
            for off, (b_n, r_n) in zip(offsets, configs)
        ),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    banded = _cap_buckets(banded, max_bucket, metric_name="minhash_sig_lsh_cap", observation=observation)
    buckets = banded.groupBy("band", "key").agg(F.array_sort(F.collect_list("id")).alias("ids"))
    lhs = buckets.select(F.posexplode("ids").alias("i", "id_a"), "ids")
    pairs = lhs.select(
        "id_a",
        F.explode(F.slice(F.col("ids"), F.col("i") + F.lit(2), F.size("ids"))).alias("id_b"),
    ).dropDuplicates(["id_a", "id_b"])
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", F.round(signature_similarity(F.col("sig_a"), F.col("sig_b")), 4))
        # barrier: a plain filter gets the 128-lane signature fold
        # substituted into the Filter condition (PushDownPredicates),
        # re-evaluating it per row on top of the projection
        .transform(lambda d: barrier_filter(d, F.col("est_jaccard") >= threshold))
        .select("id_a", "id_b", "est_jaccard")
    )


def _bucket_pairs(buckets: DataFrame) -> DataFrame:
    """Expand each bucket's sorted ``ms`` member array (struct<id, sig>)
    into ordered i<j pairs with BOUNDED per-row memory.

    Shape: posexplode the bucket once (each output row carries one member
    plus the bucket array, O(max_bucket * sig) bytes), then explode each
    member's partner slice. The previous single-expression form flattened
    ALL in-bucket pairs into one array value first — at max_bucket=1000
    and 128-long signatures that is ~500k structs x 2x128 longs (~1-2 GB)
    inside a single GenerateExec row, an executor OOM hazard on hot
    template buckets. Here no intermediate value ever exceeds the bucket
    array itself. Both explodes run in the same stage (no extra shuffle).
    """
    lhs = buckets.select(F.posexplode("ms").alias("i", "x"), "ms")
    return lhs.select(
        F.col("x.id").alias("id_a"),
        F.col("x.sig").alias("sig_a"),
        F.explode(F.slice(F.col("ms"), F.col("i") + F.lit(2), F.size("ms"))).alias("y"),
    ).select("id_a", "sig_a", F.col("y.id").alias("id_b"), F.col("y.sig").alias("sig_b"))


def minhash_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_k: int = 5,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    seed: int = 42,
    extra_band_configs: list[tuple[int, int]] | None = None,
    observation=None,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, est_jaccard >= threshold).

    Plan: signature scan -> explode band keys -> self-equi-join on the
    band key (shuffle partitioned by key) -> dedup candidate pairs ->
    exact signature-similarity filter. ``max_bucket`` drops degenerate
    buckets (hot-key guard) and is logged as a coverage cap.

    ``extra_band_configs``: additional ``(bands, rows_per_band)``
    resolutions banded over the SAME signatures and unioned into the
    candidate set (multi-resolution LSH). A looser config (fewer rows
    per band) raises recall near the threshold; the exact-similarity
    verify stage keeps precision, so extra configs only ever add
    candidates, never wrong results.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "trailing signature lanes would be silently excluded from every "
            "band key, lowering candidate recall"
        )
    configs = [(bands, num_hashes // bands)] + list(extra_band_configs or [])
    for b_n, r_n in configs[1:]:
        if b_n * r_n > num_hashes:
            raise ValueError(f"band config ({b_n}, {r_n}) needs {b_n * r_n} lanes > num_hashes ({num_hashes})")
    from pyspark.storagelevel import StorageLevel

    sigs = minhash_signatures_df(
        df, id_col=id_col, text_col=text_col, num_hashes=num_hashes, shingle_k=shingle_k, seed=seed
    ).persist(StorageLevel.MEMORY_AND_DISK)
    from functools import reduce
    from itertools import accumulate

    offsets = [0] + list(accumulate(b_n for b_n, _ in configs[:-1]))
    banded = reduce(
        lambda x, y: x.unionByName(y),
        (
            sigs.select(
                "id", F.explode(lsh_band_keys(F.col("sig"), b_n, r_n, band_offset=off)).alias("bk")
            )
            for off, (b_n, r_n) in zip(offsets, configs)
        ),
    )
    banded = banded.select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    # Candidate generation WITHOUT a self-join, and WITHOUT signatures in
    # the hot exchange. The banded stream is (id, band, key) — ~24 B/row
    # instead of the ~1 KB/row of carrying the 128-lane signature, which
    # at the 100x smoke was the family's only spill (8.2 GB through the
    # window sort). Shape:
    #   1. window count over (band, key) — ONE narrow-row shuffle,
    #      spill-safe, dropping singleton buckets (the overwhelming
    #      majority) and degenerate hot keys > max_bucket BEFORE anything
    #      quadratic can happen;
    #   2. collect_list per surviving bucket — same (band, key)
    #      partitioning, no new exchange, agg buffer bounded by
    #      max_bucket ids;
    #   3. expression-level i<j pair expansion, then the pair dedup on
    #      16 B rows (cheap now, and it shrinks the verify joins);
    #   4. exact signature-similarity verify via two id-keyed joins
    #      against the PERSISTED signature frame — the persist is what
    #      keeps the expensive signature pipeline computed once even
    #      though the plan now references it three times (banding + two
    #      verify sides); the join exchanges move each signature once,
    #      bounded by corpus size, not by banded-duplicate count.
    banded = _cap_buckets(banded, max_bucket, metric_name="minhash_lsh_cap", observation=observation)
    buckets = banded.groupBy("band", "key").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    lhs = buckets.select(F.posexplode("ids").alias("i", "id_a"), "ids")
    pairs = lhs.select(
        "id_a",
        F.explode(F.slice(F.col("ids"), F.col("i") + F.lit(2), F.size("ids"))).alias("id_b"),
    ).dropDuplicates(["id_a", "id_b"])
    return (
        pairs.join(sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .withColumn("est_jaccard", F.round(signature_similarity(F.col("sig_a"), F.col("sig_b")), 4))
        # barrier: a plain filter gets the 128-lane signature fold
        # substituted into the Filter condition (PushDownPredicates),
        # re-evaluating it per row on top of the projection
        .transform(lambda d: barrier_filter(d, F.col("est_jaccard") >= threshold))
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(text_col: Column) -> Column:
    """64-bit SimHash over whitespace tokens: per-bit weighted vote of
    token hashes, sign -> bit. Returns long."""
    from usajobs_etl_service_spark.functions.text import tokens_ws

    token_hashes = F.transform(tokens_ws(F.lower(text_col)), lambda t: F.xxhash64(t))
    zero64 = F.array_repeat(F.lit(0), 64)
    # shiftright's bit count must be a Python int -> unroll the 64 bits
    votes = F.aggregate(
        token_hashes,
        zero64,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                    for j in range(64)
                ]
            ),
            lambda x, y: x + y,
        ),
    )
    # fold votes into a signed 64-bit int; bit 63's weight is Long.MIN_VALUE
    # (two's complement), and the fold is bitwise OR so ANSI sum() can't overflow
    powers = F.array(*[F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long") for j in range(64)])
    bits = F.zip_with(votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")))
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc.bitwiseOR(v))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures: popcount(a XOR b)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures_df(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Batch form of ``simhash64``: explode tokens, 64 codegen'd ±1-sum
    aggregates (one per bit), then fold the votes into the signature.
    Identical values to the Column form; avoids the per-token 64-array
    allocation of the fold (same lesson as minhash_signatures_df)."""
    from functools import reduce

    from usajobs_etl_service_spark.functions.text import tokens_ws

    # Packed-counter capacity: field k=3 sits at bit 48, so its count must
    # stay <= 32767 to keep the summed long under 2^63 (ANSI overflow is an
    # error); that bounds tokens/doc at 32767. Slice before explode so a
    # pathological document degrades to a (valid) prefix signature instead
    # of corrupting adjacent counters or failing the job.
    toks = F.slice(tokens_ws(F.lower(F.col(text_col))), 1, 32767)
    ex = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("t"))
    hashed = ex.select("id", F.xxhash64("t").alias("h"))
    # pack 4 per-bit ones-counters into each long (16-bit fields): 16
    # sum aggregates instead of 64 cuts whole-stage-codegen compile time
    # ~4x. The expressions are built as ONE SQL string parsed JVM-side:
    # the equivalent Column-by-Column construction is ~700 py4j round
    # trips, measured 3.4 s of driver time per call — construction is
    # inside bench.py's timed region (guide §1), and parsing the same
    # tree from SQL is milliseconds. Semantics are unchanged
    # expression-for-expression.
    def packed(g: int) -> str:
        return " + ".join(
            f"shiftleft(cast(shiftright(h, {4 * g + k}) & 1 as bigint), {16 * k})"
            for k in range(4)
        )

    aggs = [F.expr(f"sum({packed(g)})").alias(f"p{g}") for g in range(16)]
    votes = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *aggs)
    # bit j set iff ones_j > n/2  (votes_j = 2*ones_j - n > 0); bit 63's
    # weight is Long.MIN_VALUE (two's complement) spelled as a shift so
    # the SQL parser never sees an overflowing literal
    terms = []
    for j in range(64):
        g, k = divmod(j, 4)
        w = (
            "shiftleft(cast(1 as bigint), 63)"
            if j == 63
            else f"cast({1 << j} as bigint)"
        )
        terms.append(
            f"(case when (shiftright(p{g}, {16 * k}) & 65535) * 2 > n"
            f" then {w} else cast(0 as bigint) end)"
        )
    return votes.select("id", F.expr(" | ".join(terms)).alias("sig"))


def _simhash_rem48(sig: str, band: str) -> Column:
    """The 48 signature bits OUTSIDE 16-bit band ``band``, packed into
    the low 48 bits of a long (remaining bands in ascending index
    order). ``band`` is a data column bounded to {0,1,2,3}, so the
    band-dependent shifts unroll into a 4-way CASE of literal-shift
    expressions (shift amounts must be Python ints in codegen). Args
    are COLUMN NAMES: the tree is built as one SQL string parsed
    JVM-side (the simhash_signatures_df construction-cost argument)."""

    def rem_for(b: int) -> str:
        return " | ".join(
            f"shiftleft(shiftrightunsigned({sig}, {16 * j}) & 65535, {16 * i})"
            for i, j in enumerate(jj for jj in range(4) if jj != b)
        )

    cases = " ".join(f"when {band} = {b} then ({rem_for(b)})" for b in range(4))
    return F.expr(f"case {cases} end")


def simhash_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 1000,
    sn_chunk: int = 64,
    observation=None,
    recovery_observation=None,
) -> DataFrame:
    """Candidate pairs via 4x16-bit band equality (any doc pair with
    Hamming distance <= 3 shares at least one exact band by pigeonhole
    when bands=4), then exact Hamming filter.

    Domain: documents with ZERO whitespace tokens (empty/whitespace-
    only text) carry no signature and are excluded from banding — a
    SimHash over an empty feature set is degenerate, and at corpus
    scale the empty-doc population would otherwise concentrate into
    one saturated bucket. Exact dedup (dedup.py) owns empties.

    Saturated buckets are RECOVERED, not dropped. SimHash cannot widen
    its bands the way SRP auto-scales planes (4x16 bits is pigeonhole-
    pinned for Hamming<=3 over 64 bits), so corpus growth concentrates
    rows into hot band keys; the previous ``_cap_buckets`` guard
    discarded those rows wholesale (measured: 980k banded rows / 363
    buckets at the 100x smoke). The recovery is two-tier and branch-
    free (one lineage — no fit/saturated split, so the signature
    aggregation appears exactly once in the plan STRUCTURALLY, not via
    planner exchange-reuse, which Spark 4.1.2 only applies at AQE
    runtime):

    1. Every row in a bucket with n > max_bucket is re-exploded into 4
       sub-bands of 12 bits over the 48 bits OUTSIDE its saturated
       band. Pigeonhole again: a true pair (Hamming <= 3) sharing the
       saturated band differs in <= 3 of the remaining 48 bits, so at
       least one 12-bit sub-band matches exactly — candidate recall
       for diverse-signature floods is preserved EXACTLY. Rows in fit
       buckets pass through with sub-band (-1, -1), i.e. their level-1
       bucket, bit-identical to the pre-recovery behavior.
    2. Sub-buckets still larger than max_bucket (identical/near-
       identical signature floods that no bit split can separate) are
       sorted by (sig, id) and cut into overlapping chunks of
       ``sn_chunk`` members (each chunk also contains the first member
       of the next chunk), and pairs are emitted within chunks only —
       a sorted-neighborhood pass. Work and output are O(n * sn_chunk)
       per flood instead of O(n^2). Recall bound: adjacent rows in sig
       order always share a chunk, so every identical-signature flood
       is emitted as a CONNECTED chain (downstream dup-cluster
       resolution recovers the full clique); non-identical pairs
       inside a flood are found iff within sn_chunk of each other in
       signature order (heuristic, documented residual).

    Telemetry (``observation`` attaches at the level-1 bucket count):
    ``dropped_rows`` is structurally 0 — this path discards nothing
    with pair-recall weight (only partnerless singleton (sub-)buckets
    exit) — and ``recovered_rows``/``recovered_buckets`` count what
    tier 1 re-split. ``recovery_observation`` (level-2) reports
    ``sn_rows``/``sn_subbuckets`` handled by the sorted-neighborhood
    tier. Cost vs the drop-based guard: one extra hash exchange +
    in-partition sort (the level-2 window) over banded rows."""
    from pyspark.sql import Window

    sigs = simhash_signatures_df(df, id_col=id_col, text_col=text_col)
    banded = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sig"), b * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", "bk.band", "bk.key")

    # Tier-0 count: one hash exchange on (band, key), no sort.
    w1 = Window.partitionBy("band", "key")
    counted = banded.withColumn("n", F.count(F.lit(1)).over(w1))
    saturated = F.col("n") > max_bucket
    counted = counted.observe(
        observation if observation is not None else "simhash_lsh_cap",
        # Structural zero: saturated rows are recovered below, never
        # discarded. Kept under the historical name so round-over-round
        # telemetry shows the cap no longer binds.
        F.sum(F.lit(0).cast("long")).alias("dropped_rows"),
        F.sum(F.lit(0).cast("long")).alias("dropped_buckets"),
        F.sum(saturated.cast("long")).alias("recovered_rows"),
        F.round(F.sum(F.when(saturated, 1.0 / F.col("n")).otherwise(0.0)))
        .cast("long")
        .alias("recovered_buckets"),
    )
    # Singletons have no partner in this band; a cross-band partner is
    # reached through that band's own bucket. Same recall argument as
    # the old guard's lower bound.
    counted = counted.filter(F.col("n") >= 2)

    # Tier-1: saturated rows re-band the OTHER 48 bits into 4x12-bit
    # sub-bands; fit rows keep their level-1 bucket as (-1, -1). One
    # conditional explode — no branch, no subtree duplication.
    rem = _simhash_rem48("sig", "band")
    passthrough = F.array(
        F.struct(F.lit(-1).alias("sband"), F.lit(-1).cast("long").alias("skey"))
    )
    subbands = F.array(
        *[
            F.struct(
                F.lit(s).alias("sband"),
                F.shiftrightunsigned(rem, 12 * s).bitwiseAND(F.lit(0xFFF)).alias("skey"),
            )
            for s in range(4)
        ]
    )
    sub = counted.select(
        "id",
        "sig",
        "band",
        "key",
        F.explode(F.when(saturated, subbands).otherwise(passthrough)).alias("sk"),
    ).select("id", "sig", "band", "key", "sk.sband", "sk.skey")

    # Tier-2 count + rank: one hash exchange on the refined key with an
    # in-partition (sig, id) sort shared by both window functions.
    w2o = Window.partitionBy("band", "key", "sband", "skey").orderBy("sig", "id")
    w2f = w2o.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = sub.withColumn("n2", F.count(F.lit(1)).over(w2f)).withColumn(
        "rn", F.row_number().over(w2o)
    )
    still = F.col("n2") > max_bucket
    ranked = ranked.observe(
        recovery_observation if recovery_observation is not None else "simhash_lsh_recovery",
        F.sum(still.cast("long")).alias("sn_rows"),
        F.round(F.sum(F.when(still, 1.0 / F.col("n2")).otherwise(0.0)))
        .cast("long")
        .alias("sn_subbuckets"),
    )
    ranked = ranked.filter(F.col("n2") >= 2)

    # Tier-2 chunking: fit (sub-)buckets are one chunk; floods are cut
    # into sn_chunk-sized chunks in (sig, id) order, each overlapping
    # the next by one member so adjacent rows always share a chunk.
    chunk0 = F.floor((F.col("rn") - 1) / F.lit(sn_chunk))
    overlap = (((F.col("rn") - 1) % F.lit(sn_chunk)) == 0) & (chunk0 > 0)
    chunks = F.when(~still, F.array(F.lit(0).cast("bigint"))).otherwise(
        F.when(overlap, F.array(chunk0, chunk0 - 1)).otherwise(F.array(chunk0))
    )
    chunked = ranked.select(
        "id", "sig", "band", "key", "sband", "skey", F.explode(chunks).alias("chunk")
    )
    buckets = chunked.groupBy("band", "key", "sband", "skey", "chunk").agg(
        F.array_sort(F.collect_list(F.struct("id", "sig"))).alias("ms")
    )
    # Same bounded pair expansion + verify-before-dedup as the MinHash
    # path (the single-long simhash signature is not a memory hazard,
    # but filtering on Hamming first still shrinks the dedup shuffle to
    # passing pairs only). A pair found through several buckets/chunks
    # collapses in the dropDuplicates.
    return (
        _bucket_pairs(buckets)
        .withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def jaccard(set_a: Column, set_b: Column) -> Column:
    """Exact Jaccard over two array-sets (built-in intersect/union)."""
    inter = F.size(F.array_intersect(set_a, set_b))
    union = F.size(F.array_union(set_a, set_b))
    return F.try_divide(inter.cast("double"), union.cast("double"))


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    hash_grams: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard for given candidate (id_a, id_b) pairs —
    the verification stage downstream of any LSH candidate generator.

    ``hash_grams=True`` replaces each n-gram string with its 64-bit
    xxhash before the join: set sizes (and therefore Jaccard) are
    unchanged up to a ~1e-13 collision probability, while the shuffled
    arrays shrink from ~30 B/gram strings to 8 B longs and the
    intersect/union compares become long equality — the shape that
    matters when candidate pairs number in the billions."""
    from usajobs_etl_service_spark.functions.text import normalized_text, shingles_from_tokens

    # tokens as a materialized column first — see minhash_signatures_df
    toks = df.select(
        F.col(id_col).alias("id"), F.split(normalized_text(F.col(text_col)), r"\s+").alias("toks")
    )
    gram_expr = F.array_distinct(shingles_from_tokens(F.col("toks"), n))
    if hash_grams:
        gram_expr = F.array_distinct(F.transform(gram_expr, lambda g: F.xxhash64(g)))
    grams = toks.select("id", gram_expr.alias("grams"))
    return (
        pairs.join(grams.withColumnRenamed("id", "id_a").withColumnRenamed("grams", "grams_a"), "id_a")
        .join(grams.withColumnRenamed("id", "id_b").withColumnRenamed("grams", "grams_b"), "id_b")
        .select("id_a", "id_b", F.round(jaccard(F.col("grams_a"), F.col("grams_b")), 4).alias("jaccard"))
    )


def edit_distance_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    key_col: Column,
    block_cols: list[Column],
    max_dist: int = 2,
) -> DataFrame:
    """Blocked fuzzy near-dup: pairs whose ``key_col`` values are within
    ``max_dist`` Levenshtein edits, compared ONLY inside equal
    ``block_cols`` blocks (the classic record-linkage blocking shape —
    fuzzy title/name dedup).

    Scale shape: the self-join is an equi-join on the block key, so
    per-block work is quadratic in block occupancy but never all-pairs
    over the corpus — choose block keys with bounded occupancy (first
    tokens + a length bucket; at web scale, a cheap LSH code). The
    Levenshtein call is the THRESHOLDED 3-arg form: cost per pair is
    O(max_dist * |key|) band computation with early exit, not the full
    O(|key|^2) matrix — the difference between 80 and 1600 cell ops per
    pair at a 40-char key. Keys are pre-computed once per row, before
    the join, so each row's key is derived once however many pairs it
    joins into.

    Semantics are *blocked* (a pair split across blocks is unseen) —
    the same documented contract as embedding_near_dup_pairs(block_col),
    and the oracle replicates the identical blocking, so oracle
    equality is exact, not approximate."""
    blocks = [c.alias(f"__blk{i}") for i, c in enumerate(block_cols)]
    blk_names = [f"__blk{i}" for i in range(len(block_cols))]
    keyed = df.select(F.col(id_col).alias("id"), key_col.alias("key"), *blocks)
    left = keyed.select(
        F.col("id").alias("id_a"), F.col("key").alias("key_a"), *blk_names
    )
    right = keyed.select(
        F.col("id").alias("id_b"), F.col("key").alias("key_b"), *blk_names
    )
    dist = F.levenshtein(F.col("key_a"), F.col("key_b"), max_dist)
    return (
        left.join(right, on=blk_names)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", dist)
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("id_a", "id_b", "dist")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

def srp_auto_planes(n_rows: int, target_bucket: int = 4) -> int:
    """Code width keeping expected SRP bucket occupancy ~``target_bucket``
    as the corpus grows: ``max(12, ceil(log2(n_rows / target_bucket)))``.
    Floor 12 preserves the documented recall formula at small n; the
    62-plane long-code ceiling is ~4e18 rows."""
    import math

    return max(12, math.ceil(math.log2(max(n_rows / max(target_bucket, 1), 2.0))))


def embedding_srp_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = None,
    n_bands: int = 8,
    dim: int | None = None,
    seed: int = 42,
    max_bucket: int = 1000,
    target_bucket: int = 4,
    n_rows_hint: int | None = None,
    extra_plane_configs: list[int] | None = None,
    observation=None,
) -> DataFrame:
    """Label-FREE embedding near-dup at scale: when no blocking
    attribute exists (``embedding_near_dup_pairs``'s ``block_col``),
    candidates come from ``n_bands`` independent sign-random-projection
    codes (similarity.srp_code) — the MinHash-LSH banding scheme
    transplanted to cosine space. A pair with cosine >= t collides in
    one band with probability p^n_planes, p = 1 - arccos(t)/pi, and
    survives banding with 1 - (1 - p^n_planes)^n_bands (12 planes x 8
    bands: 0.93 at t=0.95; ~1.0 for true duplicates, whose sign
    patterns are identical). Shape mirrors minhash_pairs_from_sigs:
    banded rows carry only (id, band, code), hot buckets are capped at
    ``max_bucket``, pair expansion is posexplode+slice (bounded per-row
    memory), and the verify stage equi-joins the vectors back and
    filters on EXACT cosine — precision 1.0, recall per the banding
    formula. The n_bands x n_planes plane dots per row are scan-stage
    codegen; no all-pairs anything.

    ``n_planes=None`` (default) AUTO-SCALES the code width to the
    corpus: ``max(12, ceil(log2(n_rows / target_bucket)))``, so
    expected bucket occupancy stays ~``target_bucket`` as the corpus
    grows. A fixed width is the measured scale soft spot: constant
    bucket count under growing occupancy made the candidate-pair
    shuffle super-linear (0.6 -> 451 MB at 10x data with 12 planes)
    and pushes buckets toward the ``max_bucket`` cap, which DROPS
    saturated buckets' pairs wholesale. Deriving the width costs one
    ``count()`` of the input (cheap next to the banding scan); pass
    ``n_rows_hint`` to skip it, or a fixed ``n_planes`` to pin the
    width. The cap's recall cost is never silent either way:
    dropped-row/bucket counters ride the query via ``observe`` (pass a
    pyspark ``Observation`` to read them; zero means the cap never
    bound and — given every true-dup pair collides in some band — LSH
    recall claims hold exactly).

    ``dim``: validated against the data (first row) — a mismatched
    caller-supplied dim would NULL-pad every plane dot via zip_with
    and silently emit ZERO pairs; that now raises. ``dim=None``
    derives it from the data. Rows whose embedding length differs from
    the (validated) dim are excluded from banding with a counted
    metric rather than poisoning bucket 0.

    ``extra_plane_configs``: additional code WIDTHS, each banded
    ``n_bands`` more times over independent hyperplanes and unioned
    into the candidate set (multi-resolution, the cosine-space mirror
    of MinHash ``extra_band_configs``). A NARROWER width raises
    recall away from the primary threshold's sweet spot — at cosine
    0.9, 12-plane x 8-band banding catches ~74% of pairs while adding
    a 6-plane resolution lifts it past 99% — and the exact-cosine
    verify keeps precision at 1.0, so extra configs only ever add
    candidates, never wrong results. Each config's bands get globally
    unique band ids and independent plane seeds; cost is one more
    ``n_bands x width`` block of scan-stage plane dots plus the extra
    banded rows through the same capped-bucket shuffle."""
    import math

    from usajobs_etl_service_spark.functions.vectors import dot, norm
    from usajobs_etl_service_spark.operators.similarity import srp_code_sql

    v = F.col(embedding_col).cast("array<double>")
    probe = df.select(F.size(v).alias("d")).limit(1).collect()
    actual_dim = probe[0]["d"] if probe else None
    if dim is None:
        dim = actual_dim if actual_dim is not None else 64
    elif actual_dim is not None and actual_dim != dim:
        raise ValueError(
            f"embedding dim mismatch: caller passed dim={dim} but "
            f"{embedding_col!r} has length {actual_dim}; zip_with would "
            "NULL-pad every plane dot and the query would silently "
            "return no pairs. Pass dim=None to derive it from the data."
        )
    if n_planes is None:
        n_rows = n_rows_hint if n_rows_hint is not None else df.count()
        n_planes = srp_auto_planes(n_rows, target_bucket)
    # n_bands x n_planes UNROLLED plane dots, deliberately: the compact
    # alternative (one literal plane matrix + transform with the dot
    # fold inside) stays interpreted — nested HOFs are CodegenFallback —
    # and measured 7x slower warm (12.6 s vs 1.8 s at sf0.1). The
    # unrolled form pays ~6 s of one-time whole-stage-codegen
    # compilation for the 96 dots, then runs codegen'd; on a cluster
    # that compile happens once per executor JVM, not per query.
    widths = [n_planes] + [w for w in (extra_plane_configs or [])]
    # One generated SQL string for the whole band block (srp_code_sql):
    # the Column form built ~bands x planes x dim literals through py4j
    # one call at a time — measured ~11 s of DRIVER time per q82
    # invocation at sf0.1 before any executor work. Identical parsed
    # expression, sub-second construction.
    vec_sql = f"cast(`{embedding_col}` as array<double>)"
    bands_sql = ", ".join(
        f"struct({g} as band, "
        f"{srp_code_sql(vec_sql, n_planes=w, dim=dim, seed=seed + 7919 * g)} as key)"
        for g, w in enumerate(w for w in widths for _ in range(n_bands))
    )
    codes = F.expr(f"array({bands_sql})")
    conforming = df.observe(
        "srp_dim_check",
        F.sum(F.when(F.size(v) == dim, F.lit(0)).otherwise(F.lit(1)).cast("long")).alias(
            "dim_mismatch_rows"
        ),
    ).filter(F.size(v) == dim)
    banded = conforming.select(F.col(id_col).alias("id"), F.explode(codes).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    banded = _cap_buckets(banded, max_bucket, metric_name="srp_lsh_cap", observation=observation)
    buckets = banded.groupBy("band", "key").agg(F.array_sort(F.collect_list("id")).alias("ids"))
    lhs = buckets.select(F.posexplode("ids").alias("i", "id_a"), "ids")
    pairs = lhs.select(
        "id_a",
        F.explode(F.slice(F.col("ids"), F.col("i") + F.lit(2), F.size("ids"))).alias("id_b"),
    ).dropDuplicates(["id_a", "id_b"])
    side = df.select(F.col(id_col).alias("id"), v.alias("vec"), norm(v).alias("nrm"))
    a = side.select(F.col("id").alias("id_a"), F.col("vec").alias("va"), F.col("nrm").alias("na"))
    b = side.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cos",
            F.round(F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")), 4),
        )
        # barrier: keep the dot fold out of the Filter condition (it
        # would otherwise run twice per surviving pair)
        .transform(lambda d: barrier_filter(d, F.col("cos") >= threshold))
        .select("id_a", "id_b", "cos")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs with cosine >= threshold. With ``block_col`` (label, IVF
    centroid, LSH code) the self-join is an equi-join on the block —
    the 100 TB shape; without it, a cross join (oracle/small only).

    Norms are computed ONCE per vector as pre-join columns; the per-pair
    work is a single dot fold. The division keeps cosine()'s exact float
    op order (dot / (norm_a * norm_b)), so rounded values are
    bit-identical to the naive form — only the redundant per-pair norm
    folds (one per block member) are gone."""
    from usajobs_etl_service_spark.functions.vectors import dot, norm

    v = F.col(embedding_col).cast("array<double>")
    blk = [F.col(block_col)] if block_col else []
    left = df.select(F.col(id_col).alias("id_a"), v.alias("va"), norm(v).alias("na"), *blk)
    right = df.select(F.col(id_col).alias("id_b"), v.alias("vb"), norm(v).alias("nb"), *blk)
    joined = left.join(right, on=block_col) if block_col else left.crossJoin(right)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.round(F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")), 4),
        )
        # barrier: keep the dot fold out of the Filter condition (it
        # would otherwise run twice per surviving pair)
        .transform(lambda d: barrier_filter(d, F.col("cos") >= threshold))
        .select("id_a", "id_b", "cos")
    )


def containment_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    threshold: float = 0.9,
    max_gram_df: int = 1000,
    observation=None,
) -> DataFrame:
    """EXACT n-gram containment near-dup (Broder 1997's asymmetric
    resemblance twin): ``C(A->B) = |grams(A) & grams(B)| / |grams(A)|``
    — the detector for QUOTE INCLUSION / near-supersets, which
    symmetric Jaccard families (MinHash q24, n-gram Jaccard q23)
    structurally miss: a 40-word quote inside a 400-word article has
    Jaccard ~0.1 but containment 1.0 in the quote->article direction.

    Returns ``(id_a, id_b, n_common, containment_a, containment_b)``
    with ``id_a < id_b`` and ``max(containment) >= threshold``;
    ``containment_a`` is C(A->B) (A's grams found in B), rounded at 4.

    Scale shape (the q90/q219 recipe — pair arithmetic on GRAM KEYS,
    never doc-pair text compare): one distinct (doc, gram-hash)
    explode; grams with document frequency > ``max_gram_df`` are STOP
    GRAMS, dropped deterministically before pairing (the hot-bucket
    cap as an exact, oracle-replayable rule: pair expansion is then
    bounded by sum C(df, 2) with df <= max_gram_df) — dropped gram
    volume is counted on ``observation`` (``stop_grams_dropped``,
    ``stop_gram_rows``), never silent (AQE may elide the metrics node
    when the output is empty — the documented ``_cap_buckets`` caveat;
    measure with AQE off, as the scale smoke does). Containment denominators are
    |KEPT grams| per doc (post-stop-gram, so the ratio is consistent
    with the numerator; documented contract the oracle replays).
    Docs shorter than ``n`` tokens produce no grams and never pair.
    """
    from pyspark.storagelevel import StorageLevel

    from usajobs_etl_service_spark.operators.decontam import _exploded_gram_hashes

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # persisted (lazy marking, LRU-evictable — the triangle_stats
    # posture): `grams` feeds both the document-frequency pass and the
    # kept stream, and `kept` feeds three consumers (sizes + both join
    # sides); unpersisted, the explode + distinct shuffle re-ran once
    # per reference (optimization round 12, guide §1.2)
    grams = (
        _exploded_gram_hashes(docs, text_col, n, keep=[id_col])
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
    hot = dfreq.filter(F.col("__df") > max_gram_df)
    if observation is not None:
        hot = hot.observe(
            observation,
            F.count(F.lit(1)).alias("stop_grams_dropped"),
            F.coalesce(F.sum("__df"), F.lit(0)).alias("stop_gram_rows"),
        )
    # open-cardinality stop-gram set: plain hash anti-join, no broadcast
    kept = grams.join(hot.select("g"), "g", "left_anti").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    a = kept.select(F.col(id_col).alias("id_a"), "g")
    b = kept.select(F.col(id_col).alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__sa")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__sb")), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.round(F.col("n_common") / F.col("__sa"), 4).alias("containment_a"),
            F.round(F.col("n_common") / F.col("__sb"), 4).alias("containment_b"),
        )
    )
    return out.filter(
        F.greatest(F.col("containment_a"), F.col("containment_b"))
        >= F.lit(float(threshold))
    )
