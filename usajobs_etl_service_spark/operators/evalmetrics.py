"""Distributed model-evaluation and rank statistics.

A training-data pipeline that ships classifier-gated corpora (q196's
fastText shape; reference parity: the reference's quality filters in
``/root/reference/etl/etl.py`` gate rows but never *measure* the gate)
needs the evaluation half: does the score actually separate good from
bad (AUC), are its probabilities honest (calibration / ECE), is
association monotone (Spearman)?  These are RANK statistics, and the
naive Spark spelling — ``Window.orderBy(score)`` with no partition key —
moves every row through one task.

Two scale shapes, chosen by what the statistic consumes:

- **aggregate-first** (``_avg_ranks``; the q123 KS / q162 Mann-Whitney
  shape): every statistic here is a function of per-VALUE counts, so
  the per-value groupBy runs first — map-side combine collapses
  duplicate values before the wire — and ``distributed_order.
  ordered_cumsum`` over the distinct support yields each tie group's
  textbook average rank as ``(csum - t) + (t+1)/2``.  The range
  exchange moves only the support, never the rows.
- **row-ranking** (``distributed_order.grouped_row_number``) where the
  statistic needs a specific ORDER STATISTIC back as a row (medians,
  trim cutoffs, quantile normalization — quantnorm.py / robust.py).

Tie handling is exact: average ranks are half-integers (mean of
consecutive integers), so every intermediate is exact in double below
2^53 and the final closed forms are bit-for-bit what a single-node
``scipy.stats.rankdata``-based implementation produces.  The
two-cohort Mann-Whitney U itself lives in ``profiling.mann_whitney_u``
(q162) — same shape, predating this module; not duplicated here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from usajobs_etl_service_spark.operators.distributed_order import ordered_cumsum


def _avg_ranks(
    df: DataFrame,
    score_col: str,
    extra_aggs: list[Column],
) -> DataFrame:
    """Per-distinct-score average rank plus caller aggregates —
    aggregate-first: the groupBy collapses duplicate values map-side,
    the ordered cumulative count runs over the DISTINCT support, and
    ``(csum - t) + (t + 1) / 2`` is the tie group's textbook average
    rank (a half-integer, exact in double)."""
    pts = df.groupBy(score_col).agg(
        F.count(F.lit(1)).alias("tie_n"), *extra_aggs
    )
    cum = ordered_cumsum(pts, [F.col(score_col).asc()], ["tie_n"])
    return cum.withColumn(
        "avg_rank",
        (F.col("cum_tie_n") - F.col("tie_n")) + (F.col("tie_n") + 1) / 2,
    ).drop("cum_tie_n")


def exact_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact ROC-AUC of ``score_col`` against binary ``label_col``.

    AUC via the rank-sum identity
    ``AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg)`` where
    ``R_pos`` is the sum of POOLED average ranks of the positives —
    ties contribute exactly 1/2, matching the trapezoidal ROC integral.
    Cost: one map-side-combinable per-score aggregate (the only pass
    over the rows) + a range exchange over the DISTINCT support; the
    final fold is a scalar aggregate.  Rows with a NULL score or label
    are excluded (scikit-learn's contract); the whole call stays ONE
    lazy plan — no job runs at construction.  Returns one row:
    ``n_pos, n_neg, auc``.
    """
    clean = df.select(
        F.col(score_col).alias("__s"),
        F.col(label_col).cast("int").alias("__y"),
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    per_score = _avg_ranks(clean, "__s", [F.sum("__y").alias("pos_n")])
    # formula arithmetic in DOUBLE: long products (n_pos * n_neg,
    # n(n+1)) overflow int64 beyond ~3e9 rows (ANSI: runtime error) —
    # doubles stay exact below 2^53 (where the oracle's exact-integer
    # path computes the same values) and degrade gracefully past it
    np_ = F.sum("pos_n").cast("double")
    nn_ = (F.sum("tie_n") - F.sum("pos_n")).cast("double")
    return per_score.agg(
        F.sum("pos_n").cast("long").alias("n_pos"),
        (F.sum("tie_n") - F.sum("pos_n")).cast("long").alias("n_neg"),
        F.round(
            # try_divide: a single-class input yields NULL auc in BOTH
            # engines (Spark's plain double division would give Inf
            # where DuckDB gives NULL)
            F.try_divide(
                F.sum(F.col("pos_n") * F.col("avg_rank"))
                - np_ * (np_ + 1) / 2,
                np_ * nn_,
            ),
            6,
        ).alias("auc"),
    )


def exact_auc_by_group(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_col: str,
) -> DataFrame:
    """Per-slice exact AUC (one row per ``group_col`` value) — the
    sliced-eval view every per-language / per-source corpus report
    needs, in the same aggregate-first shape as :func:`exact_auc`:
    one (group, score) aggregate over the rows, a group-leading
    ordered cumulative count over the distinct support, and a
    |groups|-row broadcast of per-group prior totals turning the
    global cumulative into a within-group one (slice columns are
    modest-cardinality by construction: languages, sources, folds —
    per-user slices belong in a plain aggregate, not an AUC).

    Groups with no positives or no negatives return NULL auc via
    ``try_divide`` (both engines NULL a zero divisor).
    Returns ``(group_col, n_pos, n_neg, auc)`` ordered by group.
    """
    clean = df.select(
        F.col(group_col).alias("__g"),
        F.col(score_col).alias("__s"),
        F.col(label_col).cast("int").alias("__y"),
    ).filter(
        F.col("__g").isNotNull()
        & F.col("__s").isNotNull()
        & F.col("__y").isNotNull()
    )
    pts = clean.groupBy("__g", "__s").agg(
        F.count(F.lit(1)).alias("tie_n"), F.sum("__y").alias("pos_n")
    )
    cum = ordered_cumsum(pts, [F.col("__g").asc(), F.col("__s").asc()], ["tie_n"])
    # per-group prior totals: |groups| rows, the only no-partition
    # window runs over that bounded frame (the _offsets posture).
    # Derived from CUM — the persisted ranged relation — not from pts,
    # whose unpersisted lineage would re-execute the whole upstream
    # (q230: the full classifier featurization) a second time
    w_prior = Window.orderBy("__g").rowsBetween(Window.unboundedPreceding, -1)
    priors = (
        cum.groupBy("__g")
        .agg(F.sum("tie_n").alias("__gt"))
        .withColumn("__goff", F.coalesce(F.sum("__gt").over(w_prior), F.lit(0)))
        .select("__g", "__goff")
    )
    per_score = (
        cum.join(F.broadcast(priors), "__g")
        .withColumn(
            "avg_rank",
            (F.col("cum_tie_n") - F.col("__goff") - F.col("tie_n"))
            + (F.col("tie_n") + 1) / 2,
        )
    )
    # double arithmetic: see exact_auc's overflow note
    np_ = F.sum("pos_n").cast("double")
    nn_ = (F.sum("tie_n") - F.sum("pos_n")).cast("double")
    return (
        per_score.groupBy("__g")
        .agg(
            F.sum("pos_n").cast("long").alias("n_pos"),
            (F.sum("tie_n") - F.sum("pos_n")).cast("long").alias("n_neg"),
            F.round(
                F.try_divide(
                    F.sum(F.col("pos_n") * F.col("avg_rank"))
                    - np_ * (np_ + 1) / 2,
                    np_ * nn_,
                ),
                6,
            ).alias("auc"),
        )
        .withColumnRenamed("__g", group_col)
        .orderBy(group_col)
    )


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: list[float],
) -> DataFrame:
    """Precision / recall / F1 at each operating threshold, in ONE
    conditional-aggregate pass over the data (3 counters per
    threshold — never one scan per threshold), stacked to long form.

    Degenerate thresholds (no predicted positives / no actual
    positives) yield NULL precision/recall/F1 via ``try_divide`` —
    DuckDB's division returns NULL on a zero divisor, so both engines
    agree.  Compare the score against the SAME rounded form the rest
    of the eval family uses if the score is engine-noisy; thresholds
    are compared as plain doubles.
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    clean = df.select(
        F.col(score_col).alias("__s"), F.col(label_col).cast("int").alias("__y")
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    aggs = []
    for i, t in enumerate(thresholds):
        pred = F.col("__s") >= F.lit(float(t))
        pos = F.col("__y") == 1
        aggs += [
            F.count_if(pred & pos).alias(f"tp{i}"),
            F.count_if(pred & ~pos).alias(f"fp{i}"),
            F.count_if(~pred & pos).alias(f"fn{i}"),
        ]
    wide = clean.agg(*aggs)
    legs = ", ".join(
        f"cast({float(t)} as double), tp{i}, fp{i}, fn{i}"
        for i, t in enumerate(thresholds)
    )
    long = wide.selectExpr(
        f"stack({len(thresholds)}, {legs}) AS (threshold, tp, fp, fn)"
    )
    p = F.try_divide(F.col("tp"), F.col("tp") + F.col("fp"))
    r = F.try_divide(F.col("tp"), F.col("tp") + F.col("fn"))
    return long.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(F.try_divide(2 * p * r, p + r), 6).alias("f1"),
    ).orderBy("threshold")


def cohen_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cohen's kappa (1960) between two binary raters/gates —
    chance-corrected agreement from the 2x2 confusion counts, one
    scalar aggregate over the data.  Exact-integer ratios into two
    divisions, mirrored verbatim by the oracle.  NULL on a degenerate
    pe == 1 (both raters constant) via ``try_divide``.
    Returns one row: ``n, n_both, n_neither, n_only_a, n_only_b,
    po, kappa``."""
    a = F.col("__a")
    b = F.col("__b")
    clean = df.select(
        F.col(a_col).cast("int").alias("__a"), F.col(b_col).cast("int").alias("__b")
    ).filter(a.isNotNull() & b.isNotNull())
    c = clean.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if((a == 1) & (b == 1)).alias("n11"),
        F.count_if((a == 0) & (b == 0)).alias("n00"),
        F.count_if((a == 1) & (b == 0)).alias("n10"),
        F.count_if((a == 0) & (b == 1)).alias("n01"),
    )
    po = (F.col("n11") + F.col("n00")) / F.col("n")
    # marginal products in double: long*long overflows int64 at ~3e9
    # rows; doubles are exact below 2^53 (the oracle's exact-integer
    # path computes the same values there)
    nd = lambda c: F.col(c).cast("double")  # noqa: E731
    pe = (
        (nd("n11") + nd("n10")) * (nd("n11") + nd("n01"))
        + (nd("n00") + nd("n01")) * (nd("n00") + nd("n10"))
    ) / (nd("n") * nd("n"))
    return c.select(
        "n",
        F.col("n11").alias("n_both"),
        F.col("n00").alias("n_neither"),
        F.col("n10").alias("n_only_a"),
        F.col("n01").alias("n_only_b"),
        F.round(po, 6).alias("po"),
        F.round(F.try_divide(po - pe, F.lit(1.0) - pe), 6).alias("kappa"),
    )


def spearman(
    df: DataFrame,
    x_col: str,
    y_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Spearman rank correlation with exact average-rank ties —
    Pearson over the two rank vectors, in the computational form
    ``rho = (n*Sab - Sa*Sb) / sqrt((n*Saa - Sa^2)(n*Sbb - Sb^2))``.

    Both rank passes are aggregate-first (:func:`_avg_ranks`: per-value
    counts, cumulative over the distinct support); the per-value
    average rank joins back onto the rows by VALUE, and the two rank
    columns pair up on the tiebreak key (hash joins throughout — no
    row-level range exchange).  Average ranks are half-integers, so
    every rank sum/product below ~2^51 is EXACT and order-independent
    across engines; the final closed form is the same correctly-rounded
    ops on identical operands.  Degenerate inputs (a constant variable)
    yield NULL via ``try_divide``.  Returns one row: ``n, rho``.
    """
    from pyspark.storagelevel import StorageLevel

    clean = (
        df.select(
            F.col(x_col).alias("__x"),
            F.col(y_col).alias("__y"),
            F.col(tiebreak_col).alias("__tb"),
        )
        .filter(
            F.col("__x").isNotNull()
            & F.col("__y").isNotNull()
            & F.col("__tb").isNotNull()
        )
        # four consumers (two per-value aggregates + two value
        # join-backs) — persist so an expensive upstream derivation is
        # computed once; released by the caller's clearCache() after
        # its action (the _ranged posture)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def _ranks(col: str, out: str) -> DataFrame:
        ar = _avg_ranks(clean.select(col), col, []).select(
            col, F.col("avg_rank").alias(out)
        )
        return clean.select(col, "__tb").join(ar, col).select("__tb", out)

    rx = _ranks("__x", "ra")
    ry = _ranks("__y", "rb")
    j = rx.join(ry, "__tb")
    n = F.count(F.lit(1))
    sa, sb = F.sum("ra"), F.sum("rb")
    sab = F.sum(F.col("ra") * F.col("rb"))
    saa = F.sum(F.col("ra") * F.col("ra"))
    sbb = F.sum(F.col("rb") * F.col("rb"))
    return j.agg(
        n.cast("long").alias("n"),
        F.round(
            F.try_divide(
                n * sab - sa * sb,
                F.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)),
            ),
            6,
        ).alias("rho"),
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
    score_decimals: int = 6,
) -> DataFrame:
    """Reliability table + Expected Calibration Error (Naeini et al.
    2015 / Guo et al. 2017) for a probability score in [0, 1].

    Equal-width bins on the ROUNDED score (the q196 contract: a raw
    sigmoid within float noise of a bin edge would land in different
    bins across engines; ``round(score, score_decimals)`` pins the bin
    assignment).  Bin ids are clamped to [0, k-1] on BOTH edges —
    the top edge closes the last bin, and an out-of-domain score
    (<0 or >1) lands in the boundary bin rather than minting a
    silent negative/overflow bin id.  Per bin: row count, mean score
    (confidence), mean label (accuracy), |gap|; the one-row total —
    ECE (the bin-weight-averaged |gap|) and the global Brier score
    (mean squared error of the probability, the PROPER scoring rule
    ECE is not) — is attached to every row via a broadcast, so the
    whole report is a single pass + one tiny cross join.  Empty bins
    are absent (their ECE weight is zero).
    """
    s = F.round(F.col(score_col), score_decimals)
    # clamp BOTH edges: scores outside the documented [0, 1] domain
    # land in the boundary bins instead of producing negative / >k-1
    # bin ids silently
    binned = df.select(
        F.greatest(
            F.least(F.floor(s * n_bins), F.lit(n_bins - 1)), F.lit(0)
        ).cast("int").alias("bin"),
        s.alias("__s"),
        F.col(label_col).cast("double").alias("__y"),
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("__s").alias("conf"),
        F.avg("__y").alias("acc"),
        F.sum(
            (F.col("__s") - F.col("__y")) * (F.col("__s") - F.col("__y"))
        ).alias("__sq"),
    )
    totals = per_bin.agg(
        F.round(
            F.sum(F.col("n") * F.abs(F.col("acc") - F.col("conf"))) / F.sum("n"),
            6,
        ).alias("ece"),
        F.round(F.sum("__sq") / F.sum("n"), 6).alias("brier"),
    )
    return (
        per_bin.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            "n",
            F.round("conf", 6).alias("confidence"),
            F.round("acc", 6).alias("accuracy"),
            F.round(F.abs(F.col("acc") - F.col("conf")), 6).alias("abs_gap"),
            "ece",
            "brier",
        )
        .orderBy("bin")
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact AVERAGE PRECISION (area under the precision-recall step
    curve — the class-imbalance-honest companion to :func:`exact_auc`:
    ROC-AUC stays near 1.0 while precision collapses on rare-positive
    corpora, the usual regime for quality/contamination gates).

    Tie-safe by construction (the sklearn ``average_precision_score``
    step convention): the PR curve is evaluated only at DISTINCT score
    thresholds, so rows tied on score move in and out of the
    prediction set together and no within-tie ordering ever exists —
    the same reason the AUC uses pooled average ranks.

    ``AP = sum_i (TP_i - TP_{i-1}) / P * (TP_i / ALL_i)`` over
    distinct scores descending. Aggregate-first: ONE map-side-
    combinable per-score aggregate over the rows, one range exchange
    over the distinct support (``ordered_cumsum``, descending), one
    scalar fold. Cumulatives are exact longs; each term is a single
    float expression over exact integers, and the final sum is
    display-rounded at 6 (cross-engine summation-order wiggle is
    ~1e-15 relative). NULL scores/labels excluded; zero positives
    yields NULL via ``try_divide`` in both engines. Returns one row
    ``(n_pos, n, ap)``.
    """
    clean = df.select(
        F.col(score_col).alias("__s"),
        F.col(label_col).cast("int").alias("__y"),
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    pts = clean.groupBy("__s").agg(
        F.count(F.lit(1)).alias("tie_n"), F.sum("__y").alias("pos_n")
    )
    cum = ordered_cumsum(pts, [F.col("__s").desc()], ["tie_n", "pos_n"])
    term = (
        F.col("pos_n").cast("double")
        * F.col("cum_pos_n").cast("double")
        / F.col("cum_tie_n").cast("double")
    )
    return cum.agg(
        F.sum("pos_n").cast("long").alias("n_pos"),
        F.sum("tie_n").cast("long").alias("n"),
        F.round(
            F.try_divide(F.sum(term), F.sum("pos_n").cast("double")), 6
        ).alias("ap"),
    )


def ndcg_at_k(
    df: DataFrame,
    score_col: str,
    rel_col: str,
    tiebreak_col: str,
    *,
    k: int = 100,
) -> DataFrame:
    """NDCG@k (Järvelin & Kekäläinen 2002) of the ``score_col`` ranking
    against graded relevance ``rel_col`` — the IR-eval completion of
    the family (AUC integrates the whole curve; NDCG grades the top of
    the ranking, which is what a retrieval/curation cutoff ships).

    Both the ranked list and the ideal list are TakeOrdered top-k
    pulls (per-partition k-heaps — no global sort); positions come
    from a window over the k-row result (bounded by construction, the
    life-table posture).  ``DCG = sum(rel / log2(pos + 1))``; the
    ideal list ranks by relevance itself, so graded relevance needs no
    closed form.  Ties pin on ``tiebreak_col`` in BOTH lists — NDCG is
    then deterministic cross-engine (log2 per the q218 ln contract;
    sums of k terms round-6 stable).  Zero-relevance inputs give NULL
    ndcg via ``try_divide``.  Returns one row:
    ``k, n_ranked, dcg, idcg, ndcg``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    clean = df.select(
        F.col(score_col).alias("__s"),
        F.col(rel_col).cast("double").alias("__r"),
        F.col(tiebreak_col).alias("__tb"),
    ).filter(F.col("__s").isNotNull() & F.col("__r").isNotNull())

    def _dcg(ordered: DataFrame, order_cols) -> DataFrame:
        top = ordered.orderBy(*order_cols).limit(k)
        w = Window.orderBy(*order_cols)  # k rows, bounded
        return (
            top.withColumn("__pos", F.row_number().over(w))
            .agg(
                F.sum(
                    F.col("__r") / F.log2(F.col("__pos") + 1)
                ).alias("dcg"),
                F.count(F.lit(1)).alias("n"),
            )
        )
    ranked = _dcg(clean, [F.col("__s").desc(), F.col("__tb").asc()])
    ideal = _dcg(clean, [F.col("__r").desc(), F.col("__tb").asc()])
    return (
        ranked.crossJoin(
            ideal.select(F.col("dcg").alias("__idcg"))
        )
        .select(
            F.lit(k).alias("k"),
            F.col("n").alias("n_ranked"),
            F.round("dcg", 6).alias("dcg"),
            F.round("__idcg", 6).alias("idcg"),
            F.round(F.try_divide(F.col("dcg"), F.col("__idcg")), 6).alias("ndcg"),
        )
    )
