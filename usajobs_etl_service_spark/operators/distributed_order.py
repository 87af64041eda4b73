"""Distributed global ordering primitives (q28 internals, q122-q127).

``Window.orderBy(...)`` with no partition key moves EVERY row to one
partition — the classic Spark scale trap (WindowExec even warns). These
primitives compute exact global row numbers and exact ordered running
sums with no single-partition stage over the data:

1. ``repartitionByRange`` on the order key gives contiguous, sorted,
   *parallel* ranges (Spark's RangePartitioner sends equal keys to the
   same partition and assigns ranges to partition ids in ascending
   order);
2. a per-partition window (partitioned by ``spark_partition_id()``)
   computes the local row number / running sum;
3. the global offset of each partition comes from a cumulative sum over
   the per-partition COUNT/SUM/MIN aggregate — one row per partition
   (thousands of rows at worst), the only single-partition window in
   the plan — broadcast back onto the stream.

global = local + carry-in(partition), exactly, because ranges are
key-contiguous. Cost: ONE range exchange (materialized via persist so
the offsets and window branches provably read the same partition-id
assignment — see ``_ranged``) + one hash exchange on the partition id
(the window re-shuffle; balanced, parallel) — vs the single-reducer
sort it replaces.

The same split powers the sweep-line operator (sweepline.py), which
buckets by calendar day instead of sampled ranges.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

_PID = "__do_pid"


def _ranged(df: DataFrame, order_cols: Sequence[Column | str]) -> DataFrame:
    """Range-partition on the order key and pin the result.

    The persist is CORRECTNESS, not caching polish: both consumers
    (the per-partition window and the offsets aggregate) must see the
    SAME partition-id assignment. Unpersisted, each branch plans its
    own range exchange (Spark 4.1.2 does not ReusedExchange range
    shuffles — their sampled boundaries make them non-canonical), so
    agreement rested on the RangePartitioner's sampling AND AQE's
    coalescing making identical choices twice. The persisted
    InMemoryRelation forces one materialized exchange both branches
    read, making pid agreement structural — and drops the second full
    scan+range-shuffle of the data as a side effect. MEMORY_AND_DISK
    spills large inputs instead of evicting mid-query; the cache stays
    until the caller's ``spark.catalog.clearCache()`` after its action
    (garbage collection does not release it; operators/__init__)."""
    parts = df.repartitionByRange(*order_cols).withColumn(_PID, F.spark_partition_id())
    return parts.persist(StorageLevel.MEMORY_AND_DISK)


def _offsets(
    parts: DataFrame,
    specs: Sequence[tuple[str, Column, Callable[[str], Column], bool]],
) -> DataFrame:
    """Per-partition carry-in offsets, one row per partition id.

    Each spec is ``(alias, partial_agg_column, prior_agg_fn,
    zero_fill)``: the partial aggregates run in ONE shared groupBy; the
    prior-partition fold (the only no-partition window, over #partition
    rows) applies ``prior_agg_fn`` with optional zero-coalesce for the
    first partition (sums zero-fill; mins keep NULL so ``F.least`` can
    skip them)."""
    per_part = parts.groupBy(_PID).agg(
        *[agg.alias(f"_net_{a}") for a, agg, _, _ in specs]
    )
    w_prior = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    cols = []
    for a, _, prior, zero_fill in specs:
        c = prior(f"_net_{a}").over(w_prior)
        cols.append((F.coalesce(c, F.lit(0)) if zero_fill else c).alias(a))
    return per_part.select(_PID, *cols)


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    *,
    out_col: str = "global_rn",
) -> DataFrame:
    """Exact 1-based global row number in ``order_cols`` order.

    ``order_cols`` should end with a unique tiebreaker for a
    deterministic numbering (ties are co-located either way, so any
    aggregate that is tie-order-invariant — Gini's sum(rank*x) over
    equal x, top-k boundaries — is exact regardless).
    """
    parts = _ranged(df, order_cols)
    offsets = _offsets(parts, [("_offset", F.count(F.lit(1)), F.sum, True)])
    w_local = Window.partitionBy(_PID).orderBy(*order_cols)
    return (
        parts.withColumn("_local", F.row_number().over(w_local))
        .join(F.broadcast(offsets), _PID)
        .withColumn(out_col, (F.col("_local") + F.col("_offset")).cast("long"))
        .drop(_PID, "_local", "_offset")
    )


def _ordered_running(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    value_cols: Sequence[str],
    *,
    agg_fn: Callable[[str], Column],
    combine: Callable[[Column, Column], Column],
    zero_fill: bool,
    frame_upper: int,
    prefix: str,
) -> DataFrame:
    parts = _ranged(df, order_cols)
    offsets = _offsets(
        parts, [(f"_off_{v}", agg_fn(v), agg_fn, zero_fill) for v in value_cols]
    )
    w_local = Window.partitionBy(_PID).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, frame_upper
    )
    out = parts
    for v in value_cols:
        out = out.withColumn(f"_loc_{v}", agg_fn(v).over(w_local))
    out = out.join(F.broadcast(offsets), _PID)
    for v in value_cols:
        out = out.withColumn(
            f"{prefix}{v}", combine(F.col(f"_loc_{v}"), F.col(f"_off_{v}"))
        ).drop(f"_loc_{v}", f"_off_{v}")
    return out.drop(_PID)


def ordered_cumsum(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    value_cols: Sequence[str],
    *,
    prefix: str = "cum_",
) -> DataFrame:
    """Exact running sum of each ``value_cols`` in global ``order_cols``
    order (ROWS UNBOUNDED PRECEDING..CURRENT). Rows tied on the full
    ``order_cols`` accumulate in arbitrary order within the tie group —
    totals after the group are exact; include a tiebreaker when
    intermediate values matter."""
    return _ordered_running(
        df,
        order_cols,
        value_cols,
        agg_fn=F.sum,
        combine=lambda loc, off: loc + off,
        zero_fill=True,
        frame_upper=0,
        prefix=prefix,
    )


def ordered_cummin(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    value_cols: Sequence[str],
    *,
    strict: bool = False,
    prefix: str = "cummin_",
) -> DataFrame:
    """Exact running minimum of each ``value_cols`` in global
    ``order_cols`` order, same split as ``ordered_cumsum``.

    ``strict=True`` takes the min over STRICTLY preceding rows only
    (first global row gets NULL) — the form dominance/skyline tests
    need. The carry-in min from earlier partitions composes with
    ``F.least``, which skips NULLs.
    """
    return _ordered_running(
        df,
        order_cols,
        value_cols,
        agg_fn=F.min,
        combine=F.least,
        zero_fill=False,
        frame_upper=-1 if strict else 0,
        prefix=prefix,
    )


def distributed_median(df: DataFrame, value_col: str) -> float | None:
    """Exact interpolated median (``quantile_cont(0.5)`` semantics)
    with NO single-reducer percentile buffer: ``F.percentile`` merges
    every task's value buffer on one thread — measured 9.3 s over a
    2.9M-row pairwise grid where this path takes ~1.5 s. Instead: one
    range exchange + exact global row numbers (:func:`global_row_number`),
    filter the (at most two) middle order statistics, interpolate on
    the driver. Returns a Python float (a bounded scalar artifact —
    the pq.py codebook posture); NULLs are excluded (percentile
    semantics); None on an empty input."""
    vals = df.select(F.col(value_col).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    numbered = global_row_number(vals, [F.col("__v")], out_col="__rn")
    # Two actions on purpose: a single-action form (middle ranks
    # filtered against a broadcast 1-row count) was A/B-measured
    # slightly SLOWER on the q203 pairwise grid (1.47-1.80 s vs
    # 1.43-1.46 s median-of-5) — the count() job prunes the window
    # and reads the persisted range exchange, so it is nearly free.
    n = numbered.count()
    if n == 0:
        return None
    idx = (n - 1) * 0.5  # 0-based interpolation index
    lo = int(idx)
    ranks = {lo + 1} if idx == lo else {lo + 1, lo + 2}  # 1-based
    rows = {
        r["__rn"]: r["__v"]
        for r in numbered.filter(F.col("__rn").isin(*ranks)).collect()
    }
    if idx == lo:
        return rows[lo + 1]
    frac = idx - lo
    return rows[lo + 1] + frac * (rows[lo + 2] - rows[lo + 1])


def grouped_row_number(
    df: DataFrame,
    group_col: str,
    order_cols: Sequence[Column | str],
    *,
    out_col: str = "group_rn",
    n_col: str = "group_n",
) -> DataFrame:
    """Exact 1-based row number WITHIN each ``group_col`` value, plus
    the group size — with no per-group window and no extra exchange
    over :func:`global_row_number`: ranking with the group as the
    LEADING range key is contiguous per group (RangePartitioner
    co-locates equal keys and assigns ranges in order), so the
    within-group rank is ``global_rn - (min(global_rn) per group - 1)``
    and the offset/size frame is one |groups|-row aggregate broadcast
    back onto the stream.

    ``group_col`` must be modest-cardinality (languages, sources,
    folds, priorities — the broadcast is |groups| rows); ``order_cols``
    should end with a unique tiebreaker for a deterministic numbering.
    Shared by quantnorm, robust stats, and the sliced rank statistics
    (evalmetrics) so the contiguity reasoning lives in ONE place —
    next to the ``_ranged`` persist that makes it structural.
    """
    ranked = global_row_number(
        df, [F.col(group_col), *order_cols], out_col="__grr_rn"
    )
    offsets = ranked.groupBy(group_col).agg(
        (F.min("__grr_rn") - 1).alias("__grr_off"),
        F.count(F.lit(1)).alias(n_col),
    )
    return (
        ranked.join(F.broadcast(offsets), group_col)
        .withColumn(out_col, F.col("__grr_rn") - F.col("__grr_off"))
        .drop("__grr_rn", "__grr_off")
    )
