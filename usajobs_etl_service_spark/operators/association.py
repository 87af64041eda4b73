"""Association-rule mining over transaction baskets (Agrawal &
Srikant 1994, restricted to the size-2 rules that dominate practice —
"customers who bought A also bought B": support, confidence, lift).

This is the co-purchase graph family's (graphrank.py edge build)
*rule* view: the same bounded pair expansion, but scored with the
market-basket statistics instead of being fed to a graph algorithm.

Scale shape (nothing all-pairs over items):

- pair candidates come from a self-join ON THE BASKET KEY of the
  deduplicated (basket, item) stream — the blow-up is sum over baskets
  of C(|basket|, 2), bounded by the square of the max basket size per
  basket row, never |items|^2 (the neardup.py banding argument).  A
  pathological mega-basket would need the salting.py skew treatment;
  order baskets are bounded by construction (an order has a handful of
  lines).
- item supports are one (item) aggregate; they join back onto the
  pair-count table (already collapsed to one row per pair) by item
  key — two hash joins on a table that is orders of magnitude smaller
  than the input stream.
- every statistic is a ratio of exact integer counts, so both engines
  round the same correctly-rounded doubles and the top-k order is
  bit-stable (ties broken by confidence, then item ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["association_rules"]


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_pair_count: int = 2,
    top_n: int = 25,
) -> DataFrame:
    """Top-``top_n`` size-2 rules ``antecedent -> consequent`` by lift.

    Returns ``(antecedent, consequent, pair_n, supp_a, supp_c,
    confidence, lift)`` — both directions of every unordered pair are
    scored (confidence is directional; lift is symmetric, so the
    deterministic tiebreak below keeps the order stable).  NULL items
    and NULL baskets are excluded; duplicate (basket, item) rows count
    once (set semantics, the standard formulation).
    """
    if min_pair_count < 1:
        raise ValueError(f"min_pair_count must be >= 1, got {min_pair_count}")
    # persisted: referenced FOUR times below (supports, basket count,
    # both self-join sides) — unpersisted, each reference re-ran the
    # scan + distinct shuffle (14 parquet scans in q225's plan, zero
    # exchange reuse under broadcast-join planning). Lazy marking, LRU-
    # evictable; the triangle_stats posture (no post-action unpersist
    # point exists for a returned lazy frame).
    from pyspark.storagelevel import StorageLevel

    items = (
        df.select(
            F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
        )
        .filter(F.col("__b").isNotNull() & F.col("__i").isNotNull())
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    supports = items.groupBy(F.col("__i").alias("item")).agg(
        F.count(F.lit(1)).alias("supp")
    )
    n_baskets = items.agg(
        F.count_distinct(F.col("__b")).alias("n_baskets")
    )
    a = items.select(F.col("__b"), F.col("__i").alias("ia"))
    b = items.select(F.col("__b"), F.col("__i").alias("ib"))
    pairs = (
        a.join(b, "__b")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= min_pair_count)
    )
    # both rule directions from the one unordered pair table — via a
    # 2-element explode, NOT a union of two projections: the union
    # form evaluated the whole self-join + aggregate subtree twice
    rules = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ia").alias("antecedent"), F.col("ib").alias("consequent")
                ),
                F.struct(
                    F.col("ib").alias("antecedent"), F.col("ia").alias("consequent")
                ),
            )
        ).alias("__r"),
        "pair_n",
    ).select("__r.antecedent", "__r.consequent", "pair_n")
    out = (
        rules.join(
            supports.select(F.col("item").alias("antecedent"), F.col("supp").alias("supp_a")),
            "antecedent",
        )
        .join(
            supports.select(F.col("item").alias("consequent"), F.col("supp").alias("supp_c")),
            "consequent",
        )
        .crossJoin(F.broadcast(n_baskets))
        .withColumn("__conf", F.col("pair_n") / F.col("supp_a"))
        .withColumn(
            "__lift",
            # double products: pair_n * n_baskets (and supp_a * supp_c)
            # are long*long and overflow int64 beyond ~3e9 baskets;
            # doubles stay exact below 2^53, where the oracle's
            # exact-integer path computes the same values
            F.col("pair_n").cast("double")
            * F.col("n_baskets").cast("double")
            / (F.col("supp_a").cast("double") * F.col("supp_c").cast("double")),
        )
    )
    return (
        out.orderBy(
            F.desc("__lift"), F.desc("__conf"), "antecedent", "consequent"
        )
        .limit(top_n)
        .select(
            "antecedent",
            "consequent",
            "pair_n",
            "supp_a",
            "supp_c",
            F.round("__conf", 6).alias("confidence"),
            F.round("__lift", 6).alias("lift"),
        )
    )
