"""Hashed-n-gram linear classifier inference — the fastText-style
quality-classifier stage of a pretraining-data pipeline (Joulin et al.
2016, "Bag of Tricks for Efficient Text Classification"; the CCNet /
LLaMA / phi pipelines run exactly this shape to keep "wiki-like" text).

Inference only: the model is a *weight table* ``(bucket, weight)`` —
at most ``width`` rows by construction — plus a bias. Score of a
document is the sigmoid of the mean feature weight over all unigram
and bigram feature INSTANCES (fastText averages the feature embeddings
before its linear head; with a 1-d head that collapses to the mean of
per-bucket weights):

    logit(doc) = bias + (1 / n_features) * sum_i weight[bucket(f_i)]
    score(doc) = 1 / (1 + exp(-logit))

Scale shape (no UDFs, no collect, ONE data shuffle):

- Features are expression-side: whitespace tokens, bigrams via the
  ``arrays_zip(slice, slice)`` pattern (retrieval.py:196 — no window,
  no self-join), md5-prefix bucket hash (the repo-standard
  engine-reproducible hash, sampling.py:23 / dsir.py:55).
- The weight table is <= width rows BY CONSTRUCTION, so its join onto
  the exploded feature stream is a sound explicit broadcast (the
  dsir.py:31 argument: hashing to a fixed width is what makes the
  broadcast provable; an open-vocabulary model table would not be).
- The per-document mean is one ``id_col`` shuffle with map-side
  partial aggregation. At 100 TB: corpus-linear scan, broadcast
  lookup, one keyed exchange — the same cost as q92's unigram gate.

The reference engine's only quality gate is NOT-NULL validation
(etl/etl.py:214-224); this extends the curation family (q27 heuristic
score, q92/q156 LM surprisal, q152 DSIR, q169 Gopher rules) with the
*trained-classifier* inference shape those pipelines graduate to.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from usajobs_etl_service_spark.functions.text import tokens_ws

__all__ = ["feature_bucket", "hashed_linear_score", "deterministic_weights"]


def feature_bucket(feature: Column, width: int) -> Column:
    """Hashed feature bucket: md5-prefix hash of ``feature#ftx`` mod
    ``width`` — engine-reproducible (DuckDB replays it bit-for-bit)."""
    h = F.conv(
        F.substring(F.md5(F.concat(feature.cast("string"), F.lit("#ftx"))), 1, 8),
        16,
        10,
    ).cast("long")
    return h % F.lit(width)


def deterministic_weights(
    spark: SparkSession, width: int, *, salt: str = "w0"
) -> DataFrame:
    """A stand-in 'pretrained' weight table ``(bucket, weight)`` with
    weights in [-1, 1], derived from the bucket id by the same
    md5-prefix hash — deterministic, so the oracle rebuilds the exact
    model. A real deployment swaps in its trained fastText/logistic
    weights behind the same (bucket, weight) contract."""
    b = F.col("id").cast("long")
    h = F.conv(
        F.substring(F.md5(F.concat(b.cast("string"), F.lit("#" + salt))), 1, 8),
        16,
        10,
    ).cast("long")
    return spark.range(width).select(
        b.alias("bucket"),
        ((h % F.lit(2001) - F.lit(1000)) / F.lit(1000.0)).alias("weight"),
    )


def hashed_linear_score(
    df: DataFrame,
    weights: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 1024,
    bias: float = 0.0,
    bigrams: bool = True,
    threshold: float | None = None,
) -> DataFrame:
    """Score every document with the hashed linear model.

    Returns ``(id_col, n_features, score)`` (+ ``keep`` when
    ``threshold`` is given). Buckets absent from ``weights`` contribute
    0 (an untrained/pruned feature). Documents with zero tokens are
    dropped — no features, no score (the dsir.py:76 convention).
    ``weights`` must be ``(bucket, weight)`` with <= width rows; the
    row bound is validated lazily by the broadcast itself staying
    within budget (callers building from ``deterministic_weights`` are
    correct by construction).
    """
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    base = (
        df.select(
            F.col(id_col).alias("__id"),
            tokens_ws(F.lower(F.col(text_col))).alias("ts"),
        )
        .filter(F.size("ts") >= 1)
    )
    if bigrams:
        # two consumers (unigram + bigram legs) — persisted so the
        # tokenize pass runs once (lazy marking, LRU-evictable; the
        # triangle_stats posture). Skipped for the single-leg form.
        from pyspark.storagelevel import StorageLevel

        base = base.persist(StorageLevel.MEMORY_AND_DISK)
    uni = base.select("__id", F.explode("ts").alias("feat"))
    feats = uni
    if bigrams:
        n1 = F.greatest(F.size("ts") - 1, F.lit(0))
        bi = base.select(
            "__id",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("ts"), 1, n1).alias("p"),
                    F.slice(F.col("ts"), 2, n1).alias("c"),
                )
            ).alias("bg"),
        ).select(
            "__id", F.concat_ws(" ", F.col("bg.p"), F.col("bg.c")).alias("feat")
        )
        feats = uni.unionByName(bi)
    bucketed = feats.select("__id", feature_bucket(F.col("feat"), width).alias("bucket"))
    scored = (
        bucketed.join(F.broadcast(weights), "bucket", "left")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("__wsum"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_features",
            F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(-(F.lit(bias) + F.col("__wsum") / F.col("n_features")))
                ),
                4,
            ).alias("score"),
        )
    )
    if threshold is not None:
        # gate on the ROUNDED score (the column just built): a raw
        # sigmoid within float noise of the threshold would flip the
        # flag between engines/summation orders (seen at sf0.001:
        # wsum/n landing on -bias exactly)
        scored = scored.withColumn("keep", F.col("score") >= F.lit(threshold))
    return scored
