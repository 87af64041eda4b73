"""Operators that persist a multi-consumer intermediate return a lazy
frame, so the cache outlives the operator call. The release contract
(operators/__init__): the caller runs its action, then calls
``spark.catalog.clearCache()``. Each case below runs one such operator
to completion and pins that its caches survive the action and the
garbage collection of the returned frame, and are all gone after
``clearCache()``: the session's CacheManager is empty and no RDD stays
persisted.
"""

from __future__ import annotations

import gc
import time

import pytest

from usajobs_etl_service_spark.operators.association import association_rules
from usajobs_etl_service_spark.operators.classifier import hashed_linear_score
from usajobs_etl_service_spark.operators.distributed_order import global_row_number
from usajobs_etl_service_spark.operators.neardup import containment_pairs
from usajobs_etl_service_spark.operators.retrieval import bigram_lm_scores, kneser_ney_scores
from usajobs_etl_service_spark.operators.semdedup import prototypicality_prune
from usajobs_etl_service_spark.session import read_table


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents").limit(50)


def _weights(spark):
    return spark.createDataFrame([(i, 0.1) for i in range(8)], "bucket int, weight double")


def _embeddings(spark):
    rows = [(i, [float(i % 2 == j) + 0.01 * j for j in range(4)]) for i in range(8)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


CACHING = {
    "association_rules": lambda spark, sf: association_rules(
        read_table(spark, sf, "lineitem"), "l_orderkey", "l_partkey"
    ),
    "bigram_lm_scores": lambda spark, sf: bigram_lm_scores(_docs(spark, sf)),
    "kneser_ney_scores": lambda spark, sf: kneser_ney_scores(_docs(spark, sf)),
    "hashed_linear_score": lambda spark, sf: hashed_linear_score(
        _docs(spark, sf), _weights(spark), width=8
    ),
    "containment_pairs": lambda spark, sf: containment_pairs(_docs(spark, sf), threshold=0.5),
    "prototypicality_prune": lambda spark, sf: prototypicality_prune(
        _embeddings(spark), n_clusters=2, prune_frac=0.5
    ),
    "global_row_number": lambda spark, sf: global_row_number(
        _docs(spark, sf), ["n_chars", "doc_id"]
    ),
}


@pytest.mark.parametrize("name", list(CACHING))
def test_clear_cache_releases_operator_caches(spark, sf_dir, name):
    spark.catalog.clearCache()
    assert _cache_manager_empty(spark)
    out = CACHING[name](spark, sf_dir)
    out.write.format("noop").mode("overwrite").save()
    # dropping the frame does not free its cache: the CacheManager holds
    # the cached plan, so Spark's ContextCleaner never sees it unreachable
    del out
    gc.collect()
    spark._jvm.System.gc()
    time.sleep(0.5)
    assert not _cache_manager_empty(spark), f"{name} persisted nothing"
    spark.catalog.clearCache()
    assert _cache_manager_empty(spark)
    assert _persistent_rdds(spark) == 0


def test_single_leg_linear_score_caches_nothing(spark, sf_dir):
    spark.catalog.clearCache()
    out = hashed_linear_score(_docs(spark, sf_dir), _weights(spark), width=8, bigrams=False)
    out.write.format("noop").mode("overwrite").save()
    assert _cache_manager_empty(spark)
    assert _persistent_rdds(spark) == 0
