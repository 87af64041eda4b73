"""Product-quantization ANN (operators/pq.py): lossless exact regime,
production kmeans+rerank recall, and the shape guards. Cross-engine
equality of the exact regime is q98's oracle-parity row."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from usajobs_etl_service_spark.operators.pq import (
    MAX_UNROLLED_CELLS,
    pq_adc_distances,
    pq_adc_topk,
    pq_encode,
    pq_search_rerank,
    pq_train_distinct,
    pq_train_kmeans,
)
from usajobs_etl_service_spark.session import read_table


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_exact_regime_adc_equals_true_distance(spark):
    # 4-dim vectors over {0,1} coordinates, m=2 subspaces of 2 dims:
    # distinct-subvector codebooks make encoding lossless.
    rows = [
        (1, [0.0, 0.0, 1.0, 1.0]),
        (2, [1.0, 0.0, 0.0, 1.0]),
        (3, [1.0, 1.0, 1.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = _vecs(spark, rows)
    books = pq_train_distinct(df, m=2)
    assert all(len(cb) <= 4 for cb in books)
    q = [1.0, 1.0, 0.0, 1.0]
    got = {r["vec_id"]: r["adc_dist"] for r in pq_adc_distances(pq_encode(df, books), q, books).collect()}
    want = {vid: sum((a - b) ** 2 for a, b in zip(v, q)) for vid, v in rows}
    assert got == want


def test_adc_topk_deterministic_tiebreak(spark):
    rows = [(i, [float(i % 2), 0.0]) for i in range(1, 7)]
    df = _vecs(spark, rows)
    books = pq_train_distinct(df, m=2)
    top = pq_adc_topk(pq_encode(df, books), [1.0, 0.0], books, k=3).collect()
    # odd ids are at distance 0; ties break by vec_id ascending
    assert [(r["vec_id"], r["adc_dist"]) for r in top] == [(1, 0.0), (3, 0.0), (5, 0.0)]


def test_encode_tie_breaks_to_lowest_code(spark):
    # A point equidistant from two centroids must take the first
    # (sorted-lowest) code deterministically.
    df = _vecs(spark, [(1, [0.0]), (2, [2.0]), (3, [1.0])])
    books = pq_train_distinct(df, m=1)
    codes = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, books).collect()}
    assert codes[3] == [1]  # [1.0] is its own centroid, not a tie victim
    df2 = _vecs(spark, [(1, [0.0]), (2, [2.0])])
    books2 = pq_train_distinct(df2, m=1)
    mid = _vecs(spark, [(9, [1.0])])
    assert list(pq_encode(mid, books2).collect()[0]["codes"]) == [0]


def test_kmeans_rerank_recall_on_real_embeddings(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    data = emb.filter(F.col("vec_id") != 0).cache()
    exact = [
        r["vec_id"]
        for r in data.select(
            "vec_id",
            F.aggregate(
                F.zip_with(
                    "embedding", F.array(*[F.lit(x) for x in q]), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
        )
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    books = pq_train_kmeans(data, m=16, k=16)
    codes = pq_encode(data, books)
    got = [r["vec_id"] for r in pq_search_rerank(codes, data, q, books, k=10, shortlist=50).collect()]
    recall = len(set(exact) & set(got)) / 10.0
    # random 64-dim gaussians are PQ's hardest case; the rerank stage
    # still has to beat the 50/~500 random-shortlist baseline by a wide
    # margin. Measured 0.9-1.0 locally; floor leaves slack.
    assert recall >= 0.6, (recall, exact, got)
    data.unpersist()


def test_shape_guards(spark):
    df = _vecs(spark, [(1, [0.0, 1.0, 2.0])])
    with pytest.raises(ValueError, match="not divisible"):
        pq_train_distinct(df, m=2)
    big = [[[0.0]] * 64 for _ in range(MAX_UNROLLED_CELLS // 64 + 1)]
    with pytest.raises(ValueError, match="MAX_UNROLLED_CELLS"):
        pq_encode(_vecs(spark, [(1, [0.0])]), big)
    many = _vecs(spark, [(i, [float(i)]) for i in range(70)])
    with pytest.raises(ValueError, match="max_codebook"):
        pq_train_distinct(many, m=1)


def test_query_dim_mismatch_raises(spark):
    df = _vecs(spark, [(1, [0.0, 1.0])])
    books = pq_train_distinct(df, m=1)
    with pytest.raises(ValueError, match="query dim"):
        pq_adc_topk(pq_encode(df, books), [1.0, 2.0, 3.0], books, k=1)


def test_pq_write_load_roundtrip(spark, tmp_path):
    """Persisted-PQ contract: codebooks round-trip exactly (same m,
    same per-code centroids in code order) and the loaded codes table
    answers the same ADC probe as the in-memory one."""
    from usajobs_etl_service_spark.operators.pq import pq_load, pq_write

    rows = [
        (1, [0.0, 0.0, 1.0, 1.0]),
        (2, [1.0, 0.0, 0.0, 1.0]),
        (3, [1.0, 1.0, 1.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = _vecs(spark, rows)
    books = pq_train_distinct(df, m=2)
    path = str(tmp_path / "pq")
    pq_write(pq_encode(df, books), books, path)
    codes, loaded = pq_load(spark, path)
    assert loaded == books
    q = [1.0, 1.0, 0.0, 1.0]
    mem = [(r["vec_id"], r["adc_dist"]) for r in pq_adc_topk(pq_encode(df, books), q, books, k=4).collect()]
    disk = [(r["vec_id"], r["adc_dist"]) for r in pq_adc_topk(codes, q, loaded, k=4).collect()]
    assert disk == mem
