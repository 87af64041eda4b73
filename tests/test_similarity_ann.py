"""ANN scale paths: k-means-refined IVF and sign-random-projection LSH
bucketing."""

from __future__ import annotations

from pyspark.sql import functions as F

from usajobs_etl_service_spark.operators.neardup import embedding_near_dup_pairs
from usajobs_etl_service_spark.operators.similarity import (
    ivf_build,
    ivf_topk_cosine,
    srp_code,
    topk_cosine,
)
from usajobs_etl_service_spark.session import read_table


def test_kmeans_ivf_full_probe_recall(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    exact = {r["vec_id"] for r in topk_cosine(rest, qvec, k=10).collect()}
    index, cents = ivf_build(rest, n_centroids=8, refine_kmeans=True)
    assert cents.count() == 8
    got = {r["vec_id"] for r in ivf_topk_cosine(index, cents, qvec, k=10, nprobe=8).collect()}
    assert got == exact  # full probe == exact regardless of centroids
    partial = {r["vec_id"] for r in ivf_topk_cosine(index, cents, qvec, k=10, nprobe=3).collect()}
    assert len(partial & exact) >= 5


def test_ivf_partial_probe_recall_floor_on_planted_clusters(spark):
    """Asserted recall floor so an index-build change can't silently
    trash recall: 16 well-separated planted clusters, k-means build,
    probing 4/16 buckets must keep recall@10 >= 0.8 — and the same
    floor must FAIL on an intentionally broken codebook (centroid
    vectors rolled one id over, the index/codebook-misalignment bug
    class), proving the gate is real."""
    import random

    rng = random.Random(7)
    dim, n_clusters, per = 32, 16, 50
    rows = []
    for c in range(n_clusters):
        center = [0.0] * dim
        center[2 * c] = 1.0
        center[2 * c + 1] = 0.4
        for i in range(per):
            rows.append(
                (c * per + i, [x + rng.uniform(-0.05, 0.05) for x in center])
            )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [0.0] * dim
    q[0], q[1] = 1.0, 0.4

    exact = {r["vec_id"] for r in topk_cosine(emb, q, k=10).collect()}
    index, cents = ivf_build(emb, n_centroids=n_clusters, refine_kmeans=True, seed=11)
    got = {r["vec_id"] for r in ivf_topk_cosine(index, cents, q, k=10, nprobe=4).collect()}
    recall = len(got & exact) / 10
    assert recall >= 0.8, f"recall@10 at nprobe=4/16 fell to {recall}"

    # broken build: sign-flipped codebook (a real spherical-kmeans bug
    # class) — the probe ranks the query's true bucket LAST, so the
    # probed buckets deterministically exclude the neighbors
    broken = cents.select(
        "centroid_id", F.transform(F.col("cv"), lambda x: -x).alias("cv")
    )
    got_broken = {
        r["vec_id"] for r in ivf_topk_cosine(index, broken, q, k=10, nprobe=4).collect()
    }
    broken_recall = len(got_broken & exact) / 10
    assert broken_recall < 0.8, (
        f"broken codebook still passed the floor ({broken_recall}) — the gate is vacuous"
    )


def test_srp_code_deterministic_and_collides_near_dups(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.02, 0.0, 0.0]),  # near-dup of 0
        (2, [-1.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    coded = df.select("vec_id", srp_code(F.col("embedding"), n_planes=12, dim=4).alias("code"))
    c = {r["vec_id"]: r["code"] for r in coded.collect()}
    assert c[0] == c[1]  # near-identical vectors share the bucket
    assert c[0] != c[2]  # antipodal vectors do not
    c2 = {r["vec_id"]: r["code"] for r in coded.collect()}
    assert c == c2  # deterministic


def test_srp_blocked_near_dup_join(spark, sf_dir):
    """SRP code as the blocking key for the near-dup self-join: every
    pair it finds must be >= threshold (correctness of the verify
    stage; recall is probabilistic by construction)."""
    emb = read_table(spark, sf_dir, "embeddings")
    blocked = emb.withColumn("srp", srp_code(F.col("embedding"), n_planes=8, dim=64))
    pairs = embedding_near_dup_pairs(
        blocked, block_col="srp", threshold=0.3
    ).collect()
    for r in pairs:
        assert r["cos"] >= 0.3


def test_ivf_persisted_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """Build-once contract: the persisted, centroid-partitioned index
    answers probes identically to the in-memory one, and the probe's
    scan prunes to the nprobe partitions at planning time."""
    from usajobs_etl_service_spark.operators.similarity import ivf_load, ivf_write

    emb = read_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    index, cents = ivf_build(rest, n_centroids=8)
    path = str(tmp_path / "ivf")
    ivf_write(index, cents, path)

    lindex, lcents = ivf_load(spark, path)
    mem = [(r["vec_id"], r["sim"]) for r in ivf_topk_cosine(index, cents, qvec, k=10, nprobe=3).collect()]
    disk = [(r["vec_id"], r["sim"]) for r in ivf_topk_cosine(lindex, lcents, qvec, k=10, nprobe=3).collect()]
    assert disk == mem

    probe = ivf_topk_cosine(lindex, lcents, qvec, k=10, nprobe=3)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split("PartitionFilters", 1)[1][:200]
    # 3 of 8 partition directories read
    scan_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "centroid_id" in scan_line
