"""SemDeDup (operators/semdedup.py): cluster-blocked embedding dedup.

Covers the guarantees q89's oracle equality rests on plus the cap
discipline shared with the LSH family:
- recall 1.0 on planted equal-direction duplicates even when a
  duplicate pair is itself sampled into the codebook (the measured
  argmax-split failure mode assign_clusters defends against),
- keep-min-id drop policy on a known small geometry,
- cleaned corpus = left_anti of the drop set,
- oversized clusters RECOVER via identical-direction collapse (chains
  + exact keep-min-id lift); only a still-diverse hot cluster's reps
  drop, loudly (observe counters), never silently.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from usajobs_etl_service_spark.operators.semdedup import (
    assign_clusters,
    semantic_dedup_drops,
    semantic_dup_pairs,
)


def _unit(i: int, dim: int, val: float = 1.0) -> list[float]:
    v = [0.0] * dim
    v[i] = val
    return v


def test_planted_scaled_copies_all_dropped(spark, sf_dir):
    """Every scaled copy (same direction, 1.5x norm) is dropped with its
    original as keeper — recall 1.0, the q89 construction."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    n = emb.count()
    planted = emb.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    drops = semantic_dedup_drops(
        emb.unionByName(planted), threshold=0.95, n_clusters=16
    ).collect()
    assert len(drops) == n
    assert all(r["dropped_id"] == r["kept_id"] + 10_000_000 for r in drops)
    assert all(r["max_cos"] == pytest.approx(1.0) for r in drops)


def test_same_direction_same_cluster_despite_duplicate_centroids(spark):
    """Force the failure mode: a corpus of duplicate pairs where the
    sampled codebook inevitably contains both members of some pair.
    Raw-dot argmax measurably splits pairs here; the normalized+snapped
    assignment must not."""
    import random

    rng = random.Random(7)
    dim = 16
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(40)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1000, [float(1.5 * x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # n_clusters = corpus size: EVERY row is a centroid, so every pair
    # is a duplicate-centroid pair — the worst case
    assigned = assign_clusters(df, n_clusters=80)
    a = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    for i in range(40):
        assert a[i] == a[i + 1000], f"pair {i} split across clusters"


def test_lloyd_path_above_literal_codebook(spark):
    """n_clusters > LITERAL_CODEBOOK_MAX switches assignment to the
    Arrow-batched numpy Lloyd path (_lloyd_blocking, the production
    large-codebook shape). Determinism is seed-fixed; on this fixed
    corpus the planted scaled copies must still all be caught."""
    import random

    from usajobs_etl_service_spark.operators.semdedup import LITERAL_CODEBOOK_MAX

    rng = random.Random(11)
    dim = 16
    rows = []
    for i in range(300):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1000, [float(1.5 * x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    drops = semantic_dedup_drops(
        df, threshold=0.95, n_clusters=LITERAL_CODEBOOK_MAX + 22
    ).collect()
    assert {r["dropped_id"] for r in drops} == {i + 1000 for i in range(300)}
    assert all(r["kept_id"] == r["dropped_id"] - 1000 for r in drops)


def test_auto_n_clusters_rule():
    from usajobs_etl_service_spark.operators.semdedup import auto_n_clusters

    assert auto_n_clusters(1000) == 16          # floor
    assert auto_n_clusters(100_000) == 500      # n / target
    assert auto_n_clusters(400_000) == 2000


def test_keep_min_id_policy_small_geometry(spark):
    """3 near-identical vectors + 1 orthogonal: the two larger ids of
    the dup group drop (keeper = min id), the orthogonal row survives."""
    dim = 8
    rows = [
        (1, _unit(0, dim)),
        (2, _unit(0, dim, 2.0)),
        (3, _unit(0, dim, 0.5)),
        (9, _unit(1, dim)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    drops = {
        r["dropped_id"]: r["kept_id"]
        for r in semantic_dedup_drops(df, threshold=0.95, n_clusters=4).collect()
    }
    assert drops == {2: 1, 3: 1}
    pairs = semantic_dup_pairs(df, threshold=0.95, n_clusters=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2), (1, 3), (2, 3)}


def test_cleaned_corpus_left_anti(spark):
    dim = 8
    rows = [(1, _unit(0, dim)), (2, _unit(0, dim, 3.0)), (9, _unit(1, dim))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    drops = semantic_dedup_drops(df, threshold=0.95, n_clusters=3)
    cleaned = df.join(
        drops.select(F.col("dropped_id").alias("vec_id")), "vec_id", "left_anti"
    )
    assert sorted(r["vec_id"] for r in cleaned.collect()) == [1, 9]


def test_oversized_flood_recovered_as_chain(spark):
    """The r6-VERDICT failure class, SemDeDup edition: a duplicate
    flood (one direction, 20 scaled copies) exceeds max_cluster. The
    old guard dropped it wholesale — the worst input for a dedup
    operator was the one it ignored. Now the flood collapses to its
    group minimum and emits as a chain: every non-min member pairs
    with id 0 at cos 1.0, drop counters are zero, recovery counters
    report the collapse."""
    dim = 8
    rows = [(i, _unit(0, dim, 1.0 + 0.001 * i)) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    obs = Observation("semdedup_cap_test")
    robs = Observation("semdedup_recovery_test")
    pairs = semantic_dup_pairs(
        df,
        threshold=0.95,
        n_clusters=4,
        max_cluster=10,
        observation=obs,
        recovery_observation=robs,
    ).collect()
    assert sorted((r["id_a"], r["id_b"], r["cos"]) for r in pairs) == [
        (0, i, 1.0) for i in range(1, 20)
    ]
    assert obs.get == {"dropped_rows": 0, "dropped_clusters": 0}
    assert robs.get == {"recovered_rows": 19, "recovered_groups": 1}


def test_oversized_flood_drops_equal_uncapped_answer(spark):
    """Exactness of the chain lift: two floods of DIFFERENT directions
    that are duplicates OF EACH OTHER (cos 1.0 after rounding is not
    needed — use genuinely near directions) plus the flood collapse.
    The drop set must equal the uncapped all-pairs keep-min-id answer:
    every id except the global minimum of each duplicate family drops,
    and chain members inherit min(group_min, kept(group_min))."""
    dim = 8
    # family A: 12 copies of direction e0 with ids 0..11
    a = [(i, _unit(0, dim, 1.0 + 0.01 * i)) for i in range(12)]
    # family B: 12 copies of a direction at cos ~0.9995 to e0, ids 100..111
    theta = 0.03
    vb = [math.cos(theta), math.sin(theta)] + [0.0] * (dim - 2)
    b = [(100 + i, [x * (1.0 + 0.01 * i) for x in vb]) for i in range(12)]
    df = spark.createDataFrame(a + b, "vec_id long, embedding array<double>")
    # one cluster holds all 24 rows (> max_cluster=10); collapse yields
    # two reps (0 and 100) whose cross pair clears the 0.95 threshold
    drops = semantic_dedup_drops(
        df, threshold=0.95, n_clusters=1, max_cluster=10
    ).collect()
    got = {r["dropped_id"]: (r["kept_id"], r["max_cos"]) for r in drops}
    # uncapped answer: everything but id 0 drops with kept_id 0...
    # except family-A members keep 0 via identity; family-B rep 100
    # keeps 0 via the cross pair; family-B members lift to
    # min(100, kept(100)) = 0
    assert set(got) == set(range(1, 12)) | set(range(100, 112))
    assert all(k == 0 for k, _ in got.values())
    assert got[100][1] == pytest.approx(1.0, abs=1e-3)  # cos(0.03) ~ 0.9996
    assert all(got[i][1] == 1.0 for i in range(1, 12))
    assert all(got[100 + i][1] == 1.0 for i in range(1, 12))


def test_diverse_hot_cluster_residual_drop_counted(spark):
    """A cluster whose DISTINCT directions still exceed max_cluster is
    a genuine capacity problem (raise n_clusters); its reps drop with
    counters while nothing is silently lost: rows=reps dropped,
    clusters=1."""
    dim = 16
    # 12 distinct orthogonal directions, each with 2 scaled copies ->
    # 24 rows, 12 reps > max_cluster=10
    rows = []
    for i in range(12):
        rows.append((i, _unit(i, dim, 1.0)))
        rows.append((1000 + i, _unit(i, dim, 2.0)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    obs = Observation("semdedup_residual_test")
    robs = Observation("semdedup_residual_recovery")
    pairs = semantic_dup_pairs(
        df,
        threshold=0.95,
        n_clusters=1,
        max_cluster=10,
        observation=obs,
        recovery_observation=robs,
    ).collect()
    # chains still recovered: each direction's copy pairs with its rep
    assert sorted((r["id_a"], r["id_b"]) for r in pairs) == [
        (i, 1000 + i) for i in range(12)
    ]
    assert obs.get == {"dropped_rows": 12, "dropped_clusters": 1}
    assert robs.get == {"recovered_rows": 12, "recovered_groups": 12}


def test_threshold_excludes_distant_vectors(spark):
    """Vectors in the same cluster but below threshold are NOT dup
    pairs (the exact-cosine verify, not the blocking, decides)."""
    dim = 4
    a = [1.0, 0.0, 0.0, 0.0]
    b = [math.cos(0.5), math.sin(0.5), 0.0, 0.0]  # cos 0.878 < 0.95
    df = spark.createDataFrame(
        [(1, a), (2, b)], "vec_id long, embedding array<double>"
    )
    assert semantic_dup_pairs(df, threshold=0.95, n_clusters=1).count() == 0
    assert (
        semantic_dup_pairs(df, threshold=0.85, n_clusters=1).count() == 1
    )


def test_prototypicality_prune_counts_and_invariants(spark):
    """Per-cluster prune counts are exactly floor(prune_frac * n_c);
    scores live in [-1, 1]; no row is lost."""
    from usajobs_etl_service_spark.operators.semdedup import prototypicality_prune

    import random

    rng = random.Random(7)
    rows = []
    for i in range(24):
        base = [0.0, 0.0, 0.0, 0.0]
        base[i % 3] = 1.0  # three direction groups
        rows.append((i, [x + rng.uniform(-0.05, 0.05) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = prototypicality_prune(df, n_clusters=3, prune_frac=0.25).collect()
    assert len(out) == 24
    assert all(-1.0001 <= r["proto_cos"] <= 1.0001 for r in out)
    from collections import Counter

    per_cluster = Counter(r["cluster_id"] for r in out)
    pruned = Counter(r["cluster_id"] for r in out if r["pruned"] == 1)
    for cid, n_c in per_cluster.items():
        assert pruned.get(cid, 0) == int(0.25 * n_c)


def test_prototypicality_scale_invariant_scores(spark):
    """A positively-scaled copy has the same direction -> same cluster
    and the same proto_cos (the q89 norm-invariance contract)."""
    from usajobs_etl_service_spark.operators.semdedup import prototypicality_prune

    rows = [(i, [float(i % 4 == j) + 0.01 * j for j in range(4)]) for i in range(8)]
    rows += [(100 + i, [2.5 * x for x in v]) for i, v in rows[:4]]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in prototypicality_prune(df, n_clusters=2, prune_frac=0.0).collect()}
    for i in range(4):
        assert got[i]["cluster_id"] == got[100 + i]["cluster_id"]
        assert got[i]["proto_cos"] == got[100 + i]["proto_cos"]
    assert all(r["pruned"] == 0 for r in got.values())


def test_prototypicality_prune_frac_one_prunes_all(spark):
    from usajobs_etl_service_spark.operators.semdedup import prototypicality_prune

    df = spark.createDataFrame(
        [(i, [1.0, float(i), 0.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    out = prototypicality_prune(df, n_clusters=2, prune_frac=1.0).collect()
    assert all(r["pruned"] == 1 for r in out)
    with pytest.raises(ValueError):
        prototypicality_prune(df, prune_frac=1.5)


def test_prototypicality_plan_single_score_pass(spark):
    """Round-7 q157 regression guard (32.4 s for 2,000 rows): the
    cluster argmax must be ONE fold over the scores array — no
    array_position(scores, array_max(scores)) double evaluation — and
    the normalized vector must reach the scoring fold as a persisted
    attribute (InMemoryTableScan), never as an inlined l2_normalize
    chain re-evaluated per centroid."""
    from usajobs_etl_service_spark.operators.semdedup import prototypicality_prune

    spark.catalog.clearCache()
    try:
        df = spark.createDataFrame(
            [(i, [float(i % 3 == j) for j in range(4)]) for i in range(12)],
            "vec_id long, embedding array<double>",
        )
        p = (
            prototypicality_prune(df, n_clusters=2, prune_frac=0.5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "array_position" not in p, p[:600]
        assert "InMemoryTableScan" in p, p[:600]
    finally:
        spark.catalog.clearCache()


def test_prototypicality_zero_embedding_row_is_excluded(spark):
    """A zero vector has NULL normalized form -> all-NULL scores; it
    must vanish from the output (NULL cluster drops at the means
    join), never land in an arbitrary cluster."""
    from usajobs_etl_service_spark.operators.semdedup import prototypicality_prune

    rows = [(i, [float(i % 2 == j) for j in range(4)]) for i in range(8)]
    rows.append((99, [0.0, 0.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"] for r in prototypicality_prune(df, n_clusters=2, prune_frac=0.5).collect()}
    assert 99 not in out and len(out) == 8


def test_prototypicality_survives_nan_and_handles_release(spark):
    """Round-9 review finding: a NaN element in one embedding poisons
    its cluster's mean; the driver-literal rework must render it as a
    valid SQL literal (never the unresolvable identifier `nanD`) and
    degrade that cluster's scores the way the broadcast-join form did,
    not crash the whole prune."""
    from usajobs_etl_service_spark.operators.semdedup import prototypicality_prune

    rows = [(i, [float(i % 2 == j) + 0.01 * j for j in range(4)]) for i in range(8)]
    rows.append((50, [float("nan"), 1.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = prototypicality_prune(df, n_clusters=2, prune_frac=0.0).collect()
    # the job runs; clean rows keep finite scores
    clean = [r for r in out if r["vec_id"] != 50]
    assert len(clean) >= 7
    assert all(
        r["proto_cos"] is None or -1.0001 <= r["proto_cos"] <= 1.0001
        for r in clean
        if r["proto_cos"] == r["proto_cos"]  # skip NaN comparisons
    )


def test_semantic_contamination_planted_recall(spark, sf_dir):
    """q239's engine: every planted scaled benchmark copy hits exactly
    its source (recall 1.0 through the shared-codebook blocking), ids
    come back in their NATIVE types, and the observation proves the
    blocking pruned the candidate space (pairs_evaluated well under
    |corpus| x |bench|)."""
    from pyspark.sql import Observation

    from usajobs_etl_service_spark.operators.semdedup import (
        semantic_contamination_report,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    bench = emb.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("bench_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    n_bench = bench.count()
    obs = Observation("semcontam_pairs")
    rows = semantic_contamination_report(
        emb, bench, threshold=0.95, n_clusters=16, observation=obs
    ).collect()
    got = {r["vec_id"]: r for r in rows}
    expected_ids = {i for i in range(n) if i % 37 == 0}
    assert set(got) == expected_ids
    for i in expected_ids:
        assert got[i]["n_bench_hits"] == 1
        assert got[i]["bench_id"] == i          # its own scaled copy
        assert got[i]["max_cos"] == pytest.approx(1.0)
    # native types survived the union string-keying
    assert isinstance(rows[0]["vec_id"], int)
    assert isinstance(rows[0]["bench_id"], int)
    # the blocking is real: candidate pairs far below all-pairs
    assert obs.get["pairs_evaluated"] < 0.5 * n * n_bench


def test_semantic_contamination_clean_corpus_empty(spark):
    """A benchmark orthogonal to every corpus vector reports nothing."""
    from usajobs_etl_service_spark.operators.semdedup import (
        semantic_contamination_report,
    )

    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, float(i)]) for i in range(1, 30)],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(100, [0.0, 1.0, 0.0, 0.0])], "bench_id long, embedding array<double>"
    )
    assert (
        semantic_contamination_report(
            corpus, bench, threshold=0.95, n_clusters=4
        ).count()
        == 0
    )
